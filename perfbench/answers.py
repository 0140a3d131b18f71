#!/usr/bin/env python3
"""Record the expected answers of a query workload.

    python3 perfbench/answers.py <workload> [--oracle-timeout S]

This
  1. runs the harness for one pass over the workload's input tables and
     takes its answer hashes (the seed commit's answers);
  2. runs each query's DuckDB oracle (`SparkEntry.oracleSql`) over the
     same tables, hashed with the canonical form of `scala/Canon.scala`;
     an oracle that does not finish within --oracle-timeout seconds is
     intractable at this size and the harness hash is kept instead;
  3. writes `answers/<workload>.json`: per query, the expected hash with
     its row count and source ("oracle" or "reference").

A query whose harness answer differs from a tractable oracle keeps the
oracle hash, so the benchmark reports it as a wrong answer; the script
lists every such mismatch.
"""
import argparse
import datetime
import decimal
import hashlib
import json
import struct
import subprocess
import sys
import threading
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent))
import run  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
EPOCH = datetime.datetime(1970, 1, 1)


def sha(s):
    return hashlib.sha256(s.encode("utf-8")).hexdigest()


def fl(d):
    if d != d:
        return "fNaN"
    if d == 0.0:
        d = 0.0
    return "f" + format(struct.unpack("<Q", struct.pack("<d", d))[0], "x")


def cell(v):
    """Twin of Canon.cell for the values DuckDB hands to Python."""
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "bT" if v else "bF"
    if isinstance(v, int):
        return f"i{v}"
    if isinstance(v, float):
        return fl(v)
    if isinstance(v, decimal.Decimal):
        return "d" + format(v, "f")
    if isinstance(v, str):
        return "s" + v
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return f"t{(v - EPOCH) // datetime.timedelta(microseconds=1)}"
    if isinstance(v, datetime.date):
        return cell(datetime.datetime.combine(v, datetime.time()))
    if isinstance(v, (bytes, bytearray)):
        return "x" + bytes(v).hex()
    if isinstance(v, dict):
        return "(" + ",".join(cell(x) for x in v.values()) + ")"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(cell(x) for x in v) + "]"
    return "s" + str(v)


def canon_hash(names, rows):
    order = sorted(range(len(names)), key=lambda i: names[i])
    digests = sorted(sha("\u0001".join(cell(r[i]) for i in order)) for r in rows)
    return sha("\u0001".join(names[i] for i in order) + "\n" + "\n".join(digests))


def oracle(con, sql, timeout):
    """(hash, rows) of the oracle, or None if it outlasts the timeout."""
    timer = threading.Timer(timeout, con.interrupt)
    timer.start()
    try:
        cur = con.execute(sql)
        rows = cur.fetchall()
        names = [d[0] for d in cur.description]
        return canon_hash(names, rows), len(rows)
    except duckdb.InterruptException:
        return None
    finally:
        timer.cancel()


def harness_answers(workload):
    """Answer hashes from a one-pass harness run."""
    out = run.BUILD / f"answers-{workload}.json"
    rep = run.harness(run.build(), workload, 0, 0, 0, run.WORKLOADS[workload],
                      run.BUILD / "work" / f"answers-{workload}", out, 3600)
    out.unlink()
    return {o["id"]: o for o in rep["ops"]}


def oracle_sql():
    classes = run.build()
    cp = ":".join(str(c) for c in classes) + f":{run.SPARK_JARS}/*"
    out = subprocess.run(["java", "-cp", cp, "graft.perfbench.Harness", "--list"],
                         capture_output=True, text=True, check=True).stdout
    return {q["name"]: q["oracle"] for q in json.loads(out.strip().splitlines()[-1])}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("workload")
    ap.add_argument("--oracle-timeout", type=float, default=20.0)
    a = ap.parse_args()
    sqls = oracle_sql()
    data = run.WORKLOADS[a.workload]
    got = harness_answers(a.workload)
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in TABLES:
        if (data / f"{t}.parquet").exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{data}/{t}.parquet')")
    result, mismatches = {}, []
    for name in sorted(got):
        g = got[name]
        o = oracle(con, sqls[name], a.oracle_timeout) if sqls.get(name) else None
        if o is not None:
            result[name] = {"hash": o[0], "rows": o[1], "source": "oracle"}
            if g["error"] or g["hash"] != o[0]:
                mismatches.append((name, g, o))
        elif not g["error"]:
            result[name] = {"hash": g["hash"], "rows": g["rows"], "source": "reference"}
        print(f"{name}: {result.get(name, {}).get('source', 'MISSING')}", flush=True)
    con.close()
    path = run.HERE / "answers" / f"{a.workload}.json"
    path.parent.mkdir(exist_ok=True)
    path.write_text(json.dumps({"workload": a.workload,
                                "oracle_timeout_s": a.oracle_timeout,
                                "answers": result}, indent=1, sort_keys=True))
    for name, g, o in mismatches:
        print(f"MISMATCH {name}: harness {g} oracle {o}")
    print(f"wrote {path}; {len(mismatches)} oracle mismatches")


if __name__ == "__main__":
    main()
