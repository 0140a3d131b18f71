#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one fresh JVM.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a source checkout. The script
  1. compiles `src/main/scala` and the harness in `perfbench/scala` with
     the Scala compiler that ships in Spark's jars directory
     (`$SPARK_HOME/jars`, else that of the `spark-submit` on the PATH)
     into `.bench_build/`, once per source hash;
  2. runs `graft.perfbench.Harness` in one fresh JVM on `local[nproc]`
     with a fixed driver heap and young generation, recording the load
     average before and after. It makes one cold set-up (`setup_s`) and
     then the timed pass;
  3. checks every answer, outside the timed region: handler ops inside
     the harness against results it computes from the seeded items,
     queries against the hashes in `answers/<workload>.json` (the DuckDB
     oracle's answer where the oracle is tractable at this size, else the
     seed commit's answer), so a wrong answer counts as a failed op;
  4. prints, as the last line, {"correct", "attempted", "failed",
     "metrics"}: the end-to-end metrics with --trace 0, the per-layer
     metrics with --trace 1 (the full layer report and the spans are
     written to `.bench_build/reports/`). A traced run whose task time or
     job attribution does not reconcile is not correct.

The query workload reads the tables in `data/sf0.1/`, a copy of the
project's sf 0.1 test data; the handler workload makes its items from the
seed inside the harness.

The metrics printed, with their units, are the ones BENCHMARK.json lists.
perfbench/LAYERS.md describes the workloads, metrics and layers.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"

def spark_home():
    """$SPARK_HOME, else the installation that `spark-submit` belongs to."""
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"])
    submit = shutil.which("spark-submit")
    return Path(submit).resolve().parent.parent if submit else Path("spark")


SPARK_JARS = spark_home() / "jars"

HEAP = "3g"
YOUNG = "384m"
JVM_TIMEOUT_S = 165
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

# name -> directory of its input tables (None: the harness makes them)
WORKLOADS = {
    "handler_1m": None,
    "short_queries_sf0.1": HERE / "data" / "sf0.1",
}

def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    main = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not main:
        fail("no src/main/scala in this checkout; nothing to benchmark")
    return main, sorted((HERE / "scala").glob("*.scala"))


def scalac(out, files, classpath):
    out.mkdir(parents=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", f"{SPARK_JARS}/*",
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", str(out)]
    if classpath:
        cmd += ["-cp", classpath]
    r = subprocess.run(cmd + [str(f) for f in files], capture_output=True,
                       text=True, timeout=600)
    if r.returncode != 0:
        fail("compile failed:\n" + (r.stdout + r.stderr)[-4000:])


def build():
    """Compile the program and the harness once per source hash."""
    main, harness = sources()
    if not any(SPARK_JARS.glob("scala-compiler-*.jar")):
        fail(f"no Scala compiler in {SPARK_JARS}")
    h = hashlib.sha256()
    for f in main + harness:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    out = BUILD / f"classes-{h.hexdigest()[:16]}"
    BUILD.mkdir(exist_ok=True)
    with open(BUILD / "build.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not (out / "ok").exists():
            tmp = BUILD / "classes-tmp"
            shutil.rmtree(tmp, ignore_errors=True)
            scalac(tmp / "main", main, None)
            scalac(tmp / "harness", harness, str(tmp / "main"))
            (tmp / "ok").write_text("")
            shutil.rmtree(out, ignore_errors=True)
            tmp.rename(out)
    return [out / "main", out / "harness"]


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def run_jvm(classes, args, work, timeout):
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-XX:+UseG1GC",
           f"-Djava.io.tmpdir={work / 'tmp'}", f"-Dderby.system.home={work}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd.append(f"--add-opens={p}=ALL-UNNAMED")
    cp = ":".join(str(c) for c in classes) + f":{SPARK_JARS}/*"
    cmd += ["-cp", cp, "graft.perfbench.Harness"] + args
    log = open(work / "jvm.log", "w")
    proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
    try:
        rc = proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"harness exceeded {timeout} s; log in {work / 'jvm.log'}")
    finally:
        log.close()
    if rc != 0:
        tail = (work / "jvm.log").read_text()[-3000:]
        fail(f"harness exited {rc}:\n{tail}")


def check_answers(workload, ops):
    """Set `error` on each op whose answer hash is not the expected one."""
    path = HERE / "answers" / f"{workload}.json"
    expected = json.loads(path.read_text())["answers"]
    for o in ops:
        want = expected.get(o["id"])
        if o["error"] or o["hash"] is None:
            continue
        if want is None:
            o["error"] = "no expected answer recorded"
        elif o["hash"] != want["hash"]:
            o["error"] = (f"answer {o['hash'][:12]} ({o['rows']} rows) != "
                          f"{want['source']} {want['hash'][:12]} ({want['rows']} rows)")


def harness(classes, workload, seed, seconds, trace, data, work, out,
            timeout, spans=None):
    """One fresh harness JVM; returns its report."""
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    args = ["--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace),
            "--cores", str(len(os.sched_getaffinity(0))),
            "--data", str(data or work), "--work", str(work),
            "--out", str(out), "--spans", str(spans or work / "spans.jsonl")]
    run_jvm(classes, args, work, timeout=timeout)
    rep = json.loads(out.read_text())
    shutil.rmtree(work, ignore_errors=True)
    return rep


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classes = build()
    data = WORKLOADS[a.workload]
    if data is not None and not (data / "lineitem.parquet").exists():
        fail(f"input tables missing from {data}")
    work = BUILD / "work" / f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"
    reports = BUILD / "reports"
    reports.mkdir(exist_ok=True)
    stem = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    report_path = reports / f"{stem}.json"

    load_before = loadavg()
    rep = harness(classes, a.workload, a.seed, a.seconds, a.trace, data, work,
                  report_path, JVM_TIMEOUT_S, spans=reports / f"{stem}.spans.jsonl")
    load_after = loadavg()

    ops = rep["ops"]
    if data is not None:
        check_answers(a.workload, ops)
    failed_ops = [o for o in ops if o["error"]]
    trace_failures = rep.get("trace_failures", [])
    rep.update(loadavg_before=load_before, loadavg_after=load_after,
               error_rate=len(failed_ops) / len(ops))
    report_path.write_text(json.dumps(rep, indent=1))
    for o in failed_ops[:20]:
        print(f"FAILED {o['id']}: {o['error']}")
    for f in trace_failures:
        print(f"TRACE CHECK FAILED: {f}")
    print(json.dumps({"workload": a.workload, "seed": a.seed,
                      "timed_ops": rep["timed_ops"], "passes": rep["passes"],
                      "error_rate": rep["error_rate"],
                      "loadavg_before": load_before, "loadavg_after": load_after,
                      "report": str(report_path.relative_to(ROOT))}))
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    if a.trace:
        print(json.dumps({"layers": rep["layers"]}))
        values, declared = rep["layers"], bench["per_layer"]
    else:
        values, declared = rep["e2e"], bench["end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in declared}
    print(json.dumps({"correct": not failed_ops and not trace_failures,
                      "attempted": len(ops), "failed": len(failed_ops),
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
