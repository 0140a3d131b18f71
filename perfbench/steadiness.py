#!/usr/bin/env python3
"""Steadiness receipt: run each workload on several seeds, report spreads.

    python3 perfbench/steadiness.py [--runs 10] [--first-seed 1]
        [--out perfbench/STEADINESS.json] [--compare EARLIER_RECEIPT]

Runs `run.py --trace 0` once per seed, one run at a time. For each
end-to-end metric it reports the values, their median and the
interquartile spread as a share of the median, computed with
`statistics.quantiles(values, n=4)`; BENCHMARK.json bounds both the
spread and the drift of the median between two such sets. With
--compare it also reports each median's change, in the metric's worse
direction, against an earlier receipt. Each run's wall time and load
average are kept.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workload", action="append")
    ap.add_argument("--out", default=str(HERE / "STEADINESS.json"))
    ap.add_argument("--compare", help="earlier receipt to compare medians with")
    a = ap.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    metrics = {m["name"]: m for m in bench["end_to_end"]}
    earlier = json.loads(Path(a.compare).read_text()) if a.compare else None
    workloads = a.workload or [w["name"] for w in bench["workloads"]]
    model = next((l.split(":", 1)[1].strip() for l in
                  Path("/proc/cpuinfo").read_text().splitlines()
                  if l.startswith("model name")), "unknown")
    receipt = {"host": {"cpus": len(os.sched_getaffinity(0)), "cpu": model,
                        "mem_gb": round(os.sysconf("SC_PAGE_SIZE") *
                                        os.sysconf("SC_PHYS_PAGES") / 2**30, 1),
                        "run_seconds": bench["run_seconds"]},
               "workloads": {}}
    for w in workloads:
        runs = []
        for seed in range(a.first_seed, a.first_seed + a.runs):
            t0 = time.time()
            out = subprocess.run(
                [sys.executable, str(HERE / "run.py"), "--workload", w,
                 "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
                 "--trace", "0"], cwd=ROOT, capture_output=True, text=True)
            lines = out.stdout.strip().splitlines()
            info = json.loads(lines[-2]) if len(lines) > 1 else {}
            runs.append({"seed": seed, "exit": out.returncode,
                         "run_s": round(time.time() - t0, 1),
                         "loadavg_before": info.get("loadavg_before"),
                         "loadavg_after": info.get("loadavg_after"),
                         "result": json.loads(lines[-1]) if out.returncode == 0 else None})
            print(w, seed, runs[-1]["run_s"], lines[-1] if lines else out.stderr[-500:],
                  flush=True)
        ok = [r["result"] for r in runs if r["result"]]
        spreads = {}
        for m, spec in metrics.items():
            vals = [r["metrics"][m]["value"] for r in ok]
            if len(vals) < 4:
                continue
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spreads[m] = {"median": med, "iqr_share": (q3 - q1) / med,
                          "values": vals}
            if earlier and w in earlier["workloads"]:
                before = earlier["workloads"][w]["spreads"][m]["median"]
                sign = 1 if spec["better"] == "lower" else -1
                spreads[m]["worse_than_earlier"] = sign * (med - before) / before
        receipt["workloads"][w] = {
            "runs": runs, "spreads": spreads,
            "all_correct": all(r["correct"] for r in ok) and len(ok) == len(runs)}
    Path(a.out).write_text(json.dumps(receipt, indent=1))
    for w, r in receipt["workloads"].items():
        for m, s in r["spreads"].items():
            print(f"{w:22s} {m:26s} median {s['median']:.4g} "
                  f"spread {s['iqr_share']:.3f} bound {metrics[m]['bound']} "
                  f"worse {s.get('worse_than_earlier', 'n/a')}")


if __name__ == "__main__":
    main()
