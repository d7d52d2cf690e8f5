"""Repeat perfbench runs and summarize each metric's spread.

    python3 perfbench/repeat.py --workloads kv-parquet,kv-wire --seeds 1-10 \
        [--trace 0] [--seconds N] [--out FILE] [--label NAME]

Runs run.py once per (workload, seed), in that order, reads the result
object from the last line of each run's output, and prints per metric
the median, the quartiles (statistics.quantiles, n=4) and the spread
(q3 - q1) / median. --out appends the summary under --label to a JSON
file, which is how baseline.json is recorded.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def summarize(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else None, "runs": len(values)}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--out")
    ap.add_argument("--label", default="run")
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    secs = a.seconds or bench["run_seconds"]
    result = {}
    for w in a.workloads.split(","):
        per_metric, walls, failures = {}, [], 0
        for s in seeds(a.seeds):
            t0 = time.time()
            p = subprocess.run(bench["command"] + [
                "--workload", w, "--seed", str(s), "--seconds", str(secs),
                "--trace", str(a.trace)], capture_output=True, text=True)
            walls.append(time.time() - t0)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                sys.stderr.write(p.stderr[-3000:])
                raise SystemExit(f"{w} seed {s}: exit {p.returncode}")
            r = json.loads(lines[-1])
            if not r["correct"] or r["failed"]:
                failures += 1
            for k, m in r["metrics"].items():
                per_metric.setdefault(k, []).append(m["value"])
            print(f"{w} seed {s}: {walls[-1]:.1f} s wall, correct={r['correct']}, "
                  + ", ".join(f"{k}={m['value']:.4g}" for k, m in r["metrics"].items()
                              if a.trace == 0), flush=True)
        result[w] = {k: summarize(v) for k, v in per_metric.items()}
        result[w]["_wall_s"] = summarize(walls)
        result[w]["_incorrect_runs"] = failures
        for k, st in result[w].items():
            if isinstance(st, dict):
                sp = "n/a" if st["spread"] is None else f"{st['spread']:.3f}"
                print(f"  {w:14s} {k:36s} median {st['median']:.5g}  "
                      f"q1 {st['q1']:.5g}  q3 {st['q3']:.5g}  spread {sp}")
    if a.out:
        doc = {}
        if os.path.exists(a.out):
            with open(a.out) as f:
                doc = json.load(f)
        doc[a.label] = {"seeds": a.seeds, "seconds": secs, "trace": a.trace,
                        "workloads": result}
        with open(a.out, "w") as f:
            json.dump(doc, f, indent=1, sort_keys=True)
            f.write("\n")


if __name__ == "__main__":
    main()
