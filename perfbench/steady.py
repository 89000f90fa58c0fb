#!/usr/bin/env python3
"""Steadiness check: run each workload once per seed and report, per
end-to-end metric, the median, quartiles and quartile spread as a share of
the median (statistics.quantiles, n=4) against the metric's bound.

    python3 perfbench/steady.py --seeds 1 2 3 4 5 6 7 8 9 10 \
        [--workloads report curate ingest] [--out FILE]
"""
import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import benchlib  # noqa: E402


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--workloads", nargs="+", default=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--out")
    args = ap.parse_args()
    record = {"run_seconds": spec["run_seconds"], "seeds": args.seeds, "workloads": {}}
    for w in args.workloads:
        runs = []
        for seed in args.seeds:
            t0 = time.time()
            p = subprocess.run(spec["command"] + ["--workload", w, "--seed", str(seed),
                                                  "--seconds", str(spec["run_seconds"]),
                                                  "--trace", "0"],
                               cwd=ROOT, capture_output=True, text=True)
            took = time.time() - t0
            if p.returncode != 0:
                sys.exit(f"{w} seed {seed} failed:\n{p.stderr[-3000:]}")
            out = json.loads(p.stdout.strip().splitlines()[-1])
            with open(os.path.join(ROOT, ".bench_build", "perfbench", "work", w,
                                   "metrics.json")) as f:
                measured = json.load(f)
            runs.append({"seed": seed, "run_s": round(took, 1), "correct": out["correct"],
                         "attempted": out["attempted"], "failed": out["failed"],
                         "metrics": {k: v["value"] for k, v in out["metrics"].items()},
                         "measured": measured,
                         "messages": [l for l in p.stderr.splitlines()
                                      if l.startswith("perfbench:")]})
            print(f"{w} seed {seed}: {took:.1f} s {json.dumps(runs[-1]['metrics'])}",
                  file=sys.stderr)
        summary = {}
        for m in spec["end_to_end"] if len(runs) > 1 else []:
            med, q1, q3, share = benchlib.spread([r["metrics"][m["name"]] for r in runs])
            summary[m["name"]] = {"median": med, "q1": q1, "q3": q3, "iqr_share": share,
                                  "bound": m["bound"]}
            print(f"{w} {m['name']}: median {med:.4f} q1 {q1:.4f} q3 {q3:.4f} "
                  f"spread {share:.3f} (bound {m['bound']})", file=sys.stderr)
        record["workloads"][w] = {"summary": summary, "runs": runs}
    text = json.dumps(record, indent=1)
    if args.out:
        with open(args.out, "w") as f:
            f.write(text + "\n")
    else:
        print(text)


if __name__ == "__main__":
    main()
