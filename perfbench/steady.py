#!/usr/bin/env python3
"""Steadiness check: run one workload with several seeds and report, per
end-to-end metric, the median and the inter-quartile spread as a share of
the median, against a third of the metric's bound in BENCHMARK.json.

    python3 perfbench/steady.py --workload cdc --seeds 1 2 3 4 5
"""
import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import stats  # noqa: E402

ROOT = os.path.dirname(HERE)


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", type=int, nargs="+", required=True)
    p.add_argument("--trace", type=int, default=0)
    a = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values = {}
    for seed in a.seeds:
        t0 = time.time()
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
               "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
               "--trace", str(a.trace)]
        r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE)
        line = r.stdout.decode().strip().splitlines()[-1] if r.stdout.strip() else ""
        print("seed %d rc %d %.1f s %s" % (seed, r.returncode, time.time() - t0, line),
              flush=True)
        if r.returncode != 0:
            continue
        for k, v in json.loads(line)["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, xs in values.items():
        if len(xs) < 2:
            continue
        s = stats.spread(xs)
        b = bounds.get(k)
        flag = "" if b is None else (" ok" if s < b / 3 else " WIDE (bound/3 = %.3f)" % (b / 3))
        print("%-22s median %12.4f spread %.4f%s" % (k, stats.median(xs), s, flag))


if __name__ == "__main__":
    main()
