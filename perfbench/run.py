#!/usr/bin/env python3
"""The repository benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It builds the program from source
(perfbench/build.py), makes the workload's inputs from the seed, runs it
in one JVM (perfbench/scala), checks the outputs outside the timed
region, and prints one JSON object as the last line of stdout:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones; the traced
run also writes its per-layer table (self time per layer against the
measured wall time) to a side file named on the line before the result.
Workloads, metrics and what each layer metric should move are listed in
BENCHMARK.json and perfbench/layers.json.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import stats  # noqa: E402

ROOT = build.ROOT
WORKLOADS = ("cdc", "registry_queries")
JVM_DEADLINE_S = 150  # leaves the checks room inside a run's 180 s

# registry_queries input sizes (rows) and duplicate shares
SCALE = {"events": 10000, "users": 150, "docs": 2000,
         "exact_share": 0.1, "near_share": 0.15, "vectors": 1000}

JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    sys.stderr.write("[perfbench] %s\n" % msg)


def jvm(jar, args, work, timeout):
    """Run perfbench.Main; returns the wall-clock time it was launched at."""
    cp = jar + os.pathsep + os.path.join(build.spark_jars(), "*")
    # the code cache size of the repo's own build (build.sbt): Spark keeps
    # compiling generated classes, and a full cache stops the JIT
    cmd = ["java", "-Xms3g", "-Xmx3g", "-Xss8m", "-XX:ReservedCodeCacheSize=1g",
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "-Dspark.ui.enabled=false", "-Dderby.system.home=" + work]
    for p in JDK_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main"] + args
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(os.path.join(work, "jvm.log"), "wb") as logf:
        launched = time.time()
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            raise RuntimeError("JVM run exceeded %.0f s" % timeout)
        finally:
            if p.poll() is None:  # timed out or interrupted: never leave it behind
                p.kill()
                p.wait()
    if rc != 0:
        with open(os.path.join(work, "jvm.log"), "rb") as f:
            sys.stderr.write(f.read().decode(errors="replace")[-3000:])
        raise RuntimeError("JVM run exited with %d" % rc)
    return launched


def ms(xs_us):
    return [x / 1000.0 for x in xs_us]


def setup_s(raw, gen_s, launched):
    """Input generation before the JVM, then from the JVM's launch to the
    end of its set-up: JVM and session start, the rest of the inputs and
    the cold first pass."""
    return gen_s + raw["setup_end_epoch_s"] - launched


def end_to_end(w, raw, pre=""):
    """(latency_ms, latency_tail_ms, throughput_per_s) of one window."""
    if w == "cdc":
        # live phase: scheduled send -> frame offer, median and p99 over frames
        lat = ms(raw[pre + "lat_us"])
        typical = stats.median(lat)
        tail, _ = stats.tail(lat, 99)
        # backlog phase: changes drained per second, median over batches
        thr = stats.median([raw["backlog_batch_changes"] * 1000.0 / b
                            for b in raw[pre + "backlog_batch_ms"]])
    else:
        # each query's median execution over the window's passes; a pooled
        # median would jump between the queries' clusters, and a pass
        # count that varies would weigh the first pass differently
        by = {}
        for e in raw[pre + "exec"]:
            if e["ok"]:
                by.setdefault(e["name"], []).append(e["ms"])
        meds = [stats.median(v) for v in by.values()]
        typical = stats.geomean(meds)
        tail = max(meds)
        thr = 1000.0 * len(meds) / sum(meds)
    return typical, tail, thr


def layer_units():
    """name -> unit of every per-layer metric, in BENCHMARK.json's order."""
    with open(os.path.join(HERE, "layers.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["metrics"]}


def per_layer(w, raw, base, names):
    """The traced run's metrics (every name in BENCHMARK.json's per_layer)."""
    t = raw["trace"]
    m = {k: float(v) for k, v in t["metrics"].items()}
    traced = end_to_end(w, raw, "traced_")
    m["bench.trace_overhead_pct"] = 100.0 * (traced[0] - base[0]) / base[0]
    m["bench.unaccounted_pct"] = t["self_times"]["unaccounted_pct"]
    m["error_rate"] = raw["failed"] / max(1, raw["attempted"])
    if w == "cdc":
        b = t["batch_ms"]
        m["cdc.batch_p50_ms"] = stats.median(b) if b else 0.0
        hp = stats.highest_percentile(b) if b else None
        m["cdc.batch_tail_ms"] = hp[1] if hp else max(b or [0.0])
        m["rates.shed_changes"] = float(raw["shed_changes"] + raw["traced_shed_changes"])
        m["walrus.matched_ratio"] = raw["matched_ratio"]
        lag = ms(raw["traced_feed_lag_us"] + raw["feed_lag_us"])
        m["bench.feed_lag_p99_ms"] = stats.tail(lag, 99)[0]
    else:
        execs = [e for e in raw["traced_exec"] if e["ok"]]
        passes = max(1, len(raw["traced_pass_s"]))
        for e in execs:
            k = ("pipeline.%s_ms" % e["group"] if e["layer"] == "pipeline"
                 else "%s.ms" % e["layer"])
            m[k] = m.get(k, 0.0) + e["ms"] / passes
    st = t["self_times"]
    for layer, v in st["self_ms_by_layer"].items():
        m["self.%s_pct" % layer] = 100.0 * v / st["wall_ms"]
    # a layer a workload does not touch reads 0
    return {n: m.get(n, 0.0) for n in names}, t


def run(a):
    jar = build.build()
    t_built = time.time()
    work = os.path.join(build.OUT, "runs", "%s-%d-%d-%d" % (a.workload, a.seed, a.trace,
                                                            os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    os.makedirs(data)
    gen_s = 0.0
    try:
        if a.workload == "registry_queries":
            import gen
            t0 = time.time()
            rows = gen.write_inputs(a.seed, data, SCALE)
            gen_s = time.time() - t0
            log("inputs %s" % rows)
        out = os.path.join(work, "out.json")
        launched = jvm(jar, ["--workload", a.workload, "--seed", str(a.seed),
                             "--seconds", str(a.seconds), "--trace", str(a.trace),
                             "--data", data, "--work", work, "--out", out],
                       work, JVM_DEADLINE_S - (time.time() - t_built))
        with open(out) as f:
            raw = json.load(f)
        if a.workload == "registry_queries":
            import oracle
            names = [e["name"] for e in raw["exec"]]
            res = oracle.compare(data, os.path.join(work, "results"), raw["oracle_sql"],
                                 sorted(set(names)))
            bad = {k: v for k, v in res.items() if v is not None}
            for k, v in sorted(bad.items()):
                log("oracle mismatch %s: %s" % (k, v))
            execs = raw["exec"] + raw.get("traced_exec", [])
            raw["attempted"] = len(execs)
            raw["failed"] = sum(1 for e in execs if not e["ok"] or e["name"] in bad
                                or e["name"] in raw["setup_failed"])
            raw["checks"] = {"oracle_mismatch": sorted(bad)}
        else:
            log("checks %s" % raw["checks"])
        base = end_to_end(a.workload, raw)
        if a.trace:
            units = layer_units()
            metrics, t = per_layer(a.workload, raw, base, units)
            side = os.path.join(build.OUT, "trace",
                                "%s-seed%d.json" % (a.workload, a.seed))
            try:
                os.makedirs(os.path.dirname(side), exist_ok=True)
                with open(side, "w") as f:
                    json.dump({"workload": a.workload, "seed": a.seed,
                               "metrics": metrics, "self_times": t["self_times"],
                               "checks": raw["checks"]}, f, indent=1, sort_keys=True)
                print("per-layer table: %s" % os.path.relpath(side, ROOT))
            except OSError as e:
                log("per-layer side file not written: %s" % e)
        else:
            typical, tail, thr = base
            metrics = {"setup_s": setup_s(raw, gen_s, launched),
                       "retained_heap_mb": raw["retained_heap_mb"],
                       "latency_ms": typical, "latency_tail_ms": tail,
                       "throughput_per_s": thr}
            units = {"setup_s": "s", "retained_heap_mb": "MB", "latency_ms": "ms",
                     "latency_tail_ms": "ms", "throughput_per_s": "1/s"}
        result = {"correct": raw["failed"] == 0, "attempted": int(raw["attempted"]),
                  "failed": int(raw["failed"]),
                  "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}
    finally:
        if not a.keep:
            shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--keep", action="store_true", help="keep the run directory")
    a = p.parse_args()
    try:
        run(a)
    except (build.BuildError, RuntimeError, KeyError, ValueError, OSError) as e:
        log("run failed: %s: %s" % (type(e).__name__, e))
        sys.exit(1)


if __name__ == "__main__":
    main()
