#!/usr/bin/env python3
"""The graft benchmark: one command per workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds graft from source (perfbench/build.py), generates the workload's
inputs from the seed (perfbench/gen.py, cached per seed and size), runs
the measuring JVM (perfbench/src/GraftBench.scala) with a fixed heap on
``local[n]``, n <= nproc, checks the outputs (perfbench/checks.py) and
prints, as its last line, one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``, the
per-layer metrics (perfbench/layers.py) with ``--trace 1``.  Everything it
writes stays under ``.bench_build/`` in the checkout.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402

WORKLOADS = ("platform_backfill", "analyst_queries")
HEAP = "2g"
DEADLINE_S = 170  # a run ends within 180 s once built
TAIL_LADDER = (50.0, 60.0, 75.0, 90.0, 95.0, 99.0)

END_TO_END_UNITS = {"setup_s": "s", "work_per_s": "1/s", "cpu_s": "s",
                    "op_p50_s": "s", "op_tail_s": "s", "peak_rss_mb": "MB"}
PER_LAYER_UNITS = dict(
    {f"{n}_s": "s" for n in layers.SPAN_METRICS},
    **{"core.session_s": "s", "core.warm_s": "s", "core.jobs": "count",
       "core.tasks": "count", "core.driver_share": "ratio",
       "core.task_run_s": "s", "core.task_cpu_s": "s", "core.gc_s": "s",
       "core.shuffle_write_bytes": "bytes", "core.shuffle_read_bytes": "bytes",
       "core.spill_bytes": "bytes", "sources.rows": "count",
       "sources.input_bytes": "bytes", "pipeline.skipped_ratio": "ratio",
       "pipeline.rerun_s": "s",
       "io.files_written": "count", "io.bytes_written": "bytes",
       "io.write_amplification": "ratio", "gold.rows": "count",
       "queries.rows_out": "count", "operators.candidate_pairs": "count",
       "operators.verified_pairs": "count", "operators.pair_yield": "ratio",
       "host.calib_s": "s", "trace.overhead": "ratio"})

# JDK 17 module opens Spark needs outside spark-submit (the list build.sbt
# passes to forked runs)
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]


def percentile(xs, p):
    """Linear-interpolation percentile (numpy's default method)."""
    s = sorted(xs)
    k = (len(s) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def tail_percentile(n, target):
    """The declared percentile if the pool holds >= 10 samples beyond it,
    else the highest ladder percentile that does (p50 if none)."""
    ok = [p for p in TAIL_LADDER if p <= target and n * (1 - p / 100.0) >= 10]
    return max(ok) if ok else 50.0


def end_to_end(doc):
    """The end-to-end metrics of one untraced run, plus info lines."""
    ops = doc["ops"]
    timed = [o for o in ops if o["phase"] == "timed"]
    units = sum(o["units"] for o in timed if o["ok"])
    # operation latency pool: the operations that do a unit of work
    # (platform: first-run ingests; otherwise every timed operation)
    pool = [o["wall_s"] for o in timed if o["units"] > 0]
    p = tail_percentile(len(pool), doc["tail_target"])
    setup = doc["setup"]
    m = {
        "setup_s": doc["jvm_boot_s"] + setup["session_s"] + setup["register_s"]
        + setup["warm_s"],
        "work_per_s": units / doc["timed_wall_s"],
        "cpu_s": doc["timed_cpu_s"] / units if units else float("nan"),
        "op_p50_s": percentile(pool, 50.0),
        "op_tail_s": percentile(pool, p),
        "peak_rss_mb": doc["peak_rss_mb"],
    }
    info = [f"op_tail_s is p{p:g} of {len(pool)} operations "
            f"(declared p{doc['tail_target']:g}); op_p50_s of the same {len(pool)}",
            f"work unit: {doc['unit']}; {units:g} done in {doc['timed_wall_s']:.3f} s "
            "timed wall; cpu_s is process CPU seconds per unit",
            "setup_s = jvm boot {:.3f} + session {session_s:.3f} + registration "
            "{register_s:.3f} + warm pass {warm_s:.3f} s".format(doc["jvm_boot_s"], **setup)]
    return m, info


def run_jvm(args, data, work, classes, jars, deadline):
    out = os.path.join(work, "result.json")
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-Xss4m",
            f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join([classes, os.path.join(jars, "*")]),
              "graftbench.GraftBench",
              "--workload", args.workload, "--data", data, "--work", work,
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--cpus", str(min(4, os.cpu_count() or 1)), "--out", out])
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    with open(os.path.join(work, "jvm.log"), "w") as log:
        # set-up time starts here: JVM start is part of what it measures
        cmd += ["--t0", str(int(time.time() * 1000))]
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env, cwd=work)
        try:
            rc = proc.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            sys.exit("perfbench: measuring JVM exceeded the run deadline")
    if rc != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-3000:])
        sys.exit(f"perfbench: measuring JVM failed ({rc})")
    with open(out) as f:
        return json.load(f)


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    classes, jars = build.ensure(ROOT)
    deadline = time.time() + DEADLINE_S
    bench = os.path.join(ROOT, ".bench_build")
    data = gen.generate(args.workload, args.seed, os.path.join(bench, "data"))
    gen.prune(os.path.join(bench, "data"), keep=6)
    with open(os.path.join(data, "manifest.json")) as f:
        manifest = json.load(f)
    work = os.path.join(bench, "runs", f"{args.workload}-trace{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))

    doc = run_jvm(args, data, work, classes, jars, deadline)

    fails = [(o["name"], o["error"]) for o in doc["ops"] if not o["ok"]]
    rows_out = 0
    c = doc["checks"]
    if args.workload == "platform_backfill":
        fails += checks.platform(c)
    else:
        oracle_fails, rows_out = checks.oracle(
            os.path.join(data, "tables"), c["results_dir"], c["oracle_sql"])
        fails += oracle_fails
        fails += checks.kernels(c["kernel_agreement"])
        fails += sorted(c["warm_errors"].items())

    print(f"[perfbench] {args.workload} seed={args.seed} inputs={data} "
          f"sizes={json.dumps(manifest['size'], sort_keys=True)}")
    print("[perfbench] streaming and model: not exercised by any workload")
    fails = dict(fails)  # one failure per operation name
    for n, why in fails.items():
        print(f"[perfbench] FAILED {n}: {why}")
    if args.trace:
        metrics = layers.per_layer(doc, rows_out)
        units = PER_LAYER_UNITS
        with open(os.path.join(work, "trace.json"), "w") as f:
            json.dump({"spans": doc["trace"]["spans"], "writes": doc["trace"]["writes"],
                       "counters": doc["trace"]["core"], "per_layer": metrics}, f)
        print(f"[perfbench] spans and counters: {os.path.join(work, 'trace.json')}")
    else:
        metrics, info = end_to_end(doc)
        units = END_TO_END_UNITS
        for line in info:
            print(f"[perfbench] {line}")
    for sub in ("lake", "results", "spark-local", "warehouse", "tmp", "checkpoints"):
        shutil.rmtree(os.path.join(work, sub), ignore_errors=True)
    print(result_line(len(doc["ops"]), len(fails), metrics, units))
    return 0


def result_line(attempted, failed, metrics, units):
    """The last line of a run: every metric of ``units`` with its value."""
    return json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()}})


def parse_result(stdout):
    """Parse and validate the last line of a run's standard output."""
    doc = json.loads(stdout.strip().splitlines()[-1])
    if set(doc) != {"correct", "attempted", "failed", "metrics"}:
        raise ValueError(f"result keys {sorted(doc)}")
    for k in ("attempted", "failed"):
        if not isinstance(doc[k], int) or isinstance(doc[k], bool):
            raise ValueError(f"{k} is not a whole number")
    if doc["attempted"] < 1 or not 0 <= doc["failed"]:
        raise ValueError("attempted must be >= 1 and failed >= 0")
    if not isinstance(doc["correct"], bool):
        raise ValueError("correct is not a boolean")
    for name, m in doc["metrics"].items():
        if set(m) != {"value", "unit"} or not isinstance(m["unit"], str) or \
                not isinstance(m["value"], (int, float)) or isinstance(m["value"], bool):
            raise ValueError(f"metric {name} needs a numeric value and a unit")
    return doc


if __name__ == "__main__":
    sys.exit(main())
