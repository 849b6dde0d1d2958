"""s2spark benchmark: run one workload and print its metrics.

    python3 perfbench/run.py --workload pip_docs --seed 1 --seconds 10 --trace 0

Run from the repository root.  Inputs are built from ``--seed`` under a
scratch directory inside the checkout (``.perfbench_tmp/``, removed at
exit), the workload runs as Spark jobs in one fresh session of the
workload's cores (``local[nproc]``, or half that for pip_docs), and
every run of the action is checked against an independent numpy answer.
Stdout ends with one JSON line:
``{"correct", "attempted", "failed", "metrics"}`` — the ``end_to_end``
metrics of BENCHMARK.json with ``--trace 0``, its ``per_layer`` metrics
with ``--trace 1``.  The line before it holds the box fingerprint, the
per-run samples and, when tracing, the layer breakdown.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import harness  # noqa: E402

# Inputs and answers are built this many times per run; setup_s takes
# the median build (plus the one session start).
SETUP_BUILDS = 3
# Timed reps run until --seconds have passed, and at least this often.
MIN_TIMED_REPS = 3
# Passes over the source-layer prefix jobs of a traced run.  These jobs
# are short, and the first run of each new plan pays its codegen, so the
# faster of two runs counts.
SOURCE_PASSES = 2


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def parse_args(argv, spec):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True,
                   choices=[w["name"] for w in spec["workloads"]])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=spec["run_seconds"])
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def start_session(cpus: int):
    from s2_geometry_rust_spark.session import get_spark

    spark = get_spark("perfbench", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop the session and the JVM it runs in, and wait for both.  The
    JVM is stopped even when stopping the session fails, as it does after
    a signal cut a JVM call short."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    try:
        spark = SparkSession.getActiveSession()
        if spark is not None:
            spark.stop()
    finally:
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
        deadline = time.time() + 30
        while (len(harness.descendants(os.getpid())) > 1
               and time.time() < deadline):
            time.sleep(0.2)


class Runner:
    """Checked, timed actions of one run.  Counts every action attempted
    and every one that raised or disagreed with its independent answer."""

    def __init__(self, scratch: str):
        self.scratch = scratch
        self.attempted = 0
        self.failed = 0

    def rep(self, wl, spark, tag: str, call=None, keep: bool = False):
        """One action of ``wl`` -> (seconds, tree CPU s, output)."""
        out = os.path.join(self.scratch, "out", tag)
        kwargs = {} if call is None else {"call": call}
        cpu0 = harness.tree_cpu_s()
        t0 = time.perf_counter()
        try:
            got = wl.action(spark, out, **kwargs)
        except Exception:  # a failed action is counted, not fatal
            traceback.print_exc()
            got = None
        dt = time.perf_counter() - t0
        cpu = harness.tree_cpu_s() - cpu0
        self.attempted += 1
        if got != wl.expected:
            self.failed += 1
            print(f"MISMATCH {wl.name} {tag}: got {got} "
                  f"expected {wl.expected}", file=sys.stderr)
        if not keep:
            shutil.rmtree(out, ignore_errors=True)
        return dt, cpu, got


def min_by_key(dicts: list[dict]) -> dict:
    return {k: min(d[k] for d in dicts) for k in dicts[0]}


def traced(spark, runner: Runner, wl, src: dict, warm_up: bool) -> tuple:
    """One traced action of ``wl`` and its layer prefix jobs ->
    (traced action seconds, per-layer metrics, breakdown)."""
    import workloads

    if warm_up:
        runner.rep(wl, spark, f"warm-up-{wl.name}")
    tracer = workloads.Tracer()
    out = os.path.join(runner.scratch, "out", f"traced-{wl.name}")
    t_full, _, result = runner.rep(wl, spark, f"traced-{wl.name}",
                                   call=tracer.call, keep=True)
    metrics, layers = wl.trace(spark, out, tracer, result, src)
    shutil.rmtree(out, ignore_errors=True)
    bd = harness.breakdown(t_full, {
        "sources.scan": src["scan"],
        "sources.extract": src["extract"] - src["scan"],
        "functions.encode": src["encode"] - src["extract"], **layers})
    return t_full, metrics, bd


def scaling_leg(spark, runner: Runner, wl, n: int, hi_s: float) -> dict:
    """Scaling pair 1 -> n, the session's cores, on the same input.  The
    session is stopped, the JVM's threads and this process are pinned to
    one core (new Python workers inherit it), and a fresh local[1]
    context runs one untimed and one timed checked action.  Efficiency
    is lo_s / (n * hi_s)."""
    spark.stop()
    core = min(os.sched_getaffinity(0))
    harness.pin_tree({core})
    spark = start_session(1)
    runner.rep(wl, spark, "lo-warm")
    lo_s, _, _ = runner.rep(wl, spark, "lo")
    return {"pair": [1, n], "lo_reps": 1, "lo_s": lo_s, "hi_s": hi_s,
            "eff": lo_s / (n * hi_s), "pinned_core": core}


def run(args, spec, scratch: str) -> tuple[dict, dict]:
    sys.path.insert(0, ROOT)
    import workloads

    wl = workloads.WORKLOADS[args.workload]()
    cores = wl.cores()
    info = {"workload": args.workload, "seed": args.seed,
            "box": harness.fingerprint(), "load_before": harness.load_sample()}
    runner = Runner(scratch)

    t0 = time.perf_counter()
    spark = start_session(cores)
    session_start = time.perf_counter() - t0
    # setup_s is not a traced metric: a traced run builds once
    builds = []
    for i in range(1 if args.trace else SETUP_BUILDS):
        root = os.path.join(scratch, f"inputs-{i}")
        t0 = time.perf_counter()
        wl.build(spark, root, args.seed)
        builds.append(time.perf_counter() - t0)
        shutil.rmtree(os.path.join(scratch, f"inputs-{i - 1}"), ignore_errors=True)
    setup_s = session_start + harness.median(builds)

    cold_s, _, _ = runner.rep(wl, spark, "cold")
    # The JIT keeps speeding actions up for several reps after the cold
    # one.  A fixed count of untimed reps, not a time, ends the warm-up,
    # so every run times the same stretch of that curve however fast the
    # box is.  A traced run makes one timed action: it is only the
    # reference for the tracing overhead.
    for i in range(0 if args.trace else wl.warm_reps):
        runner.rep(wl, spark, f"warm-up-{i}")
    times, cpus = [], []
    seconds, min_reps = (0.0, 1) if args.trace else (args.seconds, MIN_TIMED_REPS)
    deadline = time.perf_counter() + seconds
    while len(times) < min_reps or time.perf_counter() < deadline:
        dt, cpu, _ = runner.rep(wl, spark, f"timed-{len(times)}")
        times.append(dt)
        cpus.append(cpu)
    hi_s = harness.median(times)
    info.update({
        "input_rows": wl.rows, "cores": cores,
        "session_start_s": session_start, "builds_s": builds,
        "cold_s": cold_s, "warm_up_reps": 0 if args.trace else wl.warm_reps,
        "timed_s": times, "timed_cpu_s": cpus,
        "timed_quartiles_s": harness.quartiles(times),
        "timed_spread": harness.spread(times),
    })

    if args.trace:
        src = min_by_key([workloads.source_layers(spark, wl.docs_path)
                          for _ in range(SOURCE_PASSES)])
        enc_s = src["encode"] - src["extract"]
        values = {m["name"]: 0.0 for m in spec["per_layer"]}
        measured = {
            "session.start_s": session_start,
            "session.cold_action_s": cold_s,
            "sources.scan_s": src["scan"],
            "sources.extract_s": src["extract"] - src["scan"],
            "sources.extract_rows_out": src["rows"],
            "functions.encode_s": enc_s,
            "functions.encode_rows_to_python": src["rows"],
            # wall time of the UDF layer minus the kernel's compute
            # spread over the cores the UDF runs on
            "functions.encode_overhead_s": enc_s - wl.kernel_s["encode"] / cores,
            **{f"kernels.{k}_s": v for k, v in wl.kernel_s.items()},
            "kernels.cap_cover_s": wl.cap_cover_s(),
        }
        t_full, metrics, bd = traced(spark, runner, wl, src, warm_up=False)
        measured.update(metrics)
        measured.update({"trace.full_action_s": t_full,
                         "trace.remainder_s": bd["remainder_s"],
                         "trace.overhead_s": t_full - hi_s})
        info["breakdown"] = {wl.name: bd}
        for other in wl.also_traced:
            _, metrics, info["breakdown"][other.name] = traced(
                spark, runner, other, src, warm_up=True)
            measured.update(metrics)
        info["scaling"] = scaling_leg(spark, runner, wl, cores, hi_s)
        measured["scaling.lo_s"] = info["scaling"]["lo_s"]
        measured["scaling.eff"] = info["scaling"]["eff"]
        unknown = sorted(set(measured) - set(values))
        if unknown:
            raise KeyError(f"metrics missing from BENCHMARK.json: {unknown}")
        values.update(measured)
        metric_spec = spec["per_layer"]
    else:
        # rows/s is reported but not bounded: on a shared host it follows
        # the neighbours' load (see README)
        info["rows_per_s"] = wl.rows / hi_s
        values = {
            "setup_s": setup_s,
            "cpu_s_per_mrow": harness.median(cpus) / wl.rows * 1e6,
        }
        metric_spec = spec["end_to_end"]

    after = harness.load_sample()
    info.update({"load_after": after,
                 "steal_share": harness.steal_share(info["load_before"], after),
                 "failed_frac": runner.failed / runner.attempted})
    result = {
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
                    for m in metric_spec},
    }
    return result, info


def main(argv=None) -> int:
    spec = load_spec()
    args = parse_args(argv, spec)
    # a SIGTERM unwinds through the finally below, which stops the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    tmp_root = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(tmp_root, exist_ok=True)
    scratch = tempfile.mkdtemp(prefix="run-", dir=tmp_root)
    harness.isolate(scratch)
    try:
        result, info = run(args, spec, scratch)
    finally:
        try:
            stop_jvm()
        finally:
            shutil.rmtree(scratch, ignore_errors=True)
            if not os.listdir(tmp_root):
                os.rmdir(tmp_root)
    print(json.dumps({"info": info}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
