"""Repository benchmark: one command, one workload, one JSON result line.

    python3 perfbench/run.py --workload build|serve --seed N \\
        --seconds S --trace 0|1 [--scale full|smoke]

Run from the repository root.  The run pins its environment from the
host, not from defaults: ``local[<cores>]`` with the cores this process
may run on (what ``nproc`` reports), one closed-loop client thread, and
every file it writes (inputs, indexes, Spark local dirs, JVM temp files)
under ``.perfbench/`` in the checkout.  It generates its inputs from the
seed, measures the workload for ``--seconds``, checks every answer
outside the clock, and prints as its last line::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of
BENCHMARK.json; with ``--trace 1`` the per-layer ones, and the spans are
written to ``.perfbench/traces/``.  A diagnostics line before the result
carries what is reported but not gated: ``failed_frac``, the CPU canary
at start and end, sample counts, every timed build and Spark operation
with the host's steal time over it, the
driver-local latencies, the set-up breakdown and the tracing overhead.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", choices=("build", "serve"))
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=int, default=15)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "smoke"), default="full")
    p.add_argument("--pin-seeds", metavar="A-B",
                   help="write the input fingerprints of seeds A..B to "
                        "perfbench/fingerprints.json and exit")
    p.add_argument("--inject-fault", action="store_true",
                   help="corrupt one answer before it is checked (smoke test)")
    a = p.parse_args(argv)
    if not a.pin_seeds and not a.workload:
        p.error("--workload is required")
    return a


def check_tree() -> None:
    """Exit without a result unless the program under test is here."""
    missing = [p for p in ("invertedindexbuilder_spark/__init__.py",
                           "tests/oracle_util.py", "BENCHMARK.json")
               if not os.path.exists(os.path.join(REPO, p))]
    if missing:
        sys.exit(f"perfbench: not a checkout of the program: missing {missing}")


def pin_environment(work: str) -> dict:
    """Cores from the affinity mask; all scratch files inside ``work``."""
    cores = len(os.sched_getaffinity(0))
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # the session factory's 8g default is sized for 30M-doc runs; the
    # benchmark's corpora fit easily in 2g and the host is shared
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell"
    )
    return {"cores": cores, "spark_local_dirs": local,
            "driver_mem": os.environ["SPARK_DRIVER_MEM"]}


def start_spark(cores: int):
    from invertedindexbuilder_spark.session import get_spark

    spark = get_spark(app_name="perfbench", cores=cores)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM to
    exit (it leaves when its stdin pipe closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def end_to_end(run, workload: str) -> dict:
    from meters import MB, median, tail
    from workloads import PRIMARY_OP

    s = run.samples
    op = PRIMARY_OP[workload]
    local_tail, local_pct = tail(s["local"])
    run.diag["local_ms"] = {"p50": 1e3 * median(s["local"]),
                            f"p{local_pct}": 1e3 * local_tail}
    run.diag["op_s"] = {k: [round(x, 3) for x in v] for k, v in s.items()
                        if k.split("_")[0] in ("build", "chunked", "merged")
                        and not k.endswith("rchar")}
    return {
        "setup_s": run.diag["setup_s"],
        "op_p50_s": median(s[op]),
        "op_rchar_mb": median(s[op + "_rchar"]) / MB,
        "index_bytes_per_posting": median(s["bytes_per_posting"]),
    }


def select(computed: dict, declared: list[dict]) -> dict:
    missing = [m["name"] for m in declared if m["name"] not in computed]
    if missing:
        raise RuntimeError(f"metrics not measured: {missing}")
    return {m["name"]: {"value": float(computed[m["name"]]), "unit": m["unit"]}
            for m in declared}


def pin_seeds(args) -> None:
    from inputs import pin, write_inputs

    a, b = (int(x) for x in args.pin_seeds.split("-"))
    entries = {}
    for seed in range(a, b + 1):
        work = os.path.join(REPO, ".perfbench", f"pin-{os.getpid()}")
        try:
            entries[seed] = write_inputs(work, seed, args.scale)["fingerprints"]
        finally:
            shutil.rmtree(work, ignore_errors=True)
    pin(args.scale, entries)


def main(argv=None) -> int:
    args = parse_args(argv)
    check_tree()
    # a TERM (a caller's time-out) unwinds through the finally blocks
    # below, which stop the JVM and remove the run's files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path[:0] = [REPO, HERE, os.path.join(REPO, "tests")]
    if args.pin_seeds:
        pin_seeds(args)
        return 0

    from invertedindexbuilder_spark.benchmetrics import JvmIOMeter, cpu_canary

    import inputs
    from meters import Tracer
    from probes import per_layer
    from workloads import WORKLOADS, Run

    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        declared = json.load(f)
    t_start = time.perf_counter()
    canary_start = cpu_canary(reps=1)
    work = os.path.join(REPO, ".perfbench", f"run-{os.getpid()}")
    env = pin_environment(work)
    try:
        t0 = time.perf_counter()
        generated = inputs.write_inputs(os.path.join(work, "inputs"),
                                        args.seed, args.scale)
        inputs_s = time.perf_counter() - t0
        want = inputs.pinned(args.scale, args.seed)
        if want is not None and want != generated["fingerprints"]:
            sys.exit(f"perfbench: inputs of seed {args.seed} changed: pinned "
                     f"{want}, generated {generated['fingerprints']}")
        t0 = time.perf_counter()
        spark = start_spark(env["cores"])
        session_s = time.perf_counter() - t0
        try:
            tracer = Tracer(bool(args.trace), spark, JvmIOMeter())
            run = Run(spark, tracer, work, args.seed, args.scale, args.seconds,
                      inject_fault=args.inject_fault)
            run.inputs = generated
            run.diag.update(env, inputs_s=inputs_s,
                            fingerprints="pinned" if want else "unpinned")
            t0 = time.perf_counter()
            WORKLOADS[args.workload](run)
            workload_s = time.perf_counter() - t0
            if args.trace:
                metrics = per_layer(run)
                metrics["trace.overhead_frac"] = tracer.overhead_s / workload_s
                tracer.dump(os.path.join(
                    REPO, ".perfbench", "traces",
                    f"{args.workload}-seed{args.seed}.json"))
                metrics = select(metrics, declared["per_layer"])
            else:
                metrics = select(end_to_end(run, args.workload),
                                 declared["end_to_end"])
        finally:
            stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    run.diag.update({
        "failed_frac": run.failed / run.attempted,
        "failures": run.failures,
        "session_s": session_s,
        "workload_s": workload_s,
        "trace_overhead_s": tracer.overhead_s,
        "cpu_canary_s": {"start": canary_start, "end": cpu_canary(reps=1)},
        "samples": {k: len(v) for k, v in run.samples.items()},
        "wall_s": time.perf_counter() - t_start,
    })
    print("diagnostics: " + json.dumps(run.diag, sort_keys=True, default=str))
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
