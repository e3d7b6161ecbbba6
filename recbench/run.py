"""Benchmark entry point. Run from the repository root:

    python3 recbench/run.py --workload serve --seed 1 --seconds 8 --trace 0

One client process on ``local[<cores>]``. It generates its inputs from the
seed, builds the engine or indexes, runs one workload's closed loop for
``--seconds`` (whole cycles, at least one), checks every answer against
numpy, and prints one JSON line last on stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the same
loop with a Spark job group and counter reads around every call, and again
without them to measure the tracing overhead, and reports the per-layer
metrics (see README.md). Everything the run writes
(generated inputs, Spark local dirs, temp files) lives in a work dir under
``.recbench_work/`` and is removed at exit; a traced run also leaves its
spans in ``.recbench_out/``.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()  # set-up time counts from here

import argparse  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))  # the repository
PACKAGE = "vector_database_product_recommendation_spark"


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=("serve", "batch"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def isolate(work: str) -> None:
    """Point every scratch location of Spark, the JVMs and Python's
    tempfile (``artifacts.ivf_store`` uses mkdtemp) into ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # both JVMs (spark-submit's launcher and the driver): temp files under
    # work, and no hsperfdata file in the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"])
    )
    # a 2 GB Spark driver heap: the inputs are tens of MB
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.showConsoleProgress=false",
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "pyspark-shell",
    ])


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
        gateway.shutdown()
    except Exception:  # noqa: BLE001 - a broken gateway still leaves a JVM to end
        traceback.print_exc()
    if proc is None:
        return
    try:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=30)
    except (OSError, subprocess.TimeoutExpired):
        proc.kill()
        proc.wait(timeout=30)


def cached_mb(spark) -> float:
    """Storage memory held by persisted data."""
    return sum(r.memSize() for r in spark.sparkContext._jsc.sc().getRDDStorageInfo()) / 1e6


def metric(value, unit: str) -> dict:
    return {"value": value, "unit": unit}


def end_to_end(res: dict, setup_s: float, mb: float) -> dict:
    return {
        "setup_s": metric(setup_s, "s"),
        "ops_per_s": metric(res["ops_per_s"], "1/s"),
        "geomean_ms": metric(res["geomean_ms"], "ms"),
        "recall_at_10": metric(res["recall_at_10"], "ratio"),
        "cached_mb": metric(mb, "MB"),
    }


# Per-layer ops: the calls a workload times (phase "op") and the set-up
# calls that build what they serve from.
OPS = (
    "api.search", "api.search_filtered", "api.hybrid", "api.similar", "api.compare", "api.ann_review",
    "knn.exact", "ivf.probe", "pq.search",
)
SETUP_OPS = ("api.load", "api.first_hybrid", "artifacts.ivf_index", "artifacts.pq_index")


def trace_overhead(traced: list, untraced: list) -> dict:
    """Traced minus untraced time of the same calls: per op kind, the mean
    traced call (its counter reads included) against the mean untraced
    one, summed over the kinds both loops ran."""
    def mean_ms(ss, name, with_reads):
        ss = [s for s in ss if s.name == name]
        return sum(s.ms + (s.trace_ms if with_reads else 0.0) for s in ss) / len(ss)

    names = sorted({s.name for s in traced} & {s.name for s in untraced})
    on = sum(mean_ms(traced, n, True) for n in names)
    off = sum(mean_ms(untraced, n, False) for n in names)
    return {
        "trace.overhead_ms": metric((on - off) / len(names) if names else 0.0, "ms"),
        "trace.overhead_pct": metric(100.0 * (on - off) / off if off else 0.0, "%"),
    }


def per_layer(tracer, res: dict, session_ms: float, setup_s: float) -> dict:
    """Per-layer metrics from the spans (README.md lists them)."""
    spans = tracer.spans
    ops = tracer.ops()
    setup = [s for s in spans if s.phase == "setup"]

    def total(ss, attr):
        return sum(getattr(s, attr) for s in ss)

    def mean(ss, attr):
        return total(ss, attr) / len(ss) if ss else 0.0

    def pct(a, b):
        return 100.0 * a / b if b else 0.0

    op_ms = total(ops, "ms")
    gen_spans = [s for s in setup if s.name.startswith("gen.")]
    build = [s for s in setup if s.name in ("api.load", "sources.load_table", "artifacts.ivf_index", "artifacts.pq_index")]
    warm = [s for s in setup if s not in gen_spans and s not in build]
    out = {
        "session.start.ms": metric(session_ms, "ms"),
        "setup.gen.ms": metric(total(gen_spans, "ms"), "ms"),
        "setup.build.ms": metric(total(build, "ms"), "ms"),
        "setup.build.jobs": metric(total(build, "jobs"), "count"),
        "setup.warmup.ms": metric(total(warm, "ms"), "ms"),
        "ops.ms": metric(mean(ops, "ms"), "ms"),
        "ops.jobs": metric(mean(ops, "jobs"), "count"),
        "ops.stages": metric(mean(ops, "stages"), "count"),
        "ops.tasks": metric(mean(ops, "tasks"), "count"),
        "ops.run_ms": metric(mean(ops, "run_ms"), "ms"),
        "ops.cpu_ms": metric(mean(ops, "cpu_ms"), "ms"),
        "ops.job_ms": metric(mean(ops, "job_ms"), "ms"),
        "ops.driver_ms": metric(mean(ops, "ms") - mean(ops, "job_ms"), "ms"),
        "ops.shuffle_bytes": metric(mean(ops, "shuffle_bytes"), "bytes"),
        "trace.read_ms": metric(mean(ops, "trace_ms"), "ms"),
        **trace_overhead(ops, tracer.baseline()),
    }
    for name in OPS:
        ss = [s for s in ops if s.name == name]
        out[f"{name}.share"] = metric(pct(total(ss, "ms"), op_ms), "%")
        out[f"{name}.jobs"] = metric(mean(ss, "jobs"), "count")
        out[f"{name}.tasks"] = metric(mean(ss, "tasks"), "count")
        out[f"{name}.shuffle_bytes"] = metric(mean(ss, "shuffle_bytes"), "bytes")
        out[f"{name}.wait_pct"] = metric(pct(total(ss, "run_ms") - total(ss, "cpu_ms"), total(ss, "run_ms")), "%")
        out[f"{name}.driver_pct"] = metric(pct(total(ss, "ms") - total(ss, "job_ms"), total(ss, "ms")), "%")
    for name in SETUP_OPS:
        ss = [s for s in setup if s.name == name]
        out[f"{name}.setup_pct"] = metric(pct(total(ss, "ms") / 1e3, setup_s), "%")
        out[f"{name}.jobs"] = metric(total(ss, "jobs"), "count")
    for name, key in (("ivf.probe", "ivf_recall_at_10"), ("pq.search", "pq_recall_at_10"),
                      ("api.ann_review", "ann_review_recall_at_10")):
        out[f"{name}.recall_at_10"] = metric(res.get(key, 0.0), "ratio")
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    # on SIGTERM, unwind through the finally below: stop Spark, remove work
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    sys.path.insert(0, ROOT)
    missing = [m for m in (PACKAGE, "pyspark") if importlib.util.find_spec(m) is None]
    if missing:
        print(f"cannot import {', '.join(missing)}: run from the repository root", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".recbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    spark = None
    try:
        isolate(work)
        import checks
        import workloads
        from spans import Tracer

        from vector_database_product_recommendation_spark.session import get_spark

        t = time.perf_counter()
        spark = get_spark(f"recbench-{args.workload}", cpus=str(len(os.sched_getaffinity(0))))
        spark.sparkContext.setLogLevel("ERROR")
        session_ms = (time.perf_counter() - t) * 1e3

        tracer = Tracer(spark, enabled=bool(args.trace))
        tally = checks.Tally()
        res = workloads.WORKLOADS[args.workload](
            spark, tracer, tally, seed=args.seed, seconds=args.seconds, work=work
        )
        setup_s = res["setup_end"] - T0
        if args.trace:
            metrics = per_layer(tracer, res, session_ms, setup_s)
            out_dir = os.path.join(ROOT, ".recbench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.write(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.json"))
        else:
            metrics = end_to_end(res, setup_s, cached_mb(spark))
        print(
            f"{args.workload}: setup {setup_s:.1f} s, measured {res['wall_s']:.1f} s, "
            f"{tally.failed}/{tally.attempted} checks failed; "
            + "".join(f"{k} {res[k]:.4f}, " for k in res if k.endswith("recall_at_10"))
            + "ops (ms): "
            + ", ".join(f"{s.name} {s.ms:.0f}" for s in tracer.ops()),
            file=sys.stderr,
        )
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(work))  # only if no other run is using it
            except OSError:
                pass

    print(json.dumps({
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
