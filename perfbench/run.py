"""Engine benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload batch_ladder --seed 1 --seconds 10 --trace 0

Runs from the repository root on Spark ``local[4]`` with one driver
process and one client thread.  Inputs come from ``--seed`` alone
(``inputs.py``); every result is checked against DuckDB (``oracle.py``).
The last stdout line is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

holding the end-to-end metrics with ``--trace 0`` and the per-layer
metrics with ``--trace 1``.  The line before it is a ``{"report": ...}``
object with the workload-specific figures and sample counts.  Exits 1
when a check fails, 2 when the engine cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
CORES = 4


def parse_args(argv):
    import workloads

    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not 1 <= args.seconds <= 600:
        p.error("--seconds must be in 1..600")
    return args


def start_spark(cores: int, work: str, traced: bool):
    from rtsa_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.driver.memory": "1g",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        # Snapshot version dirs are named ``v=<12 random hex digits>``.  With
        # partition type inference on, Spark reads a name such as
        # ``v=548e93055109`` as the decimal 548E93055109 and spends minutes
        # to hours rescaling it, so a run would hang at random.  Partition
        # values are strings in the engine's own use either way.
        "spark.sql.sources.partitionColumnTypeInference.enabled": "false",
    }
    if traced:
        conf.update({
            "spark.ui.enabled": "true",
            "spark.ui.port": "0",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        })
    return get_spark(app_name="perfbench", cores=cores, shuffle_partitions=CORES,
                     extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM (and with it every Python
    worker it forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    try:
        spark.stop()
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
    finally:
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the JVM exits on EOF of its stdin
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def remove_stale_work(root: str) -> None:
    """Delete scratch dirs left by runs that were killed before cleanup."""
    if not os.path.isdir(root):
        return
    for name in os.listdir(root):
        try:
            os.kill(int(name), 0)
        except (ValueError, ProcessLookupError):
            shutil.rmtree(os.path.join(root, name), ignore_errors=True)
        except PermissionError:
            pass  # a live process of another user


def main(argv=None) -> int:
    sys.path.insert(0, ROOT)
    try:
        import pyspark  # noqa: F401
        import rtsa_spark.pipeline  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    args = parse_args(argv)

    import inputs
    import spans
    import workloads

    files = inputs.materialize(args.workload, args.seed, os.path.join(STATE, "cache"))
    remove_stale_work(os.path.join(STATE, "work"))
    work = os.path.join(STATE, "work", str(os.getpid()))
    os.makedirs(work)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    # no hsperfdata files in the system temp dir from either JVM spark-submit starts
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"

    # a terminated run still stops its JVM and removes its scratch dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    rec = spans.Recorder()
    spark = wl = None
    try:
        with rec.span("setup") as setup:
            spark = start_spark(CORES, work, bool(args.trace))
            wl = workloads.WORKLOADS[args.workload](
                spark, rec, files, args.seed, args.seconds, work)
            wl.load()
        setup_s = setup["end"] - setup["start"]
        wall0 = rec.now()
        wl.run()
        ops_wall = rec.now() - wall0
        e2e = wl.end_to_end(setup_s, spans.peak_rss_mb(spark))
        report = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "cores": CORES, "nproc": os.cpu_count(),
            "input": inputs.params(args.workload, args.seed),
            "ops_wall_s": ops_wall, "figures": workload_figures(wl, e2e),
        }
        if args.trace:
            t0 = rec.now()
            spans.attach_spark_counters(rec, spark)
            metrics = wl.per_layer()
            report["self_s"] = rec.summary()
            untraced = _load_result(args.workload, args.seed)
            if untraced is not None:
                report["trace_overhead_s"] = ops_wall - untraced["ops_wall_s"]
            rec.write(os.path.join(STATE, "out", f"trace-{args.workload}-{args.seed}.jsonl"))
            metrics["trace.collect_s"] = {"value": rec.now() - t0, "unit": "s"}
            if isinstance(wl, workloads.BatchLadder):
                report["scaling"] = wl.scaling_leg(
                    lambda n: start_spark(n, work, False))
        else:
            _save_result(args.workload, args.seed, {"ops_wall_s": ops_wall})
            metrics = e2e
        report.update(wl.info)
        correct = not wl.mismatches and wl.failed == 0
        report["mismatches"] = wl.mismatches[:20]
        print(json.dumps({"report": report}, default=str))
        print(json.dumps({
            "correct": correct, "attempted": wl.attempted, "failed": wl.failed,
            "metrics": metrics,
        }))
        return 0 if correct else 1
    finally:
        try:
            if spark is not None:
                stop_spark(wl.spark if wl is not None else spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)


def workload_figures(wl, e2e: dict) -> dict:
    """The workload-specific names for the shared end-to-end metrics."""
    import inputs

    v = {k: m["value"] for k, m in e2e.items()}
    out = {
        "build_s": v["build_s"],
        "ladder_points_per_s": v["ladder_points_per_s"],
        "read_p50_ms": v["read_p50_ms"],
        "read_tail_ms": wl.info.get("read_tail_ms"),
        "stored_bytes_per_point": v["stored_bytes_per_point"],
        "peak_rss_mb": v["peak_rss_mb"],
        "op_error_rate": wl.failed / max(wl.attempted, 1),
    }
    if wl.name == "batch_ladder":
        out["refresh_s"] = v["update_p50_s"]
        out["noop_sync_s"] = v["noop_p50_ms"] / 1000.0
    else:
        ups = wl.samples["update"]
        rows = inputs.BATCH_ROWS * len(ups)
        out["ingest_freshness_p50_s"] = v["update_p50_s"]
        out["ingest_rows_per_s"] = rows / sum(ups) if ups else 0.0
        out["noop_tick_s"] = v["noop_p50_ms"] / 1000.0
    return out


def _result_path(workload: str, seed: int) -> str:
    return os.path.join(STATE, "out", f"result-{workload}-{seed}.json")


def _save_result(workload: str, seed: int, row: dict) -> None:
    os.makedirs(os.path.join(STATE, "out"), exist_ok=True)
    with open(_result_path(workload, seed), "w") as f:
        json.dump(row, f)


def _load_result(workload: str, seed: int) -> dict | None:
    try:
        with open(_result_path(workload, seed)) as f:
            return json.load(f)
    except (OSError, ValueError):
        return None


if __name__ == "__main__":
    sys.exit(main())
