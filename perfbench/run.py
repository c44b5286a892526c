"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. One process, one SparkSession at
``local[nproc]``, one closed-loop client. ``--trace 0`` prints the
end-to-end metrics; ``--trace 1`` runs the same workload with Spark job
groups, the Spark event log and the storage probe on, and prints the
per-layer metrics. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. Everything the run
writes lives under ``.perfbench_run/`` (removed at exit) except the detail
report, written to ``.perfbench_out/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import subprocess
import sys
import time
from pathlib import Path

T_START = time.perf_counter()
BENCH_DIR = Path(__file__).resolve().parent
CHECKOUT = BENCH_DIR.parent
if str(CHECKOUT) not in sys.path:
    sys.path.insert(0, str(CHECKOUT))

WORKLOADS = ("replay_offload_heavy", "index_probe")


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _session(run_dir: Path, cores: int, trace: bool):
    from pyspark.sql import SparkSession

    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", str(2 * cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "2g")
        .config("spark.local.dir", os.environ["SPARK_LOCAL_DIRS"])
        .config("spark.sql.warehouse.dir", str(run_dir / "warehouse"))
    )
    if trace:
        (run_dir / "eventlog").mkdir()
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", (run_dir / "eventlog").as_uri())
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers) to
    exit: ``SparkSession.stop`` alone leaves the gateway process running."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def _provenance(spark, cores: int) -> dict:
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "master": f"local[{cores}]",
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "spark_local_dirs": os.environ["SPARK_LOCAL_DIRS"],
    }


def main(argv=None) -> int:
    args = _parse(argv)
    try:
        import kafka_connect_claim_check_smt_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine package is not importable from {CHECKOUT}: {exc}", file=sys.stderr)
        return 2

    run_dir = CHECKOUT / ".perfbench_run" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    # all scratch stays inside this run's directory: Python and JVM temp
    # files, and Spark's shuffle/spill dirs, which SPARK_LOCAL_DIRS decides
    # (it takes precedence over spark.local.dir); a SPARK_LOCAL_DIRS set by
    # the caller is replaced, since shuffle files must not outlive the run
    os.environ["TMPDIR"] = str(run_dir / "tmp")
    # every JVM (the spark-submit launcher and the driver): temp files here,
    # and no hsperfdata file in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={run_dir / 'tmp'}", "-XX:-UsePerfData"])
    )
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    # Python workers import the engine and the storage probe from here
    os.environ["PYTHONPATH"] = os.pathsep.join([str(CHECKOUT), str(BENCH_DIR), os.environ.get("PYTHONPATH", "")]).rstrip(os.pathsep)
    cores = os.cpu_count() or 1
    try:
        return _run(args, run_dir, cores)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, run_dir: Path, cores: int) -> int:
    import report
    from eventfold import fold_events
    from oracles import Oracle
    from spans import Tracer
    from workloads import Ctx, run_index, run_replay

    spark = _session(run_dir, cores, bool(args.trace))
    session_s = time.perf_counter() - T_START
    oracle = Oracle(str(run_dir / "tmp"))
    try:
        tracer = Tracer(spark.sparkContext if args.trace else None)
        ctx = Ctx(spark, tracer, oracle, run_dir, args.seed, args.seconds, bool(args.trace))
        out = run_index(ctx) if args.workload == "index_probe" else run_replay(ctx)
        out.setup_parts["session_s"] = session_s
        out.setup_s += session_s
        prov = _provenance(spark, cores)
    finally:
        oracle.close()
        _stop(spark)

    by_group = {}
    if args.trace:
        logs = list((run_dir / "eventlog").iterdir())
        with open(logs[0]) as f:
            by_group = fold_events(f)
    gates_ok = all(g["ok"] for g in out.gates) and bool(out.gates)
    failed = out.failed if gates_ok else out.attempted
    e2e = report.end_to_end(out)
    seconds_view = report.raw_end_to_end(out)
    metrics = report.per_layer(out, tracer, by_group) if args.trace else e2e
    units = report.PER_LAYER if args.trace else report.END_TO_END
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "provenance": prov,
        "setup_parts": out.setup_parts,
        "measured_s": out.measured_s,
        "calls": report.call_summaries(out),
        "end_to_end": e2e,
        "seconds_view": seconds_view,
        "control_drifted": report.control_drifted(seconds_view),
        "iterations": len(out.write_s),
        "capped_by_seconds": out.capped,
        "failed_ops_frac": failed / max(out.attempted, 1),
        "gates": out.gates,
        "per_layer": metrics if args.trace else None,
        "spans": report.span_tree(tracer, by_group),
    }
    out_dir = CHECKOUT / ".perfbench_out"
    out_dir.mkdir(exist_ok=True)
    detail_path = out_dir / f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    detail_path.write_text(json.dumps(detail, indent=1, default=str))

    _print_table(detail, detail_path)
    result = {
        "correct": gates_ok and out.failed == 0,
        "attempted": max(out.attempted, 1),
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }
    print(json.dumps(result))
    return 0


def _print_table(detail: dict, path: Path) -> None:
    p = detail["provenance"]
    print(f"# {detail['workload']} seed={detail['seed']} trace={detail['trace']} "
          f"{p['master']} nproc={p['nproc']} pyspark={p['pyspark']} java={p['java']}")
    for name, s in detail["calls"].items():
        if s["n"]:
            tail = f"p{s['tail_pct']:g}={s['tail']:.4f}" if s["tail"] is not None else "tail=n/a (n<20)"
            print(f"#   {name:<10} n={s['n']:<3} p50={s['p50']:.4f} {tail} max={s['max']:.4f}")
    sv = detail["seconds_view"]
    print(f"#   control p50={sv['control_p50_s']:.4f} baseline={sv['control_baseline_s']:.4f} "
          f"drift={sv['control_drift']:.3f}{' DRIFTED' if detail['control_drifted'] else ''}"
          f"{' CAPPED at --seconds' if detail['capped_by_seconds'] else ''}")
    print(f"#   failed_ops_frac={detail['failed_ops_frac']:.4f} gates="
          f"{sum(g['ok'] for g in detail['gates'])}/{len(detail['gates'])} detail: {path}")


if __name__ == "__main__":
    sys.exit(main())
