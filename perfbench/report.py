"""Turn a workload's ``Outcome`` (and, on the traced run, the folded event
log) into the end-to-end and per-layer metrics ``BENCHMARK.json`` names."""

from __future__ import annotations

from eventfold import JobFold
from spans import Span, Tracer, self_time, summarize
from workloads import Outcome, median

END_TO_END = {
    "setup_s": "s",
    "write_p50_rel": "ratio",
    "read_p50_rel": "ratio",
}

PER_LAYER = {
    "write.jobs_per_call": "count",
    "write.stages_per_call": "count",
    "write.driver_gap_s": "s",
    "write.executor_run_s": "s",
    "write.executor_cpu_s": "s",
    "write.shuffle_write_bytes": "bytes",
    "write.shuffle_read_bytes": "bytes",
    "write.spill_bytes": "bytes",
    "write.task_skew": "ratio",
    "read.jobs_per_call": "count",
    "read.stages_per_call": "count",
    "read.driver_gap_s": "s",
    "read.executor_run_s": "s",
    "read.shuffle_bytes": "bytes",
    "lake.files_per_write": "count",
    "lake.manifest_bytes": "bytes",
    "lake.read_files_scanned": "count",
    "lake.read_files_skipped": "count",
    "lake.feed_jobs_per_call": "count",
    "claimcheck.oversized_rows": "count",
    "claimcheck.blobs_written": "count",
    "claimcheck.blob_bytes_written": "bytes",
    "claimcheck.offload_yield": "ratio",
    "claimcheck.udf_rows_sent": "count",
    "claimcheck.rows_hydrated": "count",
    "claimcheck.hydrate_overhead_frac": "ratio",
    "storage.get_calls": "count",
    "storage.get_bytes": "bytes",
    "storage.get_share": "ratio",
    "index.pairs_out": "count",
    "sources.log_write_s": "s",
    "trace.setup_s": "s",
    "trace.write_p50_rel": "ratio",
    "trace.read_p50_rel": "ratio",
}

# the bound BENCHMARK.json gives the relative latencies
CONTROL_DRIFT_BOUND = 0.25

OFFLOAD_UDFS = {"put_masked", "put_batch"}
HYDRATE_UDFS = {"get_batch"}


def end_to_end(out: Outcome) -> dict[str, float]:
    """Set-up time, and the write and read-step latencies relative to the
    same run's control job (``workloads.control_job``)."""
    control = median(out.control_s)
    return {
        "setup_s": out.setup_s,
        "write_p50_rel": median(out.write_s) / control if control else 0.0,
        "read_p50_rel": median(out.read_s) / control if control else 0.0,
    }


def raw_end_to_end(out: Outcome) -> dict[str, float]:
    """The same calls in seconds, with the write throughput, and the
    control's drift from its baseline (timed before any engine call)."""
    control = median(out.control_s)
    return {
        "write_items_per_s": sum(out.write_items) / sum(out.write_s) if out.write_s else 0.0,
        "write_p50_s": median(out.write_s),
        "read_p50_s": median(out.read_s),
        "control_p50_s": control,
        "control_baseline_s": out.control_baseline_s,
        "control_drift": control / out.control_baseline_s if out.control_baseline_s else 0.0,
    }


def control_drifted(seconds_view: dict) -> bool:
    """True when the in-loop control moved from its baseline by more than
    the ratios' bound: then the engine (or the machine) changed the
    denominator, and the ratios alone can hide a slowdown."""
    return abs(seconds_view["control_drift"] - 1.0) > CONTROL_DRIFT_BOUND


def call_summaries(out: Outcome) -> dict:
    """p50 / tail / n of every timed call, for the human-readable report."""
    series = {"write_s": out.write_s, "read_s": out.read_s, **out.read_parts, "control_s": out.control_s}
    return {name: summarize(xs) for name, xs in series.items()}


def _call_fold(spans: list[Span], by_group: dict[str, list[JobFold]]) -> dict:
    """Spark work of one call (one or more spans of the same iteration)."""
    jobs = [j for s in spans for j in by_group.get(s.group, [])]
    stages = [st for j in jobs for st in j.stages]
    gap = sum(self_time(s.start, s.end, [(j.submit, j.complete) for j in by_group.get(s.group, [])]) for s in spans)
    udf: dict[str, int] = {}
    for st in stages:
        for name, rows in st.udf_rows.items():
            udf[name] = udf.get(name, 0) + rows
    exchange = max(stages, key=lambda st: st.shuffle_read_bytes, default=None)
    return {
        "jobs": len(jobs),
        "stages": len(stages),
        "driver_gap_s": gap,
        "executor_run_s": sum(st.run_s for st in stages),
        "executor_cpu_s": sum(st.cpu_s for st in stages),
        "shuffle_write_bytes": sum(st.shuffle_write_bytes for st in stages),
        "shuffle_read_bytes": sum(st.shuffle_read_bytes for st in stages),
        "spill_bytes": sum(st.spill_bytes for st in stages),
        "task_skew": exchange.skew if exchange is not None and exchange.shuffle_read_bytes else 1.0,
        "udf_rows": udf,
    }


def _per_call(tracer: Tracer, role: str, by_group) -> list[dict]:
    calls: dict[int, list[Span]] = {}
    for s in tracer.timed(role):
        calls.setdefault(s.attrs.get("iteration"), []).append(s)
    return [_call_fold(spans, by_group) for _, spans in sorted(calls.items())]


def per_layer(out: Outcome, tracer: Tracer, by_group: dict[str, list[JobFold]]) -> dict[str, float]:
    writes = _per_call(tracer, "write", by_group)
    reads = _per_call(tracer, "read", by_group)

    def med(calls, key):
        return median([c[key] for c in calls])

    def udf_med(calls, names):
        return median([sum(v for k, v in c["udf_rows"].items() if k in names) for c in calls])

    lay = out.layer
    oversized = sum(lay.get("oversized_rows", []))
    n_writes = max(len(out.write_s), 1)
    n_reads = max(len(out.read_s), 1)
    storage = lay.get("storage", {})
    read_run_s = sum(c["executor_run_s"] for c in reads)
    feed_jobs = [len(by_group.get(s.group, [])) for s in tracer.timed("read") if s.name == "lake.read_changes"]
    hydrated, plain = median(out.read_parts.get("read_back_s", [])), median(out.plain_read_s)
    e2e = end_to_end(out)
    return {
        "write.jobs_per_call": med(writes, "jobs"),
        "write.stages_per_call": med(writes, "stages"),
        "write.driver_gap_s": med(writes, "driver_gap_s"),
        "write.executor_run_s": med(writes, "executor_run_s"),
        "write.executor_cpu_s": med(writes, "executor_cpu_s"),
        "write.shuffle_write_bytes": med(writes, "shuffle_write_bytes"),
        "write.shuffle_read_bytes": med(writes, "shuffle_read_bytes"),
        "write.spill_bytes": med(writes, "spill_bytes"),
        "write.task_skew": med(writes, "task_skew"),
        "read.jobs_per_call": med(reads, "jobs"),
        "read.stages_per_call": med(reads, "stages"),
        "read.driver_gap_s": med(reads, "driver_gap_s"),
        "read.executor_run_s": med(reads, "executor_run_s"),
        "read.shuffle_bytes": median([c["shuffle_read_bytes"] + c["shuffle_write_bytes"] for c in reads]),
        "lake.files_per_write": median(lay.get("files_per_write", [])),
        "lake.manifest_bytes": lay.get("manifest_bytes", 0),
        "lake.read_files_scanned": median(lay.get("read_files_scanned", [])),
        "lake.read_files_skipped": median(lay.get("read_files_skipped", [])),
        "lake.feed_jobs_per_call": median(feed_jobs),
        "claimcheck.oversized_rows": oversized / n_writes,
        "claimcheck.blobs_written": lay.get("blobs_written", 0) / n_writes,
        "claimcheck.blob_bytes_written": lay.get("blob_bytes_written", 0) / n_writes,
        "claimcheck.offload_yield": lay.get("blobs_written", 0) / oversized if oversized else 0.0,
        "claimcheck.udf_rows_sent": udf_med(writes, OFFLOAD_UDFS),
        "claimcheck.rows_hydrated": udf_med(reads, HYDRATE_UDFS),
        "claimcheck.hydrate_overhead_frac": (hydrated - plain) / hydrated if hydrated and plain else 0.0,
        "storage.get_calls": storage.get("get_calls", 0) / n_reads,
        "storage.get_bytes": storage.get("get_bytes", 0) / n_reads,
        "storage.get_share": storage.get("get_s", 0.0) / read_run_s if read_run_s else 0.0,
        "index.pairs_out": median(lay.get("pairs_out", [])),
        "sources.log_write_s": out.log_write_s,
        "trace.setup_s": e2e["setup_s"],
        "trace.write_p50_rel": e2e["write_p50_rel"],
        "trace.read_p50_rel": e2e["read_p50_rel"],
    }


def span_tree(tracer: Tracer, by_group: dict[str, list[JobFold]]) -> list[dict]:
    """Spans with their Spark jobs (and the jobs' stages) as child spans, each
    with its self time: duration minus what its children cover."""
    kids: dict[int | None, list[Span]] = {}
    for s in tracer.spans:
        kids.setdefault(s.parent, []).append(s)
    out = []
    for s in tracer.spans:
        jobs = by_group.get(s.group, [])
        children = [(c.start, c.end) for c in kids.get(s.id, [])] + [(j.submit, j.complete) for j in jobs]
        out.append({
            "id": s.id,
            "parent": s.parent,
            "name": s.name,
            "role": s.role,
            "start": s.start,
            "end": s.end,
            "self_s": self_time(s.start, s.end, children),
            "attrs": s.attrs,
            "jobs": [
                {
                    "job": j.id,
                    "start": j.submit,
                    "end": j.complete,
                    "self_s": self_time(j.submit, j.complete, [(st.submit, st.complete) for st in j.stages]),
                    "stages": [
                        {
                            "stage": st.id, "start": st.submit, "end": st.complete, "tasks": st.tasks,
                            "run_s": st.run_s, "cpu_s": st.cpu_s,
                            "shuffle_read_bytes": st.shuffle_read_bytes,
                            "shuffle_write_bytes": st.shuffle_write_bytes,
                            "spill_bytes": st.spill_bytes, "skew": st.skew, "udf_rows": st.udf_rows,
                        }
                        for st in j.stages
                    ],
                }
                for j in jobs
            ],
        })
    return out
