"""Structured Streaming CDC replay: change-log tail → claim-check offload →
salted repartition → idempotent MERGE, resumable from checkpoint.

This is the engine's entry point 3 (SURVEY.md §3): the Spark-native replacement
for the Connect runtime that pushes records through the reference SMTs. Kafka
Connect's offset management becomes a Structured Streaming checkpoint; its
at-least-once delivery is upgraded to exactly-once by the LakeTable epoch guard
(re-delivered micro-batches are skipped by batch id) plus the idempotent keyed
MERGE plus content-addressed blob writes — three independent idempotency
layers (SURVEY.md §7 "what's hard").

Design choice (deterministic > stateful): dedup is **batch-local LWW** inside
``foreachBatch`` and **cross-batch ordering is resolved by the MERGE's
commit-ordering comparison** (WHEN MATCHED AND u.commit_seq > t.commit_seq) —
no applyInPandasWithState, no watermark state to rebuild on resume; a replayed
batch recomputes byte-identical results.

Pipeline per micro-batch — exactly TWO Spark jobs, ONE content shuffle:
  1. pre-agg job: per-bucket lineage metrics (offsets, row/oversized counts,
     bytes) over the raw batch; its bucket set doubles as the merge's
     partition-pruning hint
  2. write job: union(base, batch) → hash-repartition by key bucket (this IS
     the salted spread of hot repos across executors: bucket = hash(repo,
     path)) → sort-based LWW dedup (window lag; no extra exchange, the window
     partitioning matches the repartition) → claim-check offload of exactly
     the winning oversized rows (conditional pandas UDF, linear plan, no
     persist) → bucket-clustered parquet write → atomic manifest commit with
     epoch id + lineage
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import ClaimCheckConfig
from ..operators.claimcheck import PLACEHOLDER, offload
from ..plans.lake import LakeTable


def apply_cdc_batch(
    batch: DataFrame,
    batch_id: int,
    table: LakeTable,
    cfg: ClaimCheckConfig,
    *,
    key_cols: list[str] | None = None,
    order_col: str | None = None,
    tiebreaker: str | None = None,
    uploaded_at_ms: int | None = None,
    merge_strategy: str = "sort",
    placeholder: str | None = PLACEHOLDER,
    extra_metrics: dict | None = None,
    dlq_path: str | None = None,
    dlq_opts: dict | None = None,
) -> dict:
    """One micro-batch through the full pipeline. Also usable for batch replay
    (call it per chunk with increasing batch_id).

    ``key_cols``/``order_col`` are assertions, not overrides: the merge always
    runs with the table's own configuration (the bucket layout is baked into
    the stored data), so a caller passing different values gets a hard error
    instead of silently different semantics. ``tiebreaker`` (e.g. a unique
    event id) makes LWW deterministic when ``order_col`` ties within a key."""
    if key_cols is not None and list(key_cols) != table.key_cols:
        raise ValueError(
            f"key_cols {list(key_cols)} != table key_cols {table.key_cols}; "
            "the bucketed layout is fixed at table creation"
        )
    if order_col is not None and order_col != table.order_col:
        raise ValueError(
            f"order_col {order_col!r} != table order_col {table.order_col!r}"
        )
    order_col = table.order_col
    if str(batch_id) in table.committed_epochs():
        # fast path: skip all work for a replayed batch, not just the commit
        # (any DLQ rows were already written by the first attempt)
        return {"skipped": True, "epoch_id": str(batch_id)}

    dlq_rows = 0
    if dlq_path is not None:
        # errors.tolerance=all: quarantine events violating sink invariants
        # (unroutable keys, broken ordering, corrupt metadata) and continue —
        # the DLQ write overwrites this epoch's dir, so replays never
        # duplicate quarantine rows.
        from ..operators.dlq import classify_events, split_dlq, write_dlq

        tagged = classify_events(
            batch,
            key_cols=table.key_cols,
            order_col=order_col,
            op_col=table.op_col,
            delete_value=table.delete_value,
            **(dlq_opts or {}),
        )
        batch, dead = split_dlq(tagged)
        write_dlq(dead, dlq_path, batch_id)
        dlq_rows = dead.count()

    # Job 1 (the ONLY job besides the write): per-bucket lineage metrics over
    # the raw batch — this single aggregation also yields the touched-bucket
    # set, so merge() skips its own discovery job.
    pre = (
        batch.groupBy(table.bucket_expr(batch).alias("__b"))
        .agg(
            F.count(F.lit(1)).alias("rows_in"),
            F.min(order_col).alias("offset_start"),
            F.max(order_col).alias("offset_end"),
            F.sum(F.octet_length("content")).alias("bytes_in"),
            F.sum(
                (F.octet_length("content") > cfg.threshold_bytes).cast("long")
            ).alias("oversized_rows"),
        )
        .collect()
    )
    if not pre:
        return {
            "skipped": True,
            "epoch_id": str(batch_id),
            "empty": True,
            **({"dlq_rows": dlq_rows} if dlq_path is not None else {}),
        }

    touched = [r["__b"] for r in pre]
    metrics = {
        "rows_in": sum(r.rows_in for r in pre),
        "offset_start": min(r.offset_start for r in pre),
        "offset_end": max(r.offset_end for r in pre),
        "bytes_in": int(sum(r.bytes_in or 0 for r in pre)),
        "oversized_rows": int(sum(r.oversized_rows or 0 for r in pre)),
        "rows_in_per_bucket": {str(r["__b"]): r.rows_in for r in pre},
        **({"dlq_rows": dlq_rows} if dlq_path is not None else {}),
        **(extra_metrics or {}),
    }
    # Job 2 (everything else, ONE content shuffle, no persist): the merge's
    # sort strategy unions base+batch, hash-partitions by key bucket (this is
    # also the salted spread of hot repos: bucket = hash(repo, path)), dedups
    # by sort, then the transform offloads exactly the WINNING oversized rows
    # (conditional UDF — no plan branch) inside the write job itself.
    stats = table.merge(
        batch,
        epoch_id=batch_id,
        metrics=metrics,
        strategy=merge_strategy,
        touched_hint=touched,
        tiebreaker=tiebreaker,
        pre_write_transform=lambda resolved: offload(
            resolved, cfg, uploaded_at_ms=uploaded_at_ms, placeholder=placeholder
        ),
    )
    if not stats.get("skipped"):
        stats["metrics"] = metrics
    return stats


def route_cdc_batch(
    batch: DataFrame,
    batch_id: int | str,
    tables: dict[str, LakeTable],
    cfg: ClaimCheckConfig,
    *,
    table_col: str = "table",
    dlq_path: str | None = None,
    **kw,
) -> dict:
    """Fan one micro-batch of a multi-table change stream out to per-table
    sinks (≙ Debezium server / Connect topic routing: one log carries many
    tables; each table has its own sink, schema evolution, and epoch guard).

    Each table's slice runs the full :func:`apply_cdc_batch` pipeline against
    its own LakeTable — exactly-once is per (table, batch_id) because each
    table owns its epoch log, so adding a table later replays history into it
    without disturbing the others. Rows whose ``table_col`` matches no
    configured sink are quarantined to ``<dlq_path>/unknown_table`` (reason
    ``unknown_table``) when a DLQ is given, otherwise counted and dropped.

    Scale: the batch is materialized once (localCheckpoint) and each sink
    reads its filter from that — N tables cost one batch computation plus N
    cheap filtered scans, not N recomputations of the upstream pipeline.
    """
    batch = batch.localCheckpoint()
    stats: dict = {}
    for name, table in tables.items():
        sub = batch.filter(F.col(table_col) == F.lit(name)).drop(table_col)
        # each table gets its OWN DLQ namespace (like unknown_table below):
        # write_dlq overwrites <dlq>/epoch=<id>, so a shared path would let
        # every later table's write (even an empty one) destroy the previous
        # table's quarantined rows for this epoch
        stats[name] = apply_cdc_batch(
            sub,
            batch_id,
            table,
            cfg,
            dlq_path=None if dlq_path is None else f"{dlq_path}/{name}",
            **kw,
        )
    known = list(tables)
    unrouted = batch.filter(~F.col(table_col).isin(known) | F.col(table_col).isNull())
    if dlq_path is not None:
        from ..operators.dlq import REASON_COL, write_dlq

        dead = unrouted.withColumn(REASON_COL, F.lit("unknown_table"))
        write_dlq(dead, f"{dlq_path}/unknown_table", batch_id)
        stats["__unrouted__"] = {"rows": dead.count(), "quarantined": True}
    else:
        stats["__unrouted__"] = {"rows": unrouted.count(), "quarantined": False}
    return stats


def bootstrap_snapshot(
    snapshot: DataFrame,
    table: LakeTable,
    cfg: ClaimCheckConfig,
    *,
    epoch_id: str = "bootstrap",
    **kw,
) -> dict:
    """Phase 1 of snapshot-then-tail CDC onboarding (≙ Debezium's initial
    consistent snapshot): load an existing source state into the table as one
    bootstrap epoch — claim-check offload and bucketing identical to the
    streaming path — and record the snapshot watermark (max ``order_col`` the
    snapshot covers) in the epoch lineage. Tail the change log afterwards with
    ``replay_stream(..., start_after=stats["snapshot_watermark"])``.

    Overlap is harmless (idempotent LWW merge resolves re-delivered events
    ≤ watermark to the same bytes), so the watermark is an efficiency fence,
    not a correctness one — exactly the Debezium snapshot→streaming handoff
    contract. Re-running an already-committed bootstrap is a no-op that still
    reports the recorded watermark, so a crashed onboarding can resume by
    re-invoking the same code path."""
    stats = apply_cdc_batch(
        snapshot, epoch_id, table, cfg, extra_metrics={"bootstrap": True}, **kw
    )
    if stats.get("skipped"):
        stats["snapshot_watermark"] = snapshot_watermark(table)
    else:
        stats["snapshot_watermark"] = stats["metrics"]["offset_end"]
    return stats


def snapshot_watermark(table: LakeTable) -> int | None:
    """Highest ``order_col`` covered by the newest bootstrap epoch (None if
    the table was never bootstrapped). Reads the committed lineage, so it
    survives driver restarts."""
    m = table._manifest(table.current_version())
    for e in reversed(table._all_epochs(m)):
        met = e.get("metrics") or {}
        if met.get("bootstrap"):
            return met.get("offset_end")
    return None


def replay_stream(
    spark: SparkSession,
    changelog_dir: str,
    table: LakeTable,
    cfg: ClaimCheckConfig,
    checkpoint_dir: str,
    *,
    schema=None,
    key_cols: list[str] | None = None,
    order_col: str | None = None,
    tiebreaker: str | None = None,
    uploaded_at_ms: int | None = None,
    max_files_per_trigger: int | None = None,
    await_termination: bool = True,
    start_after: int | None = None,
    dlq_path: str | None = None,
    dlq_opts: dict | None = None,
):
    """Tail a parquet change-log directory and replay it into ``table``.

    ``availableNow`` trigger: processes everything present, then stops — rerun
    after new files land, or kill mid-run and rerun to resume from checkpoint
    (offsets + epoch guard make the rerun exactly-once).

    ``start_after``: skip events with ``order_col <= start_after`` — the
    snapshot-then-tail handoff (pass ``bootstrap_snapshot``'s watermark). The
    filter is a pushed parquet predicate on the change-log scan, so
    pre-watermark row groups skip on stats; the Kafka-source equivalent is a
    ``startingOffsets`` position.
    """
    if schema is None:
        schema = spark.read.parquet(changelog_dir).schema

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(changelog_dir)
    if start_after is not None:
        stream = stream.filter(F.col(table.order_col) > F.lit(start_after))

    def run_batch(df: DataFrame, bid: int) -> None:
        apply_cdc_batch(
            df,
            bid,
            table,
            cfg,
            key_cols=key_cols,
            order_col=order_col,
            tiebreaker=tiebreaker,
            uploaded_at_ms=uploaded_at_ms,
            dlq_path=dlq_path,
            dlq_opts=dlq_opts,
        )

    q = (
        stream.writeStream.foreachBatch(run_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    if await_termination:
        q.awaitTermination()
    return q


def read_back(spark: SparkSession, table: LakeTable, cfg: ClaimCheckConfig) -> DataFrame:
    """Hydrated view of the final table state (claim-checked content inlined)."""
    from ..operators.claimcheck import hydrate

    return hydrate(table.read(), cfg)
