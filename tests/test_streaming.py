"""Streaming replay tests: end-to-end change-log tail → offload → merge,
resume-from-checkpoint (FIXTURES.md F6 resume_split), redelivered-batch
idempotency, and lineage metrics completeness."""

from __future__ import annotations

import hashlib
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from kafka_connect_claim_check_smt_spark import ClaimCheckConfig
from kafka_connect_claim_check_smt_spark.plans.lake import LakeTable
from kafka_connect_claim_check_smt_spark.sources.changelog import (
    replay_oracle,
    synth_change_events,
    synth_change_events_py,
)
from kafka_connect_claim_check_smt_spark.streaming.replay import (
    apply_cdc_batch,
    read_back,
    replay_stream,
)

N, K, SEED, THR = 3000, 500, 13, 1024
COLS = ["event_id", "commit_seq", "op", "repo", "path", "commit", "lang", "content"]


@pytest.fixture()
def dirs():
    d = tempfile.mkdtemp(prefix="stream-")
    yield {
        "log": f"{d}/changelog",
        "lake": f"{d}/lake",
        "blobs": f"{d}/blobs",
        "ckpt": f"{d}/ckpt",
    }
    shutil.rmtree(d, ignore_errors=True)


def _events(spark):
    return synth_change_events(spark, N, K, seed=SEED, threshold=THR, delete_permille=30).select(*COLS)


def _golden():
    return replay_oracle(synth_change_events_py(N, K, seed=SEED, threshold=THR, delete_permille=30))


def _assert_matches_golden(spark, table, cfg):
    golden = _golden()
    final = read_back(spark, table, cfg)
    got = {(r.repo, r.path): r for r in final.collect()}
    assert set(got) == set(golden)
    for key, g in golden.items():
        assert hashlib.sha256(got[key].content.encode()).hexdigest() == g["content_sha256"]
        assert got[key].commit == g["commit"]


def test_streaming_replay_and_resume(spark, dirs):
    """Replay first half → stop → land second half → resume from checkpoint.
    Final hydrated state must equal the sequential oracle (per-row sha256)."""
    ev = _events(spark)
    ev.filter(F.col("commit_seq") < N // 2).coalesce(2).write.parquet(dirs["log"])

    cfg = ClaimCheckConfig(root_dir=dirs["blobs"], threshold_bytes=THR)
    table = LakeTable(spark, dirs["lake"], ["repo", "path"], "commit_seq", num_buckets=4, op_col="op")

    replay_stream(spark, dirs["log"], table, cfg, dirs["ckpt"], uploaded_at_ms=1)
    mid_epochs = len(table.committed_epochs())
    assert mid_epochs >= 1
    assert table.read().count() > 0

    # second half lands; resume with the SAME checkpoint — only new files run
    ev.filter(F.col("commit_seq") >= N // 2).coalesce(2).write.mode("append").parquet(dirs["log"])
    replay_stream(spark, dirs["log"], table, cfg, dirs["ckpt"], uploaded_at_ms=1)
    assert len(table.committed_epochs()) > mid_epochs

    _assert_matches_golden(spark, table, cfg)

    # rerun with nothing new: no further epochs, state unchanged
    v = table.current_version()
    replay_stream(spark, dirs["log"], table, cfg, dirs["ckpt"], uploaded_at_ms=1)
    assert table.current_version() == v


def test_redelivered_batch_skipped(spark, dirs):
    """Structured Streaming gives at-least-once into foreachBatch; the epoch
    guard upgrades it to exactly-once: redelivering a batch id is a no-op."""
    cfg = ClaimCheckConfig(root_dir=dirs["blobs"], threshold_bytes=THR)
    table = LakeTable(spark, dirs["lake"], ["repo", "path"], "commit_seq", num_buckets=4, op_col="op")
    batch = _events(spark).filter(F.col("commit_seq") < 500)

    s1 = apply_cdc_batch(batch, 0, table, cfg, uploaded_at_ms=1)
    v = table.current_version()
    s2 = apply_cdc_batch(batch, 0, table, cfg, uploaded_at_ms=1)  # redelivery
    assert not s1["skipped"] and s2["skipped"]
    assert table.current_version() == v


def test_batch_replay_equals_stream_replay(spark, dirs):
    """Chunked batch replay through apply_cdc_batch matches the oracle too —
    the pipeline is trigger-agnostic (deterministic batch-local dedup)."""
    cfg = ClaimCheckConfig(root_dir=dirs["blobs"], threshold_bytes=THR)
    table = LakeTable(spark, dirs["lake"], ["repo", "path"], "commit_seq", num_buckets=4, op_col="op")
    ev = _events(spark)
    chunk = N // 3
    for b in range(3):
        apply_cdc_batch(
            ev.filter((F.col("commit_seq") >= b * chunk) & (F.col("commit_seq") < (b + 1) * chunk)),
            b, table, cfg, uploaded_at_ms=1,
        )
    _assert_matches_golden(spark, table, cfg)


def test_lineage_metrics_no_gaps(spark, dirs):
    """Per-epoch offsets must tile the replayed range without gaps/overlaps
    (FIXTURES.md F6 metrics assertion)."""
    cfg = ClaimCheckConfig(root_dir=dirs["blobs"], threshold_bytes=THR)
    table = LakeTable(spark, dirs["lake"], ["repo", "path"], "commit_seq", num_buckets=4, op_col="op")
    ev = _events(spark)
    chunk = N // 4
    for b in range(4):
        apply_cdc_batch(
            ev.filter((F.col("commit_seq") >= b * chunk) & (F.col("commit_seq") < (b + 1) * chunk)),
            b, table, cfg, uploaded_at_ms=1,
        )
    lin = sorted(
        ((r.metrics.offset_start, r.metrics.offset_end, r.metrics.rows_in, r.metrics.oversized_rows)
         for r in table.lineage_df().collect()),
    )
    assert len(lin) == 4
    assert lin[0][0] == 0 and lin[-1][1] == N - 1
    for (s1, e1, *_), (s2, *_rest) in zip(lin, lin[1:]):
        assert s2 == e1 + 1  # contiguous, no gap/overlap
    assert sum(r[2] for r in lin) == N
    assert sum(r[3] for r in lin) > 0  # offload actually exercised


def test_offloaded_content_is_placeholder_in_table(spark, dirs):
    """The stored table holds placeholders + metadata; only read_back inlines."""
    cfg = ClaimCheckConfig(root_dir=dirs["blobs"], threshold_bytes=THR)
    table = LakeTable(spark, dirs["lake"], ["repo", "path"], "commit_seq", num_buckets=4, op_col="op")
    apply_cdc_batch(_events(spark), 0, table, cfg, uploaded_at_ms=1)
    stored = table.read()
    off = stored.filter(F.col("claim_check").isNotNull())
    assert off.count() > 0
    assert off.filter(F.col("content") != "").count() == 0
    assert off.filter(F.col("claim_check.sha256").isNull()).count() == 0


def test_merge_strategy_sort_vs_agg_identical(spark, dirs):
    """merge_strategy='agg' (map-side max_by combine — the hot-key-skew plan,
    see tools/skew_experiment.py and BENCH/BASELINE.md) must replay to
    byte-identical state vs the default single-shuffle 'sort' plan."""
    ev = _events(spark)
    hi = ev.agg(F.max("commit_seq")).collect()[0][0] + 1
    tables = {}
    for strategy in ("sort", "agg"):
        cfg = ClaimCheckConfig(root_dir=f"{dirs['blobs']}-ms-{strategy}", threshold_bytes=THR)
        t = LakeTable(
            spark, f"{dirs['lake']}-ms-{strategy}", ["repo", "path"], "commit_seq",
            num_buckets=4, op_col="op",
        )
        for b in range(3):
            chunk = hi // 3 + 1
            batch = ev.filter(
                (F.col("commit_seq") >= b * chunk) & (F.col("commit_seq") < (b + 1) * chunk)
            )
            apply_cdc_batch(batch, b, t, cfg, uploaded_at_ms=0, merge_strategy=strategy)
        tables[strategy] = {
            (r.repo, r.path): (r.commit_seq, hashlib.sha256(r.content.encode()).hexdigest())
            for r in read_back(spark, t, cfg).collect()
        }
        _assert_matches_golden(spark, t, cfg)
    assert tables["sort"] == tables["agg"]


def test_rate_change_stream_live_micro_batches(spark, dirs):
    """A real non-file streaming source: the rate source drives trigger/offset
    logic (offsets managed by the engine, not file listing). Events must be
    bit-identical to the batch generator at the same ids."""
    import time

    from kafka_connect_claim_check_smt_spark.sources.streams import rate_change_stream

    stream = rate_change_stream(
        spark, rows_per_second=2000, num_partitions=2, n_keys=200, threshold=1024,
        delete_permille=50,
    )
    assert stream.isStreaming
    got = []

    def sink(df, bid):
        got.extend(df.collect())

    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", dirs["ckpt"])
        .trigger(processingTime="300 milliseconds")
        .start()
    )
    deadline = time.time() + 30
    while time.time() < deadline and len(got) < 500:
        time.sleep(0.3)
    q.stop()
    q.awaitTermination(30)
    assert len(got) >= 500, "rate stream produced too few events"
    assert all(r.op in ("upsert", "delete") for r in got)

    # bit-determinism vs the batch generator on the same event ids
    ids = sorted(r.event_id for r in got)[:200]
    by_id = {r.event_id: r for r in got}
    batch = synth_change_events(spark, max(ids) + 1, 200, seed=42, threshold=1024)
    bref = {r.event_id: r for r in batch.filter(F.col("event_id").isin(ids)).collect()}
    for i in ids:
        assert (by_id[i].repo, by_id[i].path, by_id[i].commit, by_id[i].content) == (
            bref[i].repo, bref[i].path, bref[i].commit, bref[i].content
        )


def test_claim_check_from_kafka_headers(spark):
    """Interop: a stream written by the reference's source SMT carries the
    claim-check header; lifting it yields the engine's claim_check column
    (last header with the key wins ≙ headers().lastWithName)."""
    from kafka_connect_claim_check_smt_spark.functions.metadata import HEADER_KEY
    from kafka_connect_claim_check_smt_spark.sources.streams import (
        with_claim_check_from_headers,
    )

    old = '{"reference_url":"file:///b/OLD","original_size_bytes":1,"uploaded_at":1}'
    new = '{"reference_url":"file:///b/NEW","original_size_bytes":2,"uploaded_at":2}'
    rows = [
        (1, [(HEADER_KEY, bytearray(old.encode())), (HEADER_KEY, bytearray(new.encode()))]),
        (2, [("unrelated", bytearray(b"x"))]),
        (3, []),
    ]
    df = spark.createDataFrame(
        rows, "id long, headers array<struct<key: string, value: binary>>"
    )
    out = {r.id: r.claim_check for r in with_claim_check_from_headers(df).collect()}
    assert out[1].reference_url == "file:///b/NEW"  # last wins
    assert out[1].original_size_bytes == 2
    assert out[2] is None and out[3] is None  # no header ⇔ inline


def test_kafka_wire_shape_e2e(spark, tmp_store_dir):
    """Kafka wire contract E2E without the classpath: records in Kafka's
    EXACT wire shape — ``value binary`` (UTF-8 JSON change event) +
    ``headers array<struct<key: string, value: binary>>`` — through the SAME
    parse path the live source uses (parse_kafka_records ← kafka_change_stream)
    and on through hydrate. Covers the reference's full round-trip: its source
    SMT offloads and stamps the header (ClaimCheckHeader.java:18,30-32), its
    sink SMT reads headers().lastWithName and restores the payload.

    Deliberately hostile details: the header JSON has NO sha256 field
    (reference-written headers predate the engine's integrity strengthening →
    hydrate(verify=False) must restore anyway), each offloaded record carries
    a STALE duplicate header before the real one (lastWithName must pick the
    second), and one record has no claim-check header at all (inline
    passthrough)."""
    import json

    from kafka_connect_claim_check_smt_spark import ClaimCheckConfig
    from kafka_connect_claim_check_smt_spark.functions.metadata import HEADER_KEY
    from kafka_connect_claim_check_smt_spark.operators.claimcheck import offload
    from kafka_connect_claim_check_smt_spark.operators.claimcheck import hydrate
    from kafka_connect_claim_check_smt_spark.sources.changelog import synth_change_events
    from kafka_connect_claim_check_smt_spark.sources.streams import parse_kafka_records

    cfg = ClaimCheckConfig(root_dir=tmp_store_dir, threshold_bytes=512)
    ev = synth_change_events(spark, 40, 20, seed=7, threshold=512)
    original = {r.event_id: r.content for r in ev.collect()}

    # the reference's source side: offload oversized payloads, blobs land in
    # the store, claim_check struct on offloaded rows
    off = offload(ev, cfg, uploaded_at_ms=123_456).collect()
    assert any(r.claim_check is not None for r in off)
    assert any(r.claim_check is None for r in off)

    # re-serialize to Kafka's wire shape as the reference's connector would:
    # value = UTF-8 JSON of the (placeholder-substituted) record, header JSON
    # WITHOUT sha256, preceded by a stale duplicate to prove lastWithName
    stale = json.dumps(
        {"reference_url": "file:///nowhere/stale", "original_size_bytes": 1, "uploaded_at": 1}
    ).encode()
    rows = []
    for r in off:
        value = json.dumps(
            {
                "event_id": r.event_id, "commit_seq": r.commit_seq, "op": r.op,
                "ts": r.ts.isoformat(sep=" "), "repo": r.repo, "path": r.path,
                "commit": r.commit, "lang": r.lang, "content": r.content,
            }
        ).encode()
        headers = [("trace-id", b"abc")]
        if r.claim_check is not None:
            real = json.dumps(
                {
                    "reference_url": r.claim_check.reference_url,
                    "original_size_bytes": r.claim_check.original_size_bytes,
                    "uploaded_at": r.claim_check.uploaded_at,
                }
            ).encode()
            headers += [(HEADER_KEY, bytearray(stale)), (HEADER_KEY, bytearray(real))]
        rows.append((bytearray(value), headers))
    wire = spark.createDataFrame(
        rows, "value binary, headers array<struct<key: string, value: binary>>"
    )

    parsed = parse_kafka_records(wire)
    got = hydrate(parsed, cfg, verify=False).collect()
    assert len(got) == len(original)
    for r in got:
        assert r.content == original[r.event_id], f"event {r.event_id} not restored"


def test_kafka_source_gated(spark):
    """No Kafka jar in this sandbox: the adapter must fail fast with a
    configuration error, not a DATA_SOURCE_NOT_FOUND at stream start."""
    from kafka_connect_claim_check_smt_spark.errors import ClaimCheckError
    from kafka_connect_claim_check_smt_spark.sources.streams import (
        kafka_change_stream,
        kafka_source_available,
    )

    if kafka_source_available(spark):  # pragma: no cover
        pytest.skip("kafka jar unexpectedly present")
    with pytest.raises(ClaimCheckError, match="spark-sql-kafka"):
        kafka_change_stream(spark, "localhost:9092", "t")


def test_lww_changelog_stream_stateful(spark, dirs):
    """applyInPandasWithState LWW compaction: winners-only changelog across
    micro-batches. Batch 2's stale update (lower commit_seq than the stored
    winner) must be SUPPRESSED by the state store; fresh updates emit; the
    LWW-fold of all emissions equals the batch LWW oracle."""
    import os

    from kafka_connect_claim_check_smt_spark.operators.dedup import lww_dedup
    from kafka_connect_claim_check_smt_spark.streaming.stateful import (
        lww_changelog_stream,
    )

    schema = "repo string, path string, commit_seq long, content string"
    b1 = spark.createDataFrame(
        [("r", "a", 10, "a-v10"), ("r", "b", 20, "b-v20"), ("r", "c", 5, "c-v5")],
        schema,
    )
    b2 = spark.createDataFrame(
        [
            ("r", "a", 3, "a-STALE"),      # loses to stored 10 → no emission
            ("r", "b", 21, "b-v21"),       # beats 20 → emits
            ("r", "b", 19, "b-lateloser"), # batch-local loser
            ("r", "d", 1, "d-v1"),         # new key → emits
        ],
        schema,
    )
    log = dirs["log"]
    b1.coalesce(1).write.mode("overwrite").parquet(log)
    # second file arrives as its own, LATER micro-batch: FileStreamSource
    # orders by modification time, which same-second writes can tie — force
    # strictly increasing mtimes or batch order is nondeterministic
    import time as _time

    _time.sleep(1.1)
    b2.coalesce(1).write.mode("append").parquet(log)

    stream = (
        spark.readStream.schema(spark.read.parquet(log).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(log)
    )
    out = lww_changelog_stream(stream, ["repo", "path"], "commit_seq")
    q = (
        out.writeStream.format("memory")
        .queryName("lww_changelog")
        .outputMode("update")
        .option("checkpointLocation", dirs["ckpt"])
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    emitted = spark.table("lww_changelog").collect()
    # per-key at most one emission per batch; stale-only key 'a' emits ONCE
    per_key = {}
    for r in emitted:
        per_key.setdefault(r.path, []).append((r.commit_seq, r.content))
    assert sorted(per_key["a"]) == [(10, "a-v10")]  # the stale 3 suppressed
    assert sorted(per_key["b"]) == [(20, "b-v20"), (21, "b-v21")]
    assert sorted(per_key["d"]) == [(1, "d-v1")]
    # LWW-fold of emissions == batch LWW over the full log
    fold = {}
    for r in emitted:
        k = (r.repo, r.path)
        if k not in fold or r.commit_seq > fold[k][0]:
            fold[k] = (r.commit_seq, r.content)
    want = {
        (r.repo, r.path): (r.commit_seq, r.content)
        for r in lww_dedup(b1.unionByName(b2), ["repo", "path"], "commit_seq").collect()
    }
    assert fold == want


def test_windowed_metrics_watermark_drops_late(spark, dirs):
    """Watermarked tumbling windows: an event arriving after its window's
    state was evicted is dropped; on-time updates keep accumulating.

    Empirically pinned Spark semantics (traced on 4.1): eviction of a
    window's state happens at the END of the first batch where the watermark
    exceeds the window end, so a late row in that same batch still lands —
    rows are reliably dropped from the SECOND batch on. The drop target here
    therefore arrives two batches after the watermark advanced."""
    import time as _time

    from kafka_connect_claim_check_smt_spark.streaming.stateful import (
        windowed_ingest_metrics,
    )

    def _batch(rows):
        return spark.createDataFrame(rows, "ts string, content string").select(
            F.col("ts").cast("timestamp").alias("ts"), "content"
        )

    log = dirs["log"]
    # batch 0: advances event time to 02:00 → watermark 01:55 after commit
    _batch(
        [("2026-01-01 00:01:00", "x" * 10), ("2026-01-01 02:00:00", "y" * 5000)]
    ).coalesce(1).write.mode("overwrite").parquet(log)
    # FileStreamSource orders by mtime; same-second writes tie → force order
    _time.sleep(1.1)
    # batch 1: fresh event; end of this batch evicts the 00:00 window state
    _batch([("2026-01-01 02:01:00", "w" * 10)]).coalesce(1).write.mode(
        "append"
    ).parquet(log)
    _time.sleep(1.1)
    # batch 2: an event for the evicted 00:00 window (must be DROPPED) + fresh
    _batch(
        [("2026-01-01 00:02:00", "DROPPED"), ("2026-01-01 02:03:00", "z" * 10)]
    ).coalesce(1).write.mode("append").parquet(log)

    stream = (
        spark.readStream.schema(spark.read.parquet(log).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(log)
    )
    out = windowed_ingest_metrics(
        stream, "ts", window_duration="10 minutes", watermark="5 minutes",
        threshold_bytes=1024,
    )
    q = (
        out.writeStream.format("memory")
        .queryName("win_metrics")
        .outputMode("update")
        .option("checkpointLocation", dirs["ckpt"])
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    rows = spark.table("win_metrics").collect()
    # take the LAST update per window
    final = {}
    for r in rows:
        final[str(r.window_start)] = (r.rows_in, r.oversized_rows)
    # the 00:00 window kept ONLY its on-time event — the batch-2 arrival for
    # the evicted window never updated it
    assert final["2026-01-01 00:00:00"] == (1, 0)
    # the 02:00 window accumulated all three on-time events (one oversized)
    assert final["2026-01-01 02:00:00"] == (3, 1)


def test_bootstrap_snapshot_then_tail(spark, dirs):
    """Snapshot-then-tail onboarding: LWW state over the first half loaded as
    the bootstrap epoch, change-log tail started after its watermark — final
    state must equal the full sequential replay (per-row sha256)."""
    from kafka_connect_claim_check_smt_spark.operators.dedup import lww_dedup
    from kafka_connect_claim_check_smt_spark.streaming.replay import (
        bootstrap_snapshot,
        snapshot_watermark,
    )

    ev = _events(spark)
    mid = N // 2
    # the "existing source table": live LWW state of everything before mid
    snap = lww_dedup(
        ev.filter(F.col("commit_seq") < mid), ["repo", "path"], "commit_seq"
    ).filter(F.col("op") != "delete")
    ev.filter(F.col("commit_seq") >= mid).coalesce(2).write.parquet(dirs["log"])

    cfg = ClaimCheckConfig(root_dir=dirs["blobs"], threshold_bytes=THR)
    table = LakeTable(
        spark, dirs["lake"], ["repo", "path"], "commit_seq", num_buckets=4, op_col="op"
    )
    stats = bootstrap_snapshot(snap, table, cfg, uploaded_at_ms=1)
    wm = stats["snapshot_watermark"]
    assert wm is not None and wm < mid
    assert snapshot_watermark(table) == wm  # recoverable from lineage after restart

    # re-running a committed bootstrap is a no-op that still reports the fence
    again = bootstrap_snapshot(snap, table, cfg, uploaded_at_ms=1)
    assert again["skipped"] and again["snapshot_watermark"] == wm

    replay_stream(
        spark, dirs["log"], table, cfg, dirs["ckpt"], uploaded_at_ms=1, start_after=wm
    )
    _assert_matches_golden(spark, table, cfg)

    # the tail really started after the fence: no tail epoch reaches below it
    tail_epochs = [
        e
        for e in table._all_epochs(table._manifest(table.current_version()))
        if not (e.get("metrics") or {}).get("bootstrap")
    ]
    assert tail_epochs and all(e["metrics"]["offset_start"] > wm for e in tail_epochs)


def test_dlq_quarantine_and_idempotent_replay(spark, dirs):
    """errors.tolerance=all: malformed events are quarantined with a reason,
    valid rows merge, lineage records dlq_rows, and a replayed batch neither
    re-merges nor duplicates quarantine rows."""
    from kafka_connect_claim_check_smt_spark.operators.dlq import read_dlq
    from kafka_connect_claim_check_smt_spark.streaming.replay import apply_cdc_batch

    schema = "repo string, path string, commit_seq long, op string, content string"
    batch = spark.createDataFrame(
        [
            ("r1", "a", 1, "insert", "good"),
            (None, "b", 2, "insert", "no key"),        # null_key
            ("r1", "c", -3, "insert", "neg seq"),      # bad_order
            ("r1", "d", 4, "insert", None),            # empty_payload
            ("r1", "e", 5, "delete", None),            # delete: null content OK
            ("r1", "f", 6, "insert", "x" * 500),       # record_too_large
        ],
        schema,
    )
    cfg = ClaimCheckConfig(root_dir=dirs["blobs"], threshold_bytes=10_000)
    table = LakeTable(
        spark, dirs["lake"], ["repo", "path"], "commit_seq", num_buckets=4, op_col="op"
    )
    dlq = f"{dirs['lake']}-dlq"
    stats = apply_cdc_batch(
        batch, 0, table, cfg, uploaded_at_ms=1,
        dlq_path=dlq, dlq_opts={"max_record_bytes": 400},
    )
    assert stats["metrics"]["dlq_rows"] == 4
    live = {(r.repo, r.path) for r in table.read().collect()}
    assert live == {("r1", "a")}  # the delete tombstoned nothing but is valid
    dead = {r.path: r._dlq_reason for r in read_dlq(spark, dlq).collect()}
    assert dead == {
        "b": "null_key", "c": "bad_order", "d": "empty_payload",
        "f": "record_too_large",
    }
    # replay: epoch guard skips everything, DLQ rows not duplicated
    again = apply_cdc_batch(
        batch, 0, table, cfg, uploaded_at_ms=1,
        dlq_path=dlq, dlq_opts={"max_record_bytes": 400},
    )
    assert again["skipped"]
    assert read_dlq(spark, dlq).count() == 4


def test_dlq_bad_metadata_and_priority(spark):
    """Corrupt claim-check header routes to bad_metadata; first-match
    priority: a row that is both unkeyed and oversized reads null_key."""
    from kafka_connect_claim_check_smt_spark.operators.dlq import (
        REASON_COL,
        classify_events,
    )

    df = spark.createDataFrame(
        [
            ("r1", "a", 1, '{"ok": true}', "fine"),
            ("r1", "b", 2, "{not json", "fine"),
            (None, "c", 3, None, "y" * 100),
        ],
        "repo string, path string, commit_seq long, cc string, content string",
    )
    out = {
        r.path: r[REASON_COL]
        for r in classify_events(
            df, key_cols=["repo", "path"], order_col="commit_seq",
            metadata_col="cc", max_record_bytes=50,
        ).collect()
    }
    assert out == {"a": None, "b": "bad_metadata", "c": "null_key"}


def test_route_cdc_batch_multi_table(spark, dirs):
    """Debezium-style routing: per-table sinks, per-table epoch guards,
    unknown tables quarantined; replay skips everything."""
    from kafka_connect_claim_check_smt_spark.streaming.replay import route_cdc_batch

    schema = "tbl string, repo string, path string, commit_seq long, op string, content string"
    batch = spark.createDataFrame(
        [
            ("users", "r1", "a", 1, "insert", "u1"),
            ("users", "r1", "a", 2, "update", "u2"),
            ("orders", "r1", "a", 1, "insert", "o1"),
            ("ghost", "r9", "z", 1, "insert", "?!"),   # unconfigured table
            (None, "r9", "y", 1, "insert", "?!"),      # null route
        ],
        schema,
    )
    cfg = ClaimCheckConfig(root_dir=dirs["blobs"], threshold_bytes=10_000)
    tables = {
        "users": LakeTable(spark, f"{dirs['lake']}/users", ["repo", "path"], "commit_seq", num_buckets=2, op_col="op"),
        "orders": LakeTable(spark, f"{dirs['lake']}/orders", ["repo", "path"], "commit_seq", num_buckets=2, op_col="op"),
    }
    dlq = f"{dirs['lake']}-dlq"
    stats = route_cdc_batch(batch, 0, tables, cfg, table_col="tbl", dlq_path=dlq, uploaded_at_ms=1)
    assert stats["__unrouted__"] == {"rows": 2, "quarantined": True}
    assert tables["users"].read().collect()[0].content == "u2"  # LWW applied per table
    assert tables["orders"].read().collect()[0].content == "o1"
    from kafka_connect_claim_check_smt_spark.operators.dlq import read_dlq

    dead = read_dlq(spark, f"{dlq}/unknown_table").collect()
    assert len(dead) == 2 and all(r._dlq_reason == "unknown_table" for r in dead)
    # same (repo, path) key lives independently in both tables
    assert tables["users"].read().count() == 1 and tables["orders"].read().count() == 1
    again = route_cdc_batch(batch, 0, tables, cfg, table_col="tbl", dlq_path=dlq, uploaded_at_ms=1)
    assert again["users"]["skipped"] and again["orders"]["skipped"]


def test_route_cdc_batch_per_table_dlq_isolation(spark, dirs):
    """Each routed table quarantines into its OWN DLQ namespace: before the
    fix every table's epoch write (overwrite mode) destroyed the previous
    table's quarantined rows for the same epoch — here BOTH tables' dead
    rows must survive the same batch, and read_dlq over the root must see
    every quarantined row across namespaces (tables + unknown_table)."""
    from kafka_connect_claim_check_smt_spark.operators.dlq import read_dlq
    from kafka_connect_claim_check_smt_spark.streaming.replay import route_cdc_batch

    schema = "tbl string, repo string, path string, commit_seq long, op string, content string"
    batch = spark.createDataFrame(
        [
            ("users", "r1", "a", 1, "insert", "u1"),
            ("users", "r1", None, 2, "insert", "bad-u"),   # null_key → users DLQ
            ("orders", "r1", "b", 1, "insert", "o1"),
            ("orders", "r1", "c", -5, "insert", "bad-o"),  # bad_order → orders DLQ
            ("ghost", "r9", "z", 1, "insert", "?!"),       # unknown_table
        ],
        schema,
    )
    cfg = ClaimCheckConfig(root_dir=dirs["blobs"], threshold_bytes=10_000)
    tables = {
        "users": LakeTable(spark, f"{dirs['lake']}/u2", ["repo", "path"], "commit_seq", num_buckets=2, op_col="op"),
        "orders": LakeTable(spark, f"{dirs['lake']}/o2", ["repo", "path"], "commit_seq", num_buckets=2, op_col="op"),
    }
    dlq = f"{dirs['lake']}-dlq-iso"
    stats = route_cdc_batch(batch, 7, tables, cfg, table_col="tbl", dlq_path=dlq, uploaded_at_ms=1)
    assert stats["users"]["metrics"]["dlq_rows"] == 1
    assert stats["orders"]["metrics"]["dlq_rows"] == 1
    # users' quarantined row survived orders' DLQ write for the same epoch
    assert {r.content for r in read_dlq(spark, f"{dlq}/users").collect()} == {"bad-u"}
    assert {r.content for r in read_dlq(spark, f"{dlq}/orders").collect()} == {"bad-o"}
    # the root-level read walks every namespace in one scan
    everything = read_dlq(spark, dlq).collect()
    assert {r.content for r in everything} == {"bad-u", "bad-o", "?!"}
    reasons = {r.content: r._dlq_reason for r in everything}
    assert reasons["?!"] == "unknown_table"


def test_session_activity_stream(spark, dirs):
    """Streaming session_window: events within the gap merge into one
    session per key; a later burst opens a second session; append mode
    emits each session exactly once after the watermark passes it."""
    import time as _time

    from kafka_connect_claim_check_smt_spark.streaming.stateful import (
        session_activity_stream,
    )

    def _batch(rows):
        return spark.createDataFrame(rows, "ts string, user string").select(
            F.col("ts").cast("timestamp").alias("ts"), "user"
        )

    log = dirs["log"]
    # session 1 for u1: three events inside the 10-min gap; u2 one event
    _batch(
        [
            ("2026-01-01 00:00:00", "u1"),
            ("2026-01-01 00:05:00", "u1"),
            ("2026-01-01 00:09:00", "u1"),
            ("2026-01-01 00:00:00", "u2"),
        ]
    ).coalesce(1).write.mode("overwrite").parquet(log)
    _time.sleep(1.1)
    # burst 2 h later: closes the earlier sessions (watermark passes their
    # end) and opens a second u1 session
    _batch(
        [("2026-01-01 02:00:00", "u1"), ("2026-01-01 02:04:00", "u1")]
    ).coalesce(1).write.mode("append").parquet(log)
    _time.sleep(1.1)
    # a third batch far ahead finalizes the 02:00 session too
    _batch([("2026-01-01 05:00:00", "u2")]).coalesce(1).write.mode(
        "append"
    ).parquet(log)

    stream = (
        spark.readStream.schema(spark.read.parquet(log).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(log)
    )
    out = session_activity_stream(
        stream, key="user", ts_col="ts", gap="10 minutes", watermark="5 minutes"
    )
    q = (
        out.writeStream.format("memory")
        .queryName("sessions_stream")
        .outputMode("append")
        .option("checkpointLocation", dirs["ckpt"])
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    rows = spark.table("sessions_stream").collect()
    got = {(r.user, str(r.session_start)): (str(r.session_end), r.n_events)
           for r in rows}
    # u1 session 1: 00:00 → 00:09 + 10-min gap = 00:19 end, 3 events
    assert got[("u1", "2026-01-01 00:00:00")] == ("2026-01-01 00:19:00", 3)
    # u2 single-event session: end = start + gap
    assert got[("u2", "2026-01-01 00:00:00")] == ("2026-01-01 00:10:00", 1)
    # u1 session 2 finalized by the third batch
    assert got[("u1", "2026-01-01 02:00:00")] == ("2026-01-01 02:14:00", 2)


def test_streaming_bad_batch_remediation_rollback(spark, dirs):
    """The full ops story for a poisoned micro-batch under Structured
    Streaming: replay the good prefix, replay a poisoned tail, ROLLBACK the
    table to the good version, land a corrected file, and resume with the
    SAME checkpoint — the stream processes only the new file (offsets are
    untouched by the rollback), and the final hydrated state equals LWW over
    good ∪ corrected computed by an independent Python fold (deletes
    included, per-row sha256)."""
    ev = _events(spark)
    good = ev.filter(F.col("commit_seq") < N // 2)
    bad = ev.filter(F.col("commit_seq") >= N // 2)
    corrected = bad.withColumn(
        "content", F.concat(F.col("content"), F.lit("-fixed"))
    ).withColumn("commit", F.concat(F.col("commit"), F.lit("f")))

    cfg = ClaimCheckConfig(root_dir=dirs["blobs"], threshold_bytes=THR)
    table = LakeTable(
        spark, dirs["lake"], ["repo", "path"], "commit_seq", num_buckets=4, op_col="op"
    )
    good.coalesce(2).write.parquet(dirs["log"])
    replay_stream(spark, dirs["log"], table, cfg, dirs["ckpt"], uploaded_at_ms=1)
    v_good = table.current_version()

    bad.coalesce(1).write.mode("append").parquet(dirs["log"])
    replay_stream(spark, dirs["log"], table, cfg, dirs["ckpt"], uploaded_at_ms=1)
    assert table.current_version() > v_good

    table.rollback(v_good)
    corrected.coalesce(1).write.mode("append").parquet(dirs["log"])
    epochs_before = len(table.committed_epochs())
    replay_stream(spark, dirs["log"], table, cfg, dirs["ckpt"], uploaded_at_ms=1)
    # only the corrected file ran — already-checkpointed offsets stay consumed
    assert len(table.committed_epochs()) > epochs_before

    # independent expected state: LWW fold over good ∪ corrected rows
    expected = {}
    for r in good.collect() + corrected.collect():
        k = (r.repo, r.path)
        if k not in expected or expected[k].commit_seq < r.commit_seq:
            expected[k] = r
    expected = {
        k: r for k, r in expected.items() if r.op != "delete"
    }
    got = {(r.repo, r.path): r for r in read_back(spark, table, cfg).collect()}
    assert set(got) == set(expected)
    for k, want in expected.items():
        assert got[k].commit == want.commit
        assert (
            hashlib.sha256(got[k].content.encode()).hexdigest()
            == hashlib.sha256(want.content.encode()).hexdigest()
        )
    # and no poisoned content survived anywhere
    assert all(g.commit.endswith("f") or g.commit_seq < N // 2 for g in got.values())
