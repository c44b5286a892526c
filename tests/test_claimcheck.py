"""Claim-check offload/hydrate operator tests.

≙ reference ClaimCheckSourceTransformTest.java / ClaimCheckSinkTransformTest.java
(unit behavior) + NormalFlowFileSystemIntegrationTest.java:44-95 (E2E round-trip:
offload → verify blob → hydrate → restored value equals original, metadata gone).
"""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from kafka_connect_claim_check_smt_spark import (
    CLAIM_CHECK_COL,
    PLACEHOLDER,
    ClaimCheckConfig,
    RetryConfig,
    hydrate,
    offload,
)
from kafka_connect_claim_check_smt_spark.errors import DataIntegrityError
from kafka_connect_claim_check_smt_spark.storage import FileSystemStore, FlakyStore, RetryingStore


@pytest.fixture()
def cfg(tmp_store_dir):
    return ClaimCheckConfig(root_dir=tmp_store_dir, threshold_bytes=64)


def make_df(spark):
    rows = [
        ("r1", "a.py", "small " * 2),        # 12 B — inline
        ("r1", "b.py", "exactly-at-threshold".ljust(64, "x")),  # 64 B == thr — inline
        ("r2", "c.py", "BIG " * 100),        # 400 B — offload
        ("r2", "d.py", "HUGE " * 1000),      # 5 kB — offload
        ("r3", "e.py", None),                # null — passthrough
    ]
    return spark.createDataFrame(rows, "repo string, path string, content string")


def test_offload_semantics(spark, cfg):
    out = offload(make_df(spark), cfg, uploaded_at_ms=1234)
    # one linear plan: the input is evaluated once, no filter/union branch
    assert "Union" not in out._jdf.queryExecution().executedPlan().toString()
    rows = {r.path: r for r in out.collect()}
    assert len(rows) == 5
    # inline rows: untouched content, NULL metadata
    assert rows["a.py"].claim_check is None and rows["a.py"].content.startswith("small")
    # boundary: size == threshold stays inline (strictly-greater semantics)
    assert rows["b.py"].claim_check is None
    # null value passthrough
    assert rows["e.py"].content is None and rows["e.py"].claim_check is None
    # offloaded rows: placeholder content + full metadata
    for p, original in (("c.py", "BIG " * 100), ("d.py", "HUGE " * 1000)):
        r = rows[p]
        assert r.content == PLACEHOLDER
        cc = r.claim_check
        assert cc.original_size_bytes == len(original.encode())
        assert cc.sha256 == hashlib.sha256(original.encode()).hexdigest()
        assert cc.uploaded_at == 1234
        assert cc.reference_url.startswith("file://") and cc.sha256 in cc.reference_url


def test_blob_written_and_content_addressed(spark, cfg, tmp_store_dir):
    offload(make_df(spark), cfg, uploaded_at_ms=0).collect()
    st = FileSystemStore(tmp_store_dir)
    key = hashlib.sha256(("BIG " * 100).encode()).hexdigest()
    assert st.get(st.url_for(key)) == ("BIG " * 100).encode()


def test_roundtrip_sha_equality(spark, cfg):
    """The flagship invariant: per-row content sha256 equality after
    offload → hydrate (BASELINE.json; ≙ NormalFlowFileSystemIntegrationTest)."""
    df = make_df(spark).filter(F.col("content").isNotNull())
    restored = hydrate(offload(df, cfg), cfg)
    assert CLAIM_CHECK_COL not in restored.columns  # header removed
    orig = {(r.repo, r.path): r.content for r in df.collect()}
    back = {(r.repo, r.path): r.content for r in restored.collect()}
    assert back == orig


def test_hydrate_passthrough_without_metadata(spark, cfg):
    """No claim_check column value ⇒ no storage access
    (≙ verify(storage, never()).retrieve, ClaimCheckSinkTransformTest.java:69-84)."""
    df = offload(make_df(spark).filter(F.octet_length("content") <= 64), cfg)

    def exploding_store():
        raise AssertionError("storage must not be touched for inline rows")

    out = hydrate(df, cfg, store_factory=exploding_store)
    assert out.count() == 2
    # collected, the inline rows cross the get UDF as NULL structs: the
    # store is still never built
    assert sorted(r.path for r in out.collect()) == ["a.py", "b.py"]


def _materialize(spark, df):
    """Freeze a lazy plan into literal rows (so corrupting blobs afterwards
    doesn't race the offload UDF re-running)."""
    return spark.createDataFrame(df.collect(), df.schema)


def test_hydrate_integrity_sha_mismatch(spark, cfg, tmp_store_dir):
    df = _materialize(spark, offload(make_df(spark).filter(F.col("path") == "c.py"), cfg))
    # corrupt the blob in place
    st = FileSystemStore(tmp_store_dir)
    key = hashlib.sha256(("BIG " * 100).encode()).hexdigest()
    p = st._path_for(key)
    p.write_bytes(b"x" * len(("BIG " * 100).encode()))  # same size, wrong bytes
    with pytest.raises(Exception) as ei:
        hydrate(df, cfg).collect()
    assert "sha256 mismatch" in str(ei.value)


def test_hydrate_integrity_size_mismatch(spark, cfg, tmp_store_dir):
    df = _materialize(spark, offload(make_df(spark).filter(F.col("path") == "c.py"), cfg))
    st = FileSystemStore(tmp_store_dir)
    key = hashlib.sha256(("BIG " * 100).encode()).hexdigest()
    st._path_for(key).write_bytes(b"short")
    with pytest.raises(Exception) as ei:
        hydrate(df, cfg).collect()
    assert "size mismatch" in str(ei.value)


def test_hydrate_verify_off_skips_checks(spark, cfg, tmp_store_dir):
    df = _materialize(spark, offload(make_df(spark).filter(F.col("path") == "c.py"), cfg))
    st = FileSystemStore(tmp_store_dir)
    key = hashlib.sha256(("BIG " * 100).encode()).hexdigest()
    st._path_for(key).write_bytes(b"replaced")
    out = hydrate(df, cfg, verify=False).collect()
    assert out[0].content == "replaced"


def test_offload_retries_through_flaky_store(spark, cfg, tmp_store_dir):
    """≙ RetryS3IntegrationTest.java:59-119 — transient faults are retried and
    the round-trip still succeeds."""
    retry = RetryConfig(max_retries=3, initial_backoff_ms=1, max_backoff_ms=2)

    def flaky_factory():
        return RetryingStore(FlakyStore(FileSystemStore(tmp_store_dir), fail_times=2), retry)

    df = make_df(spark).filter(F.col("path") == "d.py")
    out = offload(df, cfg, store_factory=flaky_factory)
    restored = hydrate(out, cfg, store_factory=flaky_factory)
    assert restored.collect()[0].content == "HUGE " * 1000


def test_offload_fails_after_exhaustion(spark, cfg, tmp_store_dir):
    retry = RetryConfig(max_retries=1, initial_backoff_ms=1, max_backoff_ms=1)

    def dead_factory():
        return RetryingStore(FlakyStore(FileSystemStore(tmp_store_dir), fail_times=99), retry)

    df = make_df(spark).filter(F.col("path") == "d.py")
    with pytest.raises(Exception) as ei:
        offload(df, cfg, store_factory=dead_factory).collect()
    assert "failed after" in str(ei.value)


def test_offload_keeps_existing_claim_check(spark, cfg):
    """Re-offloading a frame that already holds claim_check keeps every
    reference: offloaded rows carry the placeholder, which is under the
    threshold, yet their claim_check must survive and hydrate to the
    original payload."""
    df = make_df(spark)
    first = offload(df, cfg, uploaded_at_ms=7)
    frozen = spark.createDataFrame(first.collect(), first.schema)
    again = offload(frozen, cfg, uploaded_at_ms=99)
    rows = {r.path: r for r in again.collect()}
    assert rows["c.py"].content == PLACEHOLDER
    assert rows["c.py"].claim_check.uploaded_at == 7  # untouched, not re-offloaded
    assert rows["a.py"].claim_check is None and rows["e.py"].claim_check is None
    restored = {r.path: r.content for r in hydrate(again, cfg).collect()}
    assert restored == {r.path: r.content for r in df.collect()}


def test_serialized_record_size_matches_reference_measurement(spark):
    """Reference interop: ClaimCheckSourceTransform.java:80-84 serializes the
    WHOLE record and thresholds the serialized bytes. serialized_record_size
    must equal the JSON byte length of the full row, so a multi-column
    schema'd record thresholds identically to the reference."""
    import json as _json

    from kafka_connect_claim_check_smt_spark.operators.claimcheck import (
        serialized_record_size,
    )

    df = spark.createDataFrame(
        [("r", "a.py", 7, "x" * 100), ("r", "b.py", 8, "y"), ("r", "n.py", 9, None)],
        "repo string, path string, commit_seq long, content string",
    )
    rows = df.withColumn("rec_sz", serialized_record_size(*df.columns)).collect()
    for r in rows:
        expected = len(
            _json.dumps(
                {"repo": r.repo, "path": r.path, "commit_seq": r.commit_seq,
                 "content": r.content},
                separators=(",", ":"),
            ).encode()
        )
        assert r.rec_sz == expected
    # usable as an offload predicate: big row crosses, small row doesn't
    szs = {r.path: r.rec_sz for r in rows}
    assert szs["a.py"] > 120 > szs["b.py"]


def test_offload_schemaless_null_placeholder(spark, cfg):
    """placeholder=None (schemaless, ≙ RecordValueDefaults.forSchemaless):
    offloaded rows carry NULL content and still hydrate."""
    out = offload(make_df(spark), cfg, uploaded_at_ms=7, placeholder=None)
    rows = {r.path: r for r in out.collect()}
    assert rows["c.py"].content is None and rows["c.py"].claim_check is not None
    assert rows["a.py"].content is not None  # inline untouched
    restored = {r.path: r.content for r in hydrate(out, cfg).collect()}
    assert restored["c.py"] == "BIG " * 100


def _logging_store_factory(root, log_path, latency_s=0.0):
    """Store factory whose store appends one line per op to ``log_path`` —
    visible across the python-worker process boundary (in-object counters
    are not)."""

    # defined inside a function so cloudpickle ships the class by value to
    # the python worker (a test-module-level class is pickled by reference
    # and the worker can't import tests/)
    class LoggingStore:
        def __init__(self, inner):
            self._inner = inner

        def _record(self, op):
            import os
            import time

            if latency_s:
                time.sleep(latency_s)
            with open(log_path, "a") as f:
                f.write(op + "\n")
                os.fsync(f.fileno())

        def put(self, key, data):
            self._record("put")
            return self._inner.put(key, data)

        def get(self, url):
            self._record("get")
            return self._inner.get(url)

    return lambda: LoggingStore(FileSystemStore(root))


def _ops(log_path):
    import os

    return open(log_path).read().split() if os.path.exists(log_path) else []


def test_batch_io_deduped_and_batched(spark, cfg, tmp_store_dir, tmp_path):
    """The round-2 I/O shape (≙ Toxiproxy latency scenario,
    RetryS3IntegrationTest.java:59-119): within an Arrow batch, repeated
    payloads cost ONE put and repeated references ONE get — against a
    10-50 ms/op object store this is the difference between serial per-row
    I/O and a constant number of pooled round-trips per distinct blob."""
    log = str(tmp_path / "ops.log")
    factory = _logging_store_factory(tmp_store_dir, log, latency_s=0.005)

    rows = [("r", f"p{i}.py", "DUPLICATE " * 50) for i in range(6)]
    rows += [("r", "q.py", "DISTINCT " * 50)]
    df = spark.createDataFrame(rows, "repo string, path string, content string").repartition(1)

    restored = _materialize(
        spark, hydrate(offload(df, cfg, store_factory=factory), cfg, store_factory=factory)
    )
    assert {r.content for r in restored.collect()} == {"DUPLICATE " * 50, "DISTINCT " * 50}

    ops = _ops(log)
    # 7 rows but 2 distinct payloads/URLs in the single Arrow batch:
    # exactly one put and one get per distinct blob
    assert ops.count("put") == 2
    assert ops.count("get") == 2


def _offloaded_parquet(spark, cfg, path):
    """Ten offloaded rows with distinct blobs and five inline rows, frozen
    into a parquet file (so the hydrate plan under test scans a table)."""
    rows = [("r", f"p{i}.py", f"BLOB{i} " * 30) for i in range(10)]
    rows += [("r", f"s{i}.py", "tiny") for i in range(5)]
    df = spark.createDataFrame(rows, "repo string, path string, content string")
    offload(df, cfg, uploaded_at_ms=0).write.parquet(path)
    return spark.read.parquet(path), {p: c for _, p, c in rows}


def test_hydrate_is_one_scan_without_union(spark, cfg, tmp_path):
    """hydrate is one linear plan: the table is scanned once and inline rows
    ride through the same projection as offloaded ones."""
    df, orig = _offloaded_parquet(spark, cfg, str(tmp_path / "t"))
    out = hydrate(df, cfg)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Union" not in plan
    assert plan.count("FileScan") == 1
    assert plan.count("ArrowEvalPython") == 1
    assert {r.path: r.content for r in out.collect()} == orig


def test_filter_on_hydrated_content_fetches_each_blob_once(spark, cfg, tmp_store_dir, tmp_path):
    """A filter on hydrated ``content`` must not be pushed below the get UDF:
    Catalyst would substitute the UDF into the pushed filter and evaluate it
    twice, fetching every blob twice."""
    df, orig = _offloaded_parquet(spark, cfg, str(tmp_path / "t"))
    log = str(tmp_path / "ops.log")
    factory = _logging_store_factory(tmp_store_dir, log)

    out = hydrate(df, cfg, store_factory=factory).filter(F.length("content") > 5)
    got = {r.path: r.content for r in out.collect()}
    assert got == {p: c for p, c in orig.items() if len(c) > 5}
    # one get per distinct blob: 10, not 20
    assert _ops(log).count("get") == 10
    # a count does not need content, so it fetches nothing
    assert hydrate(df, cfg, store_factory=factory).count() == 15
    assert _ops(log).count("get") == 10


def test_deterministic_blob_keys_idempotent_under_rerun(spark, cfg, tmp_store_dir):
    """Running offload twice writes exactly one blob per distinct content —
    the intentional deviation from the reference's UUID keys (S3Storage.java:63-65)."""
    df = make_df(spark).filter(F.octet_length("content") > 64)
    offload(df, cfg).collect()
    offload(df, cfg).collect()
    import pathlib

    blobs = [p for p in pathlib.Path(tmp_store_dir).rglob("*") if p.is_file()]
    assert len(blobs) == 2
