"""LakeTable MERGE tests: LWW upsert, partition pruning, exactly-once epoch
guard, deletes, schema evolution, vacuum, and oracle equality on a synthetic
CDC stream (FIXTURES.md F2/F5)."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from kafka_connect_claim_check_smt_spark.errors import ClaimCheckError
from kafka_connect_claim_check_smt_spark.operators.dedup import exact_dedup, lww_dedup
from kafka_connect_claim_check_smt_spark.plans.lake import LakeTable, reconcile_schemas
from kafka_connect_claim_check_smt_spark.sources.changelog import (
    replay_oracle,
    synth_change_events,
    synth_change_events_py,
)


@pytest.fixture()
def lake_dir():
    d = tempfile.mkdtemp(prefix="lake-")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _table(spark, lake_dir, **kw):
    kw.setdefault("num_buckets", 4)
    return LakeTable(spark, lake_dir, ["repo", "path"], "commit_seq", op_col="op", **kw)


CE_SCHEMA = "repo string, path string, commit_seq long, op string, content string"


def test_lww_dedup_strategies_agree(spark):
    df = synth_change_events(spark, 3000, 400, seed=3, threshold=1024)
    a = lww_dedup(df, ["repo", "path"], "commit_seq", strategy="agg")
    w = lww_dedup(df, ["repo", "path"], "commit_seq", strategy="window")
    assert a.exceptAll(w).count() == 0 and w.exceptAll(a).count() == 0


def test_merge_insert_update(spark, lake_dir):
    t = _table(spark, lake_dir)
    base = spark.createDataFrame(
        [("r1", "a", 1, "insert", "v1"), ("r1", "b", 2, "insert", "v1")], CE_SCHEMA
    )
    t.merge(base, epoch_id=0)
    upd = spark.createDataFrame(
        [("r1", "a", 3, "update", "v2"), ("r2", "c", 4, "insert", "v1")], CE_SCHEMA
    )
    t.merge(upd, epoch_id=1)
    rows = {(r.repo, r.path): r for r in t.read().collect()}
    assert len(rows) == 3
    assert rows[("r1", "a")].content == "v2" and rows[("r1", "a")].commit_seq == 3
    assert rows[("r1", "b")].content == "v1"


def test_merge_stale_update_loses(spark, lake_dir):
    """WHEN MATCHED AND u.order > t.order — an older commit never overwrites."""
    t = _table(spark, lake_dir)
    t.merge(spark.createDataFrame([("r1", "a", 10, "insert", "new")], CE_SCHEMA), epoch_id=0)
    t.merge(spark.createDataFrame([("r1", "a", 5, "update", "old")], CE_SCHEMA), epoch_id=1)
    assert t.read().collect()[0].content == "new"


def test_merge_delete(spark, lake_dir):
    t = _table(spark, lake_dir)
    t.merge(
        spark.createDataFrame(
            [("r1", "a", 1, "insert", "x"), ("r1", "b", 2, "insert", "y")], CE_SCHEMA
        ),
        epoch_id=0,
    )
    t.merge(spark.createDataFrame([("r1", "a", 3, "delete", "")], CE_SCHEMA), epoch_id=1)
    rows = t.read().collect()
    assert len(rows) == 1 and rows[0].path == "b"


def test_epoch_idempotency(spark, lake_dir):
    """Re-merging a committed epoch is a no-op — the exactly-once guard."""
    t = _table(spark, lake_dir)
    upd = spark.createDataFrame([("r1", "a", 1, "insert", "v1")], CE_SCHEMA)
    s1 = t.merge(upd, epoch_id=7)
    v1 = t.current_version()
    s2 = t.merge(upd, epoch_id=7)  # replayed batch
    assert not s1["skipped"] and s2["skipped"]
    assert t.current_version() == v1
    assert t.read().count() == 1
    assert t.committed_epochs() == ["7"]


def test_merge_idempotent_even_without_epoch(spark, lake_dir):
    """Second layer: the keyed LWW merge itself is idempotent."""
    t = _table(spark, lake_dir)
    upd = spark.createDataFrame([("r1", "a", 1, "insert", "v1")], CE_SCHEMA)
    t.merge(upd)
    t.merge(upd)
    assert t.read().count() == 1


def test_partition_pruning_only_touched_buckets(spark, lake_dir):
    t = _table(spark, lake_dir, num_buckets=8)
    big = synth_change_events(spark, 2000, 500, seed=5).select(
        "repo", "path", "commit_seq", "op", "content"
    )
    t.merge(big, epoch_id=0)
    one = spark.createDataFrame([("r1", "only-one-key", 10**9, "insert", "z")], CE_SCHEMA)
    stats = t.merge(one, epoch_id=1)
    assert len(stats["buckets_touched"]) == 1
    m = t._manifest(t.current_version())
    # untouched buckets still reference v1 files (carried forward, not rewritten)
    old = [fs for b, fs in m["files"].items() if fs and fs[0].startswith("data/v1-")]
    assert len(old) >= 6


def test_schema_evolution_add_column_and_widen(spark, lake_dir):
    t = _table(spark, lake_dir)
    t.merge(
        spark.createDataFrame(
            [("r1", "a", 1, "insert", "x", 5)],
            "repo string, path string, commit_seq long, op string, content string, stars int",
        ),
        epoch_id=0,
    )
    # widened stars int→long, added column lang
    t.merge(
        spark.createDataFrame(
            [("r1", "b", 2, "insert", "y", 6, "py")],
            "repo string, path string, commit_seq long, op string, content string, stars long, lang string",
        ),
        epoch_id=1,
    )
    out = t.read()
    assert dict(out.dtypes)["stars"] == "bigint"
    rows = {r.path: r for r in out.collect()}
    assert rows["a"].lang is None and rows["b"].lang == "py"  # null backfill
    assert rows["a"].stars == 5 and rows["b"].stars == 6


def test_incompatible_schema_change_rejected(spark, lake_dir):
    t = _table(spark, lake_dir)
    t.merge(spark.createDataFrame([("r1", "a", 1, "insert", "x")], CE_SCHEMA), epoch_id=0)
    bad = spark.createDataFrame(
        [("r1", "a", 2, "update", 99)],
        "repo string, path string, commit_seq long, op string, content int",
    )
    with pytest.raises(ClaimCheckError, match="incompatible schema change"):
        t.merge(bad, epoch_id=1)


def test_full_replay_matches_oracle(spark, lake_dir):
    """Batch replay in 5 epochs must equal the sequential LWW oracle,
    including deletes (FIXTURES.md F5 gate)."""
    n, k = 4000, 600
    events = synth_change_events(
        spark, n, k, seed=11, threshold=1024, delete_permille=40
    ).select("repo", "path", "commit_seq", "op", "lang", "commit", "content")
    t = LakeTable(spark, lake_dir, ["repo", "path"], "commit_seq", num_buckets=4, op_col="op")
    chunk = n // 5
    for e in range(5):
        batch = events.filter(
            (F.col("commit_seq") >= e * chunk) & (F.col("commit_seq") < (e + 1) * chunk)
        )
        t.merge(batch, epoch_id=e)

    golden = replay_oracle(
        synth_change_events_py(n, k, seed=11, threshold=1024, delete_permille=40)
    )
    got = {(r.repo, r.path): r for r in t.read().collect()}
    assert set(got) == set(golden)
    import hashlib

    for key, g in golden.items():
        r = got[key]
        assert r.commit_seq == g["commit_seq"] and r.commit == g["commit"]
        assert hashlib.sha256(r.content.encode()).hexdigest() == g["content_sha256"]


def test_delete_tombstone_blocks_stale_resurrection(spark, lake_dir):
    """Out-of-order batches (change logs are only partition-ordered): a delete
    arriving before an older update must NOT be resurrected by it. Requires
    persistent tombstones — regression for a crash-replay-found bug."""
    t = _table(spark, lake_dir)
    t.merge(spark.createDataFrame([("r1", "a", 100, "delete", "")], CE_SCHEMA), epoch_id=0)
    # stale pre-delete update arrives later (commit_seq 50 < 100)
    t.merge(spark.createDataFrame([("r1", "a", 50, "update", "stale")], CE_SCHEMA), epoch_id=1)
    assert t.read().count() == 0  # still deleted
    assert t.read(include_tombstones=True).count() == 1  # tombstone persists
    # a genuinely newer insert does win over the tombstone
    t.merge(spark.createDataFrame([("r1", "a", 200, "insert", "reborn")], CE_SCHEMA), epoch_id=2)
    rows = t.read().collect()
    assert len(rows) == 1 and rows[0].content == "reborn"


def test_lineage_records_epochs(spark, lake_dir):
    t = _table(spark, lake_dir)
    t.merge(
        spark.createDataFrame([("r1", "a", 1, "insert", "x")], CE_SCHEMA),
        epoch_id=3,
        metrics={"rows_in": 1, "offloaded": 0},
    )
    lin = t.lineage_df().collect()
    assert len(lin) == 1
    assert lin[0].epoch_id == "3" and lin[0].metrics.rows_in == 1


def test_compact_consolidates_and_gcs_tombstones(spark, lake_dir):
    t = _table(spark, lake_dir, num_buckets=2)
    t.merge(
        spark.createDataFrame(
            [("r1", "a", 1, "insert", "x"), ("r1", "b", 2, "insert", "y")], CE_SCHEMA
        ),
        epoch_id=0,
    )
    t.merge(spark.createDataFrame([("r1", "a", 10, "delete", "")], CE_SCHEMA), epoch_id=1)
    assert t.read(include_tombstones=True).count() == 2
    # watermark below tombstone seq: tombstone survives compaction
    t.compact(tombstone_watermark=5)
    assert t.read(include_tombstones=True).count() == 2
    # watermark past tombstone seq: GC'd; visible state unchanged
    t.compact(tombstone_watermark=11)
    assert t.read(include_tombstones=True).count() == 1
    assert {r.path for r in t.read().collect()} == {"b"}
    # still merge-able after compaction
    t.merge(spark.createDataFrame([("r2", "c", 20, "insert", "z")], CE_SCHEMA), epoch_id=2)
    assert t.read().count() == 2


def test_vacuum_removes_unreferenced(spark, lake_dir):
    t = _table(spark, lake_dir, num_buckets=2)
    for e in range(3):
        t.merge(
            spark.createDataFrame([("r1", "a", e, "insert", f"v{e}")], CE_SCHEMA), epoch_id=e
        )
    removed = t.vacuum(keep_versions=1)
    assert removed > 0
    assert t.read().collect()[0].content == "v2"  # current snapshot intact


def test_exact_dedup(spark):
    df = spark.createDataFrame(
        [(1, "same"), (2, "same"), (3, "other")], "id long, content string"
    )
    out = exact_dedup(df, "content", keep="min", id_col="id")
    assert sorted((r.id, r.content) for r in out.collect()) == [(1, "same"), (3, "other")]


def test_reconcile_schemas_unit():
    from pyspark.sql import types as T

    a = T.StructType([T.StructField("x", T.IntegerType()), T.StructField("y", T.StringType())])
    b = T.StructType([T.StructField("x", T.LongType()), T.StructField("z", T.DoubleType())])
    m = reconcile_schemas(a, b)
    assert [f.name for f in m.fields] == ["x", "y", "z"]
    assert m["x"].dataType == T.LongType()


def test_key_widening_keeps_bucket_stable(spark, lake_dir):
    """ADVICE r1 (medium): widening a key column's type (int→long) must map
    the same logical key to the same bucket — bucket_expr canonically casts
    integral keys to long before hashing (≙ Iceberg bucket transform)."""
    t = LakeTable(spark, lake_dir, ["k"], "seq", num_buckets=8)
    base = spark.createDataFrame([(1, 1, "v1"), (2, 1, "v1")], "k int, seq long, v string")
    t.merge(base, epoch_id=0)
    upd = spark.createDataFrame([(1, 2, "v2")], "k long, seq long, v string")  # widened key
    t.merge(upd, epoch_id=1)
    rows = {r.k: r for r in t.read().collect()}
    assert len(rows) == 2, "widened key must not duplicate the logical key"
    assert rows[1].v == "v2" and rows[1].seq == 2
    assert rows[2].v == "v1"


def test_merge_tiebreaker_deterministic(spark, lake_dir):
    """Rows tying on order_col resolve by the tiebreaker column, so a replay
    always picks the same winner."""
    for strategy in ("sort", "agg"):
        d = lake_dir + "-" + strategy
        t = LakeTable(spark, d, ["k"], "seq", num_buckets=2)
        df = spark.createDataFrame(
            [("a", 1, 10, "low"), ("a", 1, 30, "high"), ("a", 1, 20, "mid")],
            "k string, seq long, eid long, v string",
        )
        t.merge(df, epoch_id=0, strategy=strategy, tiebreaker="eid")
        rows = t.read().collect()
        assert len(rows) == 1 and rows[0].v == "high", strategy
        shutil.rmtree(d, ignore_errors=True)


def test_touched_hint_drift_is_hard_error(spark, lake_dir):
    """ADVICE r1: a merge that writes buckets outside the touched hint must
    fail loudly (registering them would drop their unmerged base rows)."""
    from kafka_connect_claim_check_smt_spark.plans.lake import LakeConflictError

    t = _table(spark, lake_dir)
    df = spark.createDataFrame(
        [("r1", f"p{i}", 1, "insert", "v1") for i in range(16)], CE_SCHEMA
    )
    real = sorted(
        r[0] for r in df.select(t.bucket_expr(df).alias("b")).distinct().collect()
    )
    assert len(real) >= 2  # 16 hashed keys over 4 buckets
    v0 = t.current_version()
    with pytest.raises(LakeConflictError, match="outside the touched set"):
        t.merge(df, epoch_id=0, touched_hint=real[:1])
    # the failed merge must NOT have committed a manifest: version unchanged,
    # epoch 0 still uncommitted, and a correct retry of the SAME epoch lands
    assert t.current_version() == v0
    assert "0" not in {e["epoch_id"] for e in t._manifest(v0)["epochs"]}
    out = t.merge(df, epoch_id=0, touched_hint=real)
    assert not out.get("skipped") and t.read().count() == 16


def test_epoch_log_rotation(spark, lake_dir):
    """Long streams must not pay O(epochs²) manifest bytes: with
    epoch_tail=3, older epoch entries rotate to _versions/epochs.jsonl while
    committed_epochs() / lineage_df() / the exactly-once guard behave exactly
    as with an unbounded inline list."""
    import json
    from pathlib import Path

    t = _table(spark, lake_dir, epoch_tail=3)
    for i in range(9):
        df = spark.createDataFrame(
            [("r1", f"p{i}", i, "insert", f"v{i}")], CE_SCHEMA
        )
        t.merge(df, epoch_id=i)

    # full history visible through the public surface
    assert t.committed_epochs() == [str(i) for i in range(9)]
    lineage = {r.epoch_id: r for r in t.lineage_df().collect()}
    assert set(lineage) == {str(i) for i in range(9)}
    # inline tail bounded, overflow rotated
    inline = t._manifest(t.current_version())["epochs"]
    assert len(inline) == 3 and [e["epoch_id"] for e in inline] == ["6", "7", "8"]
    log = Path(lake_dir) / "_versions" / "epochs.jsonl"
    assert log.exists()
    assert [json.loads(x)["epoch_id"] for x in log.read_text().splitlines()] == [
        str(i) for i in range(6)
    ]
    # exactly-once guard still sees ROTATED epochs
    out = t.merge(
        spark.createDataFrame([("r1", "p0", 99, "insert", "dup")], CE_SCHEMA),
        epoch_id=0,
    )
    assert out["skipped"] is True
    assert t.read().filter(F.col("content") == "dup").count() == 0

    # crash-window overlap: an entry duplicated between log and inline (append
    # succeeded, pointer flip didn't) must dedup by version on read
    dup_line = json.dumps(inline[0])
    with log.open("a") as f:
        f.write(dup_line + "\n")
    assert t.committed_epochs() == [str(i) for i in range(9)]
    assert t.lineage_df().count() == 9

    # rotation must not re-append entries already in the log: epoch 6's entry
    # is the crash-window dup above, so the next commit (which rotates epoch 6
    # out of the inline tail) finds its version present and appends NOTHING
    n_lines_before = len(log.read_text().splitlines())
    t.merge(
        spark.createDataFrame([("r1", "px", 100, "insert", "v")], CE_SCHEMA),
        epoch_id=9,
    )
    n_lines_after = len(log.read_text().splitlines())
    assert n_lines_after == n_lines_before  # epoch 6 already logged → skipped
    assert t.committed_epochs() == [str(i) for i in range(10)]

    # and a rotation of a NOT-yet-logged entry does append exactly one line
    t.merge(
        spark.createDataFrame([("r1", "py", 101, "insert", "v")], CE_SCHEMA),
        epoch_id=10,
    )
    assert len(log.read_text().splitlines()) == n_lines_after + 1  # epoch 7
    assert t.committed_epochs() == [str(i) for i in range(11)]


def test_iceberg_adapter_interface(spark, lake_dir):
    """The promised production sink adapter: identical public surface to
    LakeTable (so replay/read_back code is format-agnostic), constructor-gated
    on a real Iceberg runtime (absent in this sandbox)."""
    import inspect

    from kafka_connect_claim_check_smt_spark.plans.iceberg import IcebergTable
    from kafka_connect_claim_check_smt_spark.plans.lake import iceberg_available

    for method in ("merge", "read", "committed_epochs", "lineage_df", "compact",
                   "vacuum", "rollback", "expire_versions"):
        assert hasattr(IcebergTable, method), method
    # merge() must accept every kwarg the streaming path passes to LakeTable.merge
    merge_params = set(inspect.signature(IcebergTable.merge).parameters)
    for kw in ("epoch_id", "metrics", "strategy", "touched_hint", "tiebreaker",
               "pre_write_transform", "precombined"):
        assert kw in merge_params, kw

    if iceberg_available(spark):  # pragma: no cover — needs the runtime jar
        t = IcebergTable(spark, "default.cc_test", ["repo", "path"])
        assert t.committed_epochs() == []
    else:
        with pytest.raises(ClaimCheckError, match="no Iceberg runtime"):
            IcebergTable(spark, "default.cc_test", ["repo", "path"])


def test_iceberg_rollback_deletes_epochs_before_restore():
    """Crash-ordering contract (round-5 ADVICE, medium): rollback() must
    delete the companion epoch rows BEFORE rollback_to_snapshot, so a crash
    between the two statements errs toward over-deletion (idempotent
    re-merge) and never toward under-deletion (stale epoch rows silently
    skipping a corrected replay after the data restore). No Iceberg runtime
    is available to the suite, so the statement order is pinned on the
    ``spark.sql`` calls in the method's AST — a docstring or comment that
    mentions the statements cannot satisfy it."""
    import ast
    import inspect
    import textwrap

    from kafka_connect_claim_check_smt_spark.plans.iceberg import IcebergTable

    tree = ast.parse(textwrap.dedent(inspect.getsource(IcebergTable.rollback)))
    # every spark.sql(...) statement, in source order
    order = [
        ast.unparse(node.args[0])
        for node in sorted(
            (n for n in ast.walk(tree)
             if isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
             and n.func.attr == "sql"),
            key=lambda n: n.lineno,
        )
    ]
    delete = [i for i, sql in enumerate(order) if "DELETE FROM {self._epochs}" in sql]
    restore = [i for i, sql in enumerate(order) if "CALL system.rollback_to_snapshot(" in sql]
    assert len(delete) == 1 and len(restore) == 1, order
    assert delete[0] < restore[0]


# -- change data feed (read_changes) ------------------------------------------


def _cdf_map(df):
    return {(r._change_type, r.repo, r.path): r for r in df.collect()}


def test_read_changes_insert_update_delete(spark, lake_dir):
    t = _table(spark, lake_dir)
    t.merge(
        spark.createDataFrame(
            [("r1", "a", 1, "insert", "v1"), ("r1", "b", 1, "insert", "v1")], CE_SCHEMA
        ),
        epoch_id=0,
    )
    v1 = t.current_version()
    t.merge(
        spark.createDataFrame(
            [
                ("r1", "a", 2, "update", "v2"),      # update
                ("r1", "b", 2, "delete", None),      # delete (tombstone)
                ("r2", "c", 2, "insert", "v1"),      # insert
            ],
            CE_SCHEMA,
        ),
        epoch_id=1,
    )
    ch = _cdf_map(t.read_changes(v1))
    assert set(ch) == {
        ("update_preimage", "r1", "a"),
        ("update_postimage", "r1", "a"),
        ("delete", "r1", "b"),
        ("insert", "r2", "c"),
    }
    assert ch[("update_preimage", "r1", "a")].content == "v1"
    assert ch[("update_postimage", "r1", "a")].content == "v2"
    assert ch[("insert", "r2", "c")].commit_seq == 2
    # untouched key never appears; full-range CDF nets to final state
    net = _cdf_map(t.read_changes(0))
    assert set(net) == {("insert", "r1", "a"), ("insert", "r2", "c")}
    assert net[("insert", "r1", "a")].content == "v2"  # net effect, not history


def test_read_changes_empty_range_and_validation(spark, lake_dir):
    t = _table(spark, lake_dir)
    assert t.read_changes(0).count() == 0  # empty table, no schema
    t.merge(spark.createDataFrame([("r1", "a", 1, "insert", "v1")], CE_SCHEMA), epoch_id=0)
    v = t.current_version()
    assert t.read_changes(v, v).count() == 0  # empty range
    assert t.read_changes(v).count() == 0  # to defaults to current
    with pytest.raises(ClaimCheckError):
        t.read_changes(v + 1)
    with pytest.raises(ClaimCheckError):
        t.read_changes(1, 0)


def test_read_changes_skips_compaction_and_stale_losers(spark, lake_dir):
    t = _table(spark, lake_dir)
    t.merge(
        spark.createDataFrame(
            [("r1", "a", 5, "insert", "v5"), ("r1", "b", 5, "insert", "v5")], CE_SCHEMA
        ),
        epoch_id=0,
    )
    v1 = t.current_version()
    # stale update loses LWW -> byte-identical live row -> no change emitted
    t.merge(spark.createDataFrame([("r1", "a", 3, "update", "stale")], CE_SCHEMA), epoch_id=1)
    assert t.read_changes(v1).count() == 0
    v2 = t.current_version()
    t.compact()  # pure COW rewrite: touches every bucket, changes no live row
    assert t.current_version() == v2 + 1
    assert t.read_changes(v2).count() == 0
    assert t.read_changes(v1).count() == 0


def test_read_changes_across_schema_evolution(spark, lake_dir):
    t = _table(spark, lake_dir)
    t.merge(spark.createDataFrame([("r1", "a", 1, "insert", "v1")], CE_SCHEMA), epoch_id=0)
    v1 = t.current_version()
    evolved = "repo string, path string, commit_seq long, op string, content string, lang string"
    t.merge(
        spark.createDataFrame(
            [("r1", "a", 2, "update", "v2", "py"), ("r2", "c", 2, "insert", "v1", "go")],
            evolved,
        ),
        epoch_id=1,
    )
    ch = _cdf_map(t.read_changes(v1))
    # preimage is conformed to the evolved schema with a null backfill
    assert ch[("update_preimage", "r1", "a")].lang is None
    assert ch[("update_postimage", "r1", "a")].lang == "py"
    assert ch[("insert", "r2", "c")].lang == "go"
    assert "_change_type" in t.read_changes(v1).columns


def _expected_changes(t, v0, v1):
    """Net change rows between two versions, diffed in Python from the two
    snapshots: the reference for full-row equality of read_changes. Columns
    of the old snapshot that the new schema lacks cannot occur (schemas only
    grow); columns it lacks are NULL, as read_changes backfills them."""
    cols = t.read(version=v1).columns
    key = lambda r: tuple(r[c] for c in t.key_cols)  # noqa: E731
    old = {key(r): r.asDict() for r in t.read(version=v0).collect()}
    new = {key(r): r.asDict() for r in t.read(version=v1).collect()}
    row = lambda ct, r: (ct, *[r.get(c) for c in cols])  # noqa: E731
    out = []
    for k in old.keys() | new.keys():
        o, n = old.get(k), new.get(k)
        if o is None:
            out.append(row("insert", n))
        elif n is None:
            out.append(row("delete", o))
        elif o[t.order_col] != n[t.order_col]:
            out += [row("update_preimage", o), row("update_postimage", n)]
    return ["_change_type", *cols], sorted(out, key=repr)


def _assert_feed_rows(t, v0, v1):
    got = t.read_changes(v0, v1)
    cols, want = _expected_changes(t, v0, v1)
    assert got.columns == cols
    assert sorted((tuple(r) for r in got.collect()), key=repr) == want
    return want


def test_read_changes_full_rows_match_snapshot_diff(spark, lake_dir):
    """Every column of every change row, not just the _change_type counts,
    equals the diff of the two snapshots — over single epochs and a span."""
    t = _table(spark, lake_dir, num_buckets=4)
    rows = synth_change_events_py(600, 80, seed=11, threshold=1024, delete_permille=100)
    log = spark.createDataFrame(rows).select("repo", "path", "commit_seq", "op", "content", "lang")
    versions = [t.current_version()]
    for e, (lo, hi) in enumerate([(0, 200), (200, 400), (400, 600)]):
        t.merge(log.filter((F.col("commit_seq") >= lo) & (F.col("commit_seq") < hi)), epoch_id=e)
        versions.append(t.current_version())
    kinds = set()
    for v0, v1 in [*zip(versions, versions[1:]), (versions[1], versions[-1])]:
        kinds |= {r[0] for r in _assert_feed_rows(t, v0, v1)}
    assert kinds == {"insert", "delete", "update_preimage", "update_postimage"}


def test_read_changes_span_over_added_and_widened_column(spark, lake_dir):
    """A span whose old snapshot predates a schema change: the old side is
    conformed (new column NULL-backfilled, int widened to long) before the
    diff, so its preimages carry the new schema."""
    t = LakeTable(spark, lake_dir, ["k"], "seq", num_buckets=4, op_col="op")
    t.merge(
        spark.createDataFrame(
            [(i, 1, "insert", i * 10) for i in range(12)], "k long, seq long, op string, n int"
        ),
        epoch_id=0,
    )
    v1 = t.current_version()
    t.merge(
        spark.createDataFrame(
            [(1, 2, "update", 2**40, "py"), (2, 2, "delete", None, None), (20, 2, "insert", 7, "go")],
            "k long, seq long, op string, n long, lang string",
        ),
        epoch_id=1,
    )
    want = _assert_feed_rows(t, v1, t.current_version())
    assert ("update_preimage", 1, 1, "insert", 10, None) in want
    assert ("update_postimage", 1, 2, "update", 2**40, "py") in want
    assert t.read_changes(v1).schema["n"].dataType.simpleString() == "bigint"


def test_read_changes_quotes_column_names(spark, lake_dir):
    """Key, order and data columns whose names are not plain SQL identifiers
    (a space, a hyphen, a reserved word, a leading digit) come through the
    feed's SQL-string projections."""
    t = LakeTable(spark, lake_dir, ["key id"], "seq-no", num_buckets=4)
    schema = "`key id` string, `seq-no` long, `a-b` string, `order` int, `2nd` int"
    t.merge(
        spark.createDataFrame([(f"k{i}", 1, f"x{i}", i, -i) for i in range(8)], schema), epoch_id=0
    )
    v1 = t.current_version()
    t.merge(
        spark.createDataFrame([("k1", 2, "y1", 100, 0), ("k9", 2, "y9", 9, 0)], schema), epoch_id=1
    )
    want = _assert_feed_rows(t, v1, t.current_version())
    assert t.read_changes(v1).columns == ["_change_type", "key id", "seq-no", "a-b", "order", "2nd"]
    assert sorted(want) == [
        ("insert", "k9", 2, "y9", 9, 0),
        ("update_postimage", "k1", 2, "y1", 100, 0),
        ("update_preimage", "k1", 1, "x1", 1, -1),
    ]


def test_read_changes_prunes_to_touched_buckets(spark, lake_dir):
    t = _table(spark, lake_dir, num_buckets=8)
    rows = [(f"r{i}", f"p{i}", 1, "insert", "v1") for i in range(64)]
    t.merge(spark.createDataFrame(rows, CE_SCHEMA), epoch_id=0)
    v1 = t.current_version()
    t.merge(spark.createDataFrame([("r0", "p0", 2, "update", "v2")], CE_SCHEMA), epoch_id=1)
    ch = t.read_changes(v1)
    # only the single updated key surfaces, and the scan read only its bucket
    assert {r._change_type for r in ch.collect()} == {"update_preimage", "update_postimage"}
    epochs = [e for e in t._all_epochs(t._manifest(t.current_version())) if e["version"] > v1]
    touched = {b for e in epochs for b in e["buckets_touched"]}
    assert len(touched) == 1  # one key -> one bucket; the diff scanned only it


# -- incremental view maintenance over the CDF ---------------------------------


def test_incremental_agg_equals_recompute(spark, lake_dir):
    from kafka_connect_claim_check_smt_spark.operators.incremental import (
        agg_delta,
        apply_agg_delta,
        aggregate_view,
    )

    t = _table(spark, lake_dir)
    t.merge(
        spark.createDataFrame(
            [
                ("r1", "a", 1, "insert", "xxxx"),
                ("r1", "b", 1, "insert", "yy"),
                ("r2", "c", 1, "insert", "zzz"),
            ],
            CE_SCHEMA,
        ),
        epoch_id=0,
    )
    v1 = t.current_version()
    t.merge(
        spark.createDataFrame(
            [
                ("r1", "a", 2, "update", "xxxxxxxx"),  # bytes grow
                ("r2", "c", 2, "delete", None),        # whole group r2 vanishes
                ("r3", "d", 2, "insert", "w"),         # new group
            ],
            CE_SCHEMA,
        ),
        epoch_id=1,
    )
    groups, measures = ["repo"], {
        "n_rows": F.lit(1),
        "bytes_total": F.octet_length("content"),
    }
    view_v1 = aggregate_view(t.read(version=v1), groups, measures)
    delta = agg_delta(t.read_changes(v1), groups, measures)
    maintained = apply_agg_delta(view_v1, delta, groups, count_col="n_rows")
    recomputed = aggregate_view(t.read(), groups, measures)
    got = {r.repo: (r.n_rows, r.bytes_total) for r in maintained.collect()}
    want = {r.repo: (r.n_rows, r.bytes_total) for r in recomputed.collect()}
    assert got == want == {"r1": (2, 10), "r3": (1, 1)}  # r2 retracted entirely


def _keys_in_two_buckets(spark, t):
    """Two key groups guaranteed to land in different buckets."""
    from collections import defaultdict

    cand = [(f"r{i}", f"p{i}") for i in range(20)]
    kdf = spark.createDataFrame(cand, "repo string, path string")
    from kafka_connect_claim_check_smt_spark.plans.lake import BUCKET_COL

    rows = kdf.select("repo", "path", t.bucket_expr(kdf).alias(BUCKET_COL)).collect()
    by_bucket = defaultdict(list)
    for r in rows:
        by_bucket[r[BUCKET_COL]].append((r.repo, r.path))
    b1, b2, *_ = sorted(by_bucket)
    return by_bucket[b1], by_bucket[b2]


def test_two_writer_disjoint_buckets_cas_commit(spark, lake_dir):
    """Optimistic concurrency: writer B computes its merge against version v,
    writer A commits v+1 inside B's commit window touching DISJOINT buckets —
    B must lose the CAS, rebase onto A's manifest, and commit v+2 with both
    epochs and all rows intact, no manual serialization."""
    ta = _table(spark, lake_dir, num_buckets=8)
    tb = _table(spark, lake_dir, num_buckets=8)
    keys_a, keys_b = _keys_in_two_buckets(spark, ta)
    seed = spark.createDataFrame(
        [(r, p, 1, "insert", "seed") for r, p in keys_a + keys_b], CE_SCHEMA
    )
    ta.merge(seed, epoch_id="seed")
    batch_a = spark.createDataFrame(
        [(r, p, 2, "update", "from-a") for r, p in keys_a], CE_SCHEMA
    )
    batch_b = spark.createDataFrame(
        [(r, p, 2, "update", "from-b") for r, p in keys_b], CE_SCHEMA
    )
    # inject A's commit into B's commit window: B's first _commit sees the
    # version advance underneath it and must take the rebase path
    calls = {"n": 0}
    real = LakeTable._commit

    def racing(manifest, expected_version):
        if calls["n"] == 0:
            calls["n"] += 1
            ta.merge(batch_a, epoch_id="a")
        return real(tb, manifest, expected_version)

    tb._commit = racing
    stats = tb.merge(batch_b, epoch_id="b")
    assert stats["commit_retries"] == 1 and stats["version"] == 3
    assert set(tb.committed_epochs()) == {"seed", "a", "b"}
    got = {(r.repo, r.path): r.content for r in tb.read().collect()}
    assert all(got[k] == "from-a" for k in keys_a)
    assert all(got[k] == "from-b" for k in keys_b)


def test_two_writer_overlapping_buckets_hard_conflict(spark, lake_dir):
    """A concurrent commit that rewrote one of OUR buckets is a true lost
    update — the rebase must refuse (hard LakeConflictError), never silently
    drop the other writer's rows."""
    ta = _table(spark, lake_dir, num_buckets=8)
    tb = _table(spark, lake_dir, num_buckets=8)
    ta.merge(
        spark.createDataFrame([("r1", "a", 1, "insert", "v1")], CE_SCHEMA),
        epoch_id="seed",
    )
    calls = {"n": 0}
    real = LakeTable._commit

    def racing(manifest, expected_version):
        if calls["n"] == 0:
            calls["n"] += 1
            ta.merge(
                spark.createDataFrame([("r1", "a", 2, "update", "from-a")], CE_SCHEMA),
                epoch_id="a",
            )
        return real(tb, manifest, expected_version)

    tb._commit = racing
    with pytest.raises(ClaimCheckError, match="rewritten by a concurrent"):
        tb.merge(
            spark.createDataFrame([("r1", "a", 3, "update", "from-b")], CE_SCHEMA),
            epoch_id="b",
        )
    # A's commit survived untouched
    assert {r.content for r in ta.read().collect()} == {"from-a"}


def test_incremental_minmax_flag_and_recompute(spark, lake_dir):
    """MIN/MAX view maintenance: additive-only groups resolve from the delta
    alone; groups that lose their extreme (delete of the max row, update that
    shrinks a value) are recomputed from the base — result must equal the
    full recompute exactly, including group retraction."""
    from kafka_connect_claim_check_smt_spark.operators.incremental import (
        apply_minmax_delta,
        minmax_view,
    )

    t = _table(spark, lake_dir)
    t.merge(
        spark.createDataFrame(
            [
                ("r1", "a", 1, "insert", "xxxxxxxx"),  # r1's max (8 bytes)
                ("r1", "b", 1, "insert", "yy"),
                ("r2", "c", 1, "insert", "zzz"),
                ("r4", "e", 1, "insert", "kept"),      # untouched clean group
            ],
            CE_SCHEMA,
        ),
        epoch_id=0,
    )
    v1 = t.current_version()
    t.merge(
        spark.createDataFrame(
            [
                ("r1", "a", 2, "delete", None),        # deletes r1's MAX row
                ("r1", "b", 2, "update", "y"),         # shrinks → old min stale
                ("r2", "c", 2, "delete", None),        # whole group r2 vanishes
                ("r3", "d", 2, "insert", "wwwww"),     # brand-new group
                ("r4", "f", 2, "insert", "kept-longer"),  # additive-only group
            ],
            CE_SCHEMA,
        ),
        epoch_id=1,
    )
    groups = ["repo"]
    measures = {
        "min_bytes": ("min", F.octet_length("content").cast("long")),
        "max_bytes": ("max", F.octet_length("content").cast("long")),
    }
    view_v1 = minmax_view(t.read(version=v1), groups, measures)
    maintained = apply_minmax_delta(
        view_v1, t.read_changes(v1), t.read(), groups, measures
    )
    recomputed = minmax_view(t.read(), groups, measures)
    got = {r.repo: (r.min_bytes, r.max_bytes) for r in maintained.collect()}
    want = {r.repo: (r.min_bytes, r.max_bytes) for r in recomputed.collect()}
    assert got == want == {
        "r1": (1, 1),        # max row deleted AND min shrunk — recomputed
        "r3": (5, 5),        # new group from the delta alone
        "r4": (4, 11),       # clean group: least/greatest(old, adds)
    }
    with pytest.raises(ValueError, match="kind"):
        minmax_view(t.read(), groups, {"m": ("avg", F.lit(1))})


def test_apply_agg_delta_requires_count_measure(spark):
    from kafka_connect_claim_check_smt_spark.operators.incremental import apply_agg_delta

    df = spark.createDataFrame([("r1", 1)], "repo string, bytes_total long")
    with pytest.raises(ValueError, match="count_col"):
        apply_agg_delta(df, df, ["repo"], count_col="n_rows")


# -- point lookup + sorted compaction ------------------------------------------


def test_lookup_scans_only_key_buckets(spark, lake_dir):
    t = _table(spark, lake_dir, num_buckets=8)
    rows = [(f"r{i}", f"p{i}", 1, "insert", f"v{i}") for i in range(64)]
    t.merge(spark.createDataFrame(rows, CE_SCHEMA), epoch_id=0)
    t.merge(spark.createDataFrame([("r3", "p3", 2, "delete", None)], CE_SCHEMA), epoch_id=1)
    out = t.lookup([("r5", "p5"), ("r9", "p9"), ("r3", "p3")])
    got = {(r.repo, r.path): r.content for r in out.collect()}
    assert got == {("r5", "p5"): "v5", ("r9", "p9"): "v9"}  # deleted key absent
    # file list pruned: the scan reads at most 3 of 8 buckets (the same
    # bucket math lookup() uses to build its file list)
    kdf = spark.createDataFrame([("r5", "p5"), ("r9", "p9"), ("r3", "p3")], "repo string, path string")
    from kafka_connect_claim_check_smt_spark.plans.lake import BUCKET_COL

    want = {r[0] for r in kdf.select(t.bucket_expr(kdf).alias(BUCKET_COL)).distinct().collect()}
    assert len(want) <= 3
    with pytest.raises(ClaimCheckError):
        t.lookup([])


def test_lookup_key_order_independent_of_schema_order(spark, lake_dir):
    """Key tuples are positional in key_cols; when the STORED schema lists
    the key columns in a different order (here path before repo), lookup
    must still map tuple values to the right fields — the old code built the
    key schema in schema order and silently computed wrong buckets/rows."""
    t = LakeTable(
        spark, f"{lake_dir}/swapped", ["repo", "path"], "commit_seq",
        num_buckets=8, op_col="op",
    )
    rows = [(f"p{i}", f"r{i}", 1, "insert", f"v{i}") for i in range(32)]
    t.merge(
        spark.createDataFrame(
            rows, "path string, repo string, commit_seq long, op string, content string"
        ),
        epoch_id=0,
    )
    got = {(r.repo, r.path): r.content
           for r in t.lookup([("r5", "p5"), ("r9", "p9")]).collect()}
    assert got == {("r5", "p5"): "v5", ("r9", "p9"): "v9"}


def test_lookup_int_key_on_widened_table(spark, lake_dir):
    """An int key on a table whose key was widened int→long: the Arrow key
    frame carries the stored key type (long) into bucket_expr's canonical
    cast, so keys written before and after the widening are both found."""
    t = LakeTable(spark, lake_dir, ["k"], "seq", num_buckets=8)
    t.merge(
        spark.createDataFrame([(i, 1, f"a{i}") for i in range(40)], "k int, seq long, v string"),
        epoch_id=0,
    )
    t.merge(
        spark.createDataFrame(
            [(i, 2, f"b{i}") for i in range(30, 70)], "k long, seq long, v string"
        ),
        epoch_id=1,
    )
    assert t.read().schema["k"].dataType.simpleString() == "bigint"
    keys = [3, 17, 35, 64]
    got = sorted(tuple(r) for r in t.lookup([(k,) for k in keys]).collect())
    want = sorted(tuple(r) for r in t.read().filter(F.col("k").isin(keys)).collect())
    assert got == want and len(want) == 4
    assert t.last_probe_stats["buckets_scanned"] < t.last_probe_stats["buckets_with_data"]


def test_lookup_double_key(spark, lake_dir):
    t = LakeTable(spark, lake_dir, ["x"], "seq", num_buckets=8)
    t.merge(
        spark.createDataFrame(
            [(i / 4, 1, f"v{i}") for i in range(-20, 40)], "x double, seq long, v string"
        ),
        epoch_id=0,
    )
    keys = [-2.5, 0.0, 1.25, 9.75, 123.0]  # 123.0 is absent
    got = sorted(tuple(r) for r in t.lookup([(k,) for k in keys]).collect())
    want = sorted(tuple(r) for r in t.read().filter(F.col("x").isin(keys)).collect())
    assert got == want and len(want) == 4


def test_lookup_builds_without_spark_job(spark, lake_dir):
    """Routing keys to buckets runs on the driver: the key frame is a local
    relation, so building the lookup launches no Spark job."""
    t = _table(spark, lake_dir, num_buckets=8)
    rows = [(f"r{i}", f"p{i}", 1, "insert", f"v{i}") for i in range(64)]
    t.merge(spark.createDataFrame(rows, CE_SCHEMA), epoch_id=0)
    sc = spark.sparkContext
    group = "test_lookup_builds_without_spark_job"
    sc.setJobGroup(group, group)
    try:
        out = t.lookup([("r5", "p5"), ("r9", "p9"), ("r3", "p3")])
        assert sc.statusTracker().getJobIdsForGroup(group) == []
        # the tracker does see this group's jobs: running the lookup does
        assert len(out.collect()) == 3
        assert sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_compact_sort_by_key_orders_rows(spark, lake_dir):
    t = _table(spark, lake_dir, num_buckets=2)
    rows = [(f"r{i % 7}", f"p{i}", 1, "insert", "x") for i in range(40)]
    t.merge(spark.createDataFrame(rows, CE_SCHEMA), epoch_id=0)
    t.compact(sort_by_key=True)
    # every physical file holds rows sorted by (repo, path)
    m = t._manifest(t.current_version())
    for fs in m["files"].values():
        for f in fs:
            pdf = spark.read.parquet(str(t.root / f)).select("repo", "path").toPandas()
            keys = list(zip(pdf.repo, pdf.path))
            assert keys == sorted(keys)
    # content unchanged by the sorted rewrite
    assert t.read().count() == 40


def test_scd2_history_intervals_and_asof_composition(spark):
    """Validity intervals chain gaplessly per key; delete closes history
    (tombstone row is not current); re-insert opens a new interval; and
    asof_join over the history answers state-as-of-T."""
    from kafka_connect_claim_check_smt_spark.operators.asof import asof_join
    from kafka_connect_claim_check_smt_spark.operators.scd import scd2_history

    ev = spark.createDataFrame(
        [
            ("r1", "a", 1, "insert", "v1"),
            ("r1", "a", 5, "update", "v2"),
            ("r1", "a", 9, "delete", None),
            ("r1", "a", 12, "insert", "v3"),  # re-insert after delete
            ("r2", "b", 3, "insert", "w1"),
        ],
        CE_SCHEMA,
    )
    h = scd2_history(ev, ["repo", "path"], "commit_seq", op_col="op")
    rows = {(r.repo, r.path, r.valid_from): r for r in h.collect()}
    assert rows[("r1", "a", 1)].valid_to == 5 and not rows[("r1", "a", 1)].is_current
    assert rows[("r1", "a", 5)].valid_to == 9
    assert rows[("r1", "a", 9)].valid_to == 12 and not rows[("r1", "a", 9)].is_current
    assert rows[("r1", "a", 12)].valid_to is None and rows[("r1", "a", 12)].is_current
    assert rows[("r2", "b", 3)].is_current
    # state as of T=7: asof over history resolves v2 for (r1, a)
    probe = spark.createDataFrame([("r1", "a", 7)], "repo string, path string, t long")
    got = asof_join(
        probe,
        h.select("repo", "path", "valid_from", F.col("content").alias("content_at")),
        on=["repo", "path"],
        left_order="t",
        right_order="valid_from",
        right_cols=["content_at"],
    ).collect()[0]
    assert got.content_at == "v2"


def test_lagging_pointer_heals_and_table_stays_mergeable(spark, lake_dir):
    """Crash-window recovery (round-4 ADVICE, high): a writer that died
    between the slot link (the commit point) and the ``_latest`` pointer flip
    leaves pointer = head - 1. The table must NOT wedge: readers reconcile
    forward, the next merge commits head + 1, and the pointer heals."""
    t = _table(spark, lake_dir)
    t.merge(spark.createDataFrame([("r1", "a", 1, "insert", "v1")], CE_SCHEMA), epoch_id=0)
    t.merge(spark.createDataFrame([("r1", "a", 2, "update", "v2")], CE_SCHEMA), epoch_id=1)
    head = t.current_version()
    assert head == 2
    # simulate the crash window: rewind the pointer one version behind the
    # committed slot head
    (t.root / "_latest").write_text(str(head - 1))
    assert t._pointer_version() == head - 1
    # readers see the true head, not the stale pointer
    assert t.current_version() == head
    assert {r.content for r in t.read().collect()} == {"v2"}
    # and the next merge succeeds on the first attempt (no retry burn-out)
    stats = t.merge(
        spark.createDataFrame([("r1", "a", 3, "update", "v3")], CE_SCHEMA), epoch_id=2
    )
    assert not stats.get("skipped") and stats["version"] == head + 1
    assert "commit_retries" not in stats
    # the pointer healed at the commit
    assert t._pointer_version() == head + 1
    assert {r.content for r in t.read().collect()} == {"v3"}


def test_vacuum_with_lagging_pointer_keeps_head_files(spark, lake_dir):
    """Vacuum keyed off a lagging pointer would delete data files referenced
    only by the committed head — loss of a committed snapshot. The keep-range
    must follow the reconciled head."""
    t = _table(spark, lake_dir, num_buckets=2)
    t.merge(spark.createDataFrame([("r1", "a", 1, "insert", "v1")], CE_SCHEMA), epoch_id=0)
    t.merge(spark.createDataFrame([("r2", "b", 2, "insert", "v2")], CE_SCHEMA), epoch_id=1)
    head = t.current_version()
    (t.root / "_latest").write_text(str(head - 1))
    t.vacuum(keep_versions=1)
    # every file the head manifest references must still exist
    for files in t._manifest(head)["files"].values():
        for rel in files:
            assert (t.root / rel).exists(), rel
    # and the head snapshot still reads intact
    got = {(r.repo, r.path): r.content for r in t.read().collect()}
    assert got == {("r1", "a"): "v1", ("r2", "b"): "v2"}
