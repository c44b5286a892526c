"""MinHashIndex (persistent cross-epoch near-dup index) + LakeTable
bucket_cols/probe. The index's scale contract — a probe touches only the
buckets its band keys hash to, never the whole index — is asserted on real
file counts via inputFiles()."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from kafka_connect_claim_check_smt_spark.errors import ClaimCheckError
from kafka_connect_claim_check_smt_spark.operators.dedup_index import (
    MinHashIndex,
    minhash_index_sql,
)
from kafka_connect_claim_check_smt_spark.plans.lake import LakeTable


@pytest.fixture()
def lake_dir():
    d = tempfile.mkdtemp(prefix="ccidx-")
    yield d
    shutil.rmtree(d, ignore_errors=True)


# -- LakeTable bucket_cols + probe ------------------------------------------


def _prefix_table(spark, root, num_buckets=8):
    return LakeTable(
        spark,
        root,
        key_cols=["grp", "item"],
        order_col="seq",
        bucket_cols=["grp"],
        num_buckets=num_buckets,
    )


def _seed_rows(spark):
    return spark.createDataFrame(
        [(g, i, 1, f"{g}-{i}") for g in ("a", "b", "c", "d") for i in range(3)],
        "grp string, item int, seq long, val string",
    )


def test_bucket_cols_must_be_key_subset(spark, lake_dir):
    with pytest.raises(ClaimCheckError, match="subset of key_cols"):
        LakeTable(spark, lake_dir, key_cols=["k"], bucket_cols=["k", "other"])


def test_bucket_cols_pinned_in_manifest(spark, lake_dir):
    t = _prefix_table(spark, lake_dir)
    t.merge(_seed_rows(spark), epoch_id="seed")
    # reopening with different bucketing against existing files must refuse —
    # eagerly, at construction (layout adoption reads the head manifest)
    with pytest.raises(ClaimCheckError, match="bucketed on"):
        LakeTable(
            spark, lake_dir, key_cols=["grp", "item"], order_col="seq", num_buckets=8
        )
    # same bucketing reopens fine
    again = _prefix_table(spark, lake_dir)
    assert again.read().count() == 12


def test_probe_returns_only_matching_prefix_rows(spark, lake_dir):
    t = _prefix_table(spark, lake_dir)
    t.merge(_seed_rows(spark), epoch_id="seed")
    keys = spark.createDataFrame([("a",), ("c",)], "grp string")
    got = t.probe(keys)
    assert sorted((r.grp, r.item) for r in got.collect()) == [
        ("a", 0), ("a", 1), ("a", 2), ("c", 0), ("c", 1), ("c", 2),
    ]


def test_probe_prunes_buckets_not_full_scan(spark, lake_dir):
    """The probe's scan must list strictly fewer files than the snapshot —
    the partition-pruning contract that makes a 10^10-row index probeable."""
    t = _prefix_table(spark, lake_dir, num_buckets=16)
    rows = spark.createDataFrame(
        [(f"g{j}", i, 1, "x") for j in range(64) for i in range(2)],
        "grp string, item int, seq long, val string",
    )
    t.merge(rows, epoch_id="seed")
    all_files = set(t.read().inputFiles())
    probed = t.probe(spark.createDataFrame([("g0",)], "grp string"))
    probe_files = set(probed.inputFiles())
    assert probe_files and probe_files < all_files
    assert sorted(r.item for r in probed.collect()) == [0, 1]


def test_probe_respects_tombstones_and_lww(spark, lake_dir):
    t = LakeTable(
        spark,
        lake_dir,
        key_cols=["grp", "item"],
        order_col="seq",
        bucket_cols=["grp"],
        num_buckets=8,
        op_col="op",
    )
    schema = "grp string, item int, seq long, op string, val string"
    t.merge(spark.createDataFrame(
        [("a", 1, 1, "insert", "old"), ("a", 2, 1, "insert", "stays")], schema
    ))
    t.merge(spark.createDataFrame(
        [("a", 1, 2, "delete", None), ("a", 2, 2, "update", "new")], schema
    ))
    got = {(r.grp, r.item): r.val for r in
           t.probe(spark.createDataFrame([("a",)], "grp string")).collect()}
    assert got == {("a", 2): "new"}


def test_probe_missing_bucket_col_raises(spark, lake_dir):
    t = _prefix_table(spark, lake_dir)
    t.merge(_seed_rows(spark), epoch_id="seed")
    with pytest.raises(ClaimCheckError, match="missing bucket column"):
        t.probe(spark.createDataFrame([(1,)], "item int"))


# -- MinHashIndex ------------------------------------------------------------

_BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill in the late afternoon sun"
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _index(spark, root, **kw):
    kw.setdefault("hasher", "md5")
    kw.setdefault("num_buckets", 16)
    kw.setdefault("k", 4)
    return MinHashIndex(spark, root, **kw)


def test_probe_before_any_add_is_empty(spark, lake_dir):
    idx = _index(spark, lake_dir)
    out = idx.probe(_docs(spark, [(1, _BASE)]), threshold=0.5)
    assert out.columns == ["probe_id", "indexed_id", "est_jaccard_ppm"]
    assert out.count() == 0


def test_cross_batch_near_dup_found(spark, lake_dir):
    idx = _index(spark, lake_dir)
    idx.add(_docs(spark, [(1, _BASE), (2, "completely unrelated content here")]),
            epoch_id="b1")
    # batch 2: doc 10 is a near-copy of indexed doc 1, doc 11 is novel
    probe = _docs(spark, [(10, _BASE + " extra"), (11, "nothing like the others at all")])
    got = idx.probe(probe, threshold=0.5).collect()
    assert {(r.probe_id, r.indexed_id) for r in got} == {(10, 1)}
    ppm = got[0].est_jaccard_ppm
    assert 500_000 <= ppm <= 1_000_000


def test_exact_duplicate_estimates_full_agreement(spark, lake_dir):
    idx = _index(spark, lake_dir)
    idx.add(_docs(spark, [(1, _BASE)]), epoch_id="b1")
    got = idx.probe(_docs(spark, [(2, _BASE)]), threshold=0.9).collect()
    assert [(r.probe_id, r.indexed_id, r.est_jaccard_ppm) for r in got] == [
        (2, 1, 1_000_000)
    ]


def test_same_id_resend_is_not_its_own_dup(spark, lake_dir):
    idx = _index(spark, lake_dir)
    idx.add(_docs(spark, [(1, _BASE)]), epoch_id="b1")
    assert idx.probe(_docs(spark, [(1, _BASE)]), threshold=0.5).count() == 0


def test_add_is_idempotent_per_epoch(spark, lake_dir):
    idx = _index(spark, lake_dir)
    batch = _docs(spark, [(1, _BASE)])
    idx.add(batch, epoch_id="b1")
    v_bands = idx.bands_t.current_version()
    stats = idx.add(batch, epoch_id="b1")  # replayed micro-batch
    assert stats["bands"]["skipped"] and stats["sigs"]["skipped"]
    assert idx.bands_t.current_version() == v_bands


def test_add_appends_without_rewriting_existing_files(spark, lake_dir):
    """The O(batch) ingest contract: add() must APPEND — a later epoch's
    commit leaves every earlier file in place (merge-based ingest would
    rewrite all buckets the batch's high-entropy band keys touch, i.e. the
    whole index, every epoch)."""
    idx = _index(spark, lake_dir)
    idx.add(_docs(spark, [(1, _BASE), (2, "first epoch other doc")]), epoch_id="b1")
    m1 = idx.bands_t._manifest(idx.bands_t.current_version())
    files_e1 = {f for fs in m1["files"].values() for f in fs}
    idx.add(_docs(spark, [(3, "second epoch doc"), (4, "another one")]), epoch_id="b2")
    m2 = idx.bands_t._manifest(idx.bands_t.current_version())
    files_e2 = {f for fs in m2["files"].values() for f in fs}
    assert files_e1 < files_e2  # strictly grew; nothing rewritten/dropped
    # probe still resolves against both epochs
    pairs = idx.probe(_docs(spark, [(99, _BASE)]), threshold=0.5)
    assert {r.indexed_id for r in pairs.collect()} == {1}


def test_param_mismatch_refused_on_reopen(spark, lake_dir):
    _index(spark, lake_dir, num_hashes=32, bands=8)
    with pytest.raises(ClaimCheckError, match="was built with"):
        _index(spark, lake_dir, num_hashes=16, bands=8)


def test_unknown_index_metadata_key_refused_on_reopen(spark, lake_dir):
    """_index.json is compared strictly: besides the hash params only the
    known metadata key band_sig may appear. A key this version does not
    know (say, a flag pinned by a later version) must fail the open, not be
    ignored — ignoring it would misread the index's format."""
    import json as _json
    from pathlib import Path

    _index(spark, lake_dir)
    ppath = Path(lake_dir) / "_index.json"
    stored = _json.loads(ppath.read_text())
    assert stored["band_sig"] is True
    ppath.write_text(_json.dumps({**stored, "band_layout": "v3"}))
    with pytest.raises(ClaimCheckError, match=r"unrecognized setting\(s\) \['band_layout'\]"):
        _index(spark, lake_dir)
    # the known metadata key alone still opens
    ppath.write_text(_json.dumps(stored))
    assert _index(spark, lake_dir)._band_sig is True


def test_ingest_indexes_only_survivors(spark, lake_dir):
    idx = _index(spark, lake_dir)
    idx.add(_docs(spark, [(1, _BASE)]), epoch_id="b1")
    out = idx.ingest(
        _docs(spark, [(10, _BASE), (11, "fresh novel content unlike anything")]),
        threshold=0.5,
        epoch_id="b2",
    )
    assert {(r.probe_id, r.indexed_id) for r in out["dups"].collect()} == {(10, 1)}
    # the dup was NOT indexed; the novel doc was
    indexed = {r.doc_id for r in idx.sigs_t.read().collect()}
    assert indexed == {1, 11}


def test_index_compact_preserves_probe_and_shrinks_files(spark, lake_dir):
    """Maintenance contract: compact()+vacuum() must not change probe results
    while consolidating the per-epoch files a long-lived streaming index
    accretes."""
    idx = _index(spark, lake_dir)
    for e in range(4):
        idx.add(_docs(spark, [(e * 10 + 1, _BASE + f" v{e}"), (e * 10 + 2, f"novel {e} content")]),
                epoch_id=f"b{e}")
    probe = _docs(spark, [(99, _BASE)])
    before = sorted(map(tuple, idx.probe(probe, threshold=0.3).collect()))
    assert before
    files_before = len(list((idx.bands_t.root / "data").rglob("*.parquet")))
    idx.compact()
    removed = idx.vacuum(keep_versions=1)
    files_after = len(list((idx.bands_t.root / "data").rglob("*.parquet")))
    assert sorted(map(tuple, idx.probe(probe, threshold=0.3).collect())) == before
    assert files_after < files_before
    assert removed["bands"] > 0


def test_streaming_foreachbatch_ingest(spark, lake_dir, tmp_path):
    """The index's CDC position: a real Structured Streaming foreachBatch
    drives ingest() one micro-batch per file; cross-batch dups are detected
    and only survivors are indexed."""
    src = tmp_path / "stream-src"
    b0 = _docs(spark, [(1, _BASE), (2, "unique first-batch content")])
    b1 = _docs(spark, [(10, _BASE + " tail"), (11, "zebra quantum flute marble ocean nine")])
    b0.coalesce(1).write.parquet(str(src / "b0"))
    b1.coalesce(1).write.parquet(str(src / "b1"))
    idx = _index(spark, lake_dir)
    seen: dict[int, list] = {}

    def sink(df, bid):
        out = idx.ingest(df, threshold=0.5, epoch_id=bid)
        seen[bid] = out["dups"].collect()

    (
        spark.readStream.schema(b0.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination(120)
    )
    all_dups = {(r.probe_id, r.indexed_id) for rows in seen.values() for r in rows}
    assert all_dups == {(10, 1)}
    indexed = {r.doc_id for r in idx.sigs_t.read().collect()}
    assert indexed == {1, 2, 11}  # the near-dup resend was never indexed


# -- ExactDupIndex -----------------------------------------------------------

from kafka_connect_claim_check_smt_spark.operators.dedup_index import (  # noqa: E402
    ExactDupIndex,
    exact_index_sql,
)


def test_exact_index_resend_resolves_to_representative(spark, lake_dir):
    idx = ExactDupIndex(spark, lake_dir, num_buckets=8)
    idx.add(_docs(spark, [(5, "alpha"), (6, "beta")]), epoch_id="e0")
    idx.add(_docs(spark, [(7, "gamma")]), epoch_id="e1")
    resent = _docs(spark, [(100, "beta"), (101, "brand new"), (102, "gamma")])
    got = sorted(map(tuple, idx.probe(resent).collect()))
    assert got == [(100, 6), (102, 7)]


def test_exact_index_min_id_wins_across_epoch_order(spark, lake_dir, tmp_path):
    """Representative = smallest doc_id ever indexed, regardless of the order
    epochs arrive (the -doc_id LWW trick makes add() commutative)."""
    a = ExactDupIndex(spark, str(tmp_path / "a"), num_buckets=8)
    a.add(_docs(spark, [(9, "same text")]), epoch_id="e0")
    a.add(_docs(spark, [(3, "same text")]), epoch_id="e1")
    b = ExactDupIndex(spark, str(tmp_path / "b"), num_buckets=8)
    b.add(_docs(spark, [(3, "same text")]), epoch_id="e0")
    b.add(_docs(spark, [(9, "same text")]), epoch_id="e1")
    probe = _docs(spark, [(50, "same text")])
    assert [tuple(r) for r in a.probe(probe).collect()] == [(50, 3)]
    assert [tuple(r) for r in b.probe(probe).collect()] == [(50, 3)]


def test_exact_index_idempotent_and_empty_probe(spark, lake_dir):
    idx = ExactDupIndex(spark, lake_dir, num_buckets=8)
    assert idx.probe(_docs(spark, [(1, "x")])).count() == 0
    batch = _docs(spark, [(1, "x")])
    idx.add(batch, epoch_id="e0")
    v = idx.table.current_version()
    stats = idx.add(batch, epoch_id="e0")
    assert stats["skipped"] and idx.table.current_version() == v
    # re-sent under its own id: not its own duplicate
    assert idx.probe(batch).count() == 0


def test_exact_index_matches_duckdb_twin(spark, lake_dir):
    """Twin check on real sf0.001 documents with the re-key construction the
    driver query uses (no byte-identical pairs exist in the corpus itself)."""
    import duckdb

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    idx = ExactDupIndex(spark, lake_dir, num_buckets=16)
    idx.add(docs.filter(F.col("doc_id") % 2 == 0), epoch_id="e0")
    idx.add(docs.filter(F.col("doc_id") % 2 == 1), epoch_id="e1")
    resent = docs.filter(F.col("doc_id") % 10 == 0).withColumn(
        "doc_id", F.col("doc_id") + F.lit(1_000_000)
    )
    got = sorted(map(tuple, idx.probe(resent).collect()))
    con = duckdb.connect()
    con.sql(
        "create view documents as select * from "
        "'/root/testdata/sf0.001/documents.parquet'"
    )
    rel = con.sql(
        exact_index_sql(
            "documents",
            "doc_id",
            "text",
            indexed_sql="SELECT doc_id AS id, text AS txt FROM documents",
            probe_sql=(
                "SELECT doc_id + 1000000 AS id, text AS txt "
                "FROM documents WHERE doc_id % 10 = 0"
            ),
        )
    )
    want = sorted(tuple(d[c] for c in rel.columns) for d in rel.arrow().to_pylist())
    assert got == want and got


def test_probe_invariant_to_epoch_split(spark, lake_dir, tmp_path):
    """Cross-epoch accumulation must be associative: probing against an index
    built in ONE add equals probing against the same docs split across three
    epochs in a different order. Random-ish corpus with planted near-dups."""
    import random

    rng = random.Random(11)
    words = [f"w{j}" for j in range(40)]
    docs = []
    for i in range(30):
        base = " ".join(rng.choices(words, k=30))
        docs.append((i, base))
        if i % 5 == 0:
            docs.append((1000 + i, base + " tailbit"))
    probe = _docs(spark, [(5000 + i, t) for i, (_, t) in enumerate(docs[:8])])

    one = _index(spark, str(tmp_path / "one"))
    one.add(_docs(spark, docs), epoch_id="all")
    split = _index(spark, str(tmp_path / "split"))
    thirds = [docs[0::3], docs[2::3], docs[1::3]]  # deliberately out of order
    for e, part in enumerate(thirds):
        split.add(_docs(spark, part), epoch_id=f"e{e}")

    a = sorted(map(tuple, one.probe(probe, threshold=0.5).collect()))
    b = sorted(map(tuple, split.probe(probe, threshold=0.5).collect()))
    assert a == b and a


def test_exact_index_invariant_to_epoch_split(spark, tmp_path):
    texts = [(i, f"content number {i % 7}") for i in range(20)]  # forced dups
    probe = _docs(spark, [(900 + i, f"content number {i % 9}") for i in range(9)])
    one = ExactDupIndex(spark, str(tmp_path / "e1"), num_buckets=8)
    one.add(_docs(spark, texts), epoch_id="all")
    split = ExactDupIndex(spark, str(tmp_path / "e2"), num_buckets=8)
    split.add(_docs(spark, texts[1::2]), epoch_id="a")
    split.add(_docs(spark, texts[0::2]), epoch_id="b")
    a = sorted(map(tuple, one.probe(probe).collect()))
    b = sorted(map(tuple, split.probe(probe).collect()))
    assert a == b and a
    # min-id representative regardless of split/order
    assert all(indexed_id == (pid - 900) % 9 for pid, indexed_id in a)


def test_probe_matches_duckdb_twin_on_testdata(spark, lake_dir):
    """End-to-end twin check on real sf0.001 documents: index the even half,
    probe the odd half, and require byte-identical rows from DuckDB replaying
    the same permutation family + banding + signature-agreement arithmetic."""
    import duckdb

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    idx = _index(spark, lake_dir, k=8)
    idx.add(docs.filter(F.col("doc_id") % 2 == 0), epoch_id="even")
    got = sorted(
        map(tuple, idx.probe(docs.filter(F.col("doc_id") % 2 == 1), threshold=0.35)
            .collect())
    )
    con = duckdb.connect()
    con.sql(
        "create view documents as select * from "
        "'/root/testdata/sf0.001/documents.parquet'"
    )
    rel = con.sql(
        minhash_index_sql(
            "documents",
            "doc_id",
            "text",
            indexed_pred="t.doc_id % 2 = 0",
            probe_pred="t.doc_id % 2 = 1",
            k=8,
            threshold=0.35,
            hasher="md5",
        )
    )
    want = sorted(tuple(d[c] for c in rel.columns) for d in rel.arrow().to_pylist())
    assert got == want


def _sdocs(spark, rows):
    return spark.createDataFrame(rows, "doc_id string, text string")


def test_exact_index_string_ids_roundtrip_and_commutative(spark, tmp_path):
    """String/UUID doc ids (the reference's own blob keys are UUIDs) must be
    preserved natively — round 4's cast('long') NULLed them and probe
    silently returned nothing. Representative for strings = lexicographic
    max id, converging across epoch orders like the integral min-id rule."""
    a = ExactDupIndex(spark, str(tmp_path / "sa"), num_buckets=8)
    a.add(_sdocs(spark, [("uuid-b", "same text"), ("uuid-x", "other")]), epoch_id="e0")
    a.add(_sdocs(spark, [("uuid-d", "same text")]), epoch_id="e1")
    b = ExactDupIndex(spark, str(tmp_path / "sb"), num_buckets=8)
    b.add(_sdocs(spark, [("uuid-d", "same text")]), epoch_id="e0")
    b.add(_sdocs(spark, [("uuid-b", "same text"), ("uuid-x", "other")]), epoch_id="e1")
    probe = _sdocs(spark, [("uuid-zz", "same text"), ("uuid-new", "brand new")])
    got_a = sorted(map(tuple, a.probe(probe).collect()))
    got_b = sorted(map(tuple, b.probe(probe).collect()))
    assert got_a == got_b == [("uuid-zz", "uuid-d")]
    # a doc re-sent under its own (string) id is not its own duplicate
    assert a.probe(_sdocs(spark, [("uuid-d", "same text")])).count() == 0
    # empty-index probe carries the string schema, not long
    empty = ExactDupIndex(spark, str(tmp_path / "se"), num_buckets=8)
    out = empty.probe(probe)
    assert out.count() == 0
    assert [f.dataType.typeName() for f in out.schema.fields] == ["string", "string"]


def test_exact_index_rejects_unsupported_id_type(spark, tmp_path):
    idx = ExactDupIndex(spark, str(tmp_path / "bad"), num_buckets=8)
    docs = spark.createDataFrame([(1.5, "x")], "doc_id double, text string")
    with pytest.raises(ClaimCheckError, match="supported id types"):
        idx.add(docs, epoch_id="e0")
    with pytest.raises(ClaimCheckError, match="supported id types"):
        idx.probe(docs)


def test_exact_index_mixed_id_types_fail_loud(spark, tmp_path):
    """A long-keyed index probed/extended with string ids must error at the
    schema boundary, never silently mis-join."""
    idx = ExactDupIndex(spark, str(tmp_path / "mix"), num_buckets=8)
    idx.add(_docs(spark, [(1, "x")]), epoch_id="e0")
    with pytest.raises(ClaimCheckError):
        idx.add(_sdocs(spark, [("s1", "y")]), epoch_id="e1")


def test_full_maintenance_lifecycle_under_streaming_ingest(spark, tmp_path):
    """Round-4 verdict #6: N micro-batches through ingest() with compact()
    and vacuum() interleaved mid-stream — probe results must be invariant
    across every maintenance step, and the file count must actually drop."""
    idx = _index(spark, str(tmp_path / "life"))
    # 6 micro-batches with DISJOINT per-batch vocabularies (so originals
    # never cross-match): each introduces one new base doc and one near-dup
    # of the PREVIOUS batch's original (one word changed), so cross-epoch
    # probes always have work to do
    def text(b, mutate=False):
        # random 8-letter words per batch: shingling is CHARACTER k-grams, so
        # structured tokens like "tok{b}x{i}" share most 4-grams across
        # batches — random streams keep cross-batch jaccard ~0
        import random as _r

        rng = _r.Random(1000 + b)
        words = [
            "".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(8))
            for _ in range(30)
        ]
        if mutate:
            words[15] = "mutatedw"
        return " ".join(words)

    batches = []
    for b in range(6):
        rows = [(100 * b + 1, text(b))]
        if b > 0:
            rows.append((100 * b + 2, text(b - 1, mutate=True)))
        batches.append(rows)

    def n_files(t):
        return len(list((t.root / "data").rglob("*.parquet")))

    seen_dups = {}
    for b, rows in enumerate(batches):
        out = idx.ingest(_docs(spark, rows), threshold=0.5, epoch_id=f"e{b}")
        seen_dups[b] = sorted(map(tuple, out["dups"].select("probe_id", "indexed_id").collect()))
        if b == 2:
            files_before = n_files(idx.bands_t)
            probe_before = sorted(
                map(tuple, idx.probe(_docs(spark, batches[1]), threshold=0.5)
                    .select("probe_id", "indexed_id").collect())
            )
            idx.compact()
            idx.vacuum(keep_versions=1)
            assert n_files(idx.bands_t) <= files_before
            probe_after = sorted(
                map(tuple, idx.probe(_docs(spark, batches[1]), threshold=0.5)
                    .select("probe_id", "indexed_id").collect())
            )
            assert probe_after == probe_before
    # every batch-b near-dup resolved to batch b-1's original
    for b in range(1, 6):
        assert (100 * b + 2, 100 * (b - 1) + 1) in seen_dups[b], (b, seen_dups[b])
    # final compact+vacuum cycle: results stable, files consolidated
    final_probe = lambda: sorted(  # noqa: E731
        map(tuple, idx.probe(_docs(spark, [(999, text(4))]),
                             threshold=0.5).select("probe_id", "indexed_id").collect())
    )
    before = final_probe()
    files_pre = n_files(idx.bands_t) + n_files(idx.sigs_t)
    idx.compact()
    removed = idx.vacuum(keep_versions=1)
    files_post = n_files(idx.bands_t) + n_files(idx.sigs_t)
    assert removed["bands"] + removed["sigs"] > 0
    assert files_post < files_pre
    assert final_probe() == before and before != []
    # metadata half of expiry: manifest history bounded, probe + the
    # exactly-once ingest guard both survive (epoch log, not manifests)
    expired = idx.expire_versions(keep_versions=1)
    assert expired["bands"] + expired["sigs"] > 0
    assert final_probe() == before
    assert idx.ingest(_docs(spark, batches[3]), threshold=0.5, epoch_id="e3")[
        "stats"
    ]["skipped"]


def test_describe_stats_and_probe_pruning_counters(spark, tmp_path):
    """LakeTable.stats() + last_probe_stats make the O(batch) probe claim
    assertable directly: a narrow probe must scan fewer buckets than the
    index has occupied (round-4 verdict stretch #8)."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    idx = ExactDupIndex(spark, str(tmp_path / "st"), num_buckets=16)
    idx.add(docs, epoch_id="e0")
    d = idx.describe()
    assert d["table"]["rows"] == d["table"]["rows"] and d["table"]["rows"] > 0
    assert d["table"]["rows"] == idx.table.read().count()
    assert 0 < d["table"]["buckets_with_data"] <= 16
    assert d["last_probe"] is None  # no probe yet
    # single-doc probe: its one digest hashes to exactly one bucket
    one = docs.limit(1).withColumn("doc_id", F.col("doc_id") + 1_000_000)
    idx.probe(one).collect()
    lp = idx.describe()["last_probe"]
    assert lp["buckets_scanned"] <= 1
    assert lp["buckets_scanned"] < lp["buckets_with_data"]
    assert lp["files_scanned"] < lp["files_total"]


def test_minhash_describe_counters(spark, tmp_path):
    idx = _index(spark, str(tmp_path / "mh"), num_buckets=16)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    idx.add(docs, epoch_id="e0")
    one = docs.limit(1).withColumn("doc_id", F.col("doc_id") + 1_000_000)
    idx.probe(one, threshold=0.5).collect()
    d = idx.describe()
    assert d["bands"]["rows"] > 0 and d["sigs"]["rows"] > 0
    lp = d["last_probe"]
    # one doc emits `bands` band keys -> at most that many band buckets
    assert 0 < lp["buckets_scanned"] <= idx.bands
    assert lp["buckets_scanned"] < lp["buckets_with_data"]


def test_remove_retracts_doc_and_allows_readd(spark, tmp_path):
    """remove(): a removed doc stops matching probes immediately (no text
    needed — band keys reconstructed from stored signatures), unknown ids
    are a no-op, removal is epoch-idempotent, and the doc can re-index."""
    idx = _index(spark, str(tmp_path / "rm"))
    idx.add(_docs(spark, [(1, _BASE), (2, "completely unrelated content here")]),
            epoch_id="e0")
    probe = _docs(spark, [(10, _BASE + " extra")])
    assert {(r.probe_id, r.indexed_id) for r in idx.probe(probe, threshold=0.5).collect()} == {(10, 1)}
    ids = spark.createDataFrame([(1,), (999,)], "doc_id long")  # 999 unknown
    idx.remove(ids, epoch_id="rm0")
    assert idx.probe(probe, threshold=0.5).count() == 0
    # doc 2 untouched
    assert {r.doc_id for r in idx.sigs_t.read().collect()} == {2}
    # idempotent replay of the remove epoch
    v = idx.sigs_t.current_version()
    assert idx.remove(ids, epoch_id="rm0")["sigs"]["skipped"]
    assert idx.sigs_t.current_version() == v
    # re-add after removal works (monotone seq beats the tombstone)
    idx.add(_docs(spark, [(1, _BASE)]), epoch_id="e1")
    assert {(r.probe_id, r.indexed_id) for r in idx.probe(probe, threshold=0.5).collect()} == {(10, 1)}


def test_remove_then_compact_drops_rows_physically(spark, tmp_path):
    idx = _index(spark, str(tmp_path / "rmgc"))
    idx.add(_docs(spark, [(1, _BASE), (2, "unrelated text entirely")]), epoch_id="e0")
    idx.remove(spark.createDataFrame([(1,)], "doc_id long"), epoch_id="rm")
    # watermark above every seq: tombstones are GC-eligible
    idx.compact()
    # tombstoned doc 1 must not resurrect after compaction
    probe = _docs(spark, [(10, _BASE)])
    assert idx.probe(probe, threshold=0.5).count() == 0
    assert {r.doc_id for r in idx.sigs_t.read().collect()} == {2}


def test_remove_on_empty_index_is_noop(spark, tmp_path):
    idx = _index(spark, str(tmp_path / "rme"))
    out = idx.remove(spark.createDataFrame([(1,)], "doc_id long"))
    assert out["sigs"]["skipped"] and out["bands"]["skipped"]


def test_unchanged_readd_writes_nothing(spark, lake_dir):
    """A same-text re-add in a later epoch is detected by the bucket-pruned
    sig probe and writes NO rows (the epoch still commits for exactly-once),
    so index size never grows under replayed or re-crawled identical docs."""
    idx = _index(spark, lake_dir)
    idx.add(_docs(spark, [(1, _BASE), (2, "unrelated filler content")]), epoch_id="e0")
    sig_rows = idx.sigs_t.read().count()
    band_rows = idx.bands_t.read().count()
    idx.add(_docs(spark, [(1, _BASE)]), epoch_id="e1")  # same-text re-add
    assert idx.sigs_t.read().count() == sig_rows
    assert idx.bands_t.read().count() == band_rows
    assert "e1" in idx.sigs_t.committed_epochs()
    got = idx.probe(_docs(spark, [(99, _BASE)]), threshold=0.5).collect()
    assert {(r.probe_id, r.indexed_id, r.est_jaccard_ppm) for r in got} == {
        (99, 1, 1_000_000)
    }


def test_changed_text_readd_retracts_stale_bands(spark, lake_dir):
    """A changed-text re-add tombstones the doc's OLD band keys at add time,
    so probes for the old text stop matching the doc and a later resolving
    compaction cannot orphan unretractable band rows (round-5 review #2)."""
    idx = _index(spark, lake_dir)
    new_text = "entirely different body about completely other things now"
    idx.add(_docs(spark, [(1, _BASE), (2, "unrelated filler content")]), epoch_id="e0")
    idx.add(_docs(spark, [(1, new_text)]), epoch_id="e1")  # changed re-add
    # old text no longer matches doc 1 (its old band keys are tombstoned AND
    # its stored sig is superseded); new text matches exactly
    old_probe = idx.probe(_docs(spark, [(99, _BASE)]), threshold=0.5).collect()
    assert {(r.probe_id, r.indexed_id) for r in old_probe} == set()
    new_probe = idx.probe(_docs(spark, [(99, new_text)]), threshold=0.9).collect()
    assert {(r.probe_id, r.indexed_id, r.est_jaccard_ppm) for r in new_probe} == {
        (99, 1, 1_000_000)
    }
    # resolving compaction drops the superseded sig row; probes invariant;
    # remove() afterwards fully retracts the doc (nothing orphaned)
    res = idx.compact(resolve_lww=True, min_files_per_bucket=1)
    assert not res["sigs"]["skipped"]
    assert idx.sigs_t.read().count() == 2  # latest sig per doc only
    assert idx.probe(_docs(spark, [(99, new_text)]), threshold=0.9).count() == 1
    idx.remove(_docs(spark, [(1, "")]).select("doc_id"), epoch_id="rm")
    assert idx.probe(_docs(spark, [(99, new_text)]), threshold=0.5).count() == 0
    # a threshold nothing reaches: maintenance tick is a clean no-op
    assert idx.compact(min_files_per_bucket=999)["sigs"]["skipped"]


def test_shared_band_readd_never_tombstones_live_bands(spark, lake_dir):
    """A SMALL edit shares band keys with the old signature (LSH's premise —
    the case test_changed_text_readd_retracts_stale_bands never hits). The
    re-add's tombstone merge and new-band append both carry the same seq, and
    lww_dedup breaks ties arbitrarily, so a delete written for a band key the
    new signature STILL HOLDS could win the tie under the default
    compact(resolve_lww=True) and silently drop the doc's live band row
    (round-5 ADVICE, high). The retraction must cover exactly old-minus-new."""
    from kafka_connect_claim_check_smt_spark.operators.minhash import band_table

    idx = _index(spark, lake_dir)
    # " too" measured against _BASE under (md5, k=4, 32 hashes, 8 bands):
    # 6 shared band keys, 2 old-only, 2 new-only — both preconditions hold
    new_text = _BASE + " too"
    idx.add(_docs(spark, [(1, _BASE)]), epoch_id="e0")

    def band_keys(text):
        per_doc = idx._featurize(_docs(spark, [(1, text)]), "doc_id", "text")
        rows = band_table(
            per_doc, bands=idx.bands, rows_per_band=idx.rows_per_band
        ).collect()
        return {(r.band, r.bh) for r in rows}

    old_keys, new_keys = band_keys(_BASE), band_keys(new_text)
    # precondition: the edit genuinely shares bands AND changes at least one
    shared = old_keys & new_keys
    assert shared and old_keys != new_keys

    idx.add(_docs(spark, [(1, new_text)]), epoch_id="e1")
    # raw store audit: no delete row may target a key the new sig holds
    raw = idx.bands_t.read(include_tombstones=True).collect()
    deletes = {(r.band, r.bh) for r in raw if r.op == "delete"}
    assert deletes == old_keys - new_keys  # exactly old-minus-new, no ties
    # LWW resolution therefore cannot drop live rows, whichever side a
    # same-seq tie WOULD have taken
    res = idx.compact(resolve_lww=True, min_files_per_bucket=1)
    assert not res["bands"]["skipped"]
    live = {
        (r.band, r.bh)
        for r in idx.bands_t.read().collect()
        if r.doc_id == 1 and r.op != "delete"
    }
    assert live == new_keys
    got = idx.probe(_docs(spark, [(99, new_text)]), threshold=0.9).collect()
    assert {(r.probe_id, r.indexed_id, r.est_jaccard_ppm) for r in got} == {
        (99, 1, 1_000_000)
    }


def test_legacy_band_format_index_stays_legacy(spark, tmp_path):
    """Band-row format is pinned per index at creation: an index born before
    the denormalized sig column (its _index.json has no band_sig key) must
    keep skinny band rows for its whole life — add/remove never write sig
    and probe takes the two-probe path — because evolving it in place would
    leave NULL sigs on old rows and the fused verify would silently drop
    those partners. A fresh index pins the new format."""
    import json as _json

    root = tmp_path / "legacy"
    root.mkdir()
    (root / "_index.json").write_text(
        _json.dumps(
            {"k": 4, "num_hashes": 32, "bands": 8, "seed": 42, "hasher": "md5"}
        )
    )
    idx = _index(spark, str(root))
    assert idx._band_sig is False
    idx.add(
        _docs(spark, [(1, _BASE), (2, "unrelated filler content")]), epoch_id="e0"
    )
    assert "sig" not in idx.bands_t.read().columns
    got = idx.probe(_docs(spark, [(99, _BASE)]), threshold=0.5).collect()
    assert {(r.probe_id, r.indexed_id, r.est_jaccard_ppm) for r in got} == {
        (99, 1, 1_000_000)
    }
    # changed re-add and removal still work through the legacy write path
    idx.add(_docs(spark, [(1, _BASE + " too")]), epoch_id="e1")
    assert "sig" not in idx.bands_t.read(include_tombstones=True).columns
    assert idx.probe(_docs(spark, [(99, _BASE + " too")]), threshold=0.9).count() == 1
    idx.remove(_docs(spark, [(1, "")]).select("doc_id"), epoch_id="rm")
    assert idx.probe(_docs(spark, [(99, _BASE + " too")]), threshold=0.5).count() == 0
    # a fresh index pins the sig-carrying format
    idx2 = _index(spark, str(tmp_path / "fresh"))
    assert idx2._band_sig is True
    idx2.add(_docs(spark, [(5, _BASE)]), epoch_id="e0")
    assert "sig" in idx2.bands_t.read().columns


def test_exact_index_resolving_compact_preserves_extreme(spark, lake_dir):
    """Appended adds leave one row per digest PER EPOCH; resolving compaction
    collapses them to the LWW winner, which the neg_id order encode makes the
    probe-time extreme — representatives identical before and after, integral
    (min) and string (max) alike."""
    from kafka_connect_claim_check_smt_spark.operators.dedup_index import ExactDupIndex

    for kind, mk, rows_a, rows_b, expect in [
        ("long", lambda r: spark.createDataFrame(r, "doc_id long, text string"),
         [(9, "same text"), (6, "other")], [(3, "same text")], 3),
        ("string", lambda r: spark.createDataFrame(r, "doc_id string, text string"),
         [("uuid-b", "same text"), ("uuid-x", "other")], [("uuid-d", "same text")], "uuid-d"),
    ]:
        idx = ExactDupIndex(spark, f"{lake_dir}/{kind}", num_buckets=8)
        idx.add(mk(rows_a), epoch_id="e0")
        idx.add(mk(rows_b), epoch_id="e1")
        rows_before = idx.table.read().count()
        assert rows_before == 3  # "same text" indexed twice + "other"
        probe = mk([(rows_a[0][0], "same text")])
        got = idx.probe(probe).collect()
        assert [(r.probe_id, r.indexed_id) for r in got] == [(rows_a[0][0], expect)]
        idx.compact(resolve_lww=True)
        assert idx.table.read().count() == 2  # one row per digest
        got2 = idx.probe(probe).collect()
        assert [(r.probe_id, r.indexed_id) for r in got2] == [(rows_a[0][0], expect)]
        assert idx.vacuum() > 0
