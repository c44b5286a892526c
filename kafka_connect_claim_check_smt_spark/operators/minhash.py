"""Near-duplicate detection: MinHash+LSH, SimHash, n-gram Jaccard.

All the signature math is **pure Catalyst higher-order functions** — shingling
via ``sequence``+``transform``+``substring``, MinHash permutations as codegen'd
min() aggregates over exploded shingle hashes, banding via ``concat_ws`` —
so the whole pipeline stays JVM-side in whole-stage codegen. The only shuffles
are the LSH band groupBys/joins, keyed by band hash (uniform by construction —
no skew).

Shingle hashing is **hex-digest-derived**: the first 15 hex chars of a
digest parsed as a 60-bit integer. That exact value is computable in any
engine (DuckDB: ``('0x' || substr(md5(g), 1, 15))::BIGINT``), which is what
makes every operator here fully oracle-checkable — the round-1 xxhash64
variant was Spark-only and could only be rows-count-checked. Two portable
algos: ``hasher="md5"`` (the driver queries' choice — 2.5× cheaper per gram,
measured 8.0→3.2 s on sf0.1's shingle stream) and ``"sha256"`` (the default,
for pipelines that standardize on one digest). ``hasher="xxhash64"`` remains
the opt-in fastest path (same plan shape, no cross-engine parity).

Scale shape (10^10 docs): shingle/signature computation is scan-parallel;
candidate generation is |bands| × groupBy on band hash; verification touches
only candidate pairs, and the shingle sets it needs are **recomputed for
candidate docs only** (semi-join + re-shingle) instead of caching every doc's
set. Intra-query reuse (the signature table, the candidate set, the verify
sets each feed 2-3 consumers) goes through localCheckpoint — auto-reclaimed
by the ContextCleaner, no persist lifecycle, and at web scale the signature
table (num_hashes longs/doc) is exactly what a production dedup pipeline
materializes anyway. This is the standard web-dedup plan (the MapReduce-era
minhash pipeline re-expressed declaratively).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# deterministic permutation constants (large odd multipliers, fixed seed)
_MERSENNE = (1 << 61) - 1


def _perm_constants(n: int, seed: int) -> list[tuple[int, int]]:
    out = []
    x = seed * 2654435761 % _MERSENNE
    for _ in range(n):
        x = (x * 6364136223846793005 + 1442695040888963407) % _MERSENNE
        a = (x | 1) % (1 << 31)
        x = (x * 6364136223846793005 + 1442695040888963407) % _MERSENNE
        b = x % (1 << 31)
        out.append((a, b))
    return out


def hash60(c: Column, algo: str = "sha256") -> Column:
    """60-bit positive hash from a hex digest: engine-portable (bit-identical
    in DuckDB via :func:`hash60_sql`), always ≥ 0 so ``%`` and ``pmod``
    agree. ``algo="md5"`` is ~2.5× cheaper per gram (measured on sf0.1:
    8.0 s → 3.2 s for the full shingle stream) with the same portability —
    collision quality is what matters here, not cryptographic strength."""
    digest = F.md5(c) if algo == "md5" else F.sha2(c, 256)
    return F.conv(F.substring(digest, 1, 15), 16, 10).cast("long")


def hash60_sql(expr: str, algo: str = "sha256") -> str:
    """DuckDB twin of :func:`hash60` over a SQL expression. Raises on algos
    with no DuckDB twin (xxhash64 is Spark-only) rather than silently
    generating an oracle that never corresponded to the Spark plan."""
    if algo not in ("sha256", "md5"):
        raise ValueError(f"no DuckDB twin for hasher {algo!r} (sha256/md5 only)")
    fn = "md5" if algo == "md5" else "sha256"
    return f"('0x' || substr({fn}({expr}), 1, 15))::BIGINT"


def _gram_hash(c: Column, hasher: str) -> Column:
    if hasher in ("sha256", "md5"):
        return hash60(c, hasher)
    if hasher == "xxhash64":
        return F.xxhash64(c)
    raise ValueError(f"unknown hasher {hasher!r}")


def _spread(df: DataFrame, key: str, partitions: int | None) -> DataFrame:
    """Hash-repartition the corpus by doc id before the digest-heavy shingle
    stage — UNLESS it is already at least that wide.

    Why this exists: the per-gram digest is the dominant CPU cost of every
    near-dup operator here, and it is computed in the INPUT's partitioning.
    A corpus read from one parquet file runs the whole digest stream on one
    core no matter how many executors exist (measured: 23 s -> 6.8 s warm at
    sf0.1/local[32] from this change alone). Hash-partitioning by id first is
    also strictly cheaper than letting the downstream groupBy(id) shuffle:
    the exchange moves the raw text bytes instead of the ~8x-larger exploded
    (id, gram-hash) stream, and the aggregation then reuses the partitioning
    (no second exchange — Catalyst sees hash(id) already satisfied).

    ``partitions=None`` -> the session's default parallelism; ``0`` disables
    (trust the input partitioning, e.g. a pre-bucketed corpus)."""
    if partitions == 0:
        return df
    n = partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n, F.col(key))


def shingles(
    text: Column | str,
    k: int = 8,
    hashed: bool = True,
    hasher: str = "sha256",
    distinct: bool = True,
) -> Column:
    """Character k-grams, JVM-side: array<long> of 60-bit digest-derived
    hashes (see module docstring) or the raw substrings (``hashed=False``).
    Empty/short docs yield one whole-text shingle so exact copies still
    compare equal.

    ``distinct=False`` skips the array_distinct — duplicate-insensitive
    consumers (min-aggregates, bit votes with duplicate grams counted — NOT
    the default simhash semantics, see simhash_signatures) should skip it:
    array_distinct is a boxed per-element hash set, measured at ~60% of the
    whole shingle stage."""
    c = F.col(text) if isinstance(text, str) else text
    n = F.length(c)
    idx = F.sequence(F.lit(1), F.greatest(n - F.lit(k - 1), F.lit(1)))
    if hashed:
        grams = F.transform(idx, lambda i: _gram_hash(c.substr(i, F.lit(k)), hasher))
    else:
        grams = F.transform(idx, lambda i: c.substr(i, F.lit(k)))
    return F.array_distinct(grams) if distinct else grams


def _shingles_sql(text_expr: str, k: int, hasher: str = "sha256") -> str:
    """DuckDB list of distinct hashed k-grams ≡ shingles(hasher=...)."""
    return (
        "list_distinct(list_transform("
        f"generate_series(1, greatest(length({text_expr}) - {k - 1}, 1)), "
        f"i -> {hash60_sql(f'substr({text_expr}, i, {k})', hasher)}))"
    )


def signature_table(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 8,
    num_hashes: int = 32,
    seed: int = 42,
    hasher: str = "sha256",
    shingle_partitions: int | None = None,
    spread: bool = True,
    with_gram_sets: bool = False,
) -> DataFrame:
    """Per-doc minhash signature relation ``(__id, s0..s{num_hashes-1})`` —
    the shared featurization stage of :func:`minhash_lsh_pairs` and the
    persistent :class:`~..operators.dedup_index.MinHashIndex`.

    ONE hash aggregation per doc computes all permutation minima (codegen'd
    ``min()`` aggregates with map-side partial aggregation — interpreted
    array-lambda folds were ~30× slower at 5k docs); shuffle-free after the
    :func:`_spread` repartition. Not checkpointed — callers that fan out
    decide their own reuse.

    ``with_gram_sets=True`` additionally emits ``__sh`` — the per-doc
    sorted-distinct gram array (``sort_array(collect_set(h))``, identical to
    ``sort_array(array_distinct(shingles(...)))``) — from the SAME exploded
    gram stream, so a consumer that needs both (exact-verify LSH) never runs
    the digest pass twice. A/B at 50 k docs: the fused aggregation costs
    ~0.4 s over the plain one vs ~4-7 s for a second shingle pass. Off by
    default: the arrays widen the aggregation state, and signature-only
    consumers (the persistent index) should not pay that."""
    h31 = F.pmod(F.col("h"), F.lit(2**31))
    mins = [
        F.min(F.pmod(h31 * F.lit(a) + F.lit(b), F.lit(_MERSENNE))).alias(f"s{j}")
        for j, (a, b) in enumerate(_perm_constants(num_hashes, seed))
    ]
    aggs = list(mins)
    if with_gram_sets:
        aggs.append(F.sort_array(F.collect_set("h")).alias("__sh"))
    corpus = _spread(df, id_col, shingle_partitions) if spread else df
    return (
        corpus.select(
            F.col(id_col).alias("__id"),
            F.explode(shingles(text_col, k, hasher=hasher, distinct=False)).alias("h"),
        )
        .groupBy("__id")
        .agg(*aggs)
    )


def band_table(
    per_doc: DataFrame,
    *,
    bands: int,
    rows_per_band: int,
    carry: list[str] | None = None,
) -> DataFrame:
    """Explode a :func:`signature_table` relation into LSH band-key rows
    ``(__id, [carry...,] band, bh)`` — the probe/build relation of every LSH
    stage. ``carry`` rides extra per-doc columns (e.g. the full signature
    array for the persistent index's denormalized band rows) through the
    explode unchanged."""
    band_entries = [
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws(
                ",", *[F.col(f"s{b * rows_per_band + r}") for r in range(rows_per_band)]
            ).alias("bh"),
        )
        for b in range(bands)
    ]
    keep = ["__id", *(carry or [])]
    return per_doc.select(*keep, F.explode(F.array(*band_entries)).alias("__b")).select(
        *keep, "__b.band", "__b.bh"
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 8,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.7,
    seed: int = 42,
    hasher: str = "sha256",
    max_candidates_per_doc: int | None = None,
    shingle_partitions: int | None = None,
) -> DataFrame:
    """Near-duplicate candidate pairs with exact-Jaccard verification.

    Physical shape (the 10^10-doc plan):
    0. hash-repartition the corpus by id to ≥ default parallelism (see
       :func:`_spread` — the digest stream must not run in the input file
       layout's partitioning, and shuffling text is ~8× cheaper than letting
       the signature groupBy shuffle exploded grams)
    1. explode shingle hashes → ONE hash aggregation per doc computing all
       ``num_hashes`` permutation minima (codegen'd min() aggregates with
       map-side partial aggregation — interpreted array-lambda folds were
       ~30× slower at 5k docs); shuffle-free after step 0
    2. band the minima (band key = comma-joined mins), self-join per band
       bucket → candidate pairs (shuffle keyed by band key, uniform)
    3. verify candidates with exact shingle-set Jaccard ≥ threshold — the
       shingle sets are recomputed for candidate docs only (semi-join back to
       the corpus; no corpus-sized cache)

    ``max_candidates_per_doc`` caps step 3's fanout for pathological corpora
    (10^4 byte-identical boilerplate docs ⇒ ~10^8 candidate pairs even though
    every band bucket is legitimate): pairs are ranked per doc by shared-band
    count (the LSH similarity estimate — more shared bands ⇒ higher estimated
    Jaccard) with partner id as the deterministic tiebreak, and a pair
    survives only if it is within BOTH endpoints' caps. The ranking is
    per-ROLE (a doc's id_a-side and id_b-side candidates rank in separate
    windows), so the exact bound is **≤ 2·cap pairs per doc, ≤ cap·docs
    total pairs** — size verify fanout/memory from 2·cap, not cap.
    Symmetric (the id_a<id_b canonicalization never depends on direction)
    and exactly mirrored in :func:`minhash_lsh_sql`, so capped runs stay
    oracle-checkable. Default None = off (exact LSH semantics).

    Returns (id_a, id_b, jaccard_ppm) with id_a < id_b, unique. The Jaccard is
    emitted in exact integer parts-per-million (floor) and the threshold is an
    exact integer comparison — byte-identical across engines (see
    :func:`minhash_lsh_sql` for the DuckDB twin)."""
    if not 0 < threshold <= 1:
        raise ValueError("threshold must be in (0, 1]")
    if num_hashes % bands:
        raise ValueError(
            f"bands ({bands}) must divide num_hashes ({num_hashes}) evenly — "
            "trailing permutations would be silently unused otherwise"
        )
    if max_candidates_per_doc is not None and max_candidates_per_doc < 1:
        raise ValueError("max_candidates_per_doc must be >= 1")
    rows_per_band = num_hashes // bands
    # localCheckpoint: per_doc feeds BOTH sides of the band self-join and cand
    # feeds three consumers (cand_ids + the two verify joins); without reuse
    # Catalyst re-executes the whole shingle+agg pipeline per reference
    # (measured 6× → 47 s at sf0.1, vs 12 s checkpointed). Unlike persist(),
    # a local checkpoint needs no unpersist lifecycle — the ContextCleaner
    # reclaims it when the RDD is GC'd. At web scale this materializes the
    # signature table (num_hashes longs/doc), which a real dedup pipeline
    # stores anyway.
    corpus = _spread(df, id_col, shingle_partitions)
    # with_gram_sets: the exact-verify stage needs each candidate doc's
    # sorted-distinct gram array, and computing it in the SAME aggregation
    # as the signature minima means the digest pass (the dominant CPU) runs
    # once, not twice (guide §1.2). The checkpoint then holds the gram
    # arrays too — the signature+gram state a real dedup pipeline persists
    # anyway; band-join consumers project the arrays away.
    per_doc = signature_table(
        corpus,
        id_col,
        text_col,
        k=k,
        num_hashes=num_hashes,
        seed=seed,
        hasher=hasher,
        spread=False,
        with_gram_sets=True,
    ).localCheckpoint()
    if max_candidates_per_doc is None:
        # MIN-BAND emission (guide §2.4 — remove shuffles outright): the band
        # self-join emits each colliding pair once PER shared band (~4×
        # duplication over 8 bands: 143 M raw rows → 34 M distinct at 50 k
        # docs), and deduplicating that stream cost a full repartition+
        # aggregate over the quadratic pair set (measured 31 s straight
        # distinct, 16 s with a pair-key repartition first — still the
        # operator's dominant stage at 44 s incl. the band join). Instead,
        # carry each doc's full band-key LIST on its band rows and emit a
        # pair ONLY from the smallest band where the two docs agree: every
        # colliding pair appears exactly once, so the distinct (and its
        # exchange) disappears entirely. Band keys here are the raw
        # rows_per_band-long minima SLICES (array<long> join key — arrays
        # are equi-join-comparable), not the comma-joined strings the
        # persistent index stores: exact same equality, ~2× fewer shuffled
        # bytes per band row, no string materialization. The emission
        # filter is ≤ bands-1 codegen'd array equalities per joined row.
        # Byte-cost note (guide §2.3): vs the old plan this widens the band
        # relation by the key list (~8×32 B/row) but removes the 16 B ×
        # |raw pairs| distinct exchange — break-even at a few hundred raw
        # pairs per doc; template-heavy corpora (the case that matters) sit
        # far above it, and clean corpora spend their time in the digest
        # stage, not this join.
        bhs = F.array(
            *[
                F.array(
                    *[
                        F.col(f"s{b * rows_per_band + r}")
                        for r in range(rows_per_band)
                    ]
                )
                for b in range(bands)
            ]
        )
        banded = per_doc.select(
            "__id",
            bhs.alias("__bhs"),
        ).select("__id", "__bhs", F.posexplode("__bhs").alias("band", "bh"))
        if bands == 1:
            earlier = F.lit(False)
        else:
            earlier = F.exists(
                F.array(*[F.lit(j) for j in range(bands - 1)]),
                lambda j: (j < F.col("band"))
                & (
                    F.element_at(F.col("a.__bhs"), j + F.lit(1))
                    == F.element_at(F.col("b.__bhs"), j + F.lit(1))
                ),
            )
        cand = (
            banded.alias("a")
            .join(banded.alias("b"), on=["band", "bh"], how="inner")
            .filter((F.col("a.__id") < F.col("b.__id")) & ~earlier)
            .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
            .localCheckpoint()
        )
    else:
        # candidates carry only ids — the heavy shingle arrays never enter
        # the band explosion/self-join (8× array duplication OOMed at 5k docs)
        banded = band_table(per_doc, bands=bands, rows_per_band=rows_per_band)
        raw_pairs = (
            banded.alias("a")
            .join(banded.alias("b"), on=["band", "bh"], how="inner")
            .filter(F.col("a.__id") < F.col("b.__id"))
            .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        )
        from pyspark.sql import Window

        # shared-band count = the LSH similarity estimate; rank each doc's
        # candidates by it (desc, partner id asc) and keep pairs inside BOTH
        # endpoints' top-cap. Two window exchanges over the (already
        # deduplicated) pair set — O(pairs), not O(docs²).
        scored = raw_pairs.groupBy("id_a", "id_b").agg(F.count("*").alias("__nb"))
        wa = Window.partitionBy("id_a").orderBy(F.desc("__nb"), F.asc("id_b"))
        wb = Window.partitionBy("id_b").orderBy(F.desc("__nb"), F.asc("id_a"))
        cand = (
            scored.withColumn("__ra", F.row_number().over(wa))
            .withColumn("__rb", F.row_number().over(wb))
            .filter(
                (F.col("__ra") <= max_candidates_per_doc)
                & (F.col("__rb") <= max_candidates_per_doc)
            )
            .select("id_a", "id_b")
            .localCheckpoint()
        )
    # verification sets: restrict the (already computed, checkpointed) gram
    # arrays to docs that appear in a candidate pair — no second shingle
    # pass, no corpus re-scan (see with_gram_sets above).
    cand_ids = (
        cand.select(F.col("id_a").alias("__id"))
        .unionByName(cand.select(F.col("id_b").alias("__id")))
        .distinct()
    )
    # still checkpointed: it feeds the size estimate plus the verify state /
    # both verify joins, and the semi-join should run once
    sets = (
        per_doc.select("__id", "__sh")
        .join(cand_ids, "__id", "leftsemi")
        .localCheckpoint()
    )
    thr_ppm = int(round(threshold * 1_000_000))
    # Verification strategy (guide §8: "when a pipeline shuffles heavy
    # payloads, make every shuffle but the last operate on a lightweight
    # proxy"). LSH band buckets over a template-heavy corpus grow linearly
    # with corpus size, so candidate pairs grow ~quadratically (measured:
    # 3.7 k pairs at 500 docs → 342 k at 5 k → ~34 M at 50 k). Round 5
    # attached BOTH gram arrays to every pair via two sort-merge joins —
    # O(pairs × set bytes) through two exchanges (~2 × 60 GB at 50 k docs;
    # the driver's sf1.0 bench recorded 514 s). The verify only ever needs
    # each CANDIDATE DOC's array once per worker, and that relation is tiny
    # (|candidate docs| × num-gram longs — ~120 MB at 50 k docs), so when it
    # fits the broadcast budget we ship the arrays ONCE as a Python-side
    # broadcast dict and stream only skinny (id_a, id_b) pairs through the
    # UDF. Above the budget (a 10^8+-doc candidate set) the sort-merge join
    # fallback below keeps the plan spill-safe. Identical integer arithmetic
    # either way — the choice is physical only.
    one = sets.select(
        F.count(F.lit(1)).alias("n"), F.sum(F.size("__sh")).alias("tot")
    ).collect()[0]
    # arrays (8 B/gram) + 256-cell int32 count vector + key/offset overhead
    est_bytes = int(one["tot"] or 0) * 8 + int(one["n"] or 0) * 1100
    if est_bytes <= _VERIFY_BROADCAST_MAX_BYTES:
        return _verify_pairs_broadcast(cand, sets, thr_ppm)
    return _verify_pairs_join(cand, sets, thr_ppm)


# Above this estimated candidate-doc verification-state volume, pair
# verification falls back from the broadcast plan to the sort-merge-join plan
# (which spills gracefully at any size). ~320 MB: comfortably inside
# executor/Python worker memory at 32 concurrent workers, far below the 8 GB
# broadcast cap.
_VERIFY_BROADCAST_MAX_BYTES = 320 << 20

_CELLS = 256
_CELL_MULT = 2654435761  # Knuth multiplicative spread → uniform cells for
# any input hash family (60-bit digest-derived OR full-range xxhash64)


def _sets_as_numpy(sets: DataFrame):
    """Collect the (``__id``, sorted-unique gram array) relation into flat
    numpy state for the broadcast verify — via Arrow (one contiguous values
    buffer + offsets; per-row slices are views, no per-element boxing):

    - ``index``: pandas Index over doc ids (C-speed vectorized id → row)
    - ``offs``:  row r's grams are ``values[offs[r]:offs[r+1]]``
    - ``values``: all grams, concatenated, per-row sorted unique
    - ``cells``: per-row 256-bin gram-count vector (int32) under the
      multiplicative cell hash — the exact-bound filter state
    """
    import numpy as np
    import pandas as pd

    tbl = sets.toArrow()
    ids = tbl.column("__id").to_pylist()
    sh = tbl.column("__sh").combine_chunks()
    values = np.asarray(sh.values, dtype=np.int64)
    offs = np.asarray(sh.offsets, dtype=np.int64)
    # dense id→row lookup when ids are integral and reasonably packed: the
    # verify UDF maps 2 ids per candidate pair, and a direct array index is
    # far cheaper than the pandas hash probe at 10^7+ pairs. Falls back to
    # the hash index for string ids or sparse id spaces.
    lut = lut_base = None
    if ids and all(isinstance(i, int) for i in ids[:16]):
        arr = np.asarray(ids, dtype=np.int64)
        lo, hi_ = int(arr.min()), int(arr.max())
        if hi_ - lo < max(64 * len(ids), 1 << 20):
            lut = np.full(hi_ - lo + 1, -1, dtype=np.int64)
            lut[arr - lo] = np.arange(len(ids), dtype=np.int64)
            lut_base = lo
    cell_of = (
        (values.astype(np.uint64) * np.uint64(_CELL_MULT)) >> np.uint64(64 - 8)
    ).astype(np.int64)
    rows = np.repeat(np.arange(len(ids), dtype=np.int64), np.diff(offs))
    cells = np.bincount(rows * _CELLS + cell_of, minlength=len(ids) * _CELLS).reshape(
        len(ids), _CELLS
    )
    # int16 when provably exact (halves the per-pair gather traffic in the
    # filter — its cost is memory bandwidth); int32 only for pathological
    # docs with >32k grams in one cell
    dtype = np.int16 if (cells.max(initial=0) < 32767) else np.int32
    return pd.Index(ids), offs, values, cells.astype(dtype), lut, lut_base


def _verify_pairs_broadcast(cand: DataFrame, sets: DataFrame, thr_ppm: int) -> DataFrame:
    """Exact-Jaccard verification with the candidate-doc verification state
    shipped ONCE per worker as a broadcast; only skinny (id_a, id_b) pairs
    move — no shuffle or Arrow crossing ever carries a gram array.

    Two-stage EXACT filter inside the UDF (guide §4.2 — whole batches to
    vectorized native code):

    1. Cell-count upper bound, fully vectorized per batch: with per-doc
       256-bin gram-count vectors, |A∩B| ≤ U = Σ_cell min(cntA, cntB) (each
       cell's intersection is bounded by both counts), so
       J = i/(|A|+|B|-i) ≤ U/(|A|+|B|-U) — monotone in i. A pair can reach
       the threshold only if U·10^6 ≥ thr_ppm·(|A|+|B|-U), the same integer
       arithmetic as the final filter, so no qualifying pair is ever
       dropped. Measured selectivity at sf0.1: 584 of 342 k candidates
       survive (true output 251) — 99.8 % of candidates never touch their
       gram arrays. This subsumes the min/max size bound (U ≤ min(|A|,|B|)).
    2. searchsorted membership count on the survivors only (arrays are
       per-doc sorted unique, so the count is the exact |A∩B|).

    Exact integer ppm = |A∩B|·10^6 DIV |A∪B| — byte-identical to the SQL
    twin's count-based arithmetic."""
    spark = cand.sparkSession
    bc = spark.sparkContext.broadcast(_sets_as_numpy(sets))

    @F.pandas_udf("long")
    def _jppm(ids_a, ids_b):
        import numpy as np
        import pandas as pd

        index, offs, values, cells, lut, lut_base = bc.value
        if lut is not None:
            ra = lut[np.asarray(ids_a.values, dtype=np.int64) - lut_base]
            rb = lut[np.asarray(ids_b.values, dtype=np.int64) - lut_base]
        else:
            ra = index.get_indexer(pd.Index(ids_a.values))
            rb = index.get_indexer(pd.Index(ids_b.values))
        sizes = np.diff(offs)
        na, nb = sizes[ra], sizes[rb]
        out = np.zeros(len(ra), dtype=np.int64)
        # tier 0 — exact size bound (16 B gathered per pair): J ≤ min/max,
        # same integer comparison as the final filter, so no qualifying pair
        # is dropped. Only survivors pay the 2×256-cell gather of tier 1.
        lo = np.minimum(na, nb)
        hi = np.maximum(na, nb)
        m0 = np.flatnonzero(lo * 1_000_000 >= thr_ppm * hi)
        # tier 1 — cell-count upper bound on the size-survivors
        u = np.minimum(cells[ra[m0]], cells[rb[m0]]).sum(axis=1, dtype=np.int64)
        maybe = np.zeros(len(ra), dtype=bool)
        maybe[m0[u * 1_000_000 >= thr_ppm * (na[m0] + nb[m0] - u)]] = True
        for k in np.flatnonzero(maybe):
            a0, a1 = offs[ra[k]], offs[ra[k] + 1]
            b0, b1 = offs[rb[k]], offs[rb[k] + 1]
            xs, ys = values[a0:a1], values[b0:b1]
            if len(ys) < len(xs):
                xs, ys = ys, xs
            idx = np.searchsorted(ys, xs)
            idx[idx == len(ys)] = 0  # out-of-range probes can't match anyway
            i = int(np.count_nonzero(ys[idx] == xs))
            out[k] = i * 1_000_000 // (len(xs) + len(ys) - i)
        return pd.Series(out, dtype="int64")

    return (
        cand.withColumn("jaccard_ppm", _jppm("id_a", "id_b"))
        .filter(F.col("jaccard_ppm") >= thr_ppm)
        .select("id_a", "id_b", "jaccard_ppm")
    )


def _verify_pairs_join(cand: DataFrame, sets: DataFrame, thr_ppm: int) -> DataFrame:
    """Join-based verification fallback for candidate-doc sets too large to
    broadcast: EXACT size-bound pre-filter on narrow size columns first
    (J ≤ min/max, same integer arithmetic as the final filter, so no pair the
    verify would keep is ever dropped), then the gram arrays attached by two
    sort-merge joins.

    hint("merge"): the sets side carries the wide gram arrays, but its STATIC
    size estimate (post-semi-join row count × default array width) is tiny —
    without the hint Catalyst broadcast BOTH verify joins' sets side
    (measured: 1.06 GiB attempted broadcast at 800 k docs → OOM). Sort-merge
    join keys on the id only and spills gracefully at any corpus size. The
    final join leaves batches clustered by id_b, which the same run-grouped
    UDF shape as the broadcast path exploits."""
    sizes = sets.select("__id", F.size("__sh").alias("__n"))
    cand = (
        cand.join(sizes.select(F.col("__id").alias("id_a"), F.col("__n").alias("__na")), "id_a")
        .join(sizes.select(F.col("__id").alias("id_b"), F.col("__n").alias("__nb")), "id_b")
        .filter(
            F.least("__na", "__nb") * F.lit(1_000_000)
            >= F.lit(thr_ppm) * F.greatest("__na", "__nb")
        )
        .drop("__na", "__nb")
    )
    cand = (
        cand.join(
            sets.select(F.col("__id").alias("id_a"), F.col("__sh").alias("sh_a")).hint("merge"),
            "id_a",
        )
        .join(
            sets.select(F.col("__id").alias("id_b"), F.col("__sh").alias("sh_b")).hint("merge"),
            "id_b",
        )
    )

    @F.pandas_udf("long")
    def _jppm(ids_b, a, b):
        import numpy as np
        import pandas as pd

        out = np.empty(len(a), dtype=np.int64)
        pos = np.arange(len(a))
        for _, grp in pd.Series(pos).groupby(ids_b.values, sort=False):
            rows = grp.values
            ys = np.asarray(b.iloc[rows[0]], dtype=np.int64)
            xs_list = [np.asarray(a.iloc[r], dtype=np.int64) for r in rows]
            lens = np.fromiter((len(x) for x in xs_list), dtype=np.int64, count=len(rows))
            xcat = np.concatenate(xs_list)
            idx = np.searchsorted(ys, xcat)
            idx[idx == len(ys)] = 0
            hit = (ys[idx] == xcat).astype(np.int64)
            offs = np.zeros(len(rows), dtype=np.int64)
            np.cumsum(lens[:-1], out=offs[1:])
            inter = np.add.reduceat(hit, offs)
            out[rows] = inter * 1_000_000 // (lens + len(ys) - inter)
        return pd.Series(out, dtype="int64")

    return (
        cand.withColumn("jaccard_ppm", _jppm("id_b", "sh_a", "sh_b"))
        .filter(F.col("jaccard_ppm") >= thr_ppm)
        .select("id_a", "id_b", "jaccard_ppm")
    )


def minhash_lsh_sql(
    table: str,
    id_col: str,
    text_col: str,
    *,
    k: int = 8,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.7,
    seed: int = 42,
    hasher: str = "sha256",
    max_candidates_per_doc: int | None = None,
) -> str:
    """DuckDB oracle twin of :func:`minhash_lsh_pairs`: the identical hash
    algo, permutation constants, band keys, candidate generation (including
    the shared-band-ranked ``max_candidates_per_doc`` cap) and exact-integer
    Jaccard verification, so results are byte-identical."""
    if num_hashes % bands:
        raise ValueError(f"bands ({bands}) must divide num_hashes ({num_hashes}) evenly")
    rows_per_band = num_hashes // bands
    consts = _perm_constants(num_hashes, seed)
    min_exprs = ",\n    ".join(
        f"min(((h % 2147483648) * {a} + {b}) % {_MERSENNE}) AS s{j}"
        for j, (a, b) in enumerate(consts)
    )
    band_selects = "\n  UNION ALL\n  ".join(
        "SELECT id, {b} AS band, concat_ws(',', {cols}) AS bh FROM mins".format(
            b=b,
            cols=", ".join(f"s{b * rows_per_band + r}" for r in range(rows_per_band)),
        )
        for b in range(bands)
    )
    thr_ppm = int(round(threshold * 1_000_000))
    if max_candidates_per_doc is None:
        cand_cte = """cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM banded a JOIN banded b ON a.band = b.band AND a.bh = b.bh AND a.id < b.id
)"""
    else:
        cap = max_candidates_per_doc
        cand_cte = f"""scored AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS nb
  FROM banded a JOIN banded b ON a.band = b.band AND a.bh = b.bh AND a.id < b.id
  GROUP BY 1, 2
),
cand AS (
  SELECT id_a, id_b FROM (
    SELECT id_a, id_b,
           row_number() OVER (PARTITION BY id_a ORDER BY nb DESC, id_b ASC) AS ra,
           row_number() OVER (PARTITION BY id_b ORDER BY nb DESC, id_a ASC) AS rb
    FROM scored
  ) WHERE ra <= {cap} AND rb <= {cap}
)"""
    return f"""
WITH sh AS (
  SELECT {id_col} AS id, unnest({_shingles_sql(text_col, k, hasher)}) AS h
  FROM {table}
),
mins AS (
  SELECT id,
    {min_exprs}
  FROM sh GROUP BY id
),
banded AS (
  {band_selects}
),
{cand_cte},
sizes AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
co AS (
  SELECT c.id_a, c.id_b, count(*) AS common
  FROM cand c
  JOIN sh x ON x.id = c.id_a
  JOIN sh y ON y.id = c.id_b AND y.h = x.h
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       (common * 1000000) // (sa.n + sb.n - common) AS jaccard_ppm
FROM co
JOIN sizes sa ON sa.id = id_a
JOIN sizes sb ON sb.id = id_b
WHERE common * 1000000 >= {thr_ppm} * (sa.n + sb.n - common)
"""


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 8,
    threshold: float = 0.8,
    hashed: bool = True,
    hasher: str = "sha256",
    max_doc_freq: int | None = None,
    shingle_partitions: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard over ALL pairs sharing at least one shingle —
    explode + self-join on shingle hash + distinct-count arithmetic
    (|A∩B| from co-occurrence counts, |A∪B| = |A|+|B|−|A∩B|).

    SQL-expressible end-to-end (DuckDB oracle twin lives in __spark_entry__).
    The self-join's fanout is quadratic in per-shingle document frequency —
    the classic boilerplate blowup (a license header shared by 10^6 docs is
    10^12 join rows). ``max_doc_freq`` caps it: shingles appearing in more
    than that many docs are dropped from BOTH the intersection and the set
    sizes (the stop-shingle filter — ubiquitous shingles carry no
    discriminative signal anyway), turning the worst-case fanout into
    ~N·max_doc_freq. The semantics become "Jaccard over discriminative
    shingles", mirrored exactly in the SQL twin; for unbounded corpora still
    prefer minhash_lsh_pairs."""
    sh = _spread(df, id_col, shingle_partitions).select(
        F.col(id_col).alias("__id"),
        F.explode(shingles(text_col, k, hashed=hashed, hasher=hasher)).alias("h"),
    ).distinct()
    if max_doc_freq is not None:
        kept = sh.groupBy("h").agg(F.count("*").alias("__df")).filter(
            F.col("__df") <= max_doc_freq
        )
        sh = sh.join(kept.select("h"), "h", "leftsemi")
    sizes = sh.groupBy("__id").agg(F.count("*").alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    co = (
        a.join(b, "h")
        .filter(F.col("a.__id") < F.col("b.__id"))
        .groupBy(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .agg(F.count("*").alias("common"))
    )
    sa = sizes.select(F.col("__id").alias("id_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("__id").alias("id_b"), F.col("n").alias("nb"))
    return (
        co.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.round(F.col("common") / (F.col("na") + F.col("nb") - F.col("common")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def simhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 4,
    *,
    bits: int = 60,
    hasher: str = "sha256",
    shingle_partitions: int | None = None,
) -> DataFrame:
    """(id, simhash) via the exploded plan: one codegen'd hash aggregation
    computing all ``bits`` bit votes (sum of ±1 per bit), then a sum of
    shifted bit literals.

    Default width is 60 bits: the digest-derived gram hash carries 60 meaningful
    bits, every signature stays positive (no sign-bit special case), and the
    identical value is computable in DuckDB (:func:`simhash_sql`)."""
    if not 1 <= bits <= 62:
        raise ValueError("bits must be in [1, 62]")
    votes = [
        F.sum(F.when(F.bit_get(F.col("h"), F.lit(i)) == 1, 1).otherwise(-1)).alias(f"c{i}")
        for i in range(bits)
    ]
    per_doc = (
        _spread(df, id_col, shingle_partitions)
        .select(
            F.col(id_col).alias("__id"),
            F.explode(shingles(text_col, k, hasher=hasher)).alias("h"),
        )
        .groupBy("__id")
        .agg(*votes)
    )
    sim = F.lit(0).cast("long")
    for i in range(bits):
        sim = sim + F.when(F.col(f"c{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0)).cast("long")
    return per_doc.select("__id", sim.alias("s"))


def simhash_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 4,
    max_hamming: int = 3,
    bits: int = 60,
    n_blocks: int = 4,
    hasher: str = "sha256",
    shingle_partitions: int | None = None,
) -> DataFrame:
    """SimHash near-dup pairs: block on ``bits/n_blocks``-bit segments (any
    pair within hamming ≤ n_blocks-1 shares at least one identical block —
    pigeonhole), then verify exact hamming distance via bit_count(xor)."""
    if max_hamming > n_blocks - 1:
        raise ValueError("pigeonhole requires max_hamming <= n_blocks - 1")
    if bits % n_blocks:
        raise ValueError("bits must divide evenly into n_blocks")
    block_bits = bits // n_blocks
    mask = (1 << block_bits) - 1
    sh = simhash_signatures(
        df, id_col, text_col, k,
        bits=bits, hasher=hasher, shingle_partitions=shingle_partitions,
    )
    blocks = sh.select(
        "__id",
        "s",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(q).alias("q"),
                    F.shiftright(F.col("s"), q * block_bits).bitwiseAND(F.lit(mask)).alias("qh"),
                )
                for q in range(n_blocks)
            ])
        ).alias("__q"),
    ).select("__id", "s", "__q.q", "__q.qh")
    a, b = blocks.alias("a"), blocks.alias("b")
    cand = (
        a.join(b, ["q", "qh"])
        .filter(F.col("a.__id") < F.col("b.__id"))
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            F.col("a.s").alias("sa"),
            F.col("b.s").alias("sb"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    hamming = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def simhash_sql(
    table: str,
    id_col: str,
    text_col: str,
    *,
    k: int = 4,
    max_hamming: int = 3,
    bits: int = 60,
    n_blocks: int = 4,
    hasher: str = "sha256",
) -> str:
    """DuckDB oracle twin of :func:`simhash_dup_pairs`."""
    block_bits = bits // n_blocks
    mask = (1 << block_bits) - 1
    vote_exprs = ",\n    ".join(
        f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS c{i}" for i in range(bits)
    )
    sig_expr = " + ".join(f"(CASE WHEN c{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(bits))
    block_rows = ", ".join(f"({q})" for q in range(n_blocks))
    return f"""
WITH sh AS (
  SELECT {id_col} AS id, unnest({_shingles_sql(text_col, k, hasher)}) AS h
  FROM {table}
),
votes AS (
  SELECT id,
    {vote_exprs}
  FROM sh GROUP BY id
),
sig AS (SELECT id, ({sig_expr})::BIGINT AS s FROM votes),
blocks AS (
  SELECT id, s, q, (s >> (q * {block_bits})) & {mask} AS qh
  FROM sig CROSS JOIN (VALUES {block_rows}) t(q)
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.s AS sa, b.s AS sb
  FROM blocks a JOIN blocks b ON a.q = b.q AND a.qh = b.qh AND a.id < b.id
)
SELECT id_a, id_b, bit_count(xor(sa, sb))::INT AS hamming
FROM cand WHERE bit_count(xor(sa, sb)) <= {max_hamming}
"""
