"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``: brute-force exact top-k — the correctness baseline.
  Queries are **broadcast** (small side), so the scan side never shuffles:
  each task scores its partition in codegen, and Spark's
  InsertWindowGroupLimit rule (3.5+) turns the ``row_number() <= k`` ranking
  into a **pre-exchange partial top-k** (a WindowGroupLimit node below the
  hash exchange) — only ≤ k×|queries| rows per input partition cross the
  wire, entirely JVM-side. tests/test_training_ops.py asserts this plan
  property so a regression to a full N×Q exchange (a 10^11-row shuffle at
  10^10 vectors) fails CI.

- ``lsh_cosine_topk``: a scale path — random-hyperplane LSH bucketing,
  candidates restricted to same-bucket, exact cosine re-rank on candidates.
  Multi-probe (``probe_hamming``) explodes the tiny broadcast query side to
  every bucket within Hamming distance h of the query's code, recovering
  near-boundary recall with zero vector-side cost.

- ``ivf_cosine_topk``: the second scale path — IVF-flat inverted-file cells
  from deterministically sampled centroids, n_probe nearest cells probed per
  query, exact re-rank on probed candidates only.

- ``embedding_neardup_pairs``: **banded** multi-code LSH (n_bands independent
  plane sets, candidate union across bands — the minhash band design), exact
  cosine ≥ threshold verification on candidates only. Round 1 used a single
  code: 2^n_planes buckets and ~N²/2^n candidate fanout; banding keeps each
  band's buckets small (more planes per band) while the union of bands
  preserves recall. ``max_bucket_size`` additionally drops degenerate hot
  buckets (deterministically — whole bucket or nothing), the standard
  web-scale guard against near-constant embedding regions.

Engine parity: hyperplanes are deterministic literals (numpy standard_normal
from a fixed seed, inlined as exact doubles into both the Catalyst expression
and the DuckDB oracle SQL), and every dot product is a left-associated sum —
bit-identical to DuckDB's list_dot_product fold — so bucket signs, cosines,
thresholds and ranks replay exactly. The physical form of that sum is
size-adaptive (:func:`_pick_dot`): an unrolled whole-stage-codegen expression
on large scans, an interpreted HOF fold on small ones (identical values, the
choice only trades per-row speed against driver planning + janino compile
time). No Python in any hot path; the only Arrow crossing is the
3-narrow-column partial top-k.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product for unknown-length arrays (interpreted HOF
    — use :func:`_dot_fixed` in hot paths when the dim is known)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _dot_fixed(a: Column, b: Column, dim: int) -> Column:
    """Explicit left-associated sum of products over a known dim: whole-stage
    codegen (no interpreted lambda), same fold order as _dot / DuckDB."""
    terms = [
        F.element_at(a, i + 1).cast("double") * F.element_at(b, i + 1).cast("double")
        for i in range(dim)
    ]
    return reduce(lambda x, y: x + y, terms)


def _dot_lit(a: Column, plane: list[float], dim: int) -> Column:
    """Codegen'd dot of a vector column with a literal plane."""
    terms = [F.element_at(a, i + 1).cast("double") * F.lit(plane[i]) for i in range(dim)]
    return reduce(lambda x, y: x + y, terms)


def _plane_lit(plane: list[float]) -> Column:
    """One parsed array<double> literal (single py4j call, exact repr round-trip)."""
    return F.expr(
        "array(" + ",".join(f"CAST('{float(x)!r}' AS DOUBLE)" for x in plane) + ")"
    )


def _dot_lit_fold(a: Column, plane: list[float]) -> Column:
    """Interpreted-HOF dot with a literal plane — same left fold as _dot_lit."""
    return _dot(a, _plane_lit(plane))


# Below ~this scan size, driver-side planning + janino compile of the
# unrolled dim-term dot trees costs more than interpreted evaluation of the
# whole input (measured: 2 k rows → 8 s planning/compile vs 0.7 s folded;
# 1 M rows → unrolled 3.1 s vs folded 8.7 s and the gap keeps widening).
_CODEGEN_SIZE_BYTES = 256 << 20


def _spread_vectors(df: DataFrame, key: str) -> DataFrame:
    """Hash-repartition the vector relation by id before the dot-product-
    heavy stages — UNLESS it is already at least defaultParallelism wide
    (same rationale as minhash._spread): a corpus read from one parquet
    file otherwise runs every per-vector fold (cell assignment, norms, the
    scored join) on one core. The exchange moves |vectors|×dim doubles
    once; results are unaffected (all downstream folds are per-row)."""
    n = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n, F.col(key))


def _pick_dot(vectors: DataFrame, dim: int):
    """Adaptive dot-product strategy. Both strategies are the SAME
    left-associated float fold — bit-identical results, so oracle parity and
    result hashes are unaffected by the choice; this is purely a plan-shape
    knob. Catalyst's size estimate for parquet scans is file bytes — free.

    Caveat on malformed input: a vector SHORTER than the inferred dim yields
    NULL products under the fold (zip_with pads) but an ANSI
    INVALID_ARRAY_INDEX error under the unrolled form — i.e. corrupt rows
    fail loudly on large scans and degrade to NULL cosines on small ones.
    Validate dims upstream if ragged vectors are possible."""
    try:
        size = int(vectors._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        size = 1 << 62  # unknown provenance → assume big → codegen
    if size >= _CODEGEN_SIZE_BYTES:
        return (lambda a, b: _dot_fixed(a, b, dim)), _dot_lit
    return _dot, (lambda a, plane, _dim: _dot_lit_fold(a, plane))


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def _infer_dim(df: DataFrame, vec_col: str) -> int:
    # one-row driver lookup; array columns carry no static length in the
    # schema. Empty input / NULL first vector get a clear error here instead
    # of a TypeError on the None subscript (ADVICE r2) — downstream the dim
    # drives literal hyperplanes and unrolled dot trees, so there is no sane
    # default to fall back to.
    row = df.select(vec_col).first()
    if row is None:
        raise ValueError(
            f"cannot infer vector dim: DataFrame has no rows (column {vec_col!r})"
        )
    vec = row[0]
    if vec is None:
        raise ValueError(
            f"cannot infer vector dim: first row's {vec_col!r} is NULL — "
            "filter NULL vectors upstream"
        )
    return len(vec)


def hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic Gaussian hyperplanes as plain Python floats — inlined as
    exact literals into both the Spark plan and the DuckDB oracle SQL."""
    import numpy as np

    rng = np.random.default_rng(seed)
    return [[float(x) for x in row] for row in rng.standard_normal((n_planes, dim))]


def bucket_expr(vec: Column, planes: list[list[float]], dim: int, dot_lit=None) -> Column:
    """Sign-pattern bucket id: sum of 2^j over planes with vec·plane_j > 0.
    No UDF, no shuffle; ``dot_lit`` picks the unrolled-codegen or the
    interpreted-fold dot (identical values either way)."""
    dl = dot_lit or _dot_lit
    terms = [
        F.when(dl(vec, p, dim) > 0, F.lit(1 << j)).otherwise(F.lit(0))
        for j, p in enumerate(planes)
    ]
    return reduce(lambda x, y: x + y, terms).cast("int")


def _bucket_sql(vec_expr: str, planes: list[list[float]]) -> str:
    """DuckDB twin of :func:`bucket_expr` (list_dot_product folds match the
    left-associated Catalyst sum)."""
    parts = [
        f"(CASE WHEN list_dot_product({vec_expr}, {plane!r}) > 0 THEN {1 << j} ELSE 0 END)"
        for j, plane in enumerate(planes)
    ]
    return "(" + " + ".join(parts) + ")"


def _bounded_topk(
    scored: DataFrame, query_id_col: str, id_col: str, score_col: str, k: int
) -> DataFrame:
    """Exact top-k per query with the reduction BEFORE the exchange.

    Declared as a plain ``row_number() OVER (...) <= k`` filter; Spark's
    InsertWindowGroupLimit optimizer rule (3.5+) plants a WindowGroupLimit
    below the hash exchange, so each map task forwards at most k rows per
    query — the partial top-k runs in whole-stage codegen with no Arrow
    crossing (an earlier mapInPandas partial-reduction draft was strictly
    worse: same exchange volume, plus an N×Q Arrow transfer). The total order
    (score desc, id asc — ids are unique) makes per-partition winners a
    superset of global winners, which is what the rule relies on."""
    w = Window.partitionBy(query_id_col).orderBy(F.desc(score_col), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, score_col, "rank")
    )


def cosine_topk(
    vectors: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    k: int = 10,
    round_to: int = 6,
    dim: int | None = None,
) -> DataFrame:
    """Exact brute-force cosine top-k per query.

    Plan shape: broadcast-nested-loop join (queries side broadcast), cosine in
    whole-stage codegen, partial top-k per Arrow batch, tiny final window.
    Ties broken by id for determinism; ranking runs on the same rounded value
    the query emits (so the SQL oracle's ordering matches exactly)."""
    if dim is None:
        dim = _infer_dim(vectors, vec_col)
    dot, _ = _pick_dot(vectors, dim)
    vectors = _spread_vectors(vectors, id_col)
    # per-vector norms in their own narrow Projects: computed once per vector
    # (not once per scored pair) and keeps the join-stage codegen bounded —
    # the fused 3-dot cosine overflowed janino at higher plane counts
    v = vectors.select(id_col, vec_col).withColumn(
        "__nv", F.sqrt(dot(F.col(vec_col), F.col(vec_col)))
    )
    q = F.broadcast(
        queries.select(query_id_col, query_vec_col).withColumn(
            "__nq", F.sqrt(dot(F.col(query_vec_col), F.col(query_vec_col)))
        )
    )
    scored = v.crossJoin(q).select(
        F.col(query_id_col),
        F.col(id_col),
        F.round(
            dot(F.col(vec_col), F.col(query_vec_col))
            / (F.col("__nv") * F.col("__nq")),
            round_to,
        ).alias("cosine"),
    )
    return _bounded_topk(scored, query_id_col, id_col, "cosine", k)


def _probe_masks(n_planes: int, probe_hamming: int) -> list[int]:
    """XOR masks for multi-probe: all bit patterns of popcount ≤ probe_hamming
    (identity first). Supports h ≤ 2 — beyond that the probe set approaches
    the full bucket space and you should lower n_planes instead."""
    if probe_hamming > 2:
        raise ValueError("probe_hamming > 2 not supported; lower n_planes instead")
    masks = [0]
    if probe_hamming >= 1:
        masks += [1 << j for j in range(n_planes)]
    if probe_hamming >= 2:
        masks += [
            (1 << i) | (1 << j) for i in range(n_planes) for j in range(i + 1, n_planes)
        ]
    return masks


def lsh_cosine_topk(
    vectors: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    k: int = 10,
    n_planes: int = 8,
    probe_hamming: int = 0,
    dim: int | None = None,
    seed: int = 42,
    round_to: int = 6,
) -> DataFrame:
    """Approximate top-k: score only vectors whose hyperplane sign-bucket
    matches the query's. Recall grows as n_planes shrinks (bigger buckets).
    Bucketing is pure codegen; candidates go through the same bounded top-k
    reduction as the exact path.

    ``probe_hamming`` enables multi-probe LSH: each query additionally probes
    every bucket within that Hamming distance of its own code (h=1 →
    1+n_planes probes, h=2 adds the C(n_planes,2) pairs). Near-boundary
    neighbors land one sign-flip away, so multi-probe recovers most of the
    recall lost to quantization WITHOUT growing the vector-side state — the
    explode happens on the tiny broadcast query side only, and since every
    vector lives in exactly one bucket, probe sets are disjoint and need no
    candidate dedup."""
    if dim is None:
        dim = _infer_dim(vectors, vec_col)
    dot, dot_lit = _pick_dot(vectors, dim)
    planes = hyperplanes(dim, n_planes, seed)
    vectors = _spread_vectors(vectors, id_col)
    v = vectors.select(id_col, vec_col).withColumn(
        "__bkt", bucket_expr(F.col(vec_col), planes, dim, dot_lit)
    ).withColumn("__nv", F.sqrt(dot(F.col(vec_col), F.col(vec_col))))
    q = queries.select(query_id_col, query_vec_col).withColumn(
        "__bkt", bucket_expr(F.col(query_vec_col), planes, dim, dot_lit)
    ).withColumn("__nq", F.sqrt(dot(F.col(query_vec_col), F.col(query_vec_col))))
    masks = _probe_masks(n_planes, probe_hamming)
    if len(masks) > 1:
        q = q.withColumn(
            "__bkt",
            F.explode(F.array(*[F.col("__bkt").bitwiseXOR(F.lit(m)) for m in masks])),
        )
    scored = v.join(F.broadcast(q), "__bkt").select(
        F.col(query_id_col),
        F.col(id_col),
        F.round(
            dot(F.col(vec_col), F.col(query_vec_col))
            / (F.col("__nv") * F.col("__nq")),
            round_to,
        ).alias("cosine"),
    )
    return _bounded_topk(scored, query_id_col, id_col, "cosine", k)


def lsh_cosine_topk_sql(
    table: str,
    queries_sql: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_planes: int = 8,
    probe_hamming: int = 0,
    dim: int = 64,
    seed: int = 42,
    round_to: int = 6,
) -> str:
    """DuckDB oracle twin of :func:`lsh_cosine_topk`. ``queries_sql`` must
    select (query_id, query_vec)."""
    planes = hyperplanes(dim, n_planes, seed)
    vb = _bucket_sql("e", planes)
    qb = _bucket_sql("qv", planes)
    masks = _probe_masks(n_planes, probe_hamming)
    probe = (
        f"CROSS JOIN (SELECT unnest({masks!r}) AS mask) m"
        if len(masks) > 1
        else "CROSS JOIN (SELECT 0 AS mask) m"
    )
    return f"""
WITH v AS (SELECT {id_col} AS vec_id, {vec_col}::DOUBLE[] AS e FROM {table}),
q AS (SELECT query_id, query_vec::DOUBLE[] AS qv FROM ({queries_sql})),
vb AS (SELECT vec_id, e, {vb} AS bkt FROM v),
qb AS (SELECT query_id, qv, xor({qb}::BIGINT, mask::BIGINT)::INT AS bkt
       FROM q {probe}),
scored AS (
  SELECT qb.query_id, vb.vec_id,
         round(list_dot_product(vb.e, qb.qv)
               / (sqrt(list_dot_product(vb.e, vb.e)) * sqrt(list_dot_product(qb.qv, qb.qv))),
               {round_to}) AS cosine
  FROM vb JOIN qb USING (bkt)
)
SELECT query_id, vec_id, cosine, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
  FROM scored
) WHERE rank <= {k}
"""


def _centroid_cosines_from_values(cent_vecs):
    """cent_cosines closure from explicit centroid vectors (list of float
    lists) as two constant-folded literals: the centroid matrix and its
    norms. Built as ONE parsed SQL expression instead of ~n_list×dim F.lit()
    calls — each F.lit is a py4j round trip (~2 s of driver chatter at 8×64;
    4 ms as a single F.expr). CAST('<repr>' AS DOUBLE) goes through
    Double.parseDouble → exact round-trip of the Python float, incl.
    exponent forms. Shared by the inline IVF path and the persistent
    :class:`~.vector_index.VectorIndex` (which stores the values)."""
    import math

    def _dlit(x: float) -> str:
        return f"CAST('{float(x)!r}' AS DOUBLE)"

    cents_lit = F.expr(
        "array(" + ",".join("array(" + ",".join(_dlit(x) for x in cvec) + ")" for cvec in cent_vecs) + ")"
    )
    cn_lit = F.expr(
        "array(" + ",".join(_dlit(math.sqrt(sum(x * x for x in cvec))) for cvec in cent_vecs) + ")"
    )

    def cent_cosines(col, norm_col):
        # array of cosines to every centroid, one HOF fold per centroid —
        # aliased as its own column so argmax's double reference doesn't
        # duplicate the fold (CollapseProject keeps non-cheap aliases).
        return F.zip_with(cents_lit, cn_lit, lambda c, cn: _dot(col, c) / (norm_col * cn))

    return cent_cosines


def _ivf_centroid_literals(vectors, id_col, vec_col, n_list):
    """Deterministic sampled centroids (first n_list vectors by id) inlined
    via :func:`_centroid_cosines_from_values`."""
    cents = [
        [float(x) for x in r[1]]
        for r in vectors.select(id_col, vec_col).orderBy(id_col).take(n_list)
    ]
    return _centroid_cosines_from_values(cents)


def ivf_index(
    vectors: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_list: int = 8,
    dim: int | None = None,
) -> DataFrame:
    """Precompute the IVF index: vectors + ``__nv`` (norm) + ``__cell``
    (nearest sampled centroid, ties to the lowest cell id).

    THE amortization that makes IVF worth having: cell assignment costs
    n_list × dim multiply-adds per vector — for |queries| ≈ n_list that is
    the SAME work as brute-force scoring the whole corpus (measured on the
    scale probe: inline IVF at 800 k vectors was slower than the exact
    scan). Production IVF builds the index ONCE (materialize this frame to
    parquet/your table format) and amortizes it over every query batch;
    pass it to :func:`ivf_cosine_topk` via ``index=``. Centroids are
    recomputable from the index itself (first n_list ids), so a reloaded
    index needs no side-channel state."""
    if dim is None:
        dim = _infer_dim(vectors, vec_col)
    cent_cosines = _ivf_centroid_literals(vectors, id_col, vec_col, n_list)
    dot, _ = _pick_dot(vectors, dim)
    return _ivf_assign(vectors, id_col, vec_col, cent_cosines, dot)


def _ivf_assign(vectors, id_col, vec_col, cent_cosines, dot):
    vec = F.col(vec_col)

    def argmax_cell(dots_col):
        # array_position returns the FIRST max → ties resolve to the lowest
        # cell id, matching the SQL twin's (ccos DESC, cell) ranking.
        return (F.array_position(dots_col, F.array_max(dots_col)) - 1).cast("int")

    return (
        vectors.select(id_col, vec_col)
        .withColumn("__nv", F.sqrt(dot(vec, vec)))
        .withColumn("__dots", cent_cosines(vec, F.col("__nv")))
        .withColumn("__cell", argmax_cell(F.col("__dots")))
        .drop("__dots")
    )


def ivf_cosine_topk(
    vectors: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    k: int = 10,
    n_list: int = 8,
    n_probe: int = 2,
    dim: int | None = None,
    round_to: int = 6,
    index: DataFrame | None = None,
) -> DataFrame:
    """IVF-flat approximate top-k: inverted-file partitioning of the vector
    space into ``n_list`` cells, queries probe their ``n_probe`` nearest
    cells, exact cosine re-rank on the probed candidates.

    Centroids are a deterministic sample — the first ``n_list`` vectors by id
    — instead of k-means-trained: distributed Lloyd iterations sum floats in
    nondeterministic order, which would make the cell assignment (and thus
    the result set) irreproducible across runs/engines; sampled-centroid IVF
    keeps the full plan bit-reproducible (DuckDB twin: ivf_cosine_topk_sql)
    at some recall cost, checked in pytest. The centroid set is collected to
    the driver (n_list rows) and inlined as one constant-folded
    array<array<double>> literal; cell assignment is a per-row HOF fold over
    that literal — no shuffle, no join; at 10^10 vectors the only exchange is
    the bounded top-k's k×|queries| rows.

    Codegen note: a fully-unrolled assignment (n_list × dim multiply terms,
    duplicated again by argmax) fused with the broadcast join produced a
    janino method too large to compile — OutOfMemoryError in the generated
    code's local-variable map, NOT caught by Spark's interpreted fallback
    (which only catches CompileException). The HOF form keeps the Catalyst
    tree at a handful of nodes (each HOF is a CodegenFallback call site), and
    the ``aggregate``/``zip_with`` left fold is the same summation order as
    DuckDB's list_dot_product, so cells still replay bit-identically.

    Cell assignment ties (equal cosine to two centroids) resolve to the
    lowest cell id in both engines (array_position / first-match —
    matching the SQL twin's (ccos DESC, cell) ranking).

    ``index``: a prebuilt :func:`ivf_index` frame (possibly reloaded from
    storage). When given, the per-vector cell assignment is skipped —
    REQUIRED for IVF to beat the exact scan when query batches are small
    relative to n_list (see ivf_index's cost analysis); centroids for query
    probing are recomputed from the index's first n_list ids, which are the
    same vectors the build used."""
    source = index if index is not None else vectors
    if dim is None:
        dim = _infer_dim(source, vec_col)
    # centroid take(n_list) runs ONCE here; the inline branch reuses these
    # literals for the assignment instead of letting ivf_index() re-collect
    # (a second full-corpus TakeOrdered job per call, review r3 finding)
    cent_cosines = _ivf_centroid_literals(source, id_col, vec_col, n_list)
    dot, _ = _pick_dot(source, dim)
    if index is not None:
        missing = {"__nv", "__cell"} - set(index.columns)
        if missing:
            raise ValueError(f"index is missing ivf_index columns {sorted(missing)}")
        v = index.select(id_col, vec_col, "__nv", "__cell")
    else:
        v = _ivf_assign(
            _spread_vectors(vectors, id_col), id_col, vec_col, cent_cosines, dot
        )

    qvec = F.col(query_vec_col)
    q = (
        queries.select(query_id_col, query_vec_col)
        .withColumn("__nq", F.sqrt(dot(qvec, qvec)))
        .withColumn("__dots", cent_cosines(qvec, F.col("__nq")))
    )
    # probe set: posexplode the per-centroid cosines (pos == cell id), rank
    # per query, keep the n_probe nearest cells — |queries|×n_list rows total
    probes = q.select(
        query_id_col,
        query_vec_col,
        "__nq",
        F.posexplode("__dots").alias("__cell", "__ccos"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("__ccos"), F.asc("__cell"))
    probes = (
        probes.withColumn("__pr", F.row_number().over(w))
        .filter(F.col("__pr") <= n_probe)
        .select(query_id_col, query_vec_col, "__nq", F.col("__cell").cast("int").alias("__cell"))
    )
    scored = v.join(F.broadcast(probes), "__cell").select(
        F.col(query_id_col),
        F.col(id_col),
        F.round(
            dot(F.col(vec_col), F.col(query_vec_col))
            / (F.col("__nv") * F.col("__nq")),
            round_to,
        ).alias("cosine"),
    )
    return _bounded_topk(scored, query_id_col, id_col, "cosine", k)


def ivf_cosine_topk_sql(
    table: str,
    queries_sql: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_list: int = 8,
    n_probe: int = 2,
    round_to: int = 6,
) -> str:
    """DuckDB oracle twin of :func:`ivf_cosine_topk`. Centroids are recomputed
    in SQL (first n_list vectors by id), cosines via list_dot_product — the
    same doubles as the Spark literals, so cells, probes, and ranks match."""
    return f"""
WITH v AS (SELECT {id_col} AS vec_id, {vec_col}::DOUBLE[] AS e FROM {table}),
cents AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, e AS c,
         sqrt(list_dot_product(e, e)) AS cn
  FROM v ORDER BY vec_id LIMIT {n_list}
),
vassign AS (
  SELECT vec_id, e, nv, cell FROM (
    SELECT v.vec_id, v.e, sqrt(list_dot_product(v.e, v.e)) AS nv, cents.cell,
           list_dot_product(v.e, cents.c) / (sqrt(list_dot_product(v.e, v.e)) * cents.cn) AS ccos,
           row_number() OVER (
             PARTITION BY v.vec_id
             ORDER BY list_dot_product(v.e, cents.c)
                        / (sqrt(list_dot_product(v.e, v.e)) * cents.cn) DESC,
                      cents.cell
           ) AS rn
    FROM v CROSS JOIN cents
  ) WHERE rn = 1
),
q AS (SELECT query_id, query_vec::DOUBLE[] AS qv FROM ({queries_sql})),
probes AS (
  SELECT query_id, qv, nq, cell FROM (
    SELECT q.query_id, q.qv, sqrt(list_dot_product(q.qv, q.qv)) AS nq, cents.cell,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY list_dot_product(q.qv, cents.c)
                        / (sqrt(list_dot_product(q.qv, q.qv)) * cents.cn) DESC,
                      cents.cell
           ) AS pr
    FROM q CROSS JOIN cents
  ) WHERE pr <= {n_probe}
),
scored AS (
  SELECT p.query_id, va.vec_id,
         round(list_dot_product(va.e, p.qv) / (va.nv * p.nq), {round_to}) AS cosine
  FROM vassign va JOIN probes p USING (cell)
)
SELECT query_id, vec_id, cosine, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
  FROM scored
) WHERE rank <= {k}
"""


def embedding_neardup_pairs(
    vectors: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_bands: int = 4,
    planes_per_band: int = 8,
    dim: int | None = None,
    seed: int = 42,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via banded hyperplane LSH.

    Each band is an independent set of ``planes_per_band`` hyperplanes →
    2^planes_per_band buckets; candidates are the union across bands of
    within-bucket pairs (each pair counted once), verified with exact cosine
    ≥ threshold. More planes per band → smaller buckets (less fanout, lower
    per-band recall); more bands → recall back up. Same trade as minhash
    bands. The candidate join carries only ids — vectors are re-joined for
    verification, so the band explosion never duplicates the embedding
    payload.

    ``max_bucket_size``: deterministically drop (band, bucket) groups larger
    than this before the self-join — a near-constant embedding region can
    otherwise produce one quadratic bucket. Dropped buckets lose candidate
    pairs in that band only; other bands can still recover the pair.

    Output: (id_a, id_b, cosine_e6) with id_a < id_b, cosine_e6 =
    floor(cosine × 1e6) as an exact integer (cross-engine stable; see
    embedding_neardup_sql)."""
    if dim is None:
        dim = _infer_dim(vectors, vec_col)
    dot, dot_lit = _pick_dot(vectors, dim)
    all_planes = hyperplanes(dim, n_bands * planes_per_band, seed)
    v = _spread_vectors(vectors, id_col).select(
        F.col(id_col).alias("__id"), F.col(vec_col).alias("__v")
    )
    # one union branch per band (≙ the SQL twin's UNION ALL), NOT one
    # explode(array(...)): all bands in a single Project makes a
    # planes×dim-term expression that overflows janino's codegen compiler
    # stack; separate branches keep each codegen stage bounded
    band_dfs = [
        v.select(
            "__id",
            F.lit(b).alias("band"),
            bucket_expr(
                F.col("__v"),
                all_planes[b * planes_per_band : (b + 1) * planes_per_band],
                dim,
                dot_lit,
            ).alias("bkt"),
        )
        for b in range(n_bands)
    ]
    banded = reduce(lambda a, b: a.unionByName(b), band_dfs)
    if max_bucket_size is not None:
        counts = banded.groupBy("band", "bkt").agg(F.count("*").alias("__n"))
        banded = banded.join(
            counts.filter(F.col("__n") <= max_bucket_size).drop("__n"), ["band", "bkt"]
        )
    cand = (
        banded.alias("a")
        .join(banded.alias("b"), ["band", "bkt"])
        .filter(F.col("a.__id") < F.col("b.__id"))
        .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .distinct()
    )
    vn = v.withColumn("__n", F.sqrt(dot(F.col("__v"), F.col("__v"))))
    va = vn.select(F.col("__id").alias("id_a"), F.col("__v").alias("va"), F.col("__n").alias("na"))
    vb = vn.select(F.col("__id").alias("id_b"), F.col("__v").alias("vb"), F.col("__n").alias("nb"))
    cos = dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    # hint("merge") on the vector sides: their static size estimate ignores
    # the array payload width, so Catalyst can choose to BROADCAST the full
    # embedding table into both verify joins (same failure mode as the
    # minhash verify joins — see operators/minhash.py). SMJ keys on the id
    # and never driver-materializes the vectors.
    return (
        cand.join(va.hint("merge"), "id_a")
        .join(vb.hint("merge"), "id_b")
        .withColumn("__cos", cos)
        .filter(F.col("__cos") >= threshold)
        .select(
            "id_a", "id_b", F.floor(F.col("__cos") * 1_000_000).cast("long").alias("cosine_e6")
        )
    )


def embedding_neardup_sql(
    table: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_bands: int = 4,
    planes_per_band: int = 8,
    dim: int = 64,
    seed: int = 42,
) -> str:
    """DuckDB oracle twin of :func:`embedding_neardup_pairs` (no bucket cap)."""
    all_planes = hyperplanes(dim, n_bands * planes_per_band, seed)
    band_selects = "\n  UNION ALL\n  ".join(
        f"SELECT id, {b} AS band, "
        + _bucket_sql("e", all_planes[b * planes_per_band : (b + 1) * planes_per_band])
        + " AS bkt FROM v"
        for b in range(n_bands)
    )
    return f"""
WITH v AS (SELECT {id_col} AS id, {vec_col}::DOUBLE[] AS e FROM {table}),
banded AS (
  {band_selects}
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM banded a JOIN banded b ON a.band = b.band AND a.bkt = b.bkt AND a.id < b.id
),
verified AS (
  SELECT c.id_a, c.id_b,
         list_dot_product(va.e, vb.e)
           / (sqrt(list_dot_product(va.e, va.e)) * sqrt(list_dot_product(vb.e, vb.e))) AS cos
  FROM cand c JOIN v va ON va.id = c.id_a JOIN v vb ON vb.id = c.id_b
)
SELECT id_a, id_b, CAST(floor(cos * 1000000) AS BIGINT) AS cosine_e6
FROM verified WHERE cos >= {threshold}
"""
