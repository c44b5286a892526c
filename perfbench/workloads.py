"""The benchmark's workloads. Each drives the engine only through its public
calls, as one closed-loop client: the next call starts when the previous one
has returned. A workload times its set-up, then makes ``ITERATIONS`` write
calls, each followed by its read step, so every run measures the same
sequence of engine states; ``seconds`` only caps the call time, as a guard
against a stalled machine. Every read is checked against a DuckDB oracle
outside the timed calls.
"""

from __future__ import annotations

import os
import random
import time
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import functions as F

from oracles import Oracle, row_digest
from spans import Tracer, percentile
from storeprobe import StoreProbe

from kafka_connect_claim_check_smt_spark import ClaimCheckConfig, hydrate
from kafka_connect_claim_check_smt_spark.operators.dedup_index import (
    MinHashIndex,
    minhash_index_sql,
)
from kafka_connect_claim_check_smt_spark.plans.lake import LakeTable
from kafka_connect_claim_check_smt_spark.sources.changelog import synth_change_events_py
from kafka_connect_claim_check_smt_spark.streaming.replay import apply_cdc_batch, read_back

# timed write/read iterations per run, after the warm-up in set-up
ITERATIONS = 3
CONTROL_ROWS = 1_000_000

# replay: the generator's own size tiers stay at 4096 (70 % < 512 B,
# 25 % 512-4095 B, 5 % > 4096 B); ClaimCheckConfig cuts at 512 B, so the
# mid tier is claim-checked too
GENERATOR_THRESHOLD = 4096
REPLAY_THRESHOLD = 512
REPLAY_KEYS = 12_000
BOOTSTRAP_EVENTS = 10_000
EPOCH_EVENTS = 20_000
LOOKUP_KEYS = 8
LAKE_BUCKETS = 8
LOG_FILES = 8

# index: sf0.1-shaped documents; even doc_ids below BASE_DOCS go into the
# first warm-up add, each later add takes the next ADD_DOCS even ids, and
# every probe reads the odd ids below PROBE_DOCS
DOCS = 5000
BASE_DOCS = 1000
ADD_DOCS = 200
PROBE_DOCS = 1000
PROBE_THRESHOLD = 0.35


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    oracle: Oracle
    run_dir: Path
    seed: int
    seconds: float
    trace: bool


@dataclass
class Outcome:
    """What one workload run measured; the report turns it into metrics."""

    setup_s: float = 0.0
    setup_parts: dict = field(default_factory=dict)
    log_write_s: float = 0.0
    write_s: list[float] = field(default_factory=list)
    write_items: list[int] = field(default_factory=list)
    read_s: list[float] = field(default_factory=list)
    read_parts: dict[str, list[float]] = field(default_factory=dict)
    plain_read_s: list[float] = field(default_factory=list)  # traced run only
    control_s: list[float] = field(default_factory=list)
    control_baseline_s: float = 0.0  # the warm control at the end of set-up
    capped: bool = False  # stopped short of ITERATIONS by the seconds cap
    attempted: int = 0
    failed: int = 0
    gates: list[dict] = field(default_factory=list)
    layer: dict = field(default_factory=dict)  # driver-side per-layer facts

    @property
    def measured_s(self) -> float:
        return sum(self.write_s) + sum(self.read_s)

    def within(self, seconds: float) -> bool:
        """Whether the seconds cap still allows another iteration."""
        self.capped = self.measured_s >= seconds
        return not self.capped

    def gate(self, name: str, expected, actual) -> None:
        self.gates.append({"gate": name, "ok": expected == actual, "expected": str(expected), "actual": str(actual)})


def _row_hash_col():
    """Spark twin of ``oracles._ROW_HASH_SQL``: first 60 bits of the row's
    sha256, as an exact decimal so the sum cannot overflow."""
    row = F.concat_ws("|", "repo", "path", F.col("commit_seq").cast("string"), F.sha2("content", 256))
    return F.conv(F.substring(F.sha2(row, 256), 1, 15), 16, 10).cast("decimal(20,0)")


def content_digest(df) -> tuple[int, int]:
    """Aggregate that forces every row's ``content`` (and so hydration):
    unlike ``count()``, which lets Spark prune the hydrate UDF away."""
    r = df.agg(F.count(F.lit(1)).alias("n"), F.sum(_row_hash_col()).alias("s")).collect()[0]
    return int(r["n"]), int(r["s"] or 0)


def _files_under(root: Path, suffix: str) -> tuple[int, int]:
    """Count and bytes of the files under ``root`` ending in ``suffix``;
    dot files (``.tmp-*`` blobs in flight, ``.crc``) are left out."""
    n = size = 0
    for dirpath, _, names in os.walk(root):
        for name in names:
            if name.endswith(suffix) and not name.startswith("."):
                n += 1
                size += os.path.getsize(os.path.join(dirpath, name))
    return n, size


def _newest_manifest_bytes(root: Path) -> int:
    total = 0
    for versions in root.rglob("_versions"):
        manifests = [p for p in versions.glob("v*.json") if p.stem[1:].isdigit()]
        if manifests:
            total += max(manifests, key=lambda p: int(p.stem[1:])).stat().st_size
    return total


def control_job(ctx: Ctx, iteration: int | None = None) -> float:
    """A fixed Spark job that runs no engine code: hashing, one shuffle and
    an aggregate over ``spark.range``. It runs before every iteration, so
    each run measures its machine's speed in the same window as its calls
    (a shared machine's speed can drift by a quarter over minutes); the
    end-to-end latencies are reported relative to it."""
    with ctx.tracer.span("control", iteration=iteration) as s:
        ids = ctx.spark.range(0, CONTROL_ROWS, 1, 2 * ctx.spark.sparkContext.defaultParallelism)
        h = F.sha2(F.concat(F.lit("c"), F.col("id").cast("string")), 256)
        ids.select(F.pmod(F.col("id"), F.lit(64)).alias("k"), h.alias("h")).groupBy("k").agg(
            F.max("h"), F.sum(F.length("h"))
        ).collect()
    return s.duration


def _timed(ctx: Ctx, out: Outcome, name: str, role: str, iteration: int, fn):
    """One timed engine call; an exception counts as a failed call."""
    out.attempted += 1
    with ctx.tracer.span(name, role=role, iteration=iteration) as s:
        try:
            result = fn()
        except Exception as exc:  # counted and kept; the caller ends the loop
            out.failed += 1
            s.attrs["error"] = repr(exc)[:500]
            raise
    return result, s.duration


# --------------------------------------------------------------------------
# CDC replay workload
# --------------------------------------------------------------------------


def _make_log(ctx: Ctx, out: Outcome, total: int):
    """Materialize the change log with the generator's sequential twin
    (bit-identical to ``synth_change_events``) into a few parquet files, so
    set-up does not spend its time in a cold JVM and the scan splits."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    log_dir = ctx.run_dir / "log"
    log_dir.mkdir()
    with ctx.tracer.span("sources.synth_change_events_py") as s:
        rows = synth_change_events_py(total, REPLAY_KEYS, seed=ctx.seed, threshold=GENERATOR_THRESHOLD)
        step = -(-total // LOG_FILES)
        for i in range(0, total, step):
            pq.write_table(pa.Table.from_pylist(rows[i : i + step]), log_dir / f"part-{i // step:03d}.parquet")
    out.log_write_s = s.duration
    ctx.oracle.register_log(str(log_dir))
    return ctx.spark.read.parquet(str(log_dir))


def _epoch(log, lo: int, hi: int):
    return log.filter((F.col("commit_seq") >= lo) & (F.col("commit_seq") < hi))


def hydrate_lookup(table: LakeTable, keys, cfg, factory) -> set[tuple]:
    """Hydrated point read of ``keys``; collecting ``sha2(content)`` forces
    every blob fetch."""
    df = hydrate(table.lookup(keys), cfg, store_factory=factory)
    return {tuple(r) for r in df.select("repo", "path", "commit_seq", F.sha2("content", 256)).collect()}


def feed_counts(table: LakeTable, v0: int, v1: int) -> dict[str, int]:
    rows = table.read_changes(v0, v1).groupBy("_change_type").count().collect()
    return {r["_change_type"]: int(r["count"]) for r in rows}


def run_replay(ctx: Ctx) -> Outcome:
    """Bootstrap, then a closed loop of epochs. After each epoch a consumer
    reads what it committed: a full hydrated read, a hydrated lookup of a
    fixed key set and the change feed of the epoch."""
    out = Outcome()
    t0 = time.perf_counter()
    log = _make_log(ctx, out, BOOTSTRAP_EVENTS + ITERATIONS * EPOCH_EVENTS)
    blob_root = ctx.run_dir / "blobs"
    lake_root = ctx.run_dir / "lake"
    cfg = ClaimCheckConfig(root_dir=str(blob_root), threshold_bytes=REPLAY_THRESHOLD)
    table = LakeTable(ctx.spark, str(lake_root), ["repo", "path"], "commit_seq", num_buckets=LAKE_BUCKETS, op_col="op")
    # traced run: hydrate's gets go through the timing store wrapper
    probe = StoreProbe(ctx.spark.sparkContext, cfg) if ctx.trace else None
    factory = probe.factory() if probe else None
    keys = ctx.oracle.sample_keys(BOOTSTRAP_EVENTS, LOOKUP_KEYS, ctx.seed)

    # warm-up: the bootstrap epoch (into an empty table) and the first call
    # of each read pay JVM start-up, JIT, codegen and Python worker
    # start-up, up to four times a warm call's time. Left cold, the reads
    # widen the run-to-run spread of the read step's median 1.7-2 times. The first timed epoch is
    # the first merge into existing rows and still runs slower; the median
    # of the three leaves it out
    with ctx.tracer.span("setup.warmup") as warm:
        with ctx.tracer.span("replay.apply_cdc_batch"):
            st = apply_cdc_batch(_epoch(log, 0, BOOTSTRAP_EVENTS), 0, table, cfg, uploaded_at_ms=0)
        with ctx.tracer.span("claimcheck.read_back"):
            content_digest(read_back(ctx.spark, table, cfg))
        with ctx.tracer.span("lake.lookup"):
            hydrate_lookup(table, keys, cfg, None)
        with ctx.tracer.span("lake.read_changes"):
            feed_counts(table, st["version"] - 1, st["version"])
        control_job(ctx)
        # the baseline for the control's drift (report.control_drifted)
        out.control_baseline_s = control_job(ctx)
    out.setup_parts["warmup_s"] = warm.duration
    out.setup_s = time.perf_counter() - t0
    blobs_before = _files_under(blob_root, "")
    probe_before = probe.read() if probe else None

    oversized, files_per_write, scanned, skipped = [], [], [], []
    reads = {"read_back_s": [], "lookup_s": [], "feed_s": []}
    for b in range(1, 1 + ITERATIONS):
        if not out.within(ctx.seconds):
            break
        lo = BOOTSTRAP_EVENTS + (b - 1) * EPOCH_EVENTS
        hi = lo + EPOCH_EVENTS
        out.control_s.append(control_job(ctx, b))
        files_before = _files_under(lake_root, ".parquet")[0]
        v0 = table.current_version()
        try:
            st, dt = _timed(ctx, out, "replay.apply_cdc_batch", "write", b,
                            lambda: apply_cdc_batch(_epoch(log, lo, hi), b, table, cfg, uploaded_at_ms=0))
            digest, d1 = _timed(ctx, out, "claimcheck.read_back", "read", b,
                                lambda: content_digest(hydrate(table.read(), cfg, store_factory=factory)))
            rows, d2 = _timed(ctx, out, "lake.lookup", "read", b, lambda: hydrate_lookup(table, keys, cfg, factory))
            lookup_stats = dict(table.last_probe_stats)
            feed, d3 = _timed(ctx, out, "lake.read_changes", "read", b, lambda: feed_counts(table, v0, st["version"]))
        except Exception:
            break
        out.write_s.append(dt)
        out.write_items.append(st["metrics"]["rows_in"])
        out.read_s.append(d1 + d2 + d3)
        for name, d in zip(reads, (d1, d2, d3)):
            reads[name].append(d)
        oversized.append(st["metrics"]["oversized_rows"])
        files_per_write.append(_files_under(lake_root, ".parquet")[0] - files_before)
        scanned.append(lookup_stats["files_scanned"])
        skipped.append(lookup_stats["files_total"] - lookup_stats["files_scanned"])
        with ctx.tracer.span("oracle.gate", iteration=b):
            out.gate(f"state@{b}", ctx.oracle.state_digest(hi), digest)
            out.gate(f"lookup@{b}", ctx.oracle.lookup(keys, hi), rows)
            out.gate(f"feed@{b}", ctx.oracle.feed_counts(lo, hi), feed)
        if ctx.trace:
            # the same full read without hydration, to state what it adds
            with ctx.tracer.span("trace.plain_read", iteration=b) as s:
                content_digest(table.read())
            out.plain_read_s.append(s.duration)

    out.read_parts.update(reads)
    blobs_end = _files_under(blob_root, "")
    out.layer.update(
        oversized_rows=oversized,
        blobs_written=blobs_end[0] - blobs_before[0],
        blob_bytes_written=blobs_end[1] - blobs_before[1],
        files_per_write=files_per_write,
        manifest_bytes=_newest_manifest_bytes(lake_root),
        read_files_scanned=scanned,
        read_files_skipped=skipped,
    )
    if probe is not None:
        after = probe.read()
        out.layer["storage"] = {k: after[k] - probe_before[k] for k in after}
    return out


# --------------------------------------------------------------------------
# MinHash index workload
# --------------------------------------------------------------------------


# the 30 words of sf0.1's documents.parquet, drawn uniformly there
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()


def synth_documents(n: int, seed: int) -> list[tuple[int, str]]:
    """Documents shaped like sf0.1's ``documents.parquet``: uniform words
    from its 30-word vocabulary, 10-99 words each, and 5 % of documents are
    another document's text with `` dup`` appended. With so few words,
    unrelated documents share many 8-grams, so a probe verifies thousands of
    candidate pairs, as it does on sf0.1."""
    rng = random.Random(seed)
    texts = [" ".join(rng.choice(VOCAB) for _ in range(rng.randint(10, 99))) for _ in range(n)]
    for i in sorted(rng.sample(range(n), n // 20)):
        j = rng.randrange(n - 1)
        texts[i] = texts[j + (j >= i)] + " dup"
    return list(enumerate(texts))


def run_index(ctx: Ctx) -> Outcome:
    import pyarrow as pa
    import pyarrow.parquet as pq

    out = Outcome()
    t0 = time.perf_counter()
    docs_path = ctx.run_dir / "documents.parquet"
    with ctx.tracer.span("sources.documents") as s:
        rows = synth_documents(DOCS, ctx.seed)
        pq.write_table(pa.table({"doc_id": [r[0] for r in rows], "text": [r[1] for r in rows]}), docs_path)
    out.log_write_s = s.duration
    docs = ctx.spark.read.parquet(str(docs_path))
    idx_root = ctx.run_dir / "index"
    # the index shape of the declared dedup_index query: md5, k=8, 16 buckets
    idx = MinHashIndex(ctx.spark, str(idx_root), k=8, hasher="md5", num_buckets=16)
    probe_set = docs.filter((F.col("doc_id") % 2 == 1) & (F.col("doc_id") < PROBE_DOCS))

    def even(lo: int, hi: int):
        return docs.filter((F.col("doc_id") % 2 == 0) & (F.col("doc_id") >= lo) & (F.col("doc_id") < hi))

    # warm-up: the first add (into an empty index) and the first probe run
    # several times slower than later ones. The first timed add, the first
    # into a non-empty index, still runs slower; the median of the three
    # leaves it out
    with ctx.tracer.span("setup.warmup") as warm:
        with ctx.tracer.span("index.add"):
            idx.add(even(0, BASE_DOCS), epoch_id="e0", assume_new=True)
        with ctx.tracer.span("index.probe"):
            idx.probe(probe_set, threshold=PROBE_THRESHOLD).collect()
        control_job(ctx)
        # the baseline for the control's drift (report.control_drifted)
        out.control_baseline_s = control_job(ctx)
    out.setup_parts["warmup_s"] = warm.duration
    out.setup_s = time.perf_counter() - t0

    hi = BASE_DOCS
    pairs_out, scanned, skipped, files_per_write = [], [], [], []
    pairs = []
    for b in range(1, 1 + ITERATIONS):
        if not out.within(ctx.seconds):
            break
        lo, hi = hi, hi + 2 * ADD_DOCS
        out.control_s.append(control_job(ctx, b))
        files_before = _files_under(idx_root, ".parquet")[0]
        try:
            _, dt = _timed(ctx, out, "index.add", "write", b,
                           lambda: idx.add(even(lo, hi), epoch_id=f"e{b}", assume_new=True))
            out.write_s.append(dt)
            out.write_items.append(ADD_DOCS)
            files_per_write.append(_files_under(idx_root, ".parquet")[0] - files_before)
            pairs, dp = _timed(ctx, out, "index.probe", "read", b,
                               lambda: [tuple(r) for r in idx.probe(probe_set, threshold=PROBE_THRESHOLD).collect()])
            out.read_s.append(dp)
        except Exception:
            hi = lo  # this add may not have committed; the gate covers the last probe
            break
        ps = idx.bands_t.last_probe_stats
        scanned.append(ps["files_scanned"])
        skipped.append(ps["files_total"] - ps["files_scanned"])
        pairs_out.append(len(pairs))

    # gate the last probe, which saw every add: DuckDB replays the identical
    # hash family, banding and integer agreement arithmetic
    if out.read_s:
        with ctx.tracer.span("oracle.gate", iteration=b):
            ctx.oracle.register_docs(str(docs_path), below=max(hi, PROBE_DOCS))
            sql = minhash_index_sql(
                "documents", "doc_id", "text",
                indexed_pred=f"t.doc_id % 2 = 0 AND t.doc_id < {hi}",
                probe_pred=f"t.doc_id % 2 = 1 AND t.doc_id < {PROBE_DOCS}",
                k=8, threshold=PROBE_THRESHOLD, hasher="md5",
            )
            out.gate(f"pairs@{b}", ctx.oracle.pairs_digest(sql), row_digest(pairs))
    out.layer.update(
        pairs_out=pairs_out,
        files_per_write=files_per_write,
        manifest_bytes=_newest_manifest_bytes(idx_root),
        read_files_scanned=scanned,
        read_files_skipped=skipped,
    )
    return out


def median(xs: list[float]) -> float:
    return percentile(xs, 50) if xs else 0.0
