"""LakeTable — a versioned, bucketed, copy-on-write parquet table with
idempotent key-partitioned MERGE. The engine's sink.

The north rule demands "key-partitioned MERGE INTO upserts to the Iceberg sink
with idempotent exactly-once semantics via checkpointed epoch/commit-id dedup
and schema evolution". This sandbox has no Iceberg runtime jar, so the table
format is implemented here with the same architecture Iceberg uses — and the
API is format-agnostic so a real Iceberg catalog can replace it: see
``plans/iceberg.py::IcebergTable`` (same interface over SQL MERGE INTO,
constructor-gated on :func:`iceberg_available`):

- **snapshot isolation**: every merge produces a new immutable version
  (manifest ``_versions/v{n}.json`` listing data files per bucket); readers
  resolve the ``_latest`` pointer (atomic os.replace) and never see partial
  writes. Old versions remain readable (time travel) until ``vacuum``.
- **copy-on-write, partition-pruned**: rows are hash-bucketed on the key
  (``pmod(xxhash64(keys), num_buckets)`` ≙ Iceberg ``bucket(N, key)``
  partition transform). A merge rewrites **only the buckets its updates
  touch**; untouched buckets carry forward by file reference. At 10^10 rows /
  1000 executors the merge cost is proportional to the changed key space, not
  the table size.
- **exactly-once**: each merge can carry an ``epoch_id``; committed epoch ids
  are recorded in the manifest, and re-merging an already-committed epoch is a
  no-op (idempotent replay under Structured Streaming's at-least-once
  ``foreachBatch``). The MERGE itself is also idempotent (keyed LWW upsert),
  giving two independent layers.
- **LWW merge semantics**: ``WHEN MATCHED AND u.order > t.order THEN UPDATE``
  is realized as union + max_by(struct, order) per key — map-side partial
  aggregation, one shuffle keyed by (bucket, key), skew-bounded by bucketing.
- **schema evolution**: added columns (null-backfilled) and type widening
  (int→long, float→double, decimal precision growth — Iceberg's rules) are
  reconciled at merge time; the manifest carries the current schema.
- **lineage**: every committed epoch records per-bucket row counts, offsets
  (min/max commit_seq), and caller-supplied metrics — queryable via
  ``lineage_df``.
- **point-in-time rollback**: ``rollback(to_version)`` restores any
  still-vacuum-retained version in O(1) (the new manifest re-references the
  old files) and FORGETS the rolled-back epoch ids (excluded version ranges),
  so a corrected replay of a poisoned batch merges under its original id —
  ≙ Iceberg ``rollback_to_snapshot`` / Delta ``RESTORE``.

Writer concurrency: one STREAM per table (Structured Streaming's foreachBatch
is sequential), but independent writers may share a table — commits use
optimistic concurrency (≙ Iceberg's catalog CAS): the commit point is the
atomic exclusive creation of the version-slot manifest (hardlink of a
fully-written temp file, so a torn write can never occupy a slot), and a
merge that loses the race re-validates that its touched buckets are
untouched at the new head, rebases its manifest, and retries (bounded).
Overlapping-bucket writers still get a hard ``LakeConflictError`` — their
base rows were rewritten underneath them and a rebase would lose updates.
"""

from __future__ import annotations

import json
import os
import random
import tempfile
import time
import uuid
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..errors import ClaimCheckError, ExpiredVersionError
from ..operators.dedup import lww_dedup

BUCKET_COL = "__bucket"
_PB_COL = "__pb"  # physical partition dir column (duplicate of __bucket)


class LakeConflictError(ClaimCheckError):
    """Concurrent writer detected (manifest advanced underneath a merge)."""


def _footer_rows(root: Path, files: list[str]) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(str(root / f)).metadata.num_rows for f in files)


def _canon_stat(v):
    """Canonicalize a parquet-footer statistic (or a caller's predicate
    value) into a JSON-round-trippable, order-preserving scalar: numbers stay
    numbers, strings stay strings. Returns None — meaning "cannot prune on
    this column" — for every other type: bytes (writers may truncate binary
    stats), Decimal (float round-trip loses precision), and timestamps/dates
    (a naive-datetime bound is interpreted in the SESSION timezone by the
    Spark row filter but has no timezone in the footer statistic, and float
    total_seconds math truncates microseconds — either mismatch makes the
    file-level skip disagree with the row filter, i.e. silently wrong
    results; integral epoch columns are the prunable representation)."""
    if isinstance(v, bool):  # before int: bool is an int subclass
        return None
    if isinstance(v, (int, float)):
        return v
    if isinstance(v, str):
        return v
    return None


def _same_stat_kind(a, b) -> bool:
    """Only compare like with like: numeric vs numeric or str vs str.
    A kind mismatch (schema evolved a column's type across files) means
    'cannot prune', never a TypeError."""
    num = (int, float)
    return (isinstance(a, num) and isinstance(b, num)) or (
        isinstance(a, str) and isinstance(b, str)
    )


def _stats_from_metadata(md, cols: list[str]) -> dict[str, list]:
    """Zone map ``{col: [min, max]}`` from one parquet FileMetaData. A column
    is omitted when any row group lacks trustworthy min/max (all-null,
    unsupported type) — missing stats mean 'cannot skip', never wrong
    answers."""
    schema = md.schema
    want = set(cols)
    # ParquetSchema enumerates LEAF columns (nested fields appear as
    # dotted paths); stats cols are scalar keys/order so names match 1:1
    idx = {
        schema.column(i).name: i
        for i in range(len(schema))
        if schema.column(i).name in want
    }
    per_col: dict[str, list] = {}
    for name, ci in idx.items():
        lo = hi = None
        ok = True
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(ci).statistics
            if st is None or not st.has_min_max:
                ok = False
                break
            mn, mx = _canon_stat(st.min), _canon_stat(st.max)
            if mn is None or mx is None:
                ok = False
                break
            lo = mn if lo is None or mn < lo else lo
            hi = mx if hi is None or mx > hi else hi
        if ok and lo is not None:
            per_col[name] = [lo, hi]
    return per_col


def _collect_file_stats(
    root: Path, files: list[str], cols: list[str]
) -> dict[str, dict[str, list]]:
    """Per-file zone maps from parquet footers: ``{relpath: {col: [min,
    max]}}`` for the requested columns. Metadata-only reads — O(new files)
    per commit, driver-side, the same cost class as the lineage row counts
    (``_footer_rows``). This is the sandbox-faithful version of Iceberg
    collecting lower_bounds/upper_bounds into manifest entries at write time;
    on a real cluster the write tasks would report these with the file
    handles."""
    import pyarrow.parquet as pq

    out: dict[str, dict[str, list]] = {}
    for rel in files:
        per_col = _stats_from_metadata(pq.ParquetFile(str(root / rel)).metadata, cols)
        if per_col:
            out[rel] = per_col
    return out


def _stats_admit(fstats: dict | None, bounds: dict[str, tuple]) -> bool:
    """True iff a file whose zone map is ``fstats`` could contain a row
    satisfying every ``col -> (lo, hi)`` bound (inclusive; None = unbounded).
    Missing stats for a column admit the file. NULL rows can never satisfy a
    range/equality predicate, so pruning on non-null min/max is exact."""
    if not fstats:
        return True
    for c, (lo, hi) in bounds.items():
        st = fstats.get(c)
        if st is None:
            continue
        mn, mx = st
        if lo is not None and _same_stat_kind(mx, lo) and mx < lo:
            return False
        if hi is not None and _same_stat_kind(mn, hi) and mn > hi:
            return False
    return True


def _zorder_boundaries(
    df: DataFrame, cols: list[str], bits: int, n_rows_est: int, seed: int = 7
) -> dict[str, list]:
    """Per-column quantile boundaries (≤ ``2**bits - 1`` values each) for
    z-order ranks, from ONE bounded deterministic sample of ``df``.

    Scale contract: the collect is capped (``_Z_SAMPLE_CAP`` rows × ndims
    scalars) regardless of table size — the same cost class as Spark's own
    ``repartitionByRange`` reservoir sampling, and quantile-from-sample is
    exactly how Iceberg's sort-order rewrite picks range boundaries. Works
    for any orderable type (int, float, string, timestamp) — no
    approxQuantile numeric restriction."""
    cap = _Z_SAMPLE_CAP
    frac = min(1.0, (cap * 2.0) / max(n_rows_est, 1))
    rows = df.select(*cols).sample(fraction=frac, seed=seed).limit(cap * 4).collect()
    out: dict[str, list] = {}
    n_bnd = (1 << bits) - 1
    for c in cols:
        vals = sorted(r[c] for r in rows if r[c] is not None)
        if not vals:
            out[c] = []
            continue
        # interior quantiles; dedup preserves order so skewed columns just
        # use fewer distinct ranks (correct, merely less selective)
        bnds = [vals[(k * len(vals)) // (n_bnd + 1)] for k in range(1, n_bnd + 1)]
        out[c] = list(dict.fromkeys(bnds))
    return out


_Z_SAMPLE_CAP = 8192
_Z_COL = "__zv"


def _zrank_expr(col: str, boundaries: list):
    """rank(col) = #boundaries ≤ value, in [0, len(boundaries)]; NULL → 0
    (nulls cluster with the lowest range). Pure codegen-friendly arithmetic
    — a ≤63-term CASE sum, no UDF."""
    c = F.col(col)
    r = F.lit(0)
    for b in boundaries:
        r = r + F.when(c >= F.lit(b), 1).otherwise(0)
    return r


def _zvalue_expr(ranks: list, bits: int):
    """Interleave ``bits`` bits of each rank (Morton/Z curve): bit ``i`` of
    dimension ``d`` lands at position ``i*ndims + d``. All JVM-side
    shift/mask arithmetic."""
    nd = len(ranks)
    z = F.lit(0).cast("long")
    for i in range(bits):
        for d, r in enumerate(ranks):
            bit = F.shiftright(r.cast("long"), i).bitwiseAND(F.lit(1))
            z = z + F.shiftleft(bit, i * nd + d)
    return z


# Iceberg-compatible widening rules
_WIDEN_LADDERS = [
    [T.ByteType(), T.ShortType(), T.IntegerType(), T.LongType()],
    [T.FloatType(), T.DoubleType()],
]


def _widen(a: T.DataType, b: T.DataType) -> T.DataType | None:
    if a == b:
        return a
    for ladder in _WIDEN_LADDERS:
        if a in ladder and b in ladder:
            return ladder[max(ladder.index(a), ladder.index(b))]
    if isinstance(a, T.DecimalType) and isinstance(b, T.DecimalType) and a.scale == b.scale:
        return a if a.precision >= b.precision else b
    return None


def _all_nullable(dt: T.DataType) -> T.DataType:
    """Relax every (nested) field to nullable — parquet round-trips lose
    NOT NULL anyway, and a NOT NULL struct field in the manifest schema makes
    later conform-casts unresolvable."""
    if isinstance(dt, T.StructType):
        return T.StructType(
            [T.StructField(f.name, _all_nullable(f.dataType), True) for f in dt.fields]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_all_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(_all_nullable(dt.keyType), _all_nullable(dt.valueType), True)
    return dt


def reconcile_schemas(current: T.StructType, incoming: T.StructType) -> T.StructType:
    """Merged schema: union of columns, widened types. Incompatible type
    changes are errors (matching Iceberg's evolution rules)."""
    fields: dict[str, T.StructField] = {f.name: f for f in current.fields}
    order = [f.name for f in current.fields]
    for f in incoming.fields:
        if f.name not in fields:
            fields[f.name] = T.StructField(f.name, f.dataType, True)
            order.append(f.name)
            continue
        cur = fields[f.name]
        if cur.dataType != f.dataType:
            w = _widen(cur.dataType, f.dataType)
            if w is None:
                raise ClaimCheckError(
                    f"incompatible schema change for column {f.name!r}: "
                    f"{cur.dataType.simpleString()} vs {f.dataType.simpleString()}"
                )
            fields[f.name] = T.StructField(f.name, w, True)
    return T.StructType([fields[n] for n in order])


def _quote(name: str) -> str:
    """Backtick-quoted identifier for SQL-string expressions."""
    return "`" + name.replace("`", "``") + "`"


def _conform(df: DataFrame, schema: T.StructType) -> DataFrame:
    cols = []
    have = {f.name for f in df.schema.fields}
    for f in schema.fields:
        if f.name in have:
            cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    return df.select(*cols)


class LakeTable:
    def __init__(
        self,
        spark: SparkSession,
        root: str,
        key_cols: list[str],
        order_col: str = "commit_seq",
        *,
        num_buckets: int = 16,
        op_col: str | None = None,
        delete_value: str = "delete",
        epoch_tail: int = 64,
        max_commit_retries: int = 5,
        bucket_cols: list[str] | None = None,
        stats_cols: list[str] | None = None,
        bloom_filter_cols: list[str] | None = None,
        bloom_filter_ndv: int = 100_000,
    ):
        self.spark = spark
        self.root = Path(root).absolute()
        self.key_cols = list(key_cols)
        # bucketing on a key PREFIX (≙ an Iceberg partition spec narrower than
        # the identity key): lets readers prune by the prefix alone —
        # e.g. an LSH band index keyed (band, bh, doc_id) but bucketed
        # (band, bh) so a probe batch that knows only its band keys still
        # reads len(matching buckets)/num_buckets of the files (probe()).
        # Default = key_cols (identity bucketing, the existing behavior).
        self.bucket_cols = list(bucket_cols) if bucket_cols else list(key_cols)
        if not set(self.bucket_cols) <= set(self.key_cols):
            raise ClaimCheckError(
                f"bucket_cols {self.bucket_cols} must be a subset of key_cols "
                f"{self.key_cols} — bucketing on a non-key column would scatter "
                "one logical key across buckets and break partition-pruned MERGE"
            )
        self.order_col = order_col
        self.num_buckets = num_buckets
        self.op_col = op_col
        self.delete_value = delete_value
        # how many epoch entries stay inline in each version manifest; older
        # entries rotate to the append-only _versions/epochs.jsonl (see
        # _commit) so a 10^5-epoch stream doesn't pay O(epochs²) total
        # manifest bytes — each manifest copies only the tail
        self.epoch_tail = max(1, epoch_tail)
        # CAS rebase attempts for a merge that loses a commit race against a
        # disjoint-bucket writer before giving up (0 = strict single-writer)
        self.max_commit_retries = max(0, max_commit_retries)
        # zone-map columns: per-file min/max recorded in the manifest at
        # commit (≙ Iceberg lower_bounds/upper_bounds). Default key + order:
        # keys serve lookup() within a bucket (tight after a sorted compact),
        # the order column serves time/sequence range scans (epochs are
        # naturally order-clustered, so appended files have disjoint ranges
        # without any sorting). stats_cols=[] disables collection.
        self.stats_cols = (
            list(stats_cols)
            if stats_cols is not None
            else list(dict.fromkeys(self.key_cols + [order_col]))
        )
        # opt-in native parquet bloom filters on these columns (written by
        # the JVM writer, used automatically by Spark's reader to skip row
        # groups on pushed EQUALITY predicates). This is the point-read
        # complement to zone maps: min/max ranges are useless on
        # high-entropy keys (digests, band hashes — every file spans the
        # whole key space), but a bloom answers "is this exact key possibly
        # here" per row group. Costs ~ndv bits per row group per column —
        # size it to the expected distinct keys PER FILE, not per table, and
        # keep it off (default) for low-entropy or range-read tables where
        # zone maps already skip.
        self.bloom_filter_cols = list(bloom_filter_cols or [])
        self.bloom_filter_ndv = bloom_filter_ndv
        (self.root / "_versions").mkdir(parents=True, exist_ok=True)
        # layout adoption on open: num_buckets is a TABLE property (≙ the
        # Iceberg partition spec — your create-time arg is ignored when the
        # table exists). Without this, a handle opened with a different
        # default would hash keys with the wrong modulus: bucket-pruned
        # merges/lookups would route keys AWAY from their existing rows —
        # silent corruption, same failure class the bucket_scheme/bucket_cols
        # guards refuse. One manifest read; also re-synced at every write
        # entry so a cross-handle rebucket() is picked up mid-lifetime.
        cv = self.current_version()
        if cv:
            self._adopt_layout(self._manifest(cv))

    def _adopt_layout(self, m: dict) -> dict:
        """Sync this handle's ``num_buckets`` to the manifest's stored layout
        (no-op for empty tables, which have no layout to protect yet)."""
        stored = m.get("num_buckets")
        if m.get("files") and stored and stored != self.num_buckets:
            self.num_buckets = stored
        return m

    # -- manifest plumbing ---------------------------------------------------

    def _latest_path(self) -> Path:
        return self.root / "_latest"

    def _pointer_version(self) -> int:
        """Raw ``_latest`` pointer value (read cache only — may lag the true
        head after a crash between the slot link and the pointer flip, or
        after a check-then-flip race between concurrent committers)."""
        p = self._latest_path()
        if not p.exists():
            return 0
        return int(p.read_text().strip())

    def current_version(self) -> int:
        """Newest committed version, reconciled FORWARD from the pointer.

        The commit point is the atomic ``os.link`` of the version slot
        (:meth:`_commit`); the pointer is a cache flipped after it. If a
        writer crashed (or a concurrent winner's flip was overwritten by a
        slower earlier committer) the pointer lags — walking forward while
        the next slot file exists recovers the true head in O(lag), which is
        O(1) in steady state. Safe because slot manifests are never deleted
        (``vacuum`` removes only data files), so the slot sequence has no
        gaps ABOVE a live pointer. Without this reconciliation a lagging
        pointer wedges the table: every ``_commit`` precondition checks the
        pointer, the retry loop rebases onto the slot head, and the two
        never agree (round-4 ADVICE, high).

        One exception to gaplessness: ``expire_versions`` deletes slots
        below its cutoff, and the residual check-then-flip race in
        ``_commit`` can land a STALE pointer value after expiry removed that
        slot — the forward walk would then strand every reader below the
        gap. Detected here (the pointer's own slot no longer exists) and
        healed by falling back to the glob head + repairing the pointer, so
        the race costs one O(slots) glob, never a wedge."""
        v = self._pointer_version()
        slots = self.root / "_versions"
        if v and not (slots / f"v{v}.json").exists():
            v = self._head_version()
            if v:  # best-effort repair; another racer doing the same is fine
                fd, tmp = tempfile.mkstemp(dir=self.root, prefix=".latest-")
                with os.fdopen(fd, "w") as f:
                    f.write(str(v))
                os.replace(tmp, self._latest_path())
            return v
        while (slots / f"v{v + 1}.json").exists():
            v += 1
        if v == 0:
            # pointer file absent (deleted / never copied) on a table whose
            # early slots were expired: the walk from 0 finds nothing — the
            # glob head is the recovery path here too
            return self._head_version()
        return v

    def _head_version(self) -> int:
        """Newest COMMITTED version. The commit point is the atomic creation
        of the version-slot manifest (see :meth:`_commit`); the ``_latest``
        pointer is a read cache flipped after it, so after a crash in the
        window between the two the pointer can lag by one. Conflict handling
        must rebase onto the true head, not the pointer — otherwise the slot
        stays occupied and every retry conflicts forever."""
        slots = [
            int(p.stem[1:])
            for p in (self.root / "_versions").glob("v*.json")
            if p.stem[1:].isdigit()
        ]
        return max(slots, default=0)

    # bumped whenever bucket_expr's hash input changes (v2 = canonical
    # int→long / fractional→double key casts). A table written under a
    # different scheme would silently split logical keys across buckets —
    # partition-pruned merges would then never co-locate old and new rows.
    BUCKET_SCHEME = 2

    def _manifest(self, version: int) -> dict:
        if version == 0:
            return {
                "version": 0,
                "files": {},
                "epochs": [],
                "schema": None,
                "num_buckets": self.num_buckets,
                "bucket_scheme": self.BUCKET_SCHEME,
                "bucket_cols": self.bucket_cols,
            }
        try:
            m = json.loads(
                (self.root / "_versions" / f"v{version}.json").read_text()
            )
        except FileNotFoundError:
            raise ExpiredVersionError(
                f"version {version} of table at {self.root} was expired "
                "(expire_versions) or never committed"
            ) from None
        stored = m.get("bucket_scheme", 1)
        if stored != self.BUCKET_SCHEME and m.get("files"):
            raise LakeConflictError(
                f"table at {self.root} was written with bucket scheme {stored}, "
                f"this build uses {self.BUCKET_SCHEME}; merging would mis-route "
                "keys to different buckets than their existing rows. Rewrite the "
                "table (read() -> new LakeTable at a fresh root) to migrate."
            )
        # same guard for the bucket COLUMNS (older manifests predate the field
        # and were always identity-bucketed on key_cols)
        stored_bc = m.get("bucket_cols", self.key_cols)
        if stored_bc != self.bucket_cols and m.get("files"):
            raise LakeConflictError(
                f"table at {self.root} is bucketed on {stored_bc}, this handle "
                f"was opened with bucket_cols={self.bucket_cols}; merging would "
                "mis-route keys. Open with the stored bucket_cols or rewrite."
            )
        return m

    def _epoch_log_path(self) -> Path:
        return self.root / "_versions" / "epochs.jsonl"

    def _rotated_epochs(self) -> list[dict]:
        """Epoch entries rotated out of the inline manifests, oldest first.

        Deduplicated by committing version (unique per entry, monotonic): a
        crash between the jsonl append and the manifest pointer flip leaves
        the overflow entries BOTH in the log and inline, and the next commit
        re-rotates them — first occurrence wins. A torn trailing line from a
        crashed append is skipped the same way.

        Cached per (mtime_ns, size) of the log file: the exactly-once skip
        check reads this on EVERY merge, and re-parsing a 10^5-line log per
        micro-batch would reintroduce the O(epochs²) total cost rotation
        exists to remove. Single-writer design — another process appending
        would change the stat key and invalidate the cache anyway."""
        p = self._epoch_log_path()
        if not p.exists():
            return []
        st = p.stat()
        key = (st.st_mtime_ns, st.st_size)
        cached = getattr(self, "_epoch_log_cache", None)
        if cached is not None and cached[0] == key:
            return cached[1]
        out, seen = [], set()
        for line in p.read_text().splitlines():
            try:
                e = json.loads(line)
            except json.JSONDecodeError:
                continue  # torn tail from a crashed append
            if e["version"] not in seen:
                seen.add(e["version"])
                out.append(e)
        self._epoch_log_cache = (key, out)
        return out

    def _all_epochs(self, manifest: dict) -> list[dict]:
        """Complete epoch history: rotated log + the manifest's inline tail
        (dedup by version across the crash-window overlap). Epochs whose
        committing version falls in one of the manifest's
        ``excluded_version_ranges`` (rolled back — see :meth:`rollback`) are
        FORGOTTEN: invisible to the exactly-once skip check, to
        ``committed_epochs``/``lineage_df``, and to the CDF touched-set."""
        rotated = self._rotated_epochs()
        seen = {e["version"] for e in rotated}
        out = rotated + [e for e in manifest["epochs"] if e["version"] not in seen]
        ranges = manifest.get("excluded_version_ranges")
        if ranges:
            out = [
                e
                for e in out
                if not any(lo <= e["version"] <= hi for lo, hi in ranges)
            ]
        return out

    @staticmethod
    def _inherited(parent: dict) -> dict:
        """Manifest keys every child commit must carry forward verbatim —
        dropping ``excluded_version_ranges`` would resurrect rolled-back
        epochs from the rotated log at the next commit."""
        exc = parent.get("excluded_version_ranges")
        return {"excluded_version_ranges": exc} if exc else {}

    def _commit(self, manifest: dict, expected_version: int) -> None:
        if self.current_version() != expected_version:
            raise LakeConflictError(
                f"expected version {expected_version}, found {self.current_version()}"
            )
        # epoch-log rotation: keep only the newest `epoch_tail` entries inline
        # (each manifest copies its predecessor's list, so an unbounded inline
        # list is O(epochs²) total bytes over a long stream); older entries
        # append once to the shared jsonl. Append happens BEFORE the pointer
        # flip — on a crash in between, entries exist in both places and the
        # version-keyed dedup in _rotated_epochs/_all_epochs resolves it.
        epochs = manifest["epochs"]
        if len(epochs) > self.epoch_tail:
            overflow = epochs[: -self.epoch_tail]
            rotated_versions = {e["version"] for e in self._rotated_epochs()}
            fresh = [e for e in overflow if e["version"] not in rotated_versions]
            if fresh:
                with self._epoch_log_path().open("a") as f:
                    for e in fresh:
                        f.write(json.dumps(e) + "\n")
            manifest = dict(manifest, epochs=epochs[-self.epoch_tail :])
        v = manifest["version"]
        mpath = self.root / "_versions" / f"v{v}.json"
        mpath.parent.mkdir(parents=True, exist_ok=True)
        # THE commit point — atomic exclusive claim of the version slot:
        # the manifest is fully written to a temp file first, then
        # hardlinked into place. link(2) fails with EEXIST if another
        # writer claimed the slot (the CAS), and a torn write can never
        # occupy a slot because only the complete temp file is ever linked.
        fd, tmp = tempfile.mkstemp(dir=mpath.parent, prefix=f".v{v}-")
        try:
            with os.fdopen(fd, "w") as f:
                f.write(json.dumps(manifest, indent=1))
            try:
                os.link(tmp, mpath)
            except FileExistsError:
                raise LakeConflictError(
                    f"version {v} was committed by a concurrent writer"
                ) from None
        finally:
            os.unlink(tmp)
        # pointer flip (read cache) — monotonic guard on the RAW pointer (the
        # reconciled current_version() would already equal v since we just
        # linked the slot, so it would never flip). A residual check-then-flip
        # race between committers can still briefly regress the raw pointer,
        # but readers reconcile forward from it (current_version), so a stale
        # pointer is only a cache miss, never a wedge.
        if self._pointer_version() < v:
            fd, tmp = tempfile.mkstemp(dir=self.root, prefix=".latest-")
            with os.fdopen(fd, "w") as f:
                f.write(str(v))
            os.replace(tmp, self._latest_path())

    def _harvest_write(
        self, vdir: Path, extra_stats_cols: list[str] | None = None
    ) -> tuple[dict[str, list[str]], dict[str, int], dict[str, dict]]:
        """Post-write harvest shared by every commit path: derive the
        bucket→files map from what was ACTUALLY written (glob, never the
        planner's hint), and read each new file's footer EXACTLY ONCE for
        both the lineage row counts and the zone-map stats — one driver-side
        metadata pass per committed file."""
        import pyarrow.parquet as pq

        stat_cols = list(dict.fromkeys(self.stats_cols + (extra_stats_cols or [])))
        written: dict[str, list[str]] = {}
        rows: dict[str, int] = {}
        stats: dict[str, dict] = {}
        for bdir in sorted(vdir.glob(f"{_PB_COL}=*")):
            b = bdir.name.split("=", 1)[1]
            files = sorted(str(p.relative_to(self.root)) for p in bdir.glob("*.parquet"))
            if not files:
                continue
            written[b] = files
            n = 0
            for rel in files:
                md = pq.ParquetFile(str(self.root / rel)).metadata
                n += md.num_rows
                per_col = _stats_from_metadata(md, stat_cols)
                if per_col:
                    stats[rel] = per_col
            rows[b] = n
        return written, rows, stats

    def _bucket_write(
        self, out: DataFrame, vdir: Path, max_records_per_file: int | None = None
    ) -> None:
        """The one physical write shape every commit path shares: partition
        the frame into per-bucket dirs, with the table's configured parquet
        bloom filters (if any) stamped on the writer. ``max_records_per_file``
        splits each bucket's output into size-bounded files — with a
        clustered sort order (``compact(cluster_by=...)``) each file then
        covers a contiguous value range and the manifest zone maps prune at
        FILE granularity, not just parquet row groups."""
        w = out.write
        if max_records_per_file:
            w = w.option("maxRecordsPerFile", str(int(max_records_per_file)))
        for c in self.bloom_filter_cols:
            w = w.option(f"parquet.bloom.filter.enabled#{c}", "true").option(
                f"parquet.bloom.filter.expected.ndv#{c}", str(self.bloom_filter_ndv)
            )
        w.partitionBy(_PB_COL).mode("overwrite").parquet(str(vdir))

    def _record_probe_stats(
        self, buckets: list[int], m: dict, files: list[str], skipped_by_stats: int = 0
    ) -> None:
        """Pruning introspection for the last :meth:`probe`/:meth:`lookup`:
        makes the O(batch) claim assertable in a cheap test
        (``buckets_scanned < buckets_with_data``) instead of only via scale
        probes. Driver-side bookkeeping only — no extra Spark work."""
        self.last_probe_stats = {
            "buckets_scanned": len([b for b in buckets if m["files"].get(str(b))]),
            "buckets_with_data": len(m["files"]),
            "files_scanned": len(files),
            "files_total": sum(len(fs) for fs in m["files"].values()),
            "files_skipped_by_stats": skipped_by_stats,
        }

    def stats(self) -> dict:
        """Table health snapshot from manifest + parquet footers (no Spark
        job): version/epoch counts, bucket occupancy, file and row totals.
        The describe() surface for maintenance decisions — a files/bucket
        ratio creeping up says compact(); rows across versions says vacuum."""
        m = self._manifest(self.current_version())
        n_files = sum(len(fs) for fs in m["files"].values())
        rows = sum(_footer_rows(self.root, fs) for fs in m["files"].values())
        n_manifests = sum(
            1
            for p in (self.root / "_versions").glob("v*.json")
            if p.stem[1:].isdigit()
        ) if (self.root / "_versions").exists() else 0
        return {
            "version": m["version"],
            "epochs": len(self._all_epochs(m)),
            "num_buckets": self.num_buckets,
            "buckets_with_data": len(m["files"]),
            "files": n_files,
            "rows": rows,
            "files_with_stats": len(m.get("file_stats", {})),
            # maintenance/remediation state: manifests retained on disk
            # (expire_versions bounds this) and version ranges a rollback
            # excluded from the epoch history
            "manifests_retained": n_manifests,
            "excluded_version_ranges": m.get("excluded_version_ranges", []),
        }

    def committed_epochs(self) -> list[str]:
        m = self._manifest(self.current_version())
        return [e["epoch_id"] for e in self._all_epochs(m) if e.get("epoch_id") is not None]

    def lineage_df(self) -> DataFrame:
        """Per-epoch lineage/metrics as a DataFrame (full history — inline
        tail plus any rotated epoch-log entries)."""
        m = self._manifest(self.current_version())
        rows = [json.dumps(e) for e in self._all_epochs(m)]
        if not rows:
            return self.spark.createDataFrame([], "epoch_id string")
        return self.spark.read.json(self.spark.sparkContext.parallelize(rows))

    # -- read path -----------------------------------------------------------

    def _schema(self, manifest: dict) -> T.StructType | None:
        return T.StructType.fromJson(json.loads(manifest["schema"])) if manifest["schema"] else None

    def read(
        self,
        version: int | None = None,
        internal: bool = False,
        include_tombstones: bool = False,
        where: dict[str, tuple] | None = None,
    ) -> DataFrame:
        """Snapshot read. File-list based: only current files are scanned, and
        Catalyst still gets parquet pushdown/pruning on them. Delete tombstones
        are filtered out unless ``include_tombstones`` (the filter is a pushed
        parquet predicate — tombstone-heavy row groups skip via stats).

        ``where`` — optional ``{col: (lo, hi)}`` inclusive range bounds
        (None = unbounded on that side). Two effects, both exact: files whose
        manifest zone map ([min, max] per stats col, see ``stats_cols``)
        cannot intersect the bounds are DROPPED FROM THE FILE LIST before
        Spark ever sees them (manifest-level skipping — at 10^10 rows a
        commit_seq range over an order-clustered table reads only the epochs
        it overlaps), and the same bounds are applied as a pushed row filter
        so results are identical whether or not any file carries stats.
        ``last_scan_stats`` records files pruned vs scanned."""
        m = self._manifest(self.current_version() if version is None else version)
        rels = [f for fs in m["files"].values() for f in fs]
        n_total = len(rels)
        if where:
            bounds = {
                c: (_canon_stat(lo) if lo is not None else None,
                    _canon_stat(hi) if hi is not None else None)
                for c, (lo, hi) in where.items()
            }
            fstats = m.get("file_stats", {})
            rels = [f for f in rels if _stats_admit(fstats.get(f), bounds)]
        self.last_scan_stats = {
            "files_total": n_total,
            "files_scanned": len(rels),
            "files_skipped_by_stats": n_total - len(rels),
        }
        files = [str(self.root / f) for f in rels]
        schema = self._schema(m)
        if not files:
            empty_schema = schema or T.StructType([T.StructField(k, T.StringType()) for k in self.key_cols])
            if BUCKET_COL not in empty_schema.names:
                empty_schema = T.StructType(empty_schema.fields + [T.StructField(BUCKET_COL, T.IntegerType())])
            df = self.spark.createDataFrame([], empty_schema)
        else:
            df = self.spark.read.schema(
                T.StructType(schema.fields + [T.StructField(BUCKET_COL, T.IntegerType())])
            ).parquet(*files)
        if where:
            for c, (lo, hi) in where.items():
                if c in df.columns:
                    if lo is not None:
                        df = df.filter(F.col(c) >= F.lit(lo))
                    if hi is not None:
                        df = df.filter(F.col(c) <= F.lit(hi))
        if (
            not include_tombstones
            and self.op_col
            and self.op_col in [f.name for f in df.schema.fields]
        ):
            df = df.filter(
                F.coalesce(F.col(self.op_col) != F.lit(self.delete_value), F.lit(True))
            )
        return df if internal else df.drop(BUCKET_COL)

    def lookup(self, keys: list[tuple], version: int | None = None) -> DataFrame:
        """Point reads: live rows for the given key tuples, scanning ONLY the
        buckets those keys hash to. At 10^10 rows a lookup touches
        len(distinct buckets)/num_buckets of the table's files, and the key
        equality predicates push into the parquet scan, so row groups skip on
        column stats too (pair with a sorted :meth:`compact` for tight
        min/max ranges). Bucket ids come from :meth:`bucket_expr` itself —
        exact scheme parity, no reimplementation drift — evaluated over an
        Arrow-built key frame typed with the stored key schema. That frame is
        a local relation, so the bucket select is folded into it and its
        collect runs on the driver: building a lookup launches no Spark job."""
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        if not keys:
            raise ClaimCheckError("lookup() requires at least one key tuple")
        m = self._manifest(self.current_version() if version is None else version)
        schema = self._schema(m)
        if schema is None:
            return self.read(version=version)
        key_tuples = [tuple(k) if isinstance(k, (list, tuple)) else (k,) for k in keys]
        # key_cols ORDER, not stored-schema order: the caller's key tuples
        # (and the row predicate's zip below) are positional in key_cols, so
        # building this in schema.fields order would silently map values to
        # the wrong fields whenever the two orders differ — wrong buckets,
        # wrong (or missing) rows.
        key_schema = T.StructType([schema[c] for c in self.key_cols])
        kdf = self.spark.createDataFrame(
            pa.Table.from_pylist(
                [dict(zip(self.key_cols, k)) for k in key_tuples],
                schema=to_arrow_schema(key_schema),
            ),
            key_schema,
        )
        buckets = sorted(
            {
                r[0]
                for r in kdf.select(
                    self.bucket_expr(kdf, m.get("num_buckets")).alias(BUCKET_COL)
                ).collect()
            }
        )
        rels = [f for b in buckets for f in m["files"].get(str(b), [])]
        # zone-map skipping WITHIN the surviving buckets: a file is read only
        # if its per-column [min, max] admits at least one requested key
        # (after a sorted compact, or across epochs with disjoint key ranges,
        # this drops most files the bucket hash alone cannot). Missing stats
        # admit the file — pruning never changes results.
        fstats = m.get("file_stats", {})
        canon_keys = [
            {
                c: (cv, cv)
                for c, v in zip(self.key_cols, kt)
                if (cv := _canon_stat(v)) is not None
            }
            for kt in key_tuples
        ]
        kept = [
            f
            for f in rels
            if any(_stats_admit(fstats.get(f), ck) for ck in canon_keys)
        ]
        files = [str(self.root / f) for f in kept]
        self._record_probe_stats(buckets, m, files, skipped_by_stats=len(rels) - len(kept))
        if not files:
            return self.spark.createDataFrame([], schema)
        df = self.spark.read.schema(
            T.StructType(schema.fields + [T.StructField(BUCKET_COL, T.IntegerType())])
        ).parquet(*files)
        pred = None
        for kt in key_tuples:
            one = None
            for c, v in zip(self.key_cols, kt):
                cond = F.col(c) == F.lit(v)
                one = cond if one is None else (one & cond)
            pred = one if pred is None else (pred | one)
        df = df.filter(pred)
        if self.op_col and self.op_col in [f.name for f in df.schema.fields]:
            df = df.filter(
                F.coalesce(F.col(self.op_col) != F.lit(self.delete_value), F.lit(True))
            )
        return df.drop(BUCKET_COL)

    def probe(self, keys_df: DataFrame, version: int | None = None) -> DataFrame:
        """Batch point-read: live rows whose ``bucket_cols`` value appears in
        ``keys_df`` (which must carry those columns). The DataFrame sibling of
        :meth:`lookup` — for probe sets too large to enumerate driver-side.

        Physical shape at 10^10 rows: the probe relation is reduced to PER-
        BUCKET KEY RANGES (one aggregation, collected — bounded by
        ``num_buckets`` rows, never by probe rows); only files in those
        buckets whose manifest zone map intersects the bucket's probe-key
        range enter the scan (range pruning is a no-op for high-entropy keys
        like digests, but an ordered-id probe — e.g. the re-add split
        probing recent doc_ids — skips the older epochs' files
        manifest-side), and a left-semi join against the distinct probe keys
        drops co-hashed neighbors. Cost is proportional to the matching
        bucket fraction plus one key-bounded semi-join — a dedup index probe
        for a 10^6-row batch against a 10^10-row index touches ~|batch band
        keys| buckets, not the index."""
        for c in self.bucket_cols:
            if c not in keys_df.columns:
                raise ClaimCheckError(
                    f"probe keys_df is missing bucket column {c!r} "
                    f"(needs all of {self.bucket_cols})"
                )
        m = self._manifest(self.current_version() if version is None else version)
        schema = self._schema(m)
        if schema is None:
            return self.read(version=version)
        keys = keys_df.select(*self.bucket_cols).distinct()
        per_bucket = (
            keys.groupBy(self.bucket_expr(keys, m.get("num_buckets")).alias(BUCKET_COL))
            .agg(
                *[F.min(c).alias(f"__mn_{c}") for c in self.bucket_cols],
                *[F.max(c).alias(f"__mx_{c}") for c in self.bucket_cols],
            )
            .collect()
        )
        buckets = sorted(r[BUCKET_COL] for r in per_bucket)
        fstats = m.get("file_stats", {})
        n_candidates, rels = 0, []
        for r in sorted(per_bucket, key=lambda r: r[BUCKET_COL]):
            bounds = {}
            for c in self.bucket_cols:
                mn, mx = _canon_stat(r[f"__mn_{c}"]), _canon_stat(r[f"__mx_{c}"])
                if mn is not None and mx is not None:
                    bounds[c] = (mn, mx)
            bfiles = m["files"].get(str(r[BUCKET_COL]), [])
            n_candidates += len(bfiles)
            rels.extend(f for f in bfiles if _stats_admit(fstats.get(f), bounds))
        files = [str(self.root / f) for f in rels]
        self._record_probe_stats(
            buckets, m, files, skipped_by_stats=n_candidates - len(rels)
        )
        if not files:
            return self.spark.createDataFrame([], schema)
        df = self.spark.read.schema(
            T.StructType(schema.fields + [T.StructField(BUCKET_COL, T.IntegerType())])
        ).parquet(*files)
        # no broadcast hint: the probe set scales with the BATCH (10^6 band
        # keys is hundreds of MB) — let AQE pick broadcast when it is small;
        # the fallback shuffle is keyed by bucket_cols and bounded by it
        df = df.join(keys, on=self.bucket_cols, how="leftsemi")
        if self.op_col and self.op_col in [f.name for f in df.schema.fields]:
            df = df.filter(
                F.coalesce(F.col(self.op_col) != F.lit(self.delete_value), F.lit(True))
            )
        return df.drop(BUCKET_COL)

    def resolving_versions(
        self,
        from_version: int,
        to_version: int | None = None,
        *,
        _loaded_manifest: dict | None = None,
    ) -> list[tuple[int, str]]:
        """Versions in ``(from_version, to_version]`` whose commit was a
        RESOLVING rewrite — a boundary ``read_changes`` cannot diff across —
        as ``(version, kind)`` pairs, ascending. Kinds:

        - ``"resolve_lww"``: lossy for a consumer (appended duplicate-key
          rows were collapsed — logical rows changed outside the CDF).
        - ``"rollback_over_relayout"``: a rollback whose restored span
          crossed a resolving rewrite (or that itself changed the bucket
          count). The rollback CHANGED logical rows (the retraction), so it
          is NOT skippable as a relayout no-op — a consumer missing this
          distinction would silently keep the rolled-back rows forever.
        - ``"rebucket"``: pure relayout — live rows identical on both sides,
          only bucket ids remapped, so a consumer may SKIP the version as a
          logical no-op (``ChangeFeedConsumer`` does exactly that).

        An epoch carrying several flags classifies by the FIRST matching
        rule above (the lossiest property dominates)."""
        if _loaded_manifest is not None:
            to_v = _loaded_manifest["version"]
            m = _loaded_manifest
        else:
            cur = self.current_version()
            to_v = cur if to_version is None else to_version
            m = self._manifest(to_v)
        out = []
        for e in self._all_epochs(m):
            if not (from_version < e["version"] <= to_v):
                continue
            met = e.get("metrics") or {}
            if met.get("resolved_lww"):
                out.append((e["version"], "resolve_lww"))
            elif met.get("rollback_of") is not None and met.get("rebucket"):
                out.append((e["version"], "rollback_over_relayout"))
            elif met.get("rebucket"):
                out.append((e["version"], "rebucket"))
        return sorted(out)

    def read_changes(self, from_version: int, to_version: int | None = None) -> DataFrame:
        """Change data feed: the net row-level delta between two committed
        versions (≙ Delta Lake CDF / Iceberg changelog scan — an engine
        extension; the reference SMT has no table format to diff).

        Returns data rows plus a ``_change_type`` column: ``insert``,
        ``delete`` (preimage), or the Delta-style pair ``update_preimage`` /
        ``update_postimage``. Semantics are NET over the range: a key that
        flip-flopped between the versions appears once with its final effect,
        and a key whose row is byte-identical at both ends appears not at all.

        Scale: an incremental consumer of a 100 TB table pays only for the
        buckets the intervening epochs touched — both snapshot sides prune to
        that bucket set via the manifest file lists (no full-table scan), and
        compaction epochs are skipped outright (COW rewrite + tombstone GC
        never changes a live row). The diff is ONE uniform-hash shuffle keyed
        (bucket, *keys) over changed buckets only. Two live rows are treated
        as equal iff their ``order_col`` matches: exactly-once replay
        guarantees an order tie means the same event, hence the same bytes —
        no content comparison is shipped through the join.

        Plan build is O(1) py4j calls per operator, not per column: a
        snapshot already in the target schema is read as is (only one from
        before a schema change is conformed), and the side, image and explode
        projections are SQL strings with backtick-quoted names.
        """
        cur = self.current_version()
        to_v = cur if to_version is None else to_version
        if not (0 <= from_version <= to_v <= cur):
            raise ClaimCheckError(
                f"invalid change range ({from_version}, {to_v}] on table at version {cur}"
            )
        new_m = self._manifest(to_v)
        schema = self._schema(new_m)
        if schema is None or from_version == to_v:
            base = schema.fields if schema else []
            return self.spark.createDataFrame(
                [], T.StructType([T.StructField("_change_type", T.StringType())] + list(base))
            )
        span = [
            e
            for e in self._all_epochs(new_m)
            if from_version < e["version"] <= to_v
        ]
        # plain compactions are skipped from the touched set (COW rewrite +
        # tombstone GC never changes a live row), but a resolve_lww
        # compaction DOES remove live rows (appended duplicates collapse to
        # their LWW winner) — diffing across one would both miss those drops
        # and feed multi-row keys into the full-outer join. Refuse loudly;
        # CDF is defined for tables whose keys stay single-row-live (merge
        # ingest), and consumers must not span a resolving rewrite.
        resolving = [
            v
            for v, _ in self.resolving_versions(
                from_version, _loaded_manifest=new_m
            )
        ]
        if resolving:
            raise ClaimCheckError(
                f"read_changes range ({from_version}, {to_v}] spans a "
                f"resolve_lww compaction or rebucket at version(s) {resolving}: "
                "a resolving rewrite collapses appended duplicate-key rows and "
                "a rebucket remaps bucket ids, either of which breaks the "
                "net-diff over this range. Consume the feed up to the version "
                "before the rewrite, then continue after it."
            )
        touched = sorted(
            {
                int(b)
                for e in span
                if not (e.get("metrics") or {}).get("compaction")
                for b in e["buckets_touched"]
            }
        )
        old_m = self._manifest(from_version)
        schema_with_bucket = T.StructType(
            schema.fields + [T.StructField(BUCKET_COL, T.IntegerType())]
        )

        def live_snapshot(m: dict) -> DataFrame:
            s = self._schema(m) or schema
            files = [
                str(self.root / f) for b in touched for f in m["files"].get(str(b), [])
            ]
            if not files:
                df = self.spark.createDataFrame([], schema_with_bucket)
            else:
                df = self.spark.read.schema(
                    T.StructType(s.fields + [T.StructField(BUCKET_COL, T.IntegerType())])
                ).parquet(*files)
                # only a snapshot from before a schema change needs casts and
                # NULL backfills; the common case reads the target schema as is
                if s != schema:
                    df = _conform(df, schema_with_bucket)
            if self.op_col and self.op_col in schema.names:
                df = df.filter(
                    F.coalesce(F.col(self.op_col) != F.lit(self.delete_value), F.lit(True))
                )
            return df

        # SQL strings, not Column objects: each Column costs several py4j
        # round-trips, which per column dominated the feed on small epochs
        cols = schema.names
        data_cols = [c for c in cols if c not in self.key_cols]
        join_keys = [BUCKET_COL, *self.key_cols]

        def side(m: dict, tag: str) -> DataFrame:
            return live_snapshot(m).selectExpr(
                *[_quote(c) for c in join_keys],
                *[f"{_quote(c)} AS {_quote(f'__{tag}_{c}')}" for c in data_cols],
                f"true AS __{tag}_present",
            )

        j = side(old_m, "o").join(side(new_m, "n"), on=join_keys, how="full_outer")

        def entry(change_type: str, tag: str) -> str:
            image = ", ".join(
                f"{_quote(c if c in self.key_cols else f'__{tag}_{c}')} AS {_quote(c)}"
                for c in cols
            )
            return f"named_struct('t', '{change_type}', 'r', struct({image}))"

        o_p = "coalesce(__o_present, false)"
        n_p = "coalesce(__n_present, false)"
        changed = f"{_quote(f'__o_{self.order_col}')} != {_quote(f'__n_{self.order_col}')}"
        # no ELSE: NULL array -> explode() emits nothing for unchanged keys
        changes = (
            f"CASE WHEN (NOT {o_p}) AND {n_p} THEN array({entry('insert', 'n')})"
            f" WHEN {o_p} AND (NOT {n_p}) THEN array({entry('delete', 'o')})"
            f" WHEN {o_p} AND {n_p} AND {changed} THEN array("
            f"{entry('update_preimage', 'o')}, {entry('update_postimage', 'n')}) END"
        )
        return j.selectExpr(f"explode({changes}) AS c").selectExpr(
            "c.t AS _change_type", "c.r.*"
        )

    def bucket_expr(self, df: DataFrame, n_buckets: int | None = None):
        """Bucket id from canonically-cast key columns: integral keys hash as
        LONG and fractional as DOUBLE, so Iceberg-style type widening of a key
        (int→long) maps the same logical key to the same bucket before and
        after evolution (xxhash64 hashes int and long differently; ≙ Iceberg's
        bucket transform, which hashes all integers as 64-bit for exactly this
        reason). ``n_buckets`` overrides the handle's count — version-pinned
        reads must hash with the count THAT manifest was written under."""
        types = {f.name: f.dataType for f in df.schema.fields}
        keys = []
        for c in self.bucket_cols:
            dt = types.get(c)
            if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
                keys.append(F.col(c).cast("long"))
            elif isinstance(dt, (T.FloatType, T.DoubleType)):
                keys.append(F.col(c).cast("double"))
            else:
                keys.append(F.col(c))
        return F.pmod(F.xxhash64(*keys), F.lit(n_buckets or self.num_buckets)).cast("int")

    # -- merge (the MERGE INTO equivalent) ------------------------------------

    def merge(
        self,
        updates: DataFrame,
        *,
        epoch_id: str | int | None = None,
        metrics: dict | None = None,
        precombined: bool = False,
        strategy: str = "sort",
        pre_write_transform=None,
        touched_hint: list[int] | None = None,
        tiebreaker: str | None = None,
    ) -> dict:
        """Idempotent LWW upsert: ``MERGE INTO t USING u ON t.key = u.key
        WHEN MATCHED AND u.order > t.order THEN UPDATE [or DELETE]
        WHEN NOT MATCHED THEN INSERT``.

        ``precombined=True`` promises updates already hold one row per key
        (skips the intra-batch dedup; only meaningful for strategy="agg").
        Returns a stats dict; ``{"skipped": True}`` if epoch already committed.

        Strategies (same result, different physical plans):
        - "sort" (default): ONE shuffle of the content-heavy rows — union →
          repartition by bucket (bucket = f(key), so keys are co-located) →
          window-lag first-row-per-key dedup (pure sort; the window's
          partitionBy(bucket) matches the existing hash partitioning so
          Catalyst adds no exchange) → write (already bucket-clustered).
        - "agg": max_by hash aggregation keyed on (keys) + a bucket
          repartition before the write — two content shuffles. Better when
          updates are massively redundant per key (map-side combine shrinks
          the shuffle); kept as the semantics cross-check.

        ``pre_write_transform(df) -> df``: applied to the resolved winners
        right before the write (used to fold claim-check offload of winning
        rows into the write job — one pass, no persist); the table schema is
        taken from its output.

        ``tiebreaker``: extra ordering column for rows whose ``order_col``
        ties within a key — without it the surviving row is nondeterministic
        across retries, which breaks exactly-once replay (dedup.py documents
        the same requirement). Pass the change-log's unique event id when the
        commit ordering can tie.
        """
        cur_version = self.current_version()
        manifest = self._adopt_layout(self._manifest(cur_version))
        eid = str(epoch_id) if epoch_id is not None else None
        if eid is not None and any(e["epoch_id"] == eid for e in self._all_epochs(manifest)):
            return {"skipped": True, "epoch_id": eid, "version": cur_version}

        # all-nullable normalization up front: literal-built structs carry
        # NOT NULL fields (e.g. claim_check.uploaded_at from lit().cast()),
        # parquet round-trips lose them, and a NOT NULL field in the manifest
        # makes later conform-casts unresolvable
        upd_schema = T.StructType(
            [
                T.StructField(f.name, _all_nullable(f.dataType), True)
                for f in updates.schema.fields
                if f.name not in (BUCKET_COL, _PB_COL)
            ]
        )
        cur_schema = self._schema(manifest)
        schema = reconcile_schemas(cur_schema, upd_schema) if cur_schema else upd_schema

        schema_with_bucket = T.StructType(
            schema.fields + [T.StructField(BUCKET_COL, T.IntegerType())]
        )
        # bucket from the CONFORMED frame (post-cast): combined with the
        # canonical key casts in bucket_expr, a widened key column still lands
        # in the bucket its earlier versions were written to
        conformed = _conform(updates, schema)
        upd = conformed.withColumn(BUCKET_COL, self.bucket_expr(conformed))

        # partition pruning: discover touched buckets from the key columns only
        # — column pruning drops any UDF/payload expressions in `updates`, so
        # this job is a cheap key-column scan, and no persist is needed: the
        # expensive pipeline (dedup, offload UDF, write) runs exactly once, in
        # the write job below. Callers that already aggregated per-bucket (e.g.
        # the streaming metrics pre-agg) pass touched_hint to skip the job;
        # _finish_merge cross-checks the hint against what was actually written.
        if touched_hint is not None:
            touched = sorted(set(touched_hint))
        else:
            touched = sorted(
                r[0]
                for r in conformed.select(self.bucket_expr(conformed).alias(BUCKET_COL))
                .distinct()
                .collect()
            )
        base_files = [
            str(self.root / f)
            for b in touched
            for f in manifest["files"].get(str(b), [])
        ]
        combined = _conform(upd, schema_with_bucket)
        if base_files and cur_schema is not None:
            base = self.spark.read.schema(
                T.StructType(cur_schema.fields + [T.StructField(BUCKET_COL, T.IntegerType())])
            ).parquet(*base_files)
            combined = _conform(base, schema_with_bucket).unionByName(combined)

        # Deletes are kept as TOMBSTONES (row retained with op == delete_value),
        # filtered out at read(). Physically removing the row would lose the
        # commit-ordering watermark: change-log batches are only
        # partition-ordered, so a stale pre-delete update arriving in a LATER
        # micro-batch would otherwise resurrect the key. (Found by a
        # crash-mid-replay probe; same reason Cassandra/Iceberg keep
        # tombstones until compaction is provably safe.)
        write_parts = max(len(touched), 1)
        order_desc = [F.desc(self.order_col)] + ([F.desc(tiebreaker)] if tiebreaker else [])
        if strategy == "sort":
            # one shuffle: hash by bucket co-locates all rows of each key
            part = combined.repartition(write_parts, F.col(BUCKET_COL))
            key_struct = F.struct(*[F.col(c) for c in self.key_cols])
            w = Window.partitionBy(BUCKET_COL).orderBy(key_struct.asc(), *order_desc)
            prev_key = F.lag(key_struct).over(w)
            resolved = part.withColumn(
                "__keep", prev_key.isNull() | (prev_key != key_struct)
            ).filter(F.col("__keep")).drop("__keep")
        elif strategy == "agg":
            # intra-batch dedup folds into this same aggregation
            resolved = lww_dedup(
                combined, self.key_cols, self.order_col,
                tiebreaker=tiebreaker, strategy="agg",
            )
            # re-cluster for the write (the agg shuffled by key, not bucket)
            resolved = resolved.repartition(write_parts, F.col(BUCKET_COL))
        else:
            raise ClaimCheckError(f"unknown merge strategy {strategy!r}")

        if pre_write_transform is not None:
            resolved = pre_write_transform(resolved)
            schema = T.StructType(
                [
                    T.StructField(f.name, _all_nullable(f.dataType), True)
                    for f in resolved.schema.fields
                    if f.name not in (BUCKET_COL, _PB_COL)
                ]
            )

        return self._finish_merge(
            resolved, manifest, cur_version, schema, touched, eid, metrics
        )

    def _finish_merge(
        self,
        resolved: DataFrame,
        manifest: dict,
        cur_version: int,
        schema: T.StructType,
        touched: list[int],
        eid: str | None,
        metrics: dict | None,
    ) -> dict:
        new_version = cur_version + 1
        # unique dir per WRITE, not per version: two racing writers both
        # compute cur+1, and mode("overwrite") on a shared v{n} dir would
        # delete the loser's files out from under its (rebasable!) commit
        vdir = self.root / "data" / f"v{new_version}-{uuid.uuid4().hex[:8]}"
        out = resolved.withColumn(_PB_COL, F.col(BUCKET_COL))
        self._bucket_write(out, vdir)

        # A bucket written outside the touched hint means its base files were
        # never unioned into the merge — registering it would silently drop
        # the base rows, so that drift is a hard error rather than data loss.
        written, harvest_rows, written_stats = self._harvest_write(vdir)
        extra = set(written) - {str(b) for b in touched}
        if extra:
            raise LakeConflictError(
                f"merge wrote buckets {sorted(extra)} outside the touched set "
                f"{touched} — touched_hint drift; their base rows were not merged"
            )
        per_bucket_rows = {str(b): harvest_rows.get(str(b), 0) for b in touched}

        # optimistic-concurrency commit loop: the data files are written once
        # (above); only the MANIFEST is rebased on a lost race. Safe iff the
        # interleaved commits didn't rewrite any of OUR touched buckets —
        # then our winners were computed against base files that are still
        # current, and overlaying our bucket entries onto the new head
        # manifest is exactly the state a serial execution would produce.
        attempt = 0
        while True:
            new_version = cur_version + 1
            new_files = dict(manifest["files"])
            for b in touched:
                files = written.get(str(b), [])
                new_files[str(b)] = files
                if not files:
                    new_files.pop(str(b), None)
            epoch_entry = {
                "epoch_id": eid,
                "version": new_version,
                "committed_at_ms": int(time.time() * 1000),
                "buckets_touched": touched,
                "per_bucket_rows": per_bucket_rows,
                "metrics": metrics or {},
            }
            # carry forward stats for files still referenced, overlay the new
            # files' stats, and drop entries for files this commit replaced —
            # the manifest already carries the full file map, so this O(files)
            # dict rebuild is the same cost class
            live = {f for fs in new_files.values() for f in fs}
            new_file_stats = {
                f: s
                for f, s in {**manifest.get("file_stats", {}), **written_stats}.items()
                if f in live
            }
            new_manifest = {
                "version": new_version,
                "files": new_files,
                "file_stats": new_file_stats,
                "epochs": manifest["epochs"] + [epoch_entry],
                "schema": json.dumps(schema.jsonValue()),
                "num_buckets": self.num_buckets,
                "bucket_scheme": self.BUCKET_SCHEME,
                "bucket_cols": self.bucket_cols,
                **self._inherited(manifest),
            }
            try:
                self._commit(new_manifest, cur_version)
                break
            except LakeConflictError:
                if attempt >= self.max_commit_retries:
                    raise
                attempt += 1
                # small bounded backoff with jitter: racing committers that
                # conflict, rebase, and re-commit in lockstep would otherwise
                # collide again on the very next slot (round-4 ADVICE)
                time.sleep(min(0.05 * (2 ** (attempt - 1)), 0.5) * (0.5 + random.random()))
                head = self._head_version()
                m_head = self._manifest(head)
                if eid is not None and any(
                    e["epoch_id"] == eid for e in self._all_epochs(m_head)
                ):
                    # another writer committed OUR epoch (replayed batch
                    # racing itself) — exactly-once means this attempt is
                    # a no-op, same as the entry check in merge()
                    return {"skipped": True, "epoch_id": eid, "version": head}
                if m_head.get("num_buckets") != self.num_buckets:
                    # a concurrent rebucket() evolved the layout: our staged
                    # files assign rows to buckets under the OLD modulus, so
                    # overlaying them onto the new-layout manifest would
                    # mis-locate every row (the per-bucket check below can't
                    # catch a bucket that was empty under both layouts)
                    raise LakeConflictError(
                        f"table was rebucketed to {m_head.get('num_buckets')} "
                        f"buckets underneath this merge (staged under "
                        f"{self.num_buckets}); re-run the merge against the "
                        "new layout"
                    ) from None
                for b in touched:
                    if m_head["files"].get(str(b)) != manifest["files"].get(str(b)):
                        raise LakeConflictError(
                            f"bucket {b} was rewritten by a concurrent commit "
                            f"(v{cur_version} -> v{head}); this merge's base rows "
                            "for it are stale — rebase would lose updates"
                        ) from None
                head_schema = self._schema(m_head)
                if head_schema is not None:
                    # a disjoint writer may have evolved the table schema;
                    # merge it (reconcile raises on incompatible changes)
                    schema = reconcile_schemas(head_schema, schema)
                manifest, cur_version = m_head, head
        return {
            "skipped": False,
            "epoch_id": eid,
            "version": new_version,
            "buckets_touched": touched,
            "per_bucket_rows": per_bucket_rows,
            **({"commit_retries": attempt} if attempt else {}),
        }

    def append(
        self,
        rows: DataFrame,
        *,
        epoch_id: str | int | None = None,
        metrics: dict | None = None,
        touched_hint: list[int] | None = None,
    ) -> dict:
        """Insert-only commit: write ONLY the batch's rows as new files and
        add them to the touched buckets' file lists — no base read, no
        rewrite. Cost is O(batch) regardless of table size, vs :meth:`merge`
        whose copy-on-write rewrites every touched bucket (a high-entropy
        keyed batch touches ALL buckets, so merge-based ingest rewrites the
        whole table per epoch — O(table) write amplification that compounds
        to O(epochs × table) over a stream). This is the Iceberg
        fast-append / Hudi MOR insert path; :meth:`compact` consolidates the
        accumulated small files and :meth:`read`'s zone maps (``stats_cols``)
        skip non-matching files inside each bucket meanwhile.

        CONTRACT — the caller promises rows are NEW keys (or exact replays of
        a prior epoch, absorbed by the ``epoch_id`` exactly-once guard):
        append performs no LWW resolution, so a key that already has a live
        row would simply coexist with it until a later :meth:`merge` or
        :meth:`compact` resolves the bucket. Delete tombstones must go
        through :meth:`merge` for the same reason. Suited to monotonic
        relations: dedup-index band/signature entries, vector-index cell
        rows, immutable event logs.

        Exactly-once via ``epoch_id`` like merge. Concurrency: appends never
        depend on base rows, so a lost commit race ALWAYS rebases safely
        (re-overlay our new files onto the head manifest) — unlike merge,
        which must abort when its touched buckets were rewritten."""
        cur_version = self.current_version()
        manifest = self._adopt_layout(self._manifest(cur_version))
        eid = str(epoch_id) if epoch_id is not None else None
        if eid is not None and any(e["epoch_id"] == eid for e in self._all_epochs(manifest)):
            return {"skipped": True, "epoch_id": eid, "version": cur_version}

        upd_schema = T.StructType(
            [
                T.StructField(f.name, _all_nullable(f.dataType), True)
                for f in rows.schema.fields
                if f.name not in (BUCKET_COL, _PB_COL)
            ]
        )
        cur_schema = self._schema(manifest)
        schema = reconcile_schemas(cur_schema, upd_schema) if cur_schema else upd_schema
        conformed = _conform(rows, schema)
        out = conformed.withColumn(BUCKET_COL, self.bucket_expr(conformed))
        vdir = self.root / "data" / f"v{cur_version + 1}-{uuid.uuid4().hex[:8]}"
        n_part = max(len(set(touched_hint)), 1) if touched_hint is not None else self.num_buckets
        out = out.repartition(n_part, F.col(BUCKET_COL)).withColumn(
            _PB_COL, F.col(BUCKET_COL)
        )
        self._bucket_write(out, vdir)

        written, harvest_rows, written_stats = self._harvest_write(vdir)
        if touched_hint is not None:
            touched = sorted(set(touched_hint))
            extra = set(written) - {str(b) for b in touched}
            if extra:
                raise LakeConflictError(
                    f"append wrote buckets {sorted(extra)} outside the touched set "
                    f"{touched} — touched_hint drift"
                )
        else:
            # the write harvest already knows exactly which buckets received
            # rows — pre-computing the same set with a distinct().collect()
            # cost a second full pass over the batch (guide §1.2); identical
            # result: partitioned writes create a bucket dir iff it has rows
            touched = sorted(int(b) for b in written)
        per_bucket_rows = {str(b): harvest_rows.get(str(b), 0) for b in touched}

        attempt = 0
        while True:
            new_version = cur_version + 1
            new_files = dict(manifest["files"])
            for b, fs in written.items():
                new_files[b] = manifest["files"].get(b, []) + fs
            epoch_entry = {
                "epoch_id": eid,
                "version": new_version,
                "committed_at_ms": int(time.time() * 1000),
                "buckets_touched": touched,
                "per_bucket_rows": per_bucket_rows,
                "metrics": dict(metrics or {}, append=True),
            }
            new_manifest = {
                "version": new_version,
                "files": new_files,
                "file_stats": {**manifest.get("file_stats", {}), **written_stats},
                "epochs": manifest["epochs"] + [epoch_entry],
                "schema": json.dumps(schema.jsonValue()),
                "num_buckets": self.num_buckets,
                "bucket_scheme": self.BUCKET_SCHEME,
                "bucket_cols": self.bucket_cols,
                **self._inherited(manifest),
            }
            try:
                self._commit(new_manifest, cur_version)
                break
            except LakeConflictError:
                if attempt >= self.max_commit_retries:
                    raise
                attempt += 1
                time.sleep(min(0.05 * (2 ** (attempt - 1)), 0.5) * (0.5 + random.random()))
                head = self._head_version()
                m_head = self._manifest(head)
                if eid is not None and any(
                    e["epoch_id"] == eid for e in self._all_epochs(m_head)
                ):
                    return {"skipped": True, "epoch_id": eid, "version": head}
                if m_head.get("num_buckets") != self.num_buckets:
                    # concurrent rebucket(): these files bucket rows under the
                    # old modulus — overlaying them onto the evolved layout
                    # would permanently mis-locate them (lookup/probe/merge
                    # would all read a different bucket for their keys)
                    raise LakeConflictError(
                        f"table was rebucketed to {m_head.get('num_buckets')} "
                        f"buckets underneath this append (staged under "
                        f"{self.num_buckets}); re-run the append against the "
                        "new layout"
                    ) from None
                head_schema = self._schema(m_head)
                if head_schema is not None:
                    schema = reconcile_schemas(head_schema, schema)
                # no per-bucket conflict check (see docstring): our files
                # carry only our rows, so overlaying them onto ANY newer
                # manifest reproduces the serial-execution state — EXCEPT a
                # layout change, refused above
                manifest, cur_version = m_head, head
        return {
            "skipped": False,
            "epoch_id": eid,
            "version": new_version,
            "buckets_touched": touched,
            "per_bucket_rows": per_bucket_rows,
            "files_added": sum(len(fs) for fs in written.values()),
            **({"commit_retries": attempt} if attempt else {}),
        }

    # -- maintenance -----------------------------------------------------------

    def compact(
        self,
        tombstone_watermark: int | None = None,
        *,
        sort_by_key: bool = False,
        resolve_lww: bool = False,
        min_files_per_bucket: int | None = None,
        cluster_by: list[str] | None = None,
        cluster_bits: int = 5,
        max_records_per_file: int | None = None,
    ) -> dict:
        """Rewrite buckets into consolidated files (one write job), and drop
        delete tombstones with ``order_col < tombstone_watermark``.

        ``min_files_per_bucket=N`` makes the rewrite PARTIAL: only buckets
        holding ≥ N files are compacted, the rest keep their entries (and
        zone maps) untouched. This is the maintenance mode for append-heavy
        tables at scale — a 10^10-row streaming index can't afford the full
        O(table) rewrite per maintenance tick, but rewriting just the buckets
        the recent epochs actually touched is O(recent appends)
        (≙ Iceberg rewrite_data_files with a min-input-files filter).

        ``resolve_lww=True`` additionally collapses each key to its winning
        row (max ``order_col`` — the same resolution :meth:`merge` applies),
        physically dropping rows superseded by appended re-adds. Safe for any
        table whose read semantics are LWW-per-key; for the extreme-id
        pattern (``ExactDupIndex``) the order encode makes the LWW winner THE
        extreme, so resolution preserves probe results while bounding index
        growth.

        ``sort_by_key=True`` additionally sorts rows by the key columns
        WITHIN each bucket partition (``sortWithinPartitions`` — no extra
        exchange on top of the bucket repartition). Parquet then records
        tight per-row-group min/max stats on the keys, so pushed key
        predicates (``lookup``, merge base reads) skip row groups instead of
        scanning the whole bucket (≙ Iceberg's sort order on
        rewrite_data_files).

        A tombstone at commit_seq S is only needed while an unprocessed event
        with commit_seq < S might still arrive; once the replay watermark
        (every event ≤ W consumed — e.g. max lineage offset_end of a gapless
        epoch range) passes S, it can be garbage-collected. Passing None keeps
        all tombstones (pure file compaction). ≙ Iceberg rewrite_data_files +
        tombstone expiry.

        ``cluster_by=[c1, c2, ...]`` sorts each bucket by the Morton/Z value
        of the columns' quantile ranks (``cluster_bits`` bits per dimension,
        boundaries from one bounded deterministic sample) instead of by key
        (mutually exclusive with ``sort_by_key``). Combined with
        ``max_records_per_file`` this makes every data file a contiguous
        multi-column range, so ``read(where=...)`` zone maps skip files on
        predicates over ANY clustered column — the secondary-dimension
        pruning plain key-sorting can't give (≙ Iceberg/Delta z-order
        rewrite). One column = plain range clustering. The cluster columns
        are added to the compacted files' manifest zone maps even when not
        in ``stats_cols``. Timestamp/date/decimal cluster columns still sort
        usefully but prune only at parquet row-group level (their footer
        stats are not manifest-trustworthy — see ``_canon_stat``)."""
        if cluster_by and sort_by_key:
            raise ClaimCheckError(
                "cluster_by and sort_by_key are mutually exclusive — both "
                "define the within-bucket physical order"
            )
        if cluster_by:
            if not (1 <= cluster_bits and cluster_bits * len(cluster_by) <= 62):
                raise ClaimCheckError(
                    f"cluster_bits={cluster_bits} × {len(cluster_by)} dims "
                    "must stay within a signed 64-bit z-value (≤ 62 bits)"
                )
        cur_version = self.current_version()
        manifest = self._adopt_layout(self._manifest(cur_version))
        if not manifest["files"]:
            return {"skipped": True, "reason": "empty table"}
        if min_files_per_bucket is None:
            selected = sorted(manifest["files"], key=int)
        else:
            selected = sorted(
                (b for b, fs in manifest["files"].items() if len(fs) >= min_files_per_bucket),
                key=int,
            )
            if not selected:
                return {"skipped": True, "reason": "no bucket at file threshold"}
        schema = self._schema(manifest)
        files = [str(self.root / f) for b in selected for f in manifest["files"][b]]
        df = self.spark.read.schema(
            T.StructType(schema.fields + [T.StructField(BUCKET_COL, T.IntegerType())])
        ).parquet(*files)
        z_boundaries: dict[str, list] | None = None
        if cluster_by:
            missing = [c for c in cluster_by if c not in schema.names]
            if missing:
                raise ClaimCheckError(
                    f"cluster_by columns {missing} not in table schema"
                )
            # boundaries from the RAW file scan (pre-LWW/tombstone filters):
            # superseded rows skew quantiles negligibly and sampling the
            # unfiltered read avoids paying the resolve shuffle twice. Row
            # estimate from footers already in hand — no count() job.
            n_est = _footer_rows(
                self.root, [f for b in selected for f in manifest["files"][b]]
            )
            z_boundaries = _zorder_boundaries(df, cluster_by, cluster_bits, n_est)
        if resolve_lww:
            # winner-per-key BEFORE tombstone GC, so a winning tombstone
            # below the watermark is dropped rather than resurrected by a
            # superseded live row
            df = lww_dedup(df, self.key_cols, self.order_col)
        if tombstone_watermark is not None and self.op_col in [f.name for f in schema.fields]:
            df = df.filter(
                F.coalesce(F.col(self.op_col) != F.lit(self.delete_value), F.lit(True))
                | (F.col(self.order_col) >= F.lit(tombstone_watermark))
            )
        new_version = cur_version + 1
        # unique dir (see _finish_merge) so a compaction racing a merge can't
        # clobber the merge's files; compaction itself never rebases — its
        # output replaces the selected buckets wholesale, so ANY interleaved
        # commit is a true conflict
        vdir = self.root / "data" / f"v{new_version}-{uuid.uuid4().hex[:8]}"
        out = df.withColumn(_PB_COL, F.col(BUCKET_COL))
        out = out.repartition(max(len(selected), 1), F.col(_PB_COL))
        if sort_by_key:
            out = out.sortWithinPartitions(*self.key_cols)
        elif cluster_by:
            ranks = [_zrank_expr(c, z_boundaries[c]) for c in cluster_by]
            out = (
                out.withColumn(_Z_COL, _zvalue_expr(ranks, cluster_bits))
                # sort by (bucket, z) so two buckets hashed into one write
                # partition each still stream their rows in z order; the
                # projection dropping the helper col preserves the order
                .sortWithinPartitions(F.col(_PB_COL), F.col(_Z_COL))
                .drop(_Z_COL)
            )
        self._bucket_write(out, vdir, max_records_per_file=max_records_per_file)

        written, harvest_rows, written_stats = self._harvest_write(
            vdir, extra_stats_cols=cluster_by
        )
        new_files: dict[str, list[str]] = dict(manifest["files"])
        for b in selected:
            new_files.pop(b, None)  # a bucket may compact to nothing
        new_files.update(written)
        live = {f for fs in new_files.values() for f in fs}
        file_stats = {
            f: s
            for f, s in {**manifest.get("file_stats", {}), **written_stats}.items()
            if f in live
        }
        epoch_entry = {
            "epoch_id": None,
            "version": new_version,
            "committed_at_ms": int(time.time() * 1000),
            "buckets_touched": sorted(int(b) for b in selected),
            "per_bucket_rows": harvest_rows,
            "metrics": {
                "compaction": True,
                "tombstone_watermark": tombstone_watermark,
                "partial": min_files_per_bucket is not None,
                "resolved_lww": resolve_lww,
                "cluster_by": cluster_by,
            },
        }
        new_manifest = {
            "version": new_version,
            "files": new_files,
            "file_stats": file_stats,
            "epochs": manifest["epochs"] + [epoch_entry],
            "schema": manifest["schema"],
            "num_buckets": self.num_buckets,
            "bucket_scheme": self.BUCKET_SCHEME,
            "bucket_cols": self.bucket_cols,
            **self._inherited(manifest),
        }
        self._commit(new_manifest, cur_version)
        return {"skipped": False, "version": new_version, "buckets": len(selected)}

    def rebucket(self, new_num_buckets: int) -> dict:
        """Bucket-count evolution (≙ Iceberg partition-spec evolution, applied
        via rewrite): rehash every live file's rows into ``new_num_buckets``
        and commit the new layout as a normal CAS version.

        Why it must exist at 10^10 rows: the right bucket count is a moving
        target — a count sized at 1 TB leaves hot, giant buckets at 100 TB
        (merge write parallelism is capped by bucket count), while
        over-bucketing a young table scatters it into empty-file noise. The
        rewrite is ONE bucket-partitioned write job (same cost class as a
        full compact); any interleaved commit is a true conflict, so it
        loses cleanly to concurrent writers rather than clobbering them.

        Every other handle picks the new count up from the manifest (layout
        adoption — see ``_adopt_layout``); version-pinned ``lookup``/
        ``probe`` of OLDER versions still hash with the count stored in that
        version's manifest. ``read_changes`` refuses ranges spanning a
        rebucket: bucket ids are not comparable across the boundary.
        Tombstones and duplicate appended rows pass through unchanged — this
        is pure relayout, never resolution."""
        if new_num_buckets < 1:
            raise ClaimCheckError(f"new_num_buckets must be ≥ 1, got {new_num_buckets}")
        cur_version = self.current_version()
        manifest = self._adopt_layout(self._manifest(cur_version))
        if not manifest["files"]:
            # no layout to protect yet — the next write creates it at the new count
            self.num_buckets = new_num_buckets
            return {"skipped": True, "reason": "empty table"}
        if new_num_buckets == self.num_buckets:
            return {"skipped": True, "reason": "already at this bucket count"}
        old_count = self.num_buckets
        schema = self._schema(manifest)
        files = [str(self.root / f) for fs in manifest["files"].values() for f in fs]
        df = self.spark.read.schema(
            T.StructType(schema.fields + [T.StructField(BUCKET_COL, T.IntegerType())])
        ).parquet(*files)
        out = df.withColumn(BUCKET_COL, self.bucket_expr(df, new_num_buckets))
        out = out.withColumn(_PB_COL, F.col(BUCKET_COL))
        out = out.repartition(new_num_buckets, F.col(_PB_COL))
        new_version = cur_version + 1
        vdir = self.root / "data" / f"v{new_version}-{uuid.uuid4().hex[:8]}"
        self._bucket_write(out, vdir)
        written, harvest_rows, written_stats = self._harvest_write(vdir)
        epoch_entry = {
            "epoch_id": None,
            "version": new_version,
            "committed_at_ms": int(time.time() * 1000),
            "buckets_touched": sorted(int(b) for b in written),
            "per_bucket_rows": harvest_rows,
            "metrics": {
                "compaction": True,  # live rows unchanged — CDF touched-set skips it
                "rebucket": {"from": old_count, "to": new_num_buckets},
            },
        }
        new_manifest = {
            "version": new_version,
            "files": written,
            "file_stats": written_stats,
            "epochs": manifest["epochs"] + [epoch_entry],
            "schema": manifest["schema"],
            "num_buckets": new_num_buckets,
            "bucket_scheme": self.BUCKET_SCHEME,
            "bucket_cols": self.bucket_cols,
            **self._inherited(manifest),
        }
        self._commit(new_manifest, cur_version)
        self.num_buckets = new_num_buckets
        return {
            "skipped": False,
            "version": new_version,
            "from": old_count,
            "to": new_num_buckets,
        }

    def rollback(self, to_version: int) -> dict:
        """Point-in-time restore (≙ Iceberg ``rollback_to_snapshot`` / Delta
        ``RESTORE TABLE ... VERSION AS OF``): commit a NEW version whose
        state — file map, schema, bucket layout — is exactly
        ``to_version``'s, leaving history intact.

        Bad-batch remediation is the 10^10-event use case: a poisoned epoch
        is undone in O(1) — no data rewrite, the new manifest re-references
        the old files — and every epoch committed after ``to_version`` is
        FORGOTTEN for exactly-once purposes (recorded as an excluded version
        range; see :meth:`_all_epochs`), so a corrected replay of the same
        epoch ids merges instead of being skipped as already-committed.

        Change-feed consumers see the restore as a normal net diff (the
        retraction of the bad rows) over exactly the buckets whose file
        lists differ; if any rolled-back commit was a resolving rewrite
        (``resolve_lww`` compaction or ``rebucket``) — or the rollback
        itself changes the bucket count — the rollback's epoch entry
        inherits the flag, so ``read_changes`` keeps refusing spans it
        cannot diff.

        Fails up front (before any commit) if ``vacuum`` already expired the
        target's data files. Concurrency: a plain CAS commit — a racing
        writer wins or we raise ``LakeConflictError``; no silent clobber."""
        cur = self.current_version()
        if not (1 <= to_version <= cur):
            raise ClaimCheckError(
                f"cannot roll back to version {to_version} (table is at {cur})"
            )
        if to_version == cur:
            return {"skipped": True, "reason": "already at this version"}
        target = self._manifest(to_version)
        missing = [
            f
            for fs in target["files"].values()
            for f in fs
            if not (self.root / f).exists()
        ]
        if missing:
            raise ClaimCheckError(
                f"rollback target v{to_version} references {len(missing)} "
                f"vacuumed data file(s) (e.g. {missing[0]}) — restore is "
                "impossible; pick a version still inside the vacuum keep-range"
            )
        head_m = self._manifest(cur)
        new_version = cur + 1
        dead = [
            e for e in self._all_epochs(head_m) if to_version < e["version"] <= cur
        ]
        flags: dict = {}
        for e in dead:
            met = e.get("metrics") or {}
            if met.get("resolved_lww"):
                flags["resolved_lww"] = True
            if met.get("rebucket"):
                flags["rebucket"] = met["rebucket"]
        if head_m.get("num_buckets") != target.get("num_buckets"):
            flags.setdefault(
                "rebucket",
                {"from": head_m.get("num_buckets"), "to": target.get("num_buckets")},
            )
        touched = sorted(
            int(b)
            for b in set(head_m["files"]) | set(target["files"])
            if head_m["files"].get(b) != target["files"].get(b)
        )
        epoch_entry = {
            "epoch_id": None,
            "version": new_version,
            "committed_at_ms": int(time.time() * 1000),
            "buckets_touched": touched,
            "per_bucket_rows": {},
            "metrics": {"rollback_of": to_version, **flags},
        }
        excluded = list(target.get("excluded_version_ranges") or []) + [
            [to_version + 1, cur]
        ]
        new_manifest = {
            "version": new_version,
            "files": target["files"],
            "file_stats": target.get("file_stats", {}),
            "epochs": target["epochs"] + [epoch_entry],
            "schema": target.get("schema"),
            "num_buckets": target.get("num_buckets"),
            "bucket_scheme": target.get("bucket_scheme", self.BUCKET_SCHEME),
            "bucket_cols": target.get("bucket_cols", self.bucket_cols),
            "excluded_version_ranges": excluded,
        }
        self._commit(new_manifest, cur)
        self._adopt_layout(new_manifest)
        return {
            "skipped": False,
            "version": new_version,
            "restored": to_version,
            "epochs_forgotten": [
                e["epoch_id"] for e in dead if e.get("epoch_id") is not None
            ],
        }

    def expire_versions(self, keep_versions: int = 16) -> int:
        """Delete version-slot manifests older than the newest
        ``keep_versions`` (≙ Iceberg ``expire_snapshots`` — the metadata half;
        :meth:`vacuum` is the data half). Returns manifests removed.

        Why it must exist at 10^10 events: a long-running stream commits one
        version per micro-batch, so ``_versions/`` grows one JSON per commit
        forever — millions of slot files that ``_head_version`` must glob on
        every conflict rebase, plus unbounded metadata bytes. Expiry bounds
        both. What expiry does NOT lose: epoch history (``lineage_df`` and
        the exactly-once skip check read the rotated jsonl log + the HEAD
        manifest's inline tail — both untouched), and the current state
        (the head manifest is always kept). What it DOES lose, loudly:
        ``read``/``lookup``/``read_changes``/``rollback`` of an expired
        version raise ``ClaimCheckError``.

        Safety order: the ``_latest`` pointer is reconciled up to the head
        FIRST — ``current_version()`` walks forward from the pointer, so
        deleting a slot above a stale pointer would strand readers below
        the gap. Maintenance op: run it from the (single) table maintainer,
        like ``compact``/``vacuum``."""
        if keep_versions < 1:
            raise ClaimCheckError(f"keep_versions must be ≥ 1, got {keep_versions}")
        head = self._head_version()
        if self._pointer_version() < head:
            fd, tmp = tempfile.mkstemp(dir=self.root, prefix=".latest-")
            with os.fdopen(fd, "w") as f:
                f.write(str(head))
            os.replace(tmp, self._latest_path())
        cutoff = head - keep_versions + 1  # oldest version kept
        removed = 0
        for p in (self.root / "_versions").glob("v*.json"):
            if p.stem[1:].isdigit() and int(p.stem[1:]) < cutoff:
                p.unlink()
                removed += 1
        return removed

    def vacuum(self, keep_versions: int = 1) -> int:
        """Delete data files not referenced by the newest ``keep_versions``
        manifests (≙ Iceberg snapshot expiry — the data half; see
        :meth:`expire_versions` for the metadata half). Returns files
        removed."""
        cur = self.current_version()
        keep = range(max(1, cur - keep_versions + 1), cur + 1)
        referenced = set()
        for v in keep:
            try:
                m = self._manifest(v)
            except LakeConflictError:
                raise  # scheme/layout mismatch — never mask it
            except ClaimCheckError:
                continue  # expired by expire_versions — nothing to pin
            for fs in m["files"].values():
                referenced.update(fs)
        removed = 0
        data = self.root / "data"
        if data.exists():
            for p in data.rglob("*.parquet"):
                if str(p.relative_to(self.root)) not in referenced:
                    p.unlink()
                    removed += 1
        return removed


def iceberg_available(spark: SparkSession) -> bool:
    """True if a real Iceberg runtime is on the classpath (then MERGE INTO SQL
    can be used directly instead of LakeTable — plans/iceberg.py).

    Class.forName, NOT attribute access: py4j resolves a missing class chain
    to a silent JavaPackage object instead of raising."""
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.Table")
        return True
    except Exception:
        return False
