"""MinHashIndex — a PERSISTENT cross-epoch near-duplicate index.

The batch operator (:func:`~.minhash.minhash_lsh_pairs`) answers "which pairs
in THIS corpus are near-dups" — one-shot, cost O(corpus). A CDC ingest
pipeline (the engine's position: reference README.md:49-62 puts the SMT in a
change-stream between connector and sink) needs the INCREMENTAL question:
"which docs in this micro-batch duplicate anything already ingested" —
per-batch cost must be O(batch), never O(corpus).

Design (the standard production shape: persisted LSH band index + signature
store, both as :class:`~..plans.lake.LakeTable` so they inherit snapshot
isolation, exactly-once epoch dedup, and CAS commits):

- ``bands`` table: one row per (band, band_key, doc_id) — keyed on the
  triple, but **bucketed on (band, bh) only** (LakeTable ``bucket_cols``, ≙
  an Iceberg partition spec narrower than the identity key). A probe batch
  computes its own band keys and reads ONLY the buckets those keys hash to
  (:meth:`LakeTable.probe`) — at 10^10 indexed docs a 10^6-doc batch touches
  ~|batch band keys| buckets of files, not the index.
- ``sigs`` table: one row per doc_id holding the minhash signature
  (``array<long>``, num_hashes elements), bucketed by doc_id. Candidate
  verification joins back to it — again bucket-pruned to candidate ids.
- verification is **signature agreement** (matching minima / num_hashes —
  the unbiased MinHash estimate of Jaccard): at index scale the original
  text is NOT in the index, so exact-Jaccard re-shingling would need a
  corpus round-trip; the estimate needs only the 32 longs already stored.
  ``est_jaccard_ppm`` is exact integer arithmetic, replayed bit-identically
  by :func:`minhash_index_sql` (the DuckDB oracle twin).

Batch flow::

    idx = MinHashIndex(spark, root, hasher="md5")
    dups = idx.probe(batch, "doc_id", "text", threshold=0.5)  # vs ALL prior
    idx.add(batch.join(dups, ...anti...), epoch_id=batch_id)  # survivors

Both ``add`` merges carry the caller's ``epoch_id`` — a replayed micro-batch
(Structured Streaming at-least-once ``foreachBatch``) is a no-op, and the
band/sig tables stay mutually consistent because each is idempotent.

Reference parity note: the reference SMT has no dedup index (it is a
transform, core/src/main/.../ClaimCheckTransform.java); this module is one of
the training-data-pipeline extensions the build brief asks for, composed
from the engine's own primitives (LakeTable + minhash featurization).
"""

from __future__ import annotations

import json
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..errors import ClaimCheckError
from ..plans.lake import LakeTable
from .minhash import _MERSENNE, _perm_constants, _shingles_sql, _spread, band_table, signature_table


# Sig relations at or below this row count broadcast in the probe's verify
# joins (32 longs + id per row ⇒ ~300 B: 800 k rows ≈ 240 MB, inside executor
# memory and far below the 8 GB broadcast cap). Larger batches keep the
# spill-safe shuffle joins.
_SIG_BROADCAST_ROWS = 800_000

# _index.json keys that are index metadata rather than hash params
_INDEX_META_KEYS = {"band_sig"}


class MinHashIndex:
    """Persistent MinHash/LSH near-dup index over two LakeTables."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        *,
        k: int = 8,
        num_hashes: int = 32,
        bands: int = 8,
        seed: int = 42,
        hasher: str = "sha256",
        num_buckets: int = 64,
        shingle_partitions: int | None = None,
    ):
        if num_hashes % bands:
            raise ClaimCheckError(
                f"bands ({bands}) must divide num_hashes ({num_hashes}) evenly"
            )
        self.spark = spark
        self.root = Path(root).absolute()
        self.k = k
        self.num_hashes = num_hashes
        self.bands = bands
        self.rows_per_band = num_hashes // bands
        self.seed = seed
        self.hasher = hasher
        self.shingle_partitions = shingle_partitions
        # the hash params ARE the index: reopening with different ones would
        # silently probe garbage (band keys from a different permutation
        # family never match), so they are pinned on disk at first use
        params = {
            "k": k,
            "num_hashes": num_hashes,
            "bands": bands,
            "seed": seed,
            "hasher": hasher,
        }
        ppath = self.root / "_index.json"
        if ppath.exists():
            stored = json.loads(ppath.read_text())
            # strict: every stored key is a hash param or known metadata, so
            # a key pinned by a later version fails here instead of being
            # ignored and misread
            unknown = sorted(set(stored) - set(params) - _INDEX_META_KEYS)
            if unknown:
                raise ClaimCheckError(
                    f"index at {self.root} pins unrecognized setting(s) {unknown} "
                    f"in _index.json ({stored}) — it was written by a different "
                    "version of this engine; rebuild it or open it with that version"
                )
            if {k_: v for k_, v in stored.items() if k_ not in _INDEX_META_KEYS} != params:
                raise ClaimCheckError(
                    f"index at {self.root} was built with {stored}, "
                    f"opened with {params} — probes would silently miss"
                )
            # Band-row format is pinned PER INDEX at creation: indexes born
            # before the denormalized sig column keep the legacy skinny band
            # rows for their whole life (add/remove never write sig, probe
            # takes the two-probe path). Evolving an old index in place
            # would leave NULL sigs on its pre-existing rows and the fused
            # verify would silently drop those partners — mixed formats are
            # the one state that must never exist. Rebuild (or re-add after
            # a full retraction) to adopt the new format.
            self._band_sig = bool(stored.get("band_sig", False))
        else:
            self.root.mkdir(parents=True, exist_ok=True)
            self._band_sig = True
            ppath.write_text(json.dumps({**params, "band_sig": True}, indent=1))
        self.bands_t = LakeTable(
            spark,
            str(self.root / "bands"),
            key_cols=["band", "bh", "doc_id"],
            order_col="seq",
            bucket_cols=["band", "bh"],
            num_buckets=num_buckets,
            op_col="op",
        )
        self.sigs_t = LakeTable(
            spark,
            str(self.root / "sigs"),
            key_cols=["doc_id"],
            order_col="seq",
            num_buckets=num_buckets,
            op_col="op",
        )

    # -- featurization (shared with the batch operator) ----------------------

    def _featurize(self, docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
        """(__id, s0..s{n-1}) — localCheckpointed: every caller fans it out
        into band rows AND signature rows/joins."""
        corpus = _spread(docs, id_col, self.shingle_partitions)
        return signature_table(
            corpus,
            id_col,
            text_col,
            k=self.k,
            num_hashes=self.num_hashes,
            seed=self.seed,
            hasher=self.hasher,
            spread=False,
        ).localCheckpoint()

    def _sig_array(self):
        return F.array(*[F.col(f"s{j}") for j in range(self.num_hashes)]).alias("sig")

    # -- write path ----------------------------------------------------------

    def add(
        self,
        docs: DataFrame,
        id_col: str = "doc_id",
        text_col: str = "text",
        *,
        epoch_id: str | int | None = None,
        assume_new: bool = False,
    ) -> dict:
        """Index a batch: APPEND its band entries and signatures
        (``LakeTable.append`` — O(batch) at any index size). Band keys are
        high-entropy hashes, so a batch of more than a few hundred docs
        touches every bucket; the earlier merge-based add therefore rewrote
        the ENTIRE band table per micro-batch — O(index) write amplification
        that compounds to O(epochs × index) over a stream. Appends write only
        the batch's rows; :meth:`probe` resolves the latest signature per doc
        at read time (max-seq, bounded by candidates) and :meth:`compact`
        consolidates the accumulated files.

        Re-adds are split by a bucket-pruned probe of the signature store
        (O(batch)): unchanged docs write NOTHING, changed-text docs first
        tombstone their OLD band keys (reconstructed from the stored
        signature — a partition-pruned merge bounded by the re-add set) so
        the invariant "a doc's live band rows are exactly its latest
        signature's band keys" holds. Without that retraction, stale band
        rows would be orphaned forever once a resolving compaction dropped
        the historical signature :meth:`remove` would need to find them.
        ``assume_new=True`` skips the re-add probe entirely (pure O(batch)
        — no read of the signature store at all) for callers who KNOW the
        stream never re-sends a doc_id, the same class of contract as
        ``LakeTable.append``'s new-keys promise. Re-adding a changed doc
        under that promise leaves its OLD band rows live, and they carry
        the OLD signature: :meth:`probe` takes a partner's signature from
        the band rows it matched, so a probe that matches only stale rows
        verifies against the stale signature and returns a WRONG
        ``est_jaccard_ppm`` — pairs can be reported or dropped on it, not
        merely over-generated as candidates.

        Idempotent per ``epoch_id``: the signature append commits LAST, so a
        replayed epoch recomputes the identical split against unchanged
        state and skips exactly the commits that already landed (same
        commit-order argument as ``VectorIndex.add``)."""
        eid = str(epoch_id) if epoch_id is not None else None
        if eid is not None and eid in self.sigs_t.committed_epochs():
            return {
                "skipped": True,
                "sigs": {"skipped": True},
                "bands": {"skipped": True},
            }
        per_doc = self._featurize(docs, id_col, text_col)
        seq = self.sigs_t.current_version() + 1
        new_sigs = per_doc.select(
            F.col("__id").alias("doc_id"),
            self._sig_array(),
            F.lit(seq).cast("long").alias("seq"),
            F.lit("upsert").alias("op"),
        )
        retract = None
        if not assume_new and self.sigs_t.current_version() > 0:
            stored = (
                self.sigs_t.probe(new_sigs.select("doc_id"))
                .groupBy("doc_id")
                .agg(F.max_by("sig", "seq").alias("__old_sig"))
            )
            joined = new_sigs.join(stored, "doc_id", "left").localCheckpoint()
            unchanged = F.col("__old_sig").isNotNull() & (
                F.col("__old_sig") == F.col("sig")
            )
            # unchanged re-adds write nothing; changed docs retract old bands
            write_docs = joined.filter(~unchanged)
            changed = joined.filter(
                F.col("__old_sig").isNotNull() & (F.col("__old_sig") != F.col("sig"))
            )
            # Retract only OLD-minus-NEW band keys. A small edit keeps most
            # band slices identical (LSH's premise), and both the tombstone
            # merge and the new-band append below use the SAME seq — a delete
            # and an upsert for a shared (band, bh, doc_id) key would tie in
            # lww_dedup's max_by (no tiebreaker), and a tombstone winning the
            # tie under compact(resolve_lww=True) would silently drop the
            # doc's live band row (round-5 ADVICE, high). Anti-joining the
            # old band set against the new one makes retracted and appended
            # keys disjoint per doc, so no same-seq tie can exist — and it
            # writes strictly fewer tombstones. changed ⇒ ≥1 differing band
            # slice ⇒ the anti-join is nonempty whenever retract is.
            retract = changed.select(
                F.col("doc_id").alias("__id"),
                *([F.col("__old_sig").alias("sig")] if self._band_sig else []),
                *[F.col("__old_sig")[j].alias(f"s{j}") for j in range(self.num_hashes)],
            )
            kept_bands = changed.select(
                F.col("doc_id").alias("__id"),
                *[F.col("sig")[j].alias(f"s{j}") for j in range(self.num_hashes)],
            )
            new_sigs = write_docs.drop("__old_sig")
            per_doc = per_doc.join(new_sigs.select(F.col("doc_id").alias("__id")), "__id")
        sub = lambda tag: None if eid is None else f"{eid}#{tag}"
        sig_cols = ["sig"] if self._band_sig else []
        band_retract = {"skipped": True}
        if retract is not None and not retract.isEmpty():
            band_retract = self.bands_t.merge(
                band_table(
                    retract,
                    bands=self.bands,
                    rows_per_band=self.rows_per_band,
                    carry=sig_cols,
                )
                .join(
                    band_table(
                        kept_bands, bands=self.bands, rows_per_band=self.rows_per_band
                    ),
                    on=["__id", "band", "bh"],
                    how="left_anti",
                )
                .select(
                    "band",
                    "bh",
                    F.col("__id").alias("doc_id"),
                    F.lit(seq).cast("long").alias("seq"),
                    F.lit("delete").alias("op"),
                    *sig_cols,
                ),
                epoch_id=sub("m"),
            )
        if new_sigs.isEmpty():
            band_stats = {"skipped": True}
        else:
            # band rows carry the doc's full signature array (denormalized —
            # guide §2.4: remove the shuffle/round-trip, not just its bytes).
            # The probe's verify needs each candidate partner's NEWEST sig;
            # storing it on the band rows lets probe() resolve it with
            # max_by(sig, seq) over the rows the band scan already fetched,
            # eliminating the second bucket-pruned probe of the signature
            # store (driver round-trip + key-bounded semi-join + join) that
            # made warm probe latency ~2x what the scan itself costs. Width
            # cost: +num_hashes longs per band row (~256 B) on a store whose
            # rows are already ~100 B — bounded, and the sig store remains
            # the system of record for remove()/re-add reconstruction.
            band_src = (
                per_doc.withColumn("sig", self._sig_array())
                if self._band_sig
                else per_doc
            )
            band_stats = self.bands_t.append(
                band_table(
                    band_src,
                    bands=self.bands,
                    rows_per_band=self.rows_per_band,
                    carry=sig_cols,
                )
                .select(
                    "band",
                    "bh",
                    F.col("__id").alias("doc_id"),
                    F.lit(seq).cast("long").alias("seq"),
                    F.lit("upsert").alias("op"),
                    *sig_cols,
                ),
                epoch_id=sub("a"),
            )
        # the split input (sigs store) moves LAST — see docstring
        sig_stats = self.sigs_t.append(new_sigs, epoch_id=epoch_id)
        return {
            "sigs": sig_stats,
            "bands": band_stats,
            **({"bands_retract": band_retract} if retract is not None else {}),
        }

    def remove(
        self,
        ids: DataFrame,
        id_col: str = "doc_id",
        *,
        epoch_id: str | int | None = None,
    ) -> dict:
        """Retract docs from the index (right-to-be-forgotten, or CDC deletes
        flowing into the dedup position): tombstones each doc's signature row
        AND all of its band rows, idempotently per ``epoch_id``.

        O(batch), no original text needed: the signature rows are fetched by
        a doc_id-bucket-pruned probe and the band keys are RECONSTRUCTED from
        the stored signature array (``s_j = sig[j]``), so the band tombstones
        prune to exactly the docs' own (band, bh) buckets. Removed docs stop
        matching probes immediately (tombstones filter at read); the rows are
        physically dropped by the normal compact(tombstone_watermark)/vacuum
        maintenance cycle. Unknown ids are a no-op."""
        if self.sigs_t.current_version() == 0:
            return {"sigs": {"skipped": True}, "bands": {"skipped": True}}
        keys = ids.select(F.col(id_col).alias("doc_id")).distinct()
        # ALL live sig rows per doc, not just the newest: a changed-text
        # re-add leaves its earlier rows (and their band keys) live, and a
        # retraction must tombstone every historical band key too
        stored = self.sigs_t.probe(keys)
        per_doc = stored.select(
            F.col("doc_id").alias("__id"),
            "sig",
            *[F.col("sig")[j].alias(f"s{j}") for j in range(self.num_hashes)],
        ).distinct().localCheckpoint()  # feeds both tombstone merges
        seq = self.sigs_t.current_version() + 1
        sig_stats = self.sigs_t.merge(
            per_doc.select(
                F.col("__id").alias("doc_id"),
                self._sig_array(),
                F.lit(seq).cast("long").alias("seq"),
                F.lit("delete").alias("op"),
            ),
            epoch_id=epoch_id,
        )
        sig_cols = ["sig"] if self._band_sig else []
        band_stats = self.bands_t.merge(
            band_table(
                per_doc,
                bands=self.bands,
                rows_per_band=self.rows_per_band,
                carry=sig_cols,
            )
            .select(
                "band",
                "bh",
                F.col("__id").alias("doc_id"),
                F.lit(seq).cast("long").alias("seq"),
                F.lit("delete").alias("op"),
                *sig_cols,
            ),
            epoch_id=epoch_id,
        )
        return {"sigs": sig_stats, "bands": band_stats}

    # -- probe path ----------------------------------------------------------

    def probe(
        self,
        docs: DataFrame,
        id_col: str = "doc_id",
        text_col: str = "text",
        *,
        threshold: float = 0.5,
    ) -> DataFrame:
        """Near-dups of ``docs`` against everything indexed so far. Returns
        ``(probe_id, indexed_id, est_jaccard_ppm)`` — distinct, unordered;
        ``est_jaccard_ppm = matching_minima * 10^6 DIV num_hashes`` and a pair
        survives iff ``matching * 10^6 >= thr_ppm * num_hashes`` (exact
        integers; same-id pairs excluded — a re-sent doc is its own row).

        Plan shape: one signature pass over the batch, ONE bucket-pruned scan
        of the band table restricted to the batch's band keys, then pair
        aggregation resolving each partner's newest signature from the
        DENORMALIZED sig column the band rows carry (see :meth:`add`), and
        the verify with the batch signatures broadcast — one distributed
        round-trip total after featurization. Nothing scales with the index
        except the pruned bucket fraction. Indexes written before the sig
        column existed fall back to a second bucket-pruned signature fetch
        for candidate partners.

        A changed doc re-added under ``add(assume_new=True)`` keeps stale
        band rows carrying its OLD signature; a probe that matches only those
        verifies against it and returns a WRONG ``est_jaccard_ppm`` (the pair
        may be wrongly kept or dropped), not just an extra candidate."""
        if not 0 < threshold <= 1:
            raise ClaimCheckError("threshold must be in (0, 1]")
        thr_ppm = int(round(threshold * 1_000_000))
        per_doc = self._featurize(docs, id_col, text_col)
        id_type = dict(docs.dtypes)[id_col]
        empty = self.spark.createDataFrame(
            [], f"probe_id {id_type}, indexed_id {id_type}, est_jaccard_ppm long"
        )
        if self.bands_t.current_version() == 0:
            return empty
        batch_bands = band_table(
            per_doc, bands=self.bands, rows_per_band=self.rows_per_band
        )
        idx = self.bands_t.probe(batch_bands.select("band", "bh"))
        if "sig" in idx.columns:
            return self._verify_fused(per_doc, batch_bands, idx, thr_ppm)
        cand = (
            batch_bands.join(idx, on=["band", "bh"])
            .filter(F.col("__id") != F.col("doc_id"))
            .select(
                F.col("__id").alias("probe_id"), F.col("doc_id").alias("indexed_id")
            )
            .distinct()
            .localCheckpoint()  # feeds the partner-id projection AND the join
        )
        # max_by(seq): appended re-adds leave older sig rows live until the
        # next compact — the newest one is the doc's signature. Bounded by
        # candidate ids, like the probe itself.
        partner_sigs = (
            self.sigs_t.probe(cand.select(F.col("indexed_id").alias("doc_id")))
            .groupBy("doc_id")
            .agg(F.max_by("sig", "seq").alias("sig"))
            .select(F.col("doc_id").alias("indexed_id"), F.col("sig").alias("__sig_i"))
        )
        probe_sigs = per_doc.select(
            F.col("__id").alias("probe_id"), self._sig_array().alias("__sig_p")
        )
        # Join strategy (guide §3.1): the probe-sig relation is exactly the
        # batch (O(batch) by design) while the candidate PAIR set is what
        # grows (linear band-bucket occupancy ⇒ ~quadratic pairs), and
        # Catalyst's static estimate for the checkpointed featurization is
        # "unknown → huge", so it would sort-merge both verify joins. The
        # batch row count is known for free from the checkpointed per_doc —
        # broadcast it when it fits the budget (A/B at 17 M candidates:
        # 3.2 s SMJ → 2.2 s with a broadcast side). The partner side is
        # bounded by the candidates' distinct indexed ids — one cheap
        # aggregate over the checkpointed pair set — and broadcasts under
        # the same budget, leaving the verify with NO exchange at all for
        # typical batches. Join ORDER matters when a side does not fit
        # (guide §2.3, project before the exchange): the partner join runs
        # FIRST so any SMJ shuffles the skinny 16-byte id pairs, never rows
        # already widened by the 32-long probe signature (~4 GB of shuffled
        # sig bytes at 17 M candidates in the old probe-first order).
        if per_doc.count() <= _SIG_BROADCAST_ROWS:
            probe_sigs = F.broadcast(probe_sigs)
        n_partners = cand.agg(
            F.countDistinct("indexed_id").alias("n")
        ).collect()[0]["n"]
        if n_partners <= _SIG_BROADCAST_ROWS:
            partner_sigs = F.broadcast(partner_sigs)
        return (
            cand.join(partner_sigs, "indexed_id")
            .join(probe_sigs, "probe_id")
            .withColumn("__m", self._matches_expr())
            .filter(
                F.col("__m") * F.lit(1_000_000)
                >= F.lit(thr_ppm) * F.lit(self.num_hashes)
            )
            .select(
                "probe_id",
                "indexed_id",
                F.expr(f"CAST(__m * 1000000 DIV {self.num_hashes} AS LONG)").alias(
                    "est_jaccard_ppm"
                ),
            )
        )

    def _matches_expr(self):
        """Matching-minima count over the two ``num_hashes``-long arrays of
        a candidate pair (``__sig_p``/``__sig_i``) — the single-pass
        zip_with+aggregate HOF. A/B-measured against an unrolled 32-term
        GetArrayItem sum over 17 M candidate pairs: HOF 3.2 s vs unrolled
        31.7 s (the giant expression tree kicks the stage out of whole-stage
        codegen into per-expression interpreted eval — ~127 boxed
        evals/row); the HOF is one specialized pass."""
        return F.aggregate(
            F.zip_with(
                "__sig_p",
                "__sig_i",
                lambda x, y: F.when(x == y, F.lit(1).cast("long")).otherwise(
                    F.lit(0).cast("long")
                ),
            ),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )

    def _verify_fused(
        self, per_doc: DataFrame, batch_bands: DataFrame, idx: DataFrame, thr_ppm: int
    ) -> DataFrame:
        """Single-round-trip verify over a band scan whose rows carry the
        denormalized partner signature (see :meth:`add`).

        Two aggregations over the ONE scan, both shuffle-cheap (guide §2.3 —
        every shuffle but the last moves a lightweight proxy):

        - pair dedup on skinny 16-byte id pairs (map-side partial
          aggregation collapses the per-shared-band duplication before the
          exchange — shipping the 256 B sig through THIS shuffle instead
          was measured 9.2 s → 16.9 s warm on a 17 M-pair corpus);
        - partner signatures via ``max_by(sig, seq)`` per matched doc — the
          matched band rows carry the doc's newest signature under the
          add-time retraction invariant ("a doc's live band rows are
          exactly its latest signature's band keys", and a changed re-add
          re-appends EVERY new-sig band key at the new seq), so this equals
          the signature-store fetch the legacy path does without its second
          bucket-pruned probe (a driver round-trip) or the pair-set
          localCheckpoint that probe forced. Bounded by |matched docs|
          after partial aggregation; AQE picks broadcast for the verify
          join when it is small (no driver-side cardinality collect).

        A third variant — min-band exactly-once emission with the verify
        inline on the raw joined rows (no pair exchange at all, the batch
        operator's trick) — was measured and REJECTED: the earlier-band
        check needs nested array slicing/equality per RAW joined row, which
        falls out of whole-stage codegen (34 s vs 7.4 s warm at 71 M raw
        rows); the skinny distinct's exchange is far cheaper than
        interpreted per-row array work.

        The scan subtree appears in both aggregations — its band-key
        broadcast is a ReusedExchange and the pruned parquet re-read is a
        fraction of either shuffle. The batch side stays a broadcast under
        the same row budget as the legacy path."""
        probe_sigs = per_doc.select(
            F.col("__id").alias("probe_id"), self._sig_array().alias("__sig_p")
        )
        if per_doc.count() <= _SIG_BROADCAST_ROWS:
            probe_sigs = F.broadcast(probe_sigs)
        cand = (
            batch_bands.join(idx.select("band", "bh", "doc_id"), on=["band", "bh"])
            .filter(F.col("__id") != F.col("doc_id"))
            .select(
                F.col("__id").alias("probe_id"), F.col("doc_id").alias("indexed_id")
            )
            .distinct()
        )
        partner_sigs = (
            idx.groupBy("doc_id")
            .agg(F.max_by("sig", "seq").alias("__sig_i"))
            .select(F.col("doc_id").alias("indexed_id"), "__sig_i")
        )
        return (
            cand.join(partner_sigs, "indexed_id")
            .join(probe_sigs, "probe_id")
            .withColumn("__m", self._matches_expr())
            .filter(
                F.col("__m") * F.lit(1_000_000)
                >= F.lit(thr_ppm) * F.lit(self.num_hashes)
            )
            .select(
                "probe_id",
                "indexed_id",
                F.expr(f"CAST(__m * 1000000 DIV {self.num_hashes} AS LONG)").alias(
                    "est_jaccard_ppm"
                ),
            )
        )

    def ingest(
        self,
        docs: DataFrame,
        id_col: str = "doc_id",
        text_col: str = "text",
        *,
        threshold: float = 0.5,
        epoch_id: str | int | None = None,
    ) -> dict:
        """Probe-then-add convenience for a CDC micro-batch: returns the dup
        pairs and indexes ONLY docs that matched nothing (survivors), so the
        index stays a canonical-representatives set. In-batch dups are NOT
        resolved here (docs in one batch can both be new) — run the batch
        operator first if intra-batch dedup matters."""
        dups = self.probe(docs, id_col, text_col, threshold=threshold).localCheckpoint()
        survivors = docs.join(
            dups.select(F.col("probe_id").alias(id_col)).distinct(),
            on=id_col,
            how="left_anti",
        )
        stats = self.add(survivors, id_col, text_col, epoch_id=epoch_id)
        return {"dups": dups, "stats": stats}

    # -- maintenance ---------------------------------------------------------

    def compact(
        self,
        *,
        sort_by_key: bool = True,
        resolve_lww: bool = True,
        min_files_per_bucket: int | None = None,
    ) -> dict:
        """Consolidate each table's per-epoch files (run periodically from a
        maintenance job — a long-lived streaming index otherwise accretes one
        small file per bucket per epoch; ≙ Iceberg rewrite_data_files).
        Key-sorting within buckets tightens parquet min/max stats on
        ``(band, bh)`` / ``doc_id``, so the pruned probe scans also skip row
        groups inside each bucket file. ``resolve_lww`` (default on — read
        semantics here ARE max-seq per key) physically drops sig/band rows
        superseded by appended re-adds, bounding index size;
        ``min_files_per_bucket=N`` bounds the maintenance tick itself to the
        buckets recent epochs actually touched (O(recent appends), never
        O(index))."""
        kw = dict(
            sort_by_key=sort_by_key,
            resolve_lww=resolve_lww,
            min_files_per_bucket=min_files_per_bucket,
        )
        return {"bands": self.bands_t.compact(**kw), "sigs": self.sigs_t.compact(**kw)}

    def vacuum(self, keep_versions: int = 1) -> dict:
        """Drop data files referenced only by expired versions (after
        :meth:`compact`; ≙ Iceberg snapshot expiry)."""
        return {
            "bands": self.bands_t.vacuum(keep_versions),
            "sigs": self.sigs_t.vacuum(keep_versions),
        }

    def expire_versions(self, keep_versions: int = 16) -> dict:
        """Bound manifest history on both index tables (run with
        :meth:`vacuum`). A streaming index commits one version per
        micro-batch — this is where unbounded ``_versions/`` growth bites
        first; epoch history (exactly-once ingest) survives in the rotated
        log."""
        return {
            "bands": self.bands_t.expire_versions(keep_versions),
            "sigs": self.sigs_t.expire_versions(keep_versions),
        }

    def describe(self) -> dict:
        """Per-table health (version/files/rows/bucket occupancy) plus the
        last probe's pruning counters — the at-a-glance evidence that probes
        scan a bucket subset, not the index."""
        return {
            "bands": self.bands_t.stats(),
            "sigs": self.sigs_t.stats(),
            "last_probe": getattr(self.bands_t, "last_probe_stats", None),
        }


class ExactDupIndex:
    """Cross-epoch EXACT-duplicate index — the cheap sibling of
    :class:`MinHashIndex` for pipelines where byte-identical content is the
    dedup criterion (re-sent CDC events, re-crawled pages, re-ingested dumps
    arriving under fresh surrogate keys).

    One LakeTable keyed by the content digest. Writes are O(batch) APPENDS
    (``LakeTable.append`` — no copy-on-write rewrite: digests are
    high-entropy, so a merge would touch and rewrite every bucket of a
    10^10-digest index per micro-batch); each add contributes one row per
    distinct batch digest, and the REPRESENTATIVE is resolved at probe time
    as a deterministic extreme over the matched rows (merge-on-read,
    bounded by the probe's pruned bucket scan). An extreme over an
    append-only multiset is commutative and idempotent by construction —
    re-adding any subset in any order converges to the same probe results:

    - **integral ids** (byte/short/int/long): the SMALLEST id
      (round-3 representative rule, oracle-compatible);
    - **string ids** (UUIDs — the reference's own blob keys are UUIDs,
      ``core/.../S3Storage.java:63-65``; CDC surrogate keys are often
      strings): the lexicographically LARGEST id (strings have no
      order-reversing encode, and max-id is just as valid a representative
      rule — what matters is a commutative extreme).

    Indexes built by earlier merge-based versions (one LWW row per digest,
    ``neg_id`` order encode) read identically: the probe-time extreme over
    one row is that row. The ``neg_id`` column is still written for schema
    compatibility with such tables.

    Any other id type raises :class:`ClaimCheckError` — round-4's silent
    ``cast("long")`` turned string ids into NULLs and probe output into
    garbage (round-4 ADVICE).

    **No remove()** — deliberately. The probe-time extreme that makes add()
    commutative is exactly what makes retraction unrepresentable: every
    appended row for a digest stays a candidate representative, so a
    tombstone for one id would have to outrank that id in the extreme while
    not outranking a future re-registration of the same content — there is
    no such encoding. Retraction paths for this index are upstream filtering
    of deleted docs, or a periodic rebuild (one digest pass over the live
    corpus — the index's own build cost). :class:`MinHashIndex` and
    ``VectorIndex`` use monotone sequence orders and support
    :meth:`~MinHashIndex.remove` natively.

    probe() is bucket-pruned exactly like the minhash index: the batch's
    digests choose the buckets, the scan never touches the rest of the index.
    Cost per micro-batch: one digest pass over the batch + one pruned
    semi-join — O(batch) at any index size."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        *,
        num_buckets: int = 64,
    ):
        self.spark = spark
        self.table = LakeTable(
            spark,
            str(Path(root).absolute()),
            key_cols=["content_hash"],
            order_col="neg_id",
            num_buckets=num_buckets,
        )

    _INTEGRAL = ("byte", "short", "integer", "long")

    @classmethod
    def _id_kind(cls, docs: DataFrame, id_col: str) -> str:
        """'integral' or 'string'; anything else is a hard error — a silent
        cast would NULL the ids and make probe() return empty garbage."""
        t = docs.schema[id_col].dataType.typeName()
        if t in cls._INTEGRAL:
            return "integral"
        if t == "string":
            return "string"
        raise ClaimCheckError(
            f"ExactDupIndex id column {id_col!r} has type {t}; supported id "
            "types are integral (byte/short/int/long — min-id representative) "
            "and string (max-id representative). Cast explicitly if your ids "
            "are genuinely one of these."
        )

    @classmethod
    def _hashed(cls, docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
        kind = cls._id_kind(docs, id_col)
        id_expr = (
            F.col(id_col).cast("long") if kind == "integral" else F.col(id_col)
        )
        return docs.select(
            F.sha2(F.col(text_col), 256).alias("content_hash"),
            id_expr.alias("doc_id"),
        )

    def add(
        self,
        docs: DataFrame,
        id_col: str = "doc_id",
        text_col: str = "text",
        *,
        epoch_id: str | int | None = None,
    ) -> dict:
        """Index a batch (idempotent per ``epoch_id``). The batch is
        pre-reduced to one representative row per digest — the APPEND writes
        |distinct digests| rows and touches no existing file (O(batch) at any
        index size; the representative extreme is resolved at probe time).
        Mixing id types across adds of one index fails at the lake's schema
        reconcile (long vs string ``doc_id`` is an incompatible change),
        never silently."""
        kind = self._id_kind(docs, id_col)
        hashed = self._hashed(docs, id_col, text_col)
        if kind == "integral":
            rows = (
                hashed.groupBy("content_hash")
                .agg(F.min("doc_id").alias("doc_id"))
                .withColumn("neg_id", -F.col("doc_id"))
            )
        else:
            # max-id representative: order col IS the id, so the lake's
            # max-order LWW picks the lexicographic max — same commutative/
            # idempotent convergence as the integral min-id encode
            rows = (
                hashed.groupBy("content_hash")
                .agg(F.max("doc_id").alias("doc_id"))
                .withColumn("neg_id", F.col("doc_id"))
            )
        return self.table.append(rows, epoch_id=epoch_id)

    def probe(
        self, docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
    ) -> DataFrame:
        """``(probe_id, indexed_id)`` for every batch doc whose content is
        already indexed under a different id. Distinct; a doc re-sent under
        its own id is not its own duplicate."""
        kind = self._id_kind(docs, id_col)
        if self.table.current_version() == 0:
            t = "long" if kind == "integral" else "string"
            return self.spark.createDataFrame([], f"probe_id {t}, indexed_id {t}")
        batch = self._hashed(docs, id_col, text_col)
        # merge-on-read representative: the extreme over every row appended
        # for a matched digest (bounded by the pruned bucket scan). min for
        # integral ids, lexicographic max for strings — see class docstring.
        rep = F.min if kind == "integral" else F.max
        idx = (
            self.table.probe(batch.select("content_hash"))
            .groupBy("content_hash")
            .agg(rep("doc_id").alias("indexed_id"))
        )
        return (
            batch.join(idx, "content_hash")
            .filter(F.col("doc_id") != F.col("indexed_id"))
            .select(F.col("doc_id").alias("probe_id"), "indexed_id")
            .distinct()
        )

    def compact(
        self,
        *,
        sort_by_key: bool = True,
        resolve_lww: bool = True,
        min_files_per_bucket: int | None = None,
    ) -> dict:
        """Consolidate per-epoch files; ``resolve_lww`` (default on) keeps
        one row per digest — the ``neg_id`` order encode makes the LWW
        winner exactly the probe-time extreme (min integral / max string
        id), so resolution bounds index growth under repeatedly re-added
        duplicate content WITHOUT changing any probe result.
        ``min_files_per_bucket=N`` bounds the tick to recently-appended
        buckets (O(recent appends))."""
        return self.table.compact(
            sort_by_key=sort_by_key,
            resolve_lww=resolve_lww,
            min_files_per_bucket=min_files_per_bucket,
        )

    def vacuum(self, keep_versions: int = 1) -> int:
        """Drop data files referenced only by expired versions."""
        return self.table.vacuum(keep_versions)

    def expire_versions(self, keep_versions: int = 16) -> int:
        """Bound manifest history (see ``MinHashIndex.expire_versions``)."""
        return self.table.expire_versions(keep_versions)

    def describe(self) -> dict:
        """Table health + last probe's bucket-pruning counters."""
        return {
            "table": self.table.stats(),
            "last_probe": getattr(self.table, "last_probe_stats", None),
        }


def exact_index_sql(
    table: str,
    id_col: str,
    text_col: str,
    *,
    indexed_sql: str,
    probe_sql: str,
) -> str:
    """DuckDB twin of :class:`ExactDupIndex`: ``indexed_sql`` / ``probe_sql``
    are full SELECTs yielding ``(id, txt)`` for the indexed and probe corpora
    (DuckDB ``sha256`` = Spark ``sha2(col, 256)``, lowercase hex, so digests
    agree byte-for-byte)."""
    return f"""
WITH idx_docs AS ({indexed_sql}),
prb_docs AS ({probe_sql}),
idx AS (
  SELECT sha256(txt) AS ch, CAST(min(id) AS BIGINT) AS indexed_id
  FROM idx_docs GROUP BY ch
)
SELECT DISTINCT CAST(p.id AS BIGINT) AS probe_id, i.indexed_id
FROM prb_docs p JOIN idx i ON sha256(p.txt) = i.ch
WHERE p.id <> i.indexed_id
"""


def minhash_index_sql(
    table: str,
    id_col: str,
    text_col: str,
    *,
    indexed_pred: str,
    probe_pred: str,
    k: int = 8,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    seed: int = 42,
    hasher: str = "sha256",
) -> str:
    """DuckDB oracle twin of building a :class:`MinHashIndex` over the rows
    matching ``indexed_pred`` and probing the rows matching ``probe_pred``:
    identical hash algo, permutation constants, band keys, candidate join and
    exact-integer signature-agreement arithmetic, so results are
    byte-identical to :meth:`MinHashIndex.probe`."""
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
    agree = " + ".join(
        f"(CASE WHEN mp.s{j} = mi.s{j} THEN 1 ELSE 0 END)" for j in range(num_hashes)
    )
    thr_ppm = int(round(threshold * 1_000_000))
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
idx AS (SELECT b.* FROM banded b JOIN {table} t ON b.id = t.{id_col} WHERE {indexed_pred}),
prb AS (SELECT b.* FROM banded b JOIN {table} t ON b.id = t.{id_col} WHERE {probe_pred}),
cand AS (
  SELECT DISTINCT p.id AS probe_id, i.id AS indexed_id
  FROM prb p JOIN idx i ON p.band = i.band AND p.bh = i.bh AND p.id <> i.id
),
agree AS (
  SELECT c.probe_id, c.indexed_id, CAST({agree} AS BIGINT) AS m
  FROM cand c
  JOIN mins mp ON mp.id = c.probe_id
  JOIN mins mi ON mi.id = c.indexed_id
)
SELECT probe_id, indexed_id,
       CAST((m * 1000000) // {num_hashes} AS BIGINT) AS est_jaccard_ppm
FROM agree
WHERE m * 1000000 >= {thr_ppm} * {num_hashes}
"""
