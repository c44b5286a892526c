from .claimcheck import (
    CLAIM_CHECK_COL,
    CLAIM_CHECK_SCHEMA,
    PLACEHOLDER,
    hydrate,
    offload,
    oversize_predicate,
)
from .dedup import committed_epoch_anti_join, exact_dedup, lww_dedup
from .minhash import (
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    shingles,
    simhash_dup_pairs,
    simhash_signatures,
)
from .multimodal import decode_and_featurize, frame_sample, media_metadata
from .scd import scd2_history
from .pii import redact_pii
from .sampling import pack_sequences, stratified_sample
from .similarity import (
    cosine_topk,
    embedding_neardup_pairs,
    ivf_cosine_topk,
    lsh_cosine_topk,
)
from .asof import asof_join
from .clusters import assign_clusters, connected_components
from .curation import curate_corpus
from .decontam import contamination, decontaminate
from .dlq import classify_events, read_dlq, split_dlq, write_dlq
from .incremental import agg_delta, aggregate_view, apply_agg_delta
from .funnel import funnel_counts, funnel_times
from .retention import cohort_retention
from .rolling import rolling_counts
from .sessions import session_rollup, session_stats, sessionize
from .spans import cut_spans, duplicated_spans
from .terms import top_terms, top_terms_sql
from .textstats import (
    fingerprint,
    lang_id,
    quality_features,
    repetition_features,
    token_count,
)

__all__ = [
    "CLAIM_CHECK_COL",
    "CLAIM_CHECK_SCHEMA",
    "PLACEHOLDER",
    "committed_epoch_anti_join",
    "cosine_topk",
    "ivf_cosine_topk",
    "decode_and_featurize",
    "embedding_neardup_pairs",
    "exact_dedup",
    "fingerprint",
    "frame_sample",
    "hydrate",
    "lang_id",
    "lsh_cosine_topk",
    "lww_dedup",
    "media_metadata",
    "minhash_lsh_pairs",
    "pack_sequences",
    "stratified_sample",
    "ngram_jaccard_pairs",
    "offload",
    "oversize_predicate",
    "quality_features",
    "repetition_features",
    "shingles",
    "simhash_dup_pairs",
    "simhash_signatures",
    "token_count",
    "connected_components",
    "assign_clusters",
    "asof_join",
    "curate_corpus",
    "scd2_history",
    "redact_pii",
    "decontaminate",
    "contamination",
    "sessionize",
    "session_rollup",
    "session_stats",
    "funnel_times",
    "funnel_counts",
    "cohort_retention",
    "rolling_counts",
    "top_terms",
    "top_terms_sql",
    "classify_events",
    "split_dlq",
    "write_dlq",
    "read_dlq",
    "agg_delta",
    "apply_agg_delta",
    "aggregate_view",
    "duplicated_spans",
    "cut_spans",
]
