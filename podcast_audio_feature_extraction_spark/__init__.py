"""pyspark-transcript-feature-engine.

A brand-new PySpark-native feature-engineering engine re-expressing the
capabilities of ``trecpodcasts/podcast-audio-feature-extraction`` (see
SURVEY.md) as a point-in-time / as-of join + window-function pipeline over
a table of multi-turn conversation transcripts
``(conv_id string, turn_idx int, role string, text string, tool string, ts timestamp)``.

Subpackages
-----------
- ``sources``    : scans / generators (synthetic transcripts, events-derived
                   transcripts).
- ``operators``  : relational/windowed operators (sessionize, rolling
                   functionals, as-of join, segments, rerank, dedup, ANN,
                   checkpoint/resume).
- ``functions``  : column expressions + vectorized pandas UDFs (text
                   analysis, hash embeddings, mood metrics).
- ``plans``      : end-to-end pipelines (feature backfill flagship).
- ``streaming``  : Structured Streaming variants (windowed functionals,
                   the stateful as-of enrichment, the delta feature loop).
- ``oracle``     : single-node numpy/pandas golden reimplementation used by
                   parity tests (the reference's own computational medium).
"""

__version__ = "0.2.0"

# lazy-façade routing table: exported name -> submodule (module scope so
# tests can iterate it and __getattr__ does not rebuild it per access)
_API = {
    "get_spark": "session",
    "sessionize": "operators.sessionize",
    "session_bounds": "operators.sessionize",
    "turn_features": "operators.rolling",
    "assemble_functionals": "operators.rolling",
    "window_functionals": "operators.functionals",
    "functional_grid": "operators.functionals",
    "robust_scale": "operators.functionals",
    "build_segments": "operators.segments",
    "asof_join": "operators.asof",
    "interval_join": "operators.interval",
    "mood_scores": "operators.rerank",
    "rerank_topical": "operators.rerank",
    "rerank_mood": "operators.rerank",
    "search_segments": "operators.search",
    "bm25_topk": "operators.search",
    "bm25_topk_fused": "operators.search",
    "bm25_index": "operators.search",
    "bm25_stats_from_index": "operators.search",
    "exact_dedup": "operators.dedup",
    "minhash_lsh_pairs": "operators.dedup",
    "simhash_pairs": "operators.dedup",
    "ngram_jaccard_pairs": "operators.dedup",
    "dedup_clusters": "operators.dedup",
    "brute_force_topk": "operators.similarity",
    "lsh_topk": "operators.similarity",
    "ivf_topk": "operators.similarity",
    "fit_pq_codebooks_local": "operators.similarity",
    "fit_residual_pq_codebooks_local": "operators.similarity",
    "pq_encode": "operators.similarity",
    "pq_topk": "operators.similarity",
    "ivf_pq_topk": "operators.similarity",
    "embedding_near_dup_pairs": "operators.similarity",
    "split_col": "operators.sampling",
    "stratified_sample": "operators.sampling",
    "contamination_pairs": "operators.sampling",
    "unigram_surprisal": "operators.lm",
    "run_resumable": "operators.resume",
    "ranking_metrics": "operators.evaluation",
    "with_embedding": "functions.embedding",
    "flagship": "plans.backfill",
    "build_feature_table": "plans.backfill",
    "backfill_features": "plans.backfill",
    "write_conv_partitioned": "plans.backfill",
    "delta_rebuild_partitioned": "plans.backfill",
    "commit_rebuilt_partitions": "operators.resume",
    "touched_buckets": "plans.backfill",
    "stream_incremental_feature_build": "streaming.delta",
    "compact_transcript_log": "streaming.delta",
    "stateful_asof_enrich": "streaming.stateful",
}


def __getattr__(name: str):
    """Lazy top-level façade: the common operators are importable directly
    (``from podcast_audio_feature_extraction_spark import asof_join``) without paying
    every submodule's import cost up front."""
    import importlib

    if name in _API:
        mod = importlib.import_module(f"{__name__}.{_API[name]}")
        return getattr(mod, name)
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
