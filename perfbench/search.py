"""The search-index spans of every traced run.

``SearchIndex`` stores an index over a workload's own stored corpus:
``build_segments`` and ``mood_scores`` (each partitioned by a
``conv_bucket`` shard column), ``conv_dimension`` and ``bm25_index``. Its
traced ops time the calls a query makes (``bm25_stats_from_index``,
``bm25_topk(k=100)`` over the stored tables, ``rerank_moods`` over the
semi-joined stored mood scores) and one shard's refresh commits
(``commit_rebuilt_partitions``), so the search, rerank and commit layers
are measured in every traced run.
"""

from __future__ import annotations

import os
import statistics

import corpus

N_SHARDS = 2
FIELDS = ["seg_words", "dim_text"]


def _bucket_of_seg():
    """conv_bucket of a row keyed by seg_id (``{conv_id}_{start}``)."""
    from pyspark.sql import functions as F

    return (F.crc32(F.split(F.col("seg_id"), "_")[0]) % N_SHARDS).cast("int")


class SearchIndex:
    def __init__(self, run, src: str, pdf):
        self.run = run
        self.spark = run.spark
        self.src = src
        d = os.path.join(run.tmp, "trace", "search")
        self.tables = {k: os.path.join(d, k) for k in ("segments", "mood", "conv_dim", "term_df", "meta")}
        self.pdf = pdf
        self.build_index()

    def _corpus(self):
        t = self.spark.read.parquet(self.src)
        return t.drop("conv_bucket") if "conv_bucket" in t.columns else t

    def _derived(self, t) -> dict:
        """Segments and mood scores over transcript rows ``t``, each with
        its conv_bucket shard column."""
        from podcast_audio_feature_extraction_spark.operators.rerank import mood_scores
        from podcast_audio_feature_extraction_spark.operators.segments import build_segments
        from podcast_audio_feature_extraction_spark.plans.backfill import conv_bucket_col

        return {
            "segments": build_segments(t).withColumn("conv_bucket", conv_bucket_col(N_SHARDS)),
            "mood": mood_scores(t).withColumn("conv_bucket", _bucket_of_seg()),
        }

    def _read(self, name: str):
        return self.spark.read.parquet(self.tables[name])

    def build_index(self) -> None:
        from podcast_audio_feature_extraction_spark.operators.search import bm25_index, conv_dimension

        t = self._corpus()
        for name, df in self._derived(t).items():
            df.write.partitionBy("conv_bucket").parquet(self.tables[name])
        conv_dimension(t).write.parquet(self.tables["conv_dim"])
        term_df, meta = bm25_index(self._read("segments"), self._read("conv_dim"))
        term_df.write.parquet(self.tables["term_df"])
        meta.write.parquet(self.tables["meta"])

    def trace_ops(self, n: int) -> None:
        """Traced ops: ``n`` seeded queries split into stats / top-k / rerank
        spans, and one shard's segments and mood-score commits."""
        from podcast_audio_feature_extraction_spark.operators.rerank import rerank_moods
        from podcast_audio_feature_extraction_spark.operators.search import bm25_stats_from_index, bm25_topk
        from podcast_audio_feature_extraction_spark.plans.backfill import commit_rebuilt_partitions, conv_bucket_col

        self._q = []
        for q in corpus.make_queries(self.pdf, self.run.seed, n):
            st = bm25_stats_from_index(self._read("term_df"), self._read("meta"), q.split(), FIELDS)
            a = self.run.span("search.stats", lambda st=st: st.collect())
            st_local = self.spark.createDataFrame(a["result"], st.schema)
            top = bm25_topk(self._read("segments"), q, self._read("conv_dim"), k=100, stats=st_local)
            b = self.run.span("search.topk", lambda top=top: top.collect())
            top_local = self.spark.createDataFrame(b["result"], top.schema)
            scores = self._read("mood").drop("conv_bucket").join(top_local.select("seg_id"), "seg_id", "left_semi")
            c = self.run.span("rerank.rerank", lambda s=scores: rerank_moods(s, num=10).collect())
            self._q.append((a, b, c))
        t = self._corpus().filter(conv_bucket_col(N_SHARDS) == 0)
        self._commits = [
            self.run.span(f"refresh.commit.{name}", lambda df=df, name=name: commit_rebuilt_partitions(df, self.tables[name]))
            for name, df in self._derived(t).items()
        ]

    def trace_layers(self) -> dict:
        med = statistics.median
        return {
            "operators.search.stats_s": med(a["wall_s"] for a, _, _ in self._q),
            "operators.search.topk_s": med(b["wall_s"] for _, b, _ in self._q),
            "operators.rerank.rerank_s": med(c["wall_s"] for _, _, c in self._q),
            "plans.backfill.commit_s": sum(c["wall_s"] for c in self._commits),
        }
