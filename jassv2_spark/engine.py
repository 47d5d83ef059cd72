"""Public API: the PySpark analogue of the pyjass surface.

The reference's SWIG-wrapped Python API (`anytime/PyJASS.swg`,
`anytime/JASS_anytime_api.h:49-394`) exposes load_index/search/set_top_k/
set_postings_to_process; ours is a thin class over DataFrames with the same
knobs, returning DataFrames instead of result structs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from jassv2_spark.operators.build import BuildConf, Index, build_index
from jassv2_spark.operators.search import (
    DEFAULT_K,
    MAX_TOP_K,
    search,
    search_metrics,
    trec_run,
)


class Engine:
    """build → search lifecycle, mirroring pyjass `anytime()` usage."""

    def __init__(self, index: Index):
        self.index = index
        self.top_k = DEFAULT_K
        self.rho = 1.0
        self.postings_budget: int | None = None
        self.postings_min = 0
        self.query_tokenizer: str | None = None  # None = index's parser
        self.oracle: DataFrame | None = None  # (query_id, rsv_at_k)

    # -- construction -------------------------------------------------
    @classmethod
    def build(
        cls,
        documents: DataFrame,
        *,
        text_col: str = "text",
        key_col: str = "url",
        doc_id_col: str | None = None,
        conf: BuildConf | None = None,
    ) -> "Engine":
        return cls(
            build_index(
                documents,
                text_col=text_col,
                key_col=key_col,
                doc_id_col=doc_id_col,
                conf=conf,
            )
        )

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "Engine":
        from jassv2_spark.plans.persist import load_index_tables

        return cls(load_index_tables(spark, path))

    def save(self, path: str) -> None:
        from jassv2_spark.plans.persist import save_index_tables

        save_index_tables(self.index, path)

    # -- knobs (reference: JASS_anytime_api.h / .cpp:159-215) ----------
    def set_top_k(self, k: int) -> None:
        self.top_k = min(k, MAX_TOP_K)

    def get_top_k(self) -> int:
        return self.top_k

    def get_max_top_k(self) -> int:
        return MAX_TOP_K  # source/query.h:136

    def set_postings_to_process_relative(self, percent: float) -> None:
        """ρ as a PERCENT of the query's own total postings
        (`JASS_anytime_api.cpp:187-192`, applied at :572-573)."""
        self.rho = float(percent) / 100.0

    def set_postings_to_process_proportion(self, percent: float) -> None:
        """Absolute budget = document_count × percent / 100
        (`JASS_anytime_api.cpp:159-165` — proportion OF THE COLLECTION,
        not of the query; use `_relative` for the query-relative ρ)."""
        self.postings_budget = int(self.index.n_docs * float(percent) / 100.0)

    def set_postings_to_process(self, budget: int) -> None:
        self.postings_budget = int(budget)

    def get_postings_to_process(self) -> int | None:
        return self.postings_budget

    def set_postings_to_process_minimum(self, count: int) -> None:
        """Oracle-mode floor: at least this many postings are processed
        before rsv@k pruning may drop work (`JASS_anytime_api.cpp:209-215`,
        guard at :603)."""
        self.postings_min = int(count)

    def set_postings_to_process_proportion_minimum(self, percent: float) -> None:
        self.postings_min = int(self.index.n_docs * float(percent) / 100.0)

    def use_ascii_parser(self) -> None:
        """The `-a` raw whitespace query mode (`parser_query.cpp:112-143`)."""
        self.query_tokenizer = "raw"

    def use_query_parser(self) -> None:
        self.query_tokenizer = None

    def load_oracle_scores(self, oracle: DataFrame) -> None:
        """(query_id, rsv_at_k) from a prior run — enables rsv@k pruning
        (`source/top_k_limit.h:27-88`; see operators/wand.py)."""
        self.oracle = oracle

    def get_document_count(self) -> int:
        return self.index.n_docs

    def get_encoding_scheme_name(self) -> str:
        """Segment storage codec ('parquet' = native array columns with
        parquet's own encodings; else the codec table name of the
        d1 + codec BinaryType layout)."""
        return getattr(self.index.conf, "codec", None) or "parquet"

    # -- serving -------------------------------------------------------
    def search(self, queries: DataFrame, k: int | None = None) -> DataFrame:
        if self.oracle is not None:
            from jassv2_spark.operators.wand import _search_with_oracle

            return _search_with_oracle(
                self.index, queries, self.oracle, k=k or self.top_k, rho=self.rho,
                postings_budget=self.postings_budget, tokenizer=self.query_tokenizer,
                min_postings=self.postings_min, with_keys=True,
            )
        return search(
            self.index,
            queries,
            k=k or self.top_k,
            rho=self.rho,
            postings_budget=self.postings_budget,
            tokenizer=self.query_tokenizer,
        )

    def anytime_bootstrap(self, queries: DataFrame, k: int | None = None) -> DataFrame:
        """Self-oracle mode (`JASS_anytime_api.h` anytime_bootstrap): run
        the query batch once, keep each query's k-th rsv as the oracle for
        subsequent searches, and return the bootstrap results."""
        from pyspark.sql import functions as F

        res = self.search(queries, k=k)
        kk = k or self.top_k
        self.oracle = (
            res.where(F.col("rank") == F.lit(kk))
            .select("query_id", F.col("rsv").alias("rsv_at_k"))
        )
        return res

    def search_sharded(
        self, queries: DataFrame, k: int | None = None, n_shards: int = 32
    ) -> DataFrame:
        """Two-stage doc-sharded top-k (operators/search.py:search_sharded):
        row-identical to `search` with the per-query ranking window split
        across shards — the serving-fleet plan."""
        from jassv2_spark.operators.search import search_sharded

        return search_sharded(
            self.index, queries, k=k or self.top_k, n_shards=n_shards,
            rho=self.rho, postings_budget=self.postings_budget,
            tokenizer=self.query_tokenizer,
        )

    def prune(self, m: int) -> "Engine":
        """A new Engine serving each term's top-m postings only (static
        champion-list cut, operators/prune.py); this engine is untouched."""
        from jassv2_spark.operators.prune import prune_index

        cut = Engine(prune_index(self.index, m))
        cut.top_k, cut.rho = self.top_k, self.rho
        cut.postings_budget, cut.postings_min = self.postings_budget, self.postings_min
        cut.query_tokenizer = self.query_tokenizer
        return cut

    def prune_doc_centric(self, lam: int) -> "Engine":
        """A new Engine where each DOCUMENT keeps only its lam
        highest-impact terms (Büttcher & Clarke doc-centric cut,
        operators/prune.py); this engine is untouched."""
        from jassv2_spark.operators.prune import prune_index_doc_centric

        cut = Engine(prune_index_doc_centric(self.index, lam))
        cut.top_k, cut.rho = self.top_k, self.rho
        cut.postings_budget, cut.postings_min = self.postings_budget, self.postings_min
        cut.query_tokenizer = self.query_tokenizer
        return cut

    def search_after(
        self, queries: DataFrame, cursors: DataFrame, k: int | None = None
    ) -> DataFrame:
        """Next page strictly after each query's (after_rsv, after_doc)
        cursor in the canonical (rsv DESC, doc_id DESC) order
        (operators/search.py:search_after); rank is page-local."""
        from jassv2_spark.operators.search import search_after

        return search_after(
            self.index, queries, cursors, k=k or self.top_k, rho=self.rho,
            postings_budget=self.postings_budget, tokenizer=self.query_tokenizer,
        )

    def search_metrics(self, queries: DataFrame) -> DataFrame:
        return search_metrics(
            self.index, queries, rho=self.rho, postings_budget=self.postings_budget,
            tokenizer=self.query_tokenizer,
        )

    def trec_run(self, results: DataFrame, run_name: str = "JASSv2spark") -> DataFrame:
        return trec_run(results, run_name)

    # -- result-side extensions (beyond the reference API) --------------
    def search_fuzzy(self, queries: DataFrame, k: int | None = None) -> DataFrame:
        """OOV query terms spell-corrected (distance ≤ 1) before serving
        (operators/fuzzy.py); in-vocabulary terms served as typed."""
        from jassv2_spark.operators.fuzzy import search_fuzzy

        return search_fuzzy(self.index, queries, k=k or self.top_k, rho=self.rho)

    def search_filtered(
        self, queries: DataFrame, allowed_docs: DataFrame, k: int | None = None
    ) -> DataFrame:
        """Results restricted to a (doc_id, ...) set; post-filter semantics."""
        from jassv2_spark.operators.filtered import search_filtered

        return search_filtered(
            self.index, queries, allowed_docs, k=k or self.top_k, rho=self.rho,
            tokenizer=self.query_tokenizer,
        )

    def search_negated(self, queries: DataFrame, k: int | None = None) -> DataFrame:
        """'-term' boolean NOT exclusion (operators/filtered.py)."""
        from jassv2_spark.operators.filtered import search_negated

        return search_negated(
            self.index, queries, k=k or self.top_k, rho=self.rho,
            tokenizer=self.query_tokenizer,
        )

    def more_like_this(self, seed_ids: list[int], k: int | None = None) -> DataFrame:
        """Top-k docs similar to each seed doc (operators/mlt.py)."""
        from jassv2_spark.operators.mlt import more_like_this

        return more_like_this(self.index, seed_ids, k=k or self.top_k, rho=self.rho)

    def facet_counts(
        self, queries: DataFrame, doc_facets: DataFrame, facet_col: str
    ) -> DataFrame:
        """Per-(query, facet) roll-up of the full match set (operators/facets.py)."""
        from jassv2_spark.operators.facets import facet_counts

        return facet_counts(
            self.index, queries, doc_facets, facet_col, rho=self.rho,
            tokenizer=self.query_tokenizer,
        )

    def significant_terms(self, queries: DataFrame, m: int = 10) -> DataFrame:
        """Terms overrepresented in each query's match set (operators/sigterms.py)."""
        from jassv2_spark.operators.sigterms import significant_terms

        return significant_terms(
            self.index, queries, m=m, rho=self.rho, tokenizer=self.query_tokenizer
        )

    def mmr_rerank(
        self, queries: DataFrame, embeddings: DataFrame, k: int | None = None,
        pool: int = 30, lam: float = 0.7,
    ) -> DataFrame:
        """Embedding-aware MMR diversified top-k (operators/mmr.py)."""
        from jassv2_spark.operators.mmr import mmr_rerank

        return mmr_rerank(
            self.index, queries, embeddings, k=k or self.top_k, pool=pool, lam=lam,
            tokenizer=self.query_tokenizer,
        )

    def ltr_features(self, queries: DataFrame, k: int | None = None) -> DataFrame:
        """Exact-integer LTR feature rows per top-k candidate (operators/ltr.py)."""
        from jassv2_spark.operators.ltr import ltr_features

        return ltr_features(
            self.index, queries, k=k or self.top_k, rho=self.rho,
            tokenizer=self.query_tokenizer,
        )

    def qpp_features(self, queries: DataFrame) -> DataFrame:
        """Pre-retrieval difficulty predictors (operators/qpp.py)."""
        from jassv2_spark.operators.qpp import qpp_features

        return qpp_features(self.index, queries, tokenizer=self.query_tokenizer)

    def percolate(
        self, registered: DataFrame, incoming: DataFrame, m: int = 5,
        full_only: bool = False,
    ) -> DataFrame:
        """Route incoming docs to registered standing queries (operators/percolate.py)."""
        from jassv2_spark.operators.percolate import percolate

        return percolate(
            self.index, registered, incoming, m=m, full_only=full_only,
            tokenizer=self.query_tokenizer,
        )

    def doc_keyterms(self, m: int = 5) -> DataFrame:
        """Every document's top-m terms by tf·idf (operators/mlt.py)."""
        from jassv2_spark.operators.mlt import doc_keyterms

        return doc_keyterms(self.index, m=m)

    def pool_runs(self, runs: list[DataFrame], depth: int = 10) -> DataFrame:
        """TREC-style assessment pool over runs (operators/evaluate.py)."""
        from jassv2_spark.operators.evaluate import pool_runs

        return pool_runs(runs, depth=depth)

    def compare_runs(
        self, run_a: DataFrame, run_b: DataFrame, k: int | None = None
    ) -> DataFrame:
        """Paired t/sign-test stats between two runs on top-k rsv mass
        (operators/evaluate.py: paired_run_test over rsv_mass)."""
        from jassv2_spark.operators.evaluate import paired_run_test, rsv_mass

        kk = self.top_k if k is None else k
        return paired_run_test(rsv_mass(run_a, k=kk), rsv_mass(run_b, k=kk))

    def run_correlation(
        self, run_a: DataFrame, run_b: DataFrame, k: int | None = None
    ) -> DataFrame:
        """Per-query Kendall τ between two runs (operators/evaluate.py)."""
        from jassv2_spark.operators.evaluate import kendall_tau

        return kendall_tau(run_a, run_b, k=self.top_k if k is None else k)

    def shard_scores(self, queries: DataFrame, **kw) -> DataFrame:
        """ReDDE resource selection: per-query shard ranking (operators/selective.py)."""
        from jassv2_spark.operators.selective import shard_scores

        return shard_scores(
            self.index, queries, rho=self.rho,
            tokenizer=self.query_tokenizer, **kw,
        )

    def search_selective(
        self, queries: DataFrame, k: int | None = None, **kw
    ) -> DataFrame:
        """Selective search: top-k over the top ReDDE shards only
        (operators/selective.py)."""
        from jassv2_spark.operators.selective import search_selective

        return search_selective(
            self.index, queries, k=k or self.top_k, rho=self.rho,
            tokenizer=self.query_tokenizer, **kw,
        )

    def search_fresh(
        self, queries: DataFrame, doc_ts: DataFrame,
        half_life_s: int = 86_400, k: int | None = None, **kw,
    ) -> DataFrame:
        """Recency-decayed top-k (operators/freshness.py): exact dyadic
        half-life decay of rsv over a doc_id→timestamp table."""
        from jassv2_spark.operators.freshness import search_fresh

        return search_fresh(
            self.index, queries, doc_ts, half_life_s=half_life_s,
            k=k or self.top_k, rho=self.rho,
            tokenizer=self.query_tokenizer, **kw,
        )

    def search_authority(
        self, queries: DataFrame, pr: DataFrame, k: int | None = None, **kw
    ) -> DataFrame:
        """BM25 × PageRank-prior blended top-k (operators/webgraph.py)."""
        from jassv2_spark.operators.webgraph import search_authority

        return search_authority(
            self.index, queries, pr, k=k or self.top_k, rho=self.rho,
            tokenizer=self.query_tokenizer, **kw,
        )

    def zipf_profile(self, top_r: int = 50) -> DataFrame:
        """Rank-frequency head over the index (operators/textstats.py)."""
        from jassv2_spark.operators.textstats import zipf_profile

        return zipf_profile(self.index.postings, top_r=top_r)

    def zipf_slope(self, top_r: int = 50) -> DataFrame:
        """Log-log Zipf slope in floor-micros (operators/textstats.py)."""
        from jassv2_spark.operators.textstats import zipf_slope

        return zipf_slope(self.index.postings, top_r=top_r)

    def search_sdm(
        self, docs: DataFrame, queries: DataFrame, k: int | None = None, **kw
    ) -> DataFrame:
        """Sequential Dependence Model top-k (operators/phrase.py:sdm_topk):
        unigram rsv + ordered/unordered bigram evidence, integer blend."""
        from jassv2_spark.operators.phrase import sdm_topk

        return sdm_topk(
            self.index, docs, queries, k=k or self.top_k, rho=self.rho,
            tokenizer=self.query_tokenizer or self.index.conf.tokenizer, **kw,
        )

    def vocab_diff(self, other: "Engine", top_m: int = 50) -> DataFrame:
        """Top df movers vs another engine's index (plans/merge.py)."""
        from jassv2_spark.plans.merge import vocab_diff

        return vocab_diff(self.index, other.index, top_m=top_m)

    def dl_histogram(self) -> DataFrame:
        """Power-of-two doc-length histogram (operators/textstats.py)."""
        from jassv2_spark.operators.textstats import dl_histogram

        return dl_histogram(self.index.doc_lengths)

    def search_synonyms(
        self, queries: DataFrame, synonyms: DataFrame,
        k: int | None = None, **kw,
    ) -> DataFrame:
        """Query-time synonym expansion (operators/fuzzy.py)."""
        from jassv2_spark.operators.fuzzy import search_synonyms

        return search_synonyms(
            self.index, queries, synonyms, k=k or self.top_k, rho=self.rho,
            tokenizer=self.query_tokenizer, **kw,
        )

    def explain(self, queries: DataFrame, k: int | None = None) -> DataFrame:
        """Per-term rsv decomposition of each top-k hit (operators/search.py:
        explain_topk); Σ contrib over a hit's terms equals its rsv exactly."""
        from jassv2_spark.operators.search import explain_topk

        return explain_topk(
            self.index, queries, k=k or self.top_k, rho=self.rho,
            tokenizer=self.query_tokenizer,
        )

    def search_prefix(
        self, queries: DataFrame, k: int | None = None,
        max_expand: int = 8, min_prefix: int = 2, **kw,
    ) -> DataFrame:
        """Prefix / search-as-you-type serving: typed terms expand to the
        highest-df vocabulary terms sharing the prefix (operators/fuzzy.py,
        Lucene PrefixQuery rewrite-cap analogue)."""
        from jassv2_spark.operators.fuzzy import search_prefix

        return search_prefix(
            self.index, queries, k=k or self.top_k, rho=self.rho,
            max_expand=max_expand, min_prefix=min_prefix,
            tokenizer=self.query_tokenizer, **kw,
        )

    def trending_terms(
        self, docs: DataFrame, doc_ts: DataFrame,
        bucket_s: int = 3600, top_m: int = 10, **kw,
    ) -> DataFrame:
        """Per-time-bucket df risers (operators/events.py:trending_terms)."""
        from jassv2_spark.operators.events import trending_terms

        return trending_terms(docs, doc_ts, bucket_s=bucket_s, top_m=top_m, **kw)

    def suggest(self, queries: DataFrame) -> DataFrame:
        """'Did you mean' query suggestions (operators/fuzzy.py)."""
        from jassv2_spark.operators.fuzzy import suggest_queries

        return suggest_queries(self.index, queries, tokenizer=self.query_tokenizer)

    def dup_rate_over_time(
        self, docs: DataFrame, doc_ts: DataFrame, bucket_s: int = 3600, **kw
    ) -> DataFrame:
        """Per-bucket exact-duplicate crawl rate (operators/dedup.py)."""
        from jassv2_spark.operators.dedup import dup_rate_over_time

        return dup_rate_over_time(docs, doc_ts, bucket_s=bucket_s, **kw)

    def stopword_candidates(
        self, min_df_ppm: int = 200_000, top_r: int = 50
    ) -> DataFrame:
        """High-df stoplist candidates from collection stats
        (operators/textstats.py)."""
        from jassv2_spark.operators.textstats import stopword_candidates

        return stopword_candidates(
            self.index.term_stats, self.index.n_docs,
            min_df_ppm=min_df_ppm, top_r=top_r,
        )

    def run_rbo(
        self, run_a: DataFrame, run_b: DataFrame, k: int | None = None
    ) -> DataFrame:
        """Per-query rank-biased overlap between two runs
        (operators/evaluate.py:rbo_overlap; top-weighted, exact int
        micros)."""
        from jassv2_spark.operators.evaluate import rbo_overlap

        return rbo_overlap(run_a, run_b, k=self.top_k if k is None else k)

    def collapse_results(
        self,
        results: DataFrame,
        hosts: DataFrame,
        per_host: int = 2,
        k: int | None = None,
    ) -> DataFrame:
        """Site/host collapse of a search output: at most `per_host`
        results per host in the top k, deterministically back-filled
        (operators/weburls.py:collapse_hits). `hosts` maps doc_id→host
        (e.g. the canonicalized URL authority)."""
        from jassv2_spark.operators.weburls import collapse_hits

        return collapse_hits(
            results, hosts, per_host=per_host, k=self.top_k if k is None else k
        )

    def anytime_quality_curve(
        self,
        queries: DataFrame,
        rhos: list[float] = (0.1, 0.35, 0.7),
        k: int | None = None,
    ) -> DataFrame:
        """(rho_ppm, n_queries, sum_common, sum_full, overlap_pct): the
        anytime quality-vs-budget CURVE — corpus-level top-k agreement
        between each ρ-budgeted run and the exhaustive run, one row per
        ρ. This is the measurable form of the reference's headline
        anytime claim (a small postings budget loses almost nothing),
        as a table instead of `run_overlap`'s single-ρ per-query view.
        overlap_pct = (100·sum_common) DIV sum_full, exact integer;
        rho_ppm = round(10⁶·ρ) so the row key is integer too."""
        from functools import reduce

        from pyspark.sql import functions as F

        from jassv2_spark.operators.evaluate import run_overlap
        from jassv2_spark.operators.search import search

        kk = self.top_k if k is None else k
        full = search(
            self.index, queries, k=kk, tokenizer=self.query_tokenizer
        )
        rows = []
        for rho in rhos:
            budgeted = search(
                self.index, queries, k=kk, rho=rho,
                tokenizer=self.query_tokenizer,
            )
            rows.append(
                run_overlap(full, budgeted, k=kk).agg(
                    F.lit(int(round(rho * 10**6))).cast("long").alias("rho_ppm"),
                    F.count(F.lit(1)).cast("long").alias("n_queries"),
                    F.sum("n_common").cast("long").alias("sum_common"),
                    F.sum("n_a").cast("long").alias("sum_full"),
                    F.expr("(100 * sum(n_common)) div sum(n_a)")
                    .cast("long")
                    .alias("overlap_pct"),
                )
            )
        return reduce(lambda a, b: a.unionByName(b), rows)

    def search_wildcard(
        self, queries: DataFrame, k: int | None = None, max_expand: int = 8
    ) -> DataFrame:
        """Wildcard query serving: '*'-bearing tokens expand through the
        permuterm rotation table (operators/wildcard.py) with the
        df-capped rewrite; literal tokens serve unchanged."""
        from jassv2_spark.operators.wildcard import search_wildcard

        return search_wildcard(
            self.index, queries, k=self.top_k if k is None else k,
            rho=self.rho, max_expand=max_expand,
        )

    def search_rocchio(
        self,
        queries: DataFrame,
        k: int | None = None,
        fb_docs: int = 10,
        fb_terms: int = 10,
        alpha: int = 2,
        beta: int = 1,
    ) -> DataFrame:
        """Two-pass Rocchio feedback (operators/feedback.py): pass-2
        weights α·q_tf + β·[t ∈ tf-centroid top-N], exact integers."""
        from jassv2_spark.operators.feedback import rocchio_search

        return rocchio_search(
            self.index, queries, k=self.top_k if k is None else k,
            fb_docs=fb_docs, fb_terms=fb_terms, alpha=alpha, beta=beta,
            rho=self.rho,
        )

    def suggest_context(self, queries: DataFrame, bigrams: DataFrame) -> DataFrame:
        """Context-aware "did you mean" (operators/fuzzy.py): distance-1
        candidates re-ranked by the corpus bigram count of (previous
        token, candidate); build `bigrams` once with
        `jassv2_spark.operators.fuzzy.corpus_bigrams`."""
        from jassv2_spark.operators.fuzzy import suggest_queries_context

        return suggest_queries_context(self.index, queries, bigrams)

    def search_common_dropped(
        self, queries: DataFrame, k: int | None = None, cutoff_ppm: int = 500_000
    ) -> DataFrame:
        """High-df query terms dropped under the CommonTermsQuery rule
        (operators/search.py:search_common_dropped)."""
        from jassv2_spark.operators.search import search_common_dropped

        return search_common_dropped(
            self.index, queries, k=self.top_k if k is None else k,
            cutoff_ppm=cutoff_ppm, rho=self.rho,
            tokenizer=self.query_tokenizer,
        )

    def search_term_sharded(
        self, queries: DataFrame, k: int | None = None, n_shards: int = 8
    ) -> DataFrame:
        """Term-partitioned fleet serving — per-shard partial sums merged
        by re-aggregation, row-identical to `search`."""
        from jassv2_spark.operators.search import search_term_sharded

        return search_term_sharded(
            self.index, queries, k=self.top_k if k is None else k,
            n_shards=n_shards, rho=self.rho, tokenizer=self.query_tokenizer,
        )

    def quantization_audit(self, queries: DataFrame, k: int | None = None) -> DataFrame:
        """Measured ranking cost of the impact quantization: per-query
        overlap + Kendall tau vs the pre-quantization micros reference."""
        from jassv2_spark.operators.search import quantization_audit

        return quantization_audit(
            self.index, queries, k=self.top_k if k is None else k,
            tokenizer=self.query_tokenizer,
        )
