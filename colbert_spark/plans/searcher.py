"""Searcher — top-k retrieval over a built index (colbert/searcher.py parity).

API surface:
    Searcher(index=name, config=...) .search(text, k) → (pids, ranks, scores)
    .search_all(queries, k)          → Ranking          (searcher.py:69-104)
with optional pid allow-lists (pids= / qid_to_pids=, searcher.py:65-94 F3).

Where the reference loops queries serially through dense_search
(searcher.py:77-104), search_all here is ONE distributed job. Plan shape:

    queries → terms ⋈ broadcast(term_dict slice)  [tiny]
    postings scan: bucket ∈ query buckets AND term_id ∈ query terms
      → partition pruning (bucket=) + row-group min/max pruning (term_id);
      only the query's posting blocks are ever read.
    gather:  blocks ⋈ broadcast(qterms) → groupBy(qid) applyInPandas
             MaxScore kernel (block-max skipping) → exact top-k.
    scatter: decode once per block, broadcast-join idf, relational agg.
    One rule picks the path per call (search_all); both return identical
    rankings.

The reference's k-dependent funnel knobs (ncells/threshold/ndocs,
searcher.py:106-127) have no free parameters here: block-max pruning is
exact, so there is nothing to tune for quality.
"""

from __future__ import annotations

import threading
from dataclasses import asdict

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from colbert_spark.functions import analysis
from colbert_spark.operators import builder, wand
from colbert_spark.plans.config import ColBERTConfig
from colbert_spark.sources.catalog import make_catalog
from colbert_spark.sources.ranking import Ranking


class Searcher:
    def __init__(
        self,
        index: str,
        spark: SparkSession,
        config: ColBERTConfig | None = None,
    ):
        self.spark = spark
        base = ColBERTConfig.from_existing(config)
        base.index_name = index
        self.config = base
        self.catalog = make_catalog(base)
        # a purge crash mid-surgery leaves old+new posting files coexisting
        # (transient double-count); the redo journal makes completion
        # deterministic, so finish it before reading anything
        self.catalog.recover_pending_rewrite(spark)
        meta = self.catalog.read_json("metadata.json")
        self.num_docs: int = meta["num_docs"]
        self.avgdl: float = meta["avg_doclen"]
        self.term_dict = self.catalog.read(spark, "term_dict").persist()
        self.term_dict.count()  # materialize once
        self._qterms: DataFrame | None = None  # last call's cached frame
        self._qterms_lock = threading.Lock()
        self._load_tombstones()

    def _load_tombstones(self) -> None:
        """Removed pids (IndexUpdater.remove analog) — excluded at decode,
        epoch-bounded: each row is (pid, before_epoch) and the pid is
        dropped only from blocks whose epoch < before_epoch (a re-added
        pid's newer postings score normally).

        tombstones_df is the catalog-backed frame (scatter's anti-join).
        Sets of at most builder.TOMBSTONE_CLOSURE_MAX rows also load as a
        driver numpy pair for the gather kernel's closure; past that the
        per-task ship of a multi-MB array costs too much, so tombstones
        stays None and every search runs scatter."""
        import numpy as np

        from colbert_spark.plans.index_updater import load_tombstones

        self.tombstones = None          # (sorted pids, aligned befores)
        self.tombstones_df = None       # (pid, before_epoch)
        tomb = load_tombstones(self.catalog, self.spark)
        if tomb is None:
            return
        tomb = tomb.select("pid", "before_epoch")
        rows = tomb.limit(builder.TOMBSTONE_CLOSURE_MAX + 1).collect()
        if not rows:
            return
        self.tombstones_df = tomb
        if len(rows) > builder.TOMBSTONE_CLOSURE_MAX:
            return
        pids = np.array([r["pid"] for r in rows], dtype=np.int64)
        befores = np.array([r["before_epoch"] for r in rows], dtype=np.int64)
        order = np.argsort(pids)
        self.tombstones = (pids[order], befores[order])

    # -- query encoding (lexical analog of Searcher.encode) ----------------
    def _query_terms(self, queries: DataFrame) -> DataFrame:
        """(qid, term_id, idf, df) for in-dictionary distinct query terms.
        df rides along so ONE collect of this (tiny) frame answers both
        the path choice and the scan-pruning term list."""
        qt = queries.select(
            "qid",
            F.explode(
                analysis.tokens("text", self.config.query_maxlen)
            ).alias("term"),
        ).distinct()
        return qt.join(
            self.term_dict.select("term", "term_id", "idf", "df"), "term"
        ).select("qid", "term_id", "idf", "df")

    # beyond this many distinct query terms, an IN-list stops being a sane
    # pushdown predicate; switch to a broadcast semi-join (bucket pruning
    # still applies — bucket count is bounded by index_partitions)
    _ISIN_LIMIT = 1000

    def _candidate_blocks(self, tids: list[int]) -> DataFrame:
        """Postings scan pruned to the query terms' buckets + term ids."""
        if not tids:
            return None
        buckets = sorted({t % self.config.index_partitions for t in tids})
        scan = self.catalog.read(self.spark, "postings").filter(
            F.col("bucket").isin(buckets)
        )
        if len(tids) <= self._ISIN_LIMIT:
            return scan.filter(F.col("term_id").isin(tids))
        wanted = self.spark.createDataFrame(
            [(int(t),) for t in tids], "term_id long"
        )
        return scan.join(F.broadcast(wanted), "term_id", "left_semi")

    # -- public API ---------------------------------------------------------
    #: search_all switches to scatter beyond these (query count, head-term df)
    _AUTO_SCATTER_QUERIES = 64
    _AUTO_SCATTER_DF = 1_000_000

    def search_all(
        self,
        queries: DataFrame | dict[int, str],
        k: int = 10,
        qid_to_pids: DataFrame | None = None,
        allow_small: bool = False,
        after: DataFrame | None = None,
    ) -> Ranking:
        """Batch retrieval → Ranking, via gather or scatter.

        gather ships each query's candidate blocks to one group (block-max
        skipping, lowest latency) — but a head term's ENTIRE posting list
        lands in every matching query's group, so at scale a hot term ×
        many queries is a shuffle amplifier. The call therefore takes
        scatter (decode-once, no per-query block duplication) for more
        than _AUTO_SCATTER_QUERIES queries, a query term with df above
        _AUTO_SCATTER_DF, an allow-list, or a tombstone set too large for
        the gather closure; gather otherwise. provenance["mode"] names the
        path taken.

        qid_to_pids: optional (qid, pid) allow-list DataFrame (F3 semantics:
        restrict each query's search space before ranking). allow_small=True
        asserts the list fits a broadcast; by default the semi-join is left
        unhinted so an O(corpus) allow-list cannot force an OOM broadcast
        (AQE still broadcasts at runtime when it is small).

        after: optional (qid, after_score, after_pid) keyset-cursor
        DataFrame — ES search_after pagination over the index. Only
        cursor-bearing qids are searched (a cursor means "continue this
        query"; exhausted queries simply have no cursor), and each
        returns its next page strictly after the cursor in (-score, pid)
        order, rank rebased 1..k. Scatter prunes at or above the cursor
        BEFORE the rank window (O(page) cost); gather filters exact
        rounded scores in the kernel with MaxScore's update-only skip
        disabled (the cursor breaks that skip's threshold soundness —
        see wand.score_query_blocks). Same row contract as
        brute.bm25_search_after (equivalence pytest-proven).
        """
        if isinstance(queries, dict):
            queries = self.spark.createDataFrame(
                list(queries.items()), "qid long, text string"
            )
        after_rows = None
        if after is not None:
            after = after.select("qid", "after_score", "after_pid")
            # cursors are per-query-batch tiny; one collect serves both the
            # query restriction and the gather kernel's closure dict
            after_rows = after.collect()
            paging = self.spark.createDataFrame(
                [(int(r["qid"]),) for r in after_rows], "qid long")
            queries = queries.join(F.broadcast(paging), "qid", "left_semi")
        qterms = self._query_terms(queries).persist()
        # ONE driver action answers everything the planner needs: cube
        # gives the vocab-bounded per-term rows (→ scan-pruning tid list)
        # plus the grand-total row (→ path choice nq/maxdf) in a single job.
        stats_rows = (
            qterms.cube("term_id")
            .agg(F.countDistinct("qid").alias("nq"), F.max("df").alias("maxdf"))
            .collect()
        )
        # one cached query-term frame per Searcher: the previous call's
        # goes once this one is materialized (a Ranking planned on it stays
        # valid — it recomputes instead of reading the cache)
        with self._qterms_lock:
            prev, self._qterms = self._qterms, qterms
        if prev is not None:
            prev.unpersist()
        tids = [int(r["term_id"]) for r in stats_rows
                if r["term_id"] is not None]
        total = next((r for r in stats_rows if r["term_id"] is None), None)
        scatter = (
            qid_to_pids is not None
            # tombstone set too large for the gather closure — scatter's
            # distributed anti-join is the only scale-safe exclusion
            or (self.tombstones_df is not None and self.tombstones is None)
            or (total is not None and (
                (total["nq"] or 0) > self._AUTO_SCATTER_QUERIES
                or (total["maxdf"] or 0) > self._AUTO_SCATTER_DF))
        )
        mode = "scatter" if scatter else "gather"
        blocks = self._candidate_blocks(tids)
        if blocks is None:
            empty = self.spark.createDataFrame([], wand.RANKING_SCHEMA)
            return Ranking(empty, self._provenance(k, mode))

        if scatter:
            ranking = wand.topk_scatter(
                blocks, qterms, k, self.avgdl, qid_to_pids=qid_to_pids,
                tombstones=self.tombstones_df, allow_small=allow_small,
                tombstones_small=self.tombstones is not None, after=after)
        else:
            qblocks = blocks.join(F.broadcast(qterms), "term_id").select(
                "qid", "term_id", "block_id", "idf", "first_pid", "last_pid",
                "max_block_score", "pids", "tfs", "dls",
            )
            cursor_map = None
            if after_rows is not None:
                cursor_map = {
                    int(r["qid"]): (float(r["after_score"]),
                                    int(r["after_pid"]))
                    for r in after_rows
                }
            ranking = wand.topk_gather(qblocks, k, self.avgdl,
                                       excluded=self.tombstones,
                                       after=cursor_map)
        return Ranking(ranking, self._provenance(k, mode))

    def search(self, text: str, k: int = 10,
               pids: list[int] | None = None) -> tuple[list, list, list]:
        """Single query → (pids, ranks, scores) exactly like searcher.py:131."""
        q = self.spark.createDataFrame([(0, text)], "qid long, text string")
        allow = None
        if pids is not None:
            allow = self.spark.createDataFrame(
                [(0, int(p)) for p in pids], "qid long, pid long"
            )
        rows = (
            self.search_all(q, k=k, qid_to_pids=allow, allow_small=True)
            .df.orderBy("rank").collect()
        )
        return (
            [r["pid"] for r in rows],
            [r["rank"] for r in rows],
            [r["score"] for r in rows],
        )

    def _provenance(self, k: int, mode: str) -> dict:
        return {
            "engine": "colbert_spark",
            "index": str(self.catalog.root),
            "k": k,
            "mode": mode,
            "config": asdict(self.config),
        }
