"""Posting-list construction: tokenize → term dict → salted block build.

The Spark rebuild of the reference's index phase
(colbert/indexing/collection_indexer.py: setup :80-112 / train :226-339 /
index :346-376 / finalize :378-497):

  setup    → corpus stats (N, avgdl) — exact, not sampled (Catalyst partial
             aggregation makes the exact pass as cheap as the sample).
  train    → term dictionary (term → term_id, df, cf, idf). Replaces
             k-means centroid training (A5): the "partitions" of the index
             are terms, not centroids.
  index    → delta-gap varint posting BLOCKS with per-block max BM25 score
             (block-max metadata), built per (term_id, salt) group with
             applyInPandas; numpy inside, Arrow on the wire.
  finalize → global sort-by-(bucket, term_id) write + manifest + metadata.

Skew (north_rule; SURVEY.md §4.4): a head term ("the"/t00000) may hit >50%
of docs — a single groupBy(term) group would be one straggler task. Every
term builds under composite key (term_id, salt = pmod(xxhash64(pid), S_t))
with S_t = ceil(df_t / max_group_postings): the salt count is
df-PROPORTIONAL, so group size (and kernel memory) is bounded by a constant
at any corpus size. Blocks are self-contained (pids+tfs+doclens inline), so
no post-merge is required — the union of the S_t salted runs IS the posting
list, and query-time decode treats blocks independently.

term_id = xxhash64(term): deterministic, shuffle-free id assignment.
Collision probability at 10^8 terms ≈ 3e-4 (birthday, 64-bit); the build
asserts distinct(term) == distinct(term_id) on the term dict and fails
loudly rather than silently merging two terms' postings.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from colbert_spark.functions import analysis, bm25
from colbert_spark.functions.codec import encode_pids_auto as encode_pids, \
    encode_tfs_auto as encode_tfs
from colbert_spark.plans.config import ColBERTConfig
from colbert_spark.sources.catalog import POSTINGS_SCHEMA


def tokenize(docs: DataFrame, config: ColBERTConfig,
             id_col: str = "pid", text_col: str = "text") -> DataFrame:
    """(pid, term, doclen, tf) — shared first stage of every build.

    Arrow path: shuffle-free (tokenize_docs_arrow); output is identical to
    the relational tokenize_docs (equivalence-tested), the physical plan
    has one less corpus-sized exchange.
    """
    return analysis.tokenize_docs_arrow(docs, id_col=id_col,
                                        text_col=text_col,
                                        maxlen=config.doc_maxlen)


def term_agg(token_df: DataFrame) -> DataFrame:
    """(term, df, cf) — the shuffle stage of the term dictionary, split out
    so the Indexer can persist THIS (idf-free) form and fold its stats
    collect into the same driver action as the corpus stats (idf needs
    num_docs, which that action produces)."""
    return token_df.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("tf").alias("cf"),
    )


def term_dict_from_agg(agg: DataFrame, num_docs: int) -> DataFrame:
    """Finish the dictionary: deterministic term_id + frozen idf (cheap
    projection — no extra shuffle over a persisted term_agg)."""
    return agg.select(
        "term",
        F.xxhash64("term").alias("term_id"),
        "df",
        "cf",
        bm25.idf(F.col("df"), num_docs).alias("idf"),
    )


def _make_block_builder(block_size: int, avgdl: float):
    """applyInPandas kernel: one (term_id, salt) group → block rows.

    Receives (term_id, pid, tf, doclen, idf); emits POSTINGS_SCHEMA rows.
    Pure numpy; no per-row Python.
    """

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        order = np.argsort(pdf["pid"].to_numpy(), kind="stable")
        pids = pdf["pid"].to_numpy()[order].astype(np.int64)
        tfs = pdf["tf"].to_numpy()[order].astype(np.int64)
        dls = pdf["doclen"].to_numpy()[order].astype(np.int64)
        term_id = int(pdf["term_id"].iloc[0])
        salt = int(pdf["salt"].iloc[0])
        idf = float(pdf["idf"].iloc[0])
        # a pid hashes to exactly ONE salt group, so duplicate postings for
        # a (term, pid) — corrupted/overlapping segments — always collide
        # HERE, sorted-adjacent (impossible in a fresh build; the guard
        # protects the compaction path, which reuses this kernel)
        if pids.size > 1 and bool(np.any(pids[1:] == pids[:-1])):
            raise ValueError(
                f"term {term_id}: duplicate pids in segments"
            )

        # exact per-posting BM25 term scores (float64) → block max
        scores = bm25.np_term_score(tfs, dls, idf, avgdl)

        rows = []
        n = pids.size
        for i, start in enumerate(range(0, n, block_size)):
            sl = slice(start, min(start + block_size, n))
            bp, bt, bd = pids[sl], tfs[sl], dls[sl]
            ep, et, ed = encode_pids(bp), encode_tfs(bt), encode_tfs(bd)
            rows.append(
                (
                    term_id,
                    (salt << 32) | i,  # unique block id across salt runs
                    int(bp[0]),
                    int(bp[-1]),
                    int(bp.size),
                    float(scores[sl].max()),
                    ep,
                    et,
                    ed,
                    # stored so lineage/manifest aggregation never has to
                    # re-read the binary columns (column-pruned scan)
                    len(ep) + len(et) + len(ed),
                )
            )
        return pd.DataFrame(
            rows,
            columns=[
                "term_id", "block_id", "first_pid", "last_pid",
                "num_postings", "max_block_score", "pids", "tfs", "dls",
                "enc_bytes",
            ],
        )

    return build


def build_postings(
    token_df: DataFrame,
    term_dict: DataFrame,
    avgdl: float,
    config: ColBERTConfig,
) -> DataFrame:
    """token_df (pid, term, doclen, tf) → posting-block DataFrame.

    Skew: each term builds under salt = pmod(xxhash64(pid), n_salts) with
    n_salts = ceil(df / max_group_postings) — df-PROPORTIONAL, so group
    size is bounded by a constant regardless of corpus size (a head term
    hitting 60% of 10^12 docs simply gets ~600k parallel sub-groups; a
    fixed salt count would leave 10^10-posting stragglers). Blocks are
    self-contained, so salted runs never merge. Returns blocks WITH a
    `bucket` column for partition-pruned storage.
    """
    dict_slice = term_dict.select(
        "term", "term_id",
        F.greatest(
            F.lit(1),
            F.ceil(F.col("df") / F.lit(config.max_group_postings)),
        ).cast("long").alias("n_salts"),
    )
    # idf is per-TERM — it re-attaches via a broadcast join AFTER the
    # (term_id, salt) exchange (idf_table below), so the corpus-sized
    # shuffle carries 5 longs/row instead of 5 longs + a high-entropy
    # double (~17% fewer raw bytes, more compressed: idf doubles don't
    # zstd well). The post-shuffle broadcast join preserves the exchange's
    # hashpartitioning, so the groupBy adds no second exchange
    # (plan-verified in PLANS.md).
    slim = token_df.join(F.broadcast(dict_slice), "term").select(
        "term_id", "pid", "tf", "doclen",
        F.pmod(F.xxhash64("pid"), F.col("n_salts")).alias("salt"),
    )
    return _salted_blockify(slim, avgdl, config,
                            idf_table=term_dict.select("term_id", "idf"))


def _make_region_builder(block_size: int, avgdl: float):
    """Shared vectorized block-build core of the partition kernels
    (_make_partition_block_kernel and the hybrid payload-feed kernel)."""
    from colbert_spark.functions.codec import (
        encode_pids_auto_batch,
        encode_u64_auto_batch,
    )

    def build_region(tid, salt, p, t, d, idf, group_starts):
        """Vectorized block build over a region of COMPLETE groups
        (arrays sorted by (term_id, salt, pid); group_starts = start
        index of each group). Emits one DataFrame of POSTINGS_SCHEMA
        rows — the entire per-group/per-block work is numpy + the three
        batched payload encoders; no per-group Python beyond the
        list-of-bytes assembly."""
        n = p.size
        is_start = np.zeros(n, dtype=bool)
        is_start[group_starts] = True
        # duplicate postings for a (term, pid) — corrupted/overlapping
        # segments — are sorted-adjacent within a group
        dup = (p[1:] == p[:-1]) & ~is_start[1:]
        if dup.any():
            bad = int(np.flatnonzero(dup)[0]) + 1
            raise ValueError(
                f"term {int(tid[bad])}: duplicate pids in segments")
        scores = bm25.np_term_score(t, d, idf, avgdl)
        group_counts = np.diff(np.append(group_starts, n))
        idx_in_group = np.arange(n) - np.repeat(group_starts, group_counts)
        b_starts = np.flatnonzero(idx_in_group % block_size == 0)
        b_counts = np.diff(np.append(b_starts, n))
        b_ends = b_starts + b_counts
        salt_b = salt[b_starts].astype(np.int64)
        blk_i = idx_in_group[b_starts] // block_size
        ep = encode_pids_auto_batch(p, b_starts, b_counts)
        et = encode_u64_auto_batch(t.astype(np.uint64), b_starts, b_counts)
        ed = encode_u64_auto_batch(d.astype(np.uint64), b_starts, b_counts)
        return pd.DataFrame({
            "term_id": tid[b_starts],
            "block_id": (salt_b << 32) | blk_i,
            "first_pid": p[b_starts],
            "last_pid": p[b_ends - 1],
            "num_postings": b_counts.astype(np.int32),
            "max_block_score": np.maximum.reduceat(scores, b_starts),
            "pids": ep,
            "tfs": et,
            "dls": ed,
            "enc_bytes": np.fromiter(
                (len(a) + len(x) + len(y)
                 for a, x, y in zip(ep, et, ed)),
                dtype=np.int32, count=len(ep)),
        })

    return build_region


def _make_partition_block_kernel(block_size: int, avgdl: float):
    """mapInPandas kernel over partitions pre-shuffled on (term_id, salt)
    and sorted within each partition by (term_id, salt, pid): walks group
    boundaries with numpy and emits POSTINGS_SCHEMA rows.

    Same math, row-for-row, as _make_block_builder — but one Python/Arrow
    round-trip per PARTITION BATCH instead of per (term_id, salt) group
    (tail terms make groups tiny and numerous, so the per-group pandas
    construction dominated the build's blockify stage before r6). The
    trailing group of each Arrow batch can straddle the batch boundary;
    it is carried forward and emitted when its last row has arrived.
    Memory bound is unchanged: the carry is one group, and group size is
    bounded by config.max_group_postings via the df-proportional salts.
    """
    build_region = _make_region_builder(block_size, avgdl)

    def run(batches):
        carry: list[tuple] = []     # (pids, tfs, dls) slices of one group
        carry_key = None
        carry_idf = 0.0

        def flush():
            if carry_key is None:
                return None
            p = np.concatenate([c[0] for c in carry])
            t = np.concatenate([c[1] for c in carry])
            d = np.concatenate([c[2] for c in carry])
            tid = np.full(p.size, carry_key[0], dtype=np.int64)
            salt = np.full(p.size, carry_key[1], dtype=np.int64)
            return build_region(tid, salt, p, t, d, carry_idf,
                                np.array([0], dtype=np.int64))

        for pdf in batches:
            if not len(pdf):
                continue
            tid = pdf["term_id"].to_numpy()
            salt = pdf["salt"].to_numpy()
            p_all = pdf["pid"].to_numpy().astype(np.int64, copy=False)
            t_all = pdf["tf"].to_numpy().astype(np.int64, copy=False)
            d_all = pdf["doclen"].to_numpy().astype(np.int64, copy=False)
            idf_all = pdf["idf"].to_numpy()
            bounds = np.flatnonzero(
                (tid[1:] != tid[:-1]) | (salt[1:] != salt[:-1])) + 1
            parts: list[pd.DataFrame] = []
            start = 0
            if carry_key is not None:
                if (int(tid[0]), int(salt[0])) == carry_key:
                    if bounds.size == 0:  # whole batch continues the carry
                        carry.append((p_all, t_all, d_all))
                        continue
                    start = int(bounds[0])
                    carry.append((p_all[:start], t_all[:start],
                                  d_all[:start]))
                flushed = flush()
                if flushed is not None:
                    parts.append(flushed)
                carry, carry_key = [], None
            # complete groups inside this batch: [start, last_bound)
            inner = bounds[bounds > start]
            if inner.size:
                e = int(inner[-1])
                g_starts = np.concatenate(
                    ([start], inner[:-1])).astype(np.int64) - start
                parts.append(build_region(
                    tid[start:e], salt[start:e], p_all[start:e],
                    t_all[start:e], d_all[start:e], idf_all[start:e],
                    g_starts))
                start = e
            # trailing partial group → carry
            carry_key = (int(tid[start]), int(salt[start]))
            carry_idf = float(idf_all[start])
            carry = [(p_all[start:], t_all[start:], d_all[start:])]
            if parts:
                yield pd.concat(parts, ignore_index=True) \
                    if len(parts) > 1 else parts[0]
        last = flush()
        if last is not None:
            yield last

    return run


def _salted_blockify(enriched: DataFrame, avgdl: float,
                     config: ColBERTConfig,
                     idf_table: DataFrame | None = None) -> DataFrame:
    """(term_id, pid, tf, doclen[, idf], salt) → bounded-group posting
    blocks.

    Shared by the fresh build, compaction, merge and append: ONE
    repartition on (term_id, salt), a partition-local sort on
    (term_id, salt, pid), then the numpy block kernel once per partition
    (mapInPandas — no per-group pandas round-trips; groupBy.applyInPandas
    performs the identical shuffle+sort internally but pays the Python
    boundary per group). Bucket column for partition-pruned storage.
    When idf_table is given, `enriched` must NOT carry idf — it
    broadcast-joins in AFTER the exchange (the join preserves the
    exchange's partitioning — no second exchange) and the corpus-sized
    shuffle never moves the per-term double.
    """
    kernel = _make_partition_block_kernel(config.block_size, avgdl)
    # narrow the exchanged row (guide: shuffle fewer bytes): tf/doclen are
    # bounded by doc_maxlen and salt by the epoch space — int32 cuts the
    # corpus-sized shuffle from 40 to 28 bytes/row raw (ANSI mode makes
    # any impossible overflow loud). term_id/pid stay long.
    slim_cols = [
        F.col("term_id"), F.col("pid"),
        F.col("tf").cast("int").alias("tf"),
        F.col("doclen").cast("int").alias("doclen"),
        F.col("salt").cast("int").alias("salt"),
    ]
    if idf_table is None:
        slim_cols.append(F.col("idf"))
    rep = enriched.select(*slim_cols).repartition(
        config.shuffle_partitions, "term_id", "salt")
    if idf_table is not None:
        rep = rep.join(F.broadcast(idf_table), "term_id")
    blocks = (
        rep.select("term_id", "salt", "pid", "tf", "doclen", "idf")
        .sortWithinPartitions("term_id", "salt", "pid")
        .mapInPandas(kernel, schema=POSTINGS_SCHEMA)
    )
    return blocks.withColumn(
        "bucket", F.pmod(F.col("term_id"), F.lit(config.index_partitions))
    )


def doc_stats(token_df: DataFrame) -> DataFrame:
    """(pid, doclen) — one row per doc (analog of doclens.{chunk}.json,
    collection_indexer.py:349-356)."""
    return token_df.groupBy("pid").agg(F.first("doclen").alias("doclen"))


def decode_blocks_flat(blocks: DataFrame) -> DataFrame:
    """blocks → flat (term_id, pid, tf, doclen, epoch) via mapInPandas —
    embarrassingly parallel (each block is self-contained: no grouping,
    no skew). epoch = block_id >> 32 (the salt namespace) so callers can
    fold tombstones epoch-bounded. The compaction/merge decode input."""
    import pandas as pd

    from colbert_spark.functions.codec import (
        decode_pids_auto as decode_pids,
        decode_tfs_auto as decode_tfs,
    )

    def decode_flat(batches):
        # per-block decodes land in flat lists and concatenate ONCE per
        # Arrow batch (one output DataFrame instead of one per block —
        # the per-block pandas construction dominated merge/coalesce
        # decode time before r6)
        for pdf in batches:
            n_blocks = len(pdf)
            if not n_blocks:
                continue
            pids_l, tfs_l, dls_l = [], [], []
            sizes = np.empty(n_blocks, dtype=np.int64)
            for i, (pb, tb, db) in enumerate(zip(
                pdf["pids"], pdf["tfs"], pdf["dls"]
            )):
                p = decode_pids(bytes(pb))
                sizes[i] = p.size
                pids_l.append(p)
                tfs_l.append(decode_tfs(bytes(tb)))
                dls_l.append(decode_tfs(bytes(db)))
            tid = np.repeat(pdf["term_id"].to_numpy(), sizes)
            # block epoch (salt namespace) — the tombstone fold is
            # epoch-bounded: a re-added pid's NEW postings survive
            epoch = np.repeat(pdf["block_id"].to_numpy() >> 32, sizes)
            yield pd.DataFrame({
                "term_id": tid,
                "pid": np.concatenate(pids_l),
                "tf": np.concatenate(tfs_l),
                "doclen": np.concatenate(dls_l),
                "epoch": epoch,
            })

    return blocks.select("term_id", "block_id", "pids", "tfs", "dls") \
        .mapInPandas(
            decode_flat,
            schema="term_id long, pid long, tf long, doclen long, epoch long",
        )


def live_flat_postings(catalog, spark) -> DataFrame:
    """Flat LIVE postings of an index: decode every block and fold the
    index's tombstones with the epoch bound (a pid drops only from
    blocks with epoch < before_epoch). Returns (term_id, pid, tf,
    doclen) — the shared input of compaction and segment merging."""
    flat = decode_blocks_flat(catalog.read(spark, "postings"))
    if catalog.table_exists("tombstones"):
        t = catalog.read(spark, "tombstones")
        if "before_epoch" not in t.columns:
            # pre-epoch table: exclude every epoch — coalescing once IS the
            # documented migration path for old indexes
            t = t.withColumn("before_epoch", F.lit(1 << 62))
        tombs = t.select(F.col("pid").alias("t_pid"), "before_epoch")
        flat = flat.join(
            tombs,
            (F.col("pid") == F.col("t_pid"))
            & (F.col("epoch") < F.col("before_epoch")),
            "left_anti",
        )
    return flat.drop("epoch")


#: most tombstones that ride a task closure as a driver-collected sorted
#: array — the hybrid payload feed here and the Searcher's gather kernel.
#: Past it the set stays a DataFrame and exclusion is a distributed
#: anti-join (flat-decode compaction/merge, scatter search), which
#: handles tombstone sets of any size.
TOMBSTONE_CLOSURE_MAX = 100_000


def _collect_tombstones(catalogs, spark):
    """(sorted pids, matching before_epochs) across the given catalogs,
    or None when the union is too large for a task closure (caller falls
    back to the flat-decode anti-join). Pid spaces of merged sources are
    disjoint (guarded upstream), so one flat union is sound."""
    parts = []
    total = 0
    for cat in catalogs:
        if not cat.table_exists("tombstones"):
            continue
        t = cat.read(spark, "tombstones")
        if "before_epoch" not in t.columns:
            # pre-epoch table: exclude every epoch (documented migration)
            t = t.withColumn("before_epoch", F.lit(1 << 62))
        rows = (t.groupBy("pid")
                .agg(F.max("before_epoch").alias("before_epoch"))
                .limit(TOMBSTONE_CLOSURE_MAX + 1).collect())
        total += len(rows)
        if total > TOMBSTONE_CLOSURE_MAX:
            return None
        parts.append(rows)
    pids = np.fromiter((r["pid"] for part in parts for r in part),
                       dtype=np.int64)
    eps = np.fromiter((r["before_epoch"] for part in parts for r in part),
                      dtype=np.int64)
    order = np.argsort(pids, kind="stable")
    return pids[order], eps[order]


def _make_hybrid_block_kernel(block_size: int, avgdl: float, tomb):
    """mapInPandas kernel of the hybrid payload feed (see
    _payload_blockify): partitions are pre-shuffled on (term_id, salt)
    and sorted within each partition by (term_id, salt) only — rows of a
    group are contiguous but arrive as a mix of still-ENCODED source
    blocks (single-salt terms; pid == -1, payload columns set) and flat
    postings (multi-salt terms; payload columns null). Per group the
    kernel decodes the payloads, applies the broadcast tombstone fold
    epoch-bounded, sorts by pid and hands the region to the shared block
    builder — whose sorted-adjacent duplicate guard and block math are
    byte-identical to the flat path (pytest-pinned).
    """
    from colbert_spark.functions.codec import (
        decode_pids_auto,
        decode_tfs_auto,
    )

    build_region = _make_region_builder(block_size, avgdl)
    t_pids, t_eps = (tomb if tomb is not None
                     else (np.empty(0, np.int64), np.empty(0, np.int64)))

    def finish_group(parts):
        """parts: list of (pids, tfs, dls, epochs) arrays → one pid-sorted
        live (p, t, d) triple, or None when nothing survives."""
        p = np.concatenate([x[0] for x in parts])
        t = np.concatenate([x[1] for x in parts])
        d = np.concatenate([x[2] for x in parts])
        if t_pids.size:
            ep = np.concatenate([x[3] for x in parts])
            idx = np.searchsorted(t_pids, p)
            idx[idx == t_pids.size] = 0
            dead = (t_pids[idx] == p) & (ep < t_eps[idx])
            if dead.any():
                keep = ~dead
                p, t, d = p[keep], t[keep], d[keep]
        if not p.size:
            return None
        order = np.argsort(p, kind="stable")
        return p[order], t[order], d[order]

    def decode_rows(pdf, s, e):
        """Rows [s, e) of one group → list of (p, t, d, epoch) parts."""
        parts = []
        pid_col = pdf["pid"].to_numpy()
        enc = pdf["pids"]
        flat_sel = np.flatnonzero(pid_col[s:e] >= 0) + s
        if flat_sel.size:
            parts.append((
                pid_col[flat_sel],
                pdf["tf"].to_numpy()[flat_sel].astype(np.int64),
                pdf["doclen"].to_numpy()[flat_sel].astype(np.int64),
                pdf["epoch"].to_numpy()[flat_sel].astype(np.int64),
            ))
        blk = pdf["block_id"].to_numpy()
        tfs_col, dls_col = pdf["tfs"], pdf["dls"]
        for i in range(s, e):
            if pid_col[i] >= 0:
                continue
            p = decode_pids_auto(bytes(enc.iat[i]))
            parts.append((
                p,
                decode_tfs_auto(bytes(tfs_col.iat[i])).astype(np.int64),
                decode_tfs_auto(bytes(dls_col.iat[i])).astype(np.int64),
                np.full(p.size, blk[i] >> 32, dtype=np.int64),
            ))
        return parts

    def run(batches):
        carry: list = []
        carry_key = None
        carry_idf = 0.0

        def regionize(groups):
            """groups: list of (key, idf, (p, t, d)) → one build_region
            call over their concatenation."""
            if not groups:
                return None
            sizes = np.fromiter((g[2][0].size for g in groups),
                                dtype=np.int64, count=len(groups))
            starts = np.concatenate(([0], np.cumsum(sizes)[:-1]))
            tid = np.repeat(
                np.fromiter((g[0][0] for g in groups), dtype=np.int64,
                            count=len(groups)), sizes)
            salt = np.repeat(
                np.fromiter((g[0][1] for g in groups), dtype=np.int64,
                            count=len(groups)), sizes)
            idf = np.repeat(
                np.fromiter((g[1] for g in groups), dtype=np.float64,
                            count=len(groups)), sizes)
            p = np.concatenate([g[2][0] for g in groups])
            t = np.concatenate([g[2][1] for g in groups])
            d = np.concatenate([g[2][2] for g in groups])
            return build_region(tid, salt, p, t, d, idf, starts)

        for pdf in batches:
            n = len(pdf)
            if not n:
                continue
            tid = pdf["term_id"].to_numpy()
            salt = pdf["salt"].to_numpy()
            idf_all = pdf["idf"].to_numpy()
            bounds = np.flatnonzero(
                (tid[1:] != tid[:-1]) | (salt[1:] != salt[:-1])) + 1
            seg_starts = np.concatenate(([0], bounds))
            seg_ends = np.concatenate((bounds, [n]))
            done_groups = []
            for s, e in zip(seg_starts, seg_ends):
                key = (int(tid[s]), int(salt[s]))
                parts = decode_rows(pdf, int(s), int(e))
                if carry_key is not None and key == carry_key:
                    carry.extend(parts)
                    continue
                if carry_key is not None:
                    fin = finish_group(carry)
                    if fin is not None:
                        done_groups.append((carry_key, carry_idf, fin))
                carry, carry_key, carry_idf = parts, key, float(idf_all[s])
            # every segment except the trailing one is complete — but a
            # segment only closes when the NEXT key arrives, so flush all
            # groups closed in this batch (the trailing one stays carried)
            out = regionize(done_groups)
            if out is not None:
                yield out
        if carry_key is not None:
            fin = finish_group(carry)
            if fin is not None:
                out = regionize([(carry_key, carry_idf, fin)])
                if out is not None:
                    yield out

    return run


def block_term_stats(blocks: DataFrame, tomb) -> DataFrame:
    """Per-term LIVE (df, cf) straight from posting blocks — the merge
    stats pass without flattening postings into rows: the kernel decodes
    each block's tf payload (plus pids only when tombstones exist, for
    the epoch-bounded fold) and emits ONE row per block; only those tiny
    partials shuffle. Terms whose postings are all tombstoned drop
    (df > 0 filter), matching the flat path's anti-join-then-group
    semantics. `tomb` is the (sorted pids, before_epochs) pair from
    _collect_tombstones."""
    from colbert_spark.functions.codec import (
        decode_pids_auto,
        decode_tfs_auto,
    )

    t_pids, t_eps = (tomb if tomb is not None
                     else (np.empty(0, np.int64), np.empty(0, np.int64)))

    def gen(batches):
        for pdf in batches:
            n = len(pdf)
            if not n:
                continue
            blk = pdf["block_id"].to_numpy()
            dfs = np.empty(n, dtype=np.int64)
            cfs = np.empty(n, dtype=np.int64)
            tfs_col, pids_col = pdf["tfs"], pdf["pids"]
            for i in range(n):
                t = decode_tfs_auto(bytes(tfs_col.iat[i])).astype(np.int64)
                if t_pids.size:
                    p = decode_pids_auto(bytes(pids_col.iat[i]))
                    idx = np.searchsorted(t_pids, p)
                    idx[idx == t_pids.size] = 0
                    dead = (t_pids[idx] == p) & ((blk[i] >> 32) < t_eps[idx])
                    if dead.any():
                        t = t[~dead]
                dfs[i] = t.size
                cfs[i] = t.sum()
            yield pd.DataFrame({"term_id": pdf["term_id"].to_numpy(),
                                "df": dfs, "cf": cfs})

    return (
        blocks.select("term_id", "block_id", "pids", "tfs")
        .mapInPandas(gen, schema="term_id long, df long, cf long")
        .groupBy("term_id")
        .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"))
        .filter(F.col("df") > 0)
    )


def _payload_blockify(blocks: DataFrame, dict_slice: DataFrame,
                      idf_table: DataFrame, avgdl: float,
                      config: ColBERTConfig, tomb) -> DataFrame:
    """Re-blockify source blocks WITHOUT flattening the single-salt
    majority (guide §8: move heavy bytes once, decide with small rows).

    The flat path decodes every posting into a 28-byte row, crosses the
    Python boundary twice (decode out, kernel in) and exchanges the flat
    rows. Terms with n_salts == 1 — all but the hottest at any corpus
    size — need no pid-level placement decision (every posting lands in
    salt 0), so their blocks ship through the exchange STILL ENCODED
    (~1-2 bytes/posting) and decode inside the kernel. Only multi-salt
    terms' postings (placement = pmod(xxhash64(pid), n_salts)) take the
    flat path. Tombstones fold inside the kernel from a driver-collected
    sorted array (caller guarantees |tombstones| ≤ TOMBSTONE_CLOSURE_MAX).
    Output is byte-identical to _salted_blockify over the flat decode
    (pytest-pinned)."""
    src = blocks.join(F.broadcast(dict_slice), "term_id")
    nulls = [F.lit(None).cast("binary").alias(c)
             for c in ("pids", "tfs", "dls")]
    single = src.filter(F.col("n_salts") == 1).select(
        "term_id",
        F.lit(0).alias("salt"),
        F.lit(-1).cast("long").alias("pid"),
        F.lit(-1).alias("tf"),
        F.lit(-1).alias("doclen"),
        F.lit(-1).cast("long").alias("epoch"),
        "block_id", "pids", "tfs", "dls",
    )
    multi_flat = decode_blocks_flat(
        src.filter(F.col("n_salts") > 1)
    ).join(F.broadcast(dict_slice), "term_id").select(
        "term_id",
        F.pmod(F.xxhash64("pid"), F.col("n_salts")).cast("int").alias("salt"),
        "pid",
        F.col("tf").cast("int").alias("tf"),
        F.col("doclen").cast("int").alias("doclen"),
        "epoch",
        F.lit(-1).cast("long").alias("block_id"),
        *nulls,
    )
    rep = single.unionByName(multi_flat).repartition(
        config.shuffle_partitions, "term_id", "salt"
    ).join(F.broadcast(idf_table), "term_id")
    kernel = _make_hybrid_block_kernel(config.block_size, avgdl, tomb)
    out = (
        rep.select("term_id", "salt", "pid", "tf", "doclen", "epoch",
                   "block_id", "pids", "tfs", "dls", "idf")
        .sortWithinPartitions("term_id", "salt")
        .mapInPandas(kernel, schema=POSTINGS_SCHEMA)
    )
    return out.withColumn(
        "bucket", F.pmod(F.col("term_id"), F.lit(config.index_partitions))
    )


def coalesce_index(catalog, config: ColBERTConfig, avgdl: float) -> None:
    """Segment compaction (S13, colbert/utils/coalesce.py:9-111 analog +
    reference index_coalesce_test.py equivalence contract): decode every
    term's blocks across all salt runs / appended segments, drop
    tombstoned pids, and rewrite clean pid-sorted runs. Rankings before
    and after must be identical (tested).

    Skew-safe by the SAME mechanism as the build: a merge keyed on
    term_id alone would put a head term's entire posting list (60% of a
    10^12-doc corpus) in ONE pandas group. Instead:

      1. decode blocks FLAT via mapInPandas — embarrassingly parallel,
         each block self-contained, no grouping, no skew;
      2. drop tombstones with a distributed anti-join (no driver
         collect — tombstone sets of any size are fine);
      3. re-blockify through the standard df-proportional salted kernel
         (_salted_blockify), n_salts derived from the CURRENT per-term
         posting counts (block metadata only — column-pruned, never
         touches the binary columns), so appended segments count too.

    Duplicate-pid detection survives salting: the salt is
    pmod(xxhash64(pid), n_salts), so both copies of a duplicated
    (term, pid) land in the same group and trip the kernel's
    sorted-adjacent guard. Iceberg's rewrite_data_files would replace
    this wholesale on a real catalog.
    """
    from pyspark.sql import SparkSession

    ss = SparkSession.getActiveSession()
    blocks = catalog.read(ss, "postings")

    # per-term live posting counts from block metadata (source of truth
    # after appends, unlike the build-time df which IndexUpdater freezes)
    counts = blocks.groupBy("term_id").agg(
        F.sum("num_postings").alias("n_post")
    )
    dict_slice = (
        catalog.read(ss, "term_dict").select("term_id", "idf")
        .join(counts, "term_id")
        .select(
            "term_id",
            F.greatest(
                F.lit(1),
                F.ceil(F.col("n_post") / F.lit(config.max_group_postings)),
            ).cast("long").alias("n_salts"),
        )
    )

    idf_table = catalog.read(ss, "term_dict").select("term_id", "idf")
    tomb = _collect_tombstones([catalog], ss)
    if tomb is not None:
        # hybrid payload feed: single-salt terms' blocks cross the
        # exchange still encoded (_payload_blockify)
        merged = _payload_blockify(blocks, dict_slice, idf_table,
                                   avgdl, config, tomb)
    else:
        # tombstone set too large for a task closure — flat decode with
        # the distributed anti-join (handles any size)
        flat = live_flat_postings(catalog, ss)
        enriched = flat.join(F.broadcast(dict_slice), "term_id").select(
            "term_id", "pid", "tf", "doclen",
            F.pmod(F.xxhash64("pid"), F.col("n_salts")).alias("salt"),
        )
        merged = _salted_blockify(enriched, avgdl, config,
                                  idf_table=idf_table)
    catalog.replace(
        merged.repartition(config.index_partitions, "bucket")
        .sortWithinPartitions("term_id", "block_id"),
        "postings", partition_by=["bucket"],
    )
    if catalog.table_exists("tombstones"):
        # doc_stats must shrink with the postings: a compacted-away pid
        # left in doc_stats makes IndexUpdater.add's clash check raise a
        # false "already live" for a doc that is physically gone. Only
        # ACTIVE tombstones (readded null) prune — a re-added pid's NEW
        # postings just survived the fold, so its doc_stats row must too
        t2 = catalog.read(ss, "tombstones")
        gone = (
            t2.filter(F.col("readded").isNull()) if "readded" in t2.columns
            else t2
        ).select("pid")
        catalog.replace(
            catalog.read(ss, "doc_stats").join(gone, "pid", "left_anti"),
            "doc_stats",
        )
    catalog.delete_table("tombstones")
    # parquet layout: the replace/delete mutated files behind Spark's back —
    # drop cached listings so same-session readers see the compacted
    # segment set (no-op on a snapshot-versioned catalog)
    catalog.refresh(ss)


def _make_pid_purge_kernel(bc_pids, avgdl: float):
    """mapInPandas kernel: drop the broadcast pid set from each posting
    block IN PLACE (same term_id/block_id/bucket), recomputing
    first/last/num/max_block_score/enc_bytes; blocks with no survivors
    vanish; blocks the pid set never touches pass through byte-identical.

    bc_pids is a Spark broadcast of a SORTED int64 numpy array — the range
    reject (searchsorted against [first_pid, last_pid]) skips the decode
    for the majority of blocks that share a file with a hit block but do
    not themselves intersect the pid set.
    """

    out_cols = ["term_id", "block_id", "first_pid", "last_pid",
                "num_postings", "max_block_score", "pids", "tfs", "dls",
                "enc_bytes", "bucket"]

    def purge(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from colbert_spark.functions.codec import (
            decode_pids_auto as decode_pids,
            decode_tfs_auto as decode_tfs,
        )

        purge_arr = bc_pids.value
        for pdf in batches:
            if pdf.empty:
                continue
            # vectorized range reject over the WHOLE batch: blocks whose
            # [first,last] range contains no purged pid pass through as one
            # pandas slice — the per-block python work is reserved for the
            # (few) range-overlapping blocks. Wide-range tail-term blocks
            # overlap any pid set, so the loop below still decodes them;
            # their decode is proportional to their (tiny) df.
            lo_all = np.searchsorted(purge_arr,
                                     pdf["first_pid"].to_numpy(), side="left")
            hi_all = np.searchsorted(purge_arr,
                                     pdf["last_pid"].to_numpy(), side="right")
            overlap = lo_all != hi_all
            clean = pdf.loc[~overlap, out_cols]
            if not overlap.any():
                yield clean
                continue
            rows = []
            sub = pdf.loc[overlap]
            sub_lo, sub_hi = lo_all[overlap], hi_all[overlap]
            for j, (_, r) in enumerate(sub.iterrows()):
                p = decode_pids(bytes(r["pids"]))
                mask = ~np.isin(p, purge_arr[sub_lo[j]:sub_hi[j]])
                if mask.all():  # range overlapped but no pid matched
                    rows.append(tuple(r[c] for c in out_cols))
                    continue
                if not mask.any():  # every posting purged → drop the block
                    continue
                tf = decode_tfs(bytes(r["tfs"]))[mask]
                dl = decode_tfs(bytes(r["dls"]))[mask]
                p2 = p[mask]
                idf = float(r["idf"])
                if not np.isfinite(idf):
                    raise ValueError(
                        f"term {int(r['term_id'])} missing from "
                        "term_dict during purge"
                    )
                # the shared score kernel keeps the surviving postings'
                # block max bit-identical to a rebuild
                scores = bm25.np_term_score(tf, dl, idf, avgdl)
                ep, et, ed = encode_pids(p2), encode_tfs(tf), encode_tfs(dl)
                rows.append((
                    int(r["term_id"]), int(r["block_id"]),
                    int(p2[0]), int(p2[-1]), int(p2.size),
                    float(scores.max()), ep, et, ed,
                    len(ep) + len(et) + len(ed),
                    int(r["bucket"]),
                ))
            touched = pd.DataFrame(rows, columns=out_cols)
            if len(clean) and len(touched):
                yield pd.concat([clean, touched], ignore_index=True)
            elif len(clean):
                yield clean
            elif len(touched):
                yield touched

    return purge


def purge_pids(catalog, config: ColBERTConfig, avgdl: float,
               pids: list[int], max_file_fraction: float | None = None) -> dict:
    """Physically remove a BOUNDED pid set's postings by rewriting ONLY the
    parquet files that hold a block whose [first_pid, last_pid] range
    intersects the set — the reference updater's patch-only-affected-chunks
    semantics (colbert/index_updater.py:176-273) instead of the O(index)
    decode+rewrite of coalesce_index. Returns
    {"files_rewritten", "files_total", "pids"} as surgery evidence.

    Scale shape: hit discovery is a column-pruned metadata scan (first_pid,
    last_pid, input_file_name — the binary columns are never read) against
    a broadcast pid table; only hit files are re-read, and within them the
    kernel's range reject skips decode for non-hit blocks. The caller bounds
    |pids| (ColBERTConfig.max_purge_pids) — past that, the broadcast array
    and the metadata nested-loop probe stop being cheap and full compaction
    wins (compaction-debt threshold, IndexUpdater.add).

    Idempotent: pids absent from every block range → zero files touched —
    which is also what makes it the streaming appender's crash-recovery
    primitive (streaming/indexing._apply_batch re-delivery).

    max_file_fraction: when set and the flagged-file fraction exceeds it,
    NOTHING is rewritten and the result carries fallback_recommended=True
    — the caller (IndexUpdater.add) should coalesce instead, since
    rewriting ~every file without a shuffle costs about what the full
    fold costs WITH its complete debt reset. Range precision is
    data-dependent: wide tail-term blocks intersect almost any pid, so a
    scattered pid set can flag every file even though the true hit blocks
    are few (bench's index_readd_surgery_100k measures exactly this worst
    case); pid-local sets (appended segments, time-ordered crawl pids)
    flag a bounded subset. Leave None to force the surgery (streaming
    crash rollback must always execute).
    """
    from pyspark.sql import SparkSession

    ss = SparkSession.getActiveSession()
    pid_list = sorted({int(p) for p in pids})
    out = {"files_rewritten": 0, "files_total": 0, "pids": len(pid_list),
           "hit_fraction": 0.0, "fallback_recommended": False}
    if not pid_list or not catalog.table_exists("postings"):
        return out
    catalog.recover_pending_rewrite(ss)  # finish any crashed prior surgery
    pid_df = ss.createDataFrame([(p,) for p in pid_list], "pid long")
    meta = catalog.read(ss, "postings").select(
        "first_pid", "last_pid", F.input_file_name().alias("src")
    )
    # ONE action answers both planner questions (hit files AND total
    # file count): a left range-join flags hit rows, the per-src max
    # folds map-side to one row per file. Row multiplicity from blocks
    # matching several pids collapses in the partial aggregate; |pids|
    # is caller-bounded (max_purge_pids).
    file_rows = (
        meta.join(
            F.broadcast(pid_df),
            (F.col("pid") >= F.col("first_pid"))
            & (F.col("pid") <= F.col("last_pid")),
            "left",
        )
        .groupBy("src")
        .agg(F.max(F.col("pid").isNotNull().cast("int")).alias("hit"))
        .collect()
    )
    hit_files = [r["src"] for r in file_rows if r["hit"]]
    out["files_total"] = len(file_rows)
    out["hit_fraction"] = (
        len(hit_files) / out["files_total"] if out["files_total"] else 0.0
    )
    out["fallback_recommended"] = bool(
        max_file_fraction is not None
        and out["hit_fraction"] > max_file_fraction
    )
    if out["fallback_recommended"] or not hit_files:
        return out
    blocks = (
        ss.read.option("basePath", catalog.path("postings"))
        .parquet(*hit_files)
        .withColumn("bucket", F.col("bucket").cast("int"))
    )
    idf_table = catalog.read(ss, "term_dict").select("term_id", "idf")
    bc = ss.sparkContext.broadcast(np.array(pid_list, dtype=np.int64))
    purged = blocks.join(F.broadcast(idf_table), "term_id", "left").mapInPandas(
        _make_pid_purge_kernel(bc, avgdl),
        schema=POSTINGS_SCHEMA + ", bucket int",
    )
    catalog.rewrite_files(ss, "postings", hit_files, purged,
                          partition_by=["bucket"])
    out["files_rewritten"] = len(hit_files)
    return out
