"""Per-layer metrics of the traced run (``--trace 1``).

Two sources:

* the workload's own calls, traced: each span carries the Spark jobs and
  stages submitted inside it (``perfbench.trace``), which gives jobs, tasks,
  executor time, shuffle and scan bytes and driver-side gaps per call;
* probes run after the workload's loop that call one layer's public
  functions directly on the run's inputs and index: the tokenizer, the
  builder stages, the codec, the MaxScore gather kernel, the scatter top-k,
  and (on workloads that do not update) one IndexUpdater round.

Probes mutate nothing until the updater probe, which runs last.
"""

from __future__ import annotations

import statistics
import time

import numpy as np

from perfbench import inputs
from perfbench.oracle import QUERY_MAXLEN, tokenize
from perfbench.workloads import (ADD_PAGES, BATCH_QUERIES, INDEX_NAME, K,
                                 N_PAGES, REMOVE_PIDS, Run, dir_bytes,
                                 index_dir, postings_files)

MB = float(1 << 20)
#: posting blocks decoded / re-encoded by the codec probes
CODEC_SAMPLE_BLOCKS = 4000
#: queries scored by the driver-side gather kernel probe
GATHER_QUERIES = 10

QUERY_SPANS = ("plans.searcher.search", "plans.searcher.search_all")


def _timed(run: Run, name: str, fn):
    with run.tracer.span(name) as sp:
        out = fn()
    return sp.wall_s, out


def collect(run: Run) -> dict[str, float]:
    """Run the probes, attribute Spark work to spans, return every metric."""
    import pyspark.sql.functions as F

    from colbert_spark.functions import analysis, codec
    from colbert_spark.operators import builder, wand
    from colbert_spark.plans.index_updater import IndexUpdater, load_tombstones

    spark, cfg, out = run.spark, run.config, {}
    searcher = run.searcher
    catalog = searcher.catalog
    postings = catalog.read(spark, "postings")
    term_dict = catalog.read(spark, "term_dict").select("term", "term_id", "idf", "df")
    td = {r["term"]: (r["term_id"], r["idf"], r["df"]) for r in term_dict.collect()}
    blocks_per_term = {r["term_id"]: r["n"] for r in
                       postings.groupBy("term_id").agg(F.count(F.lit(1)).alias("n")).collect()}

    # -- functions.analysis / operators.builder ---------------------------------
    tok_s, _ = _timed(run, "functions.analysis.tokenize_docs", lambda: analysis.tokenize_docs(
        run.docs, maxlen=cfg.doc_maxlen).write.format("noop").mode("overwrite").save())
    out["analysis.tokenize_docs_per_s"] = N_PAGES / tok_s
    out["builder.term_agg_s"], _ = _timed(
        run, "operators.builder.term_agg",
        lambda: builder.term_agg(builder.tokenize(run.docs, cfg))
        .write.format("noop").mode("overwrite").save())
    built_dict = term_dict.filter(F.col("df") > 0)
    out["builder.build_postings_s"], row = _timed(
        run, "operators.builder.build_postings",
        lambda: builder.build_postings(builder.tokenize(run.docs, cfg), built_dict,
                                       searcher.avgdl, cfg)
        .agg(F.count(F.lit(1)).alias("blocks"),
             F.sum("num_postings").alias("postings")).collect()[0])
    out["builder.blocks"], out["builder.postings"] = row["blocks"], row["postings"]

    # -- functions.codec ------------------------------------------------------------
    sample = (postings.orderBy("term_id", "block_id").limit(CODEC_SAMPLE_BLOCKS)
              .select("pids", "tfs", "dls").collect())
    t0 = time.perf_counter()
    decoded = [(codec.decode_pids_auto(bytes(r["pids"])), codec.decode_tfs_auto(bytes(r["tfs"])),
                codec.decode_tfs_auto(bytes(r["dls"]))) for r in sample]
    dec_s = time.perf_counter() - t0
    n_post = sum(p.size for p, _, _ in decoded)
    out["codec.decode_postings_per_s"] = n_post / dec_s
    counts = np.array([p.size for p, _, _ in decoded], dtype=np.int64)
    starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
    cols = [np.concatenate([d[i] for d in decoded]) for i in range(3)]
    t0 = time.perf_counter()
    codec.encode_pids_auto_batch(cols[0], starts, counts)
    codec.encode_u64_auto_batch(cols[1].astype(np.uint64), starts, counts)
    codec.encode_u64_auto_batch(cols[2].astype(np.uint64), starts, counts)
    out["codec.encode_postings_per_s"] = n_post / (time.perf_counter() - t0)
    size = postings.agg(F.sum("enc_bytes").alias("b"), F.sum("num_postings").alias("n")).first()
    out["codec.bytes_per_posting"] = size["b"] / size["n"]

    # -- operators.wand: gather kernel on the driver -------------------------------
    gq = inputs.queries(run.seed, GATHER_QUERIES)
    q_tids = {qid: {td[t][0] for t in set(tokenize(text, QUERY_MAXLEN)) if t in td}
              for qid, text in gq}
    all_tids = sorted(set().union(*q_tids.values()))
    gblocks = (postings.filter(F.col("term_id").isin(all_tids))
               .join(term_dict.select("term_id", "idf"), "term_id").toPandas())
    kernel_s = []
    for qid, tids in q_tids.items():
        pdf = gblocks[gblocks["term_id"].isin(tids)]
        if pdf.empty:
            continue
        t0 = time.perf_counter()
        wand.score_query_blocks(pdf, K, searcher.avgdl, excluded=searcher.tombstones)
        kernel_s.append(time.perf_counter() - t0)
    out["wand.gather_kernel_ms_per_query"] = 1000 * statistics.mean(kernel_s)

    # -- operators.wand: scatter over pre-cached candidate blocks ------------------
    bq = inputs.queries(run.seed, BATCH_QUERIES)
    qterm_rows = sorted({(qid, *td[t][:2]) for qid, text in bq
                         for t in tokenize(text, QUERY_MAXLEN) if t in td})
    qterms = spark.createDataFrame(qterm_rows, "qid long, term_id long, idf double").persist()
    tids = sorted({r[1] for r in qterm_rows})
    cand = postings.filter(F.col("term_id").isin(tids)).persist()
    qterms.count()
    cand.count()
    tomb = load_tombstones(catalog, spark)
    out["wand.scatter_s"], _ = _timed(run, "operators.wand.topk_scatter", lambda: wand.topk_scatter(
        cand, qterms, K, searcher.avgdl,
        tombstones=None if tomb is None else tomb.select("pid", "before_epoch")).collect())
    df_by_tid = {v[0]: v[2] for v in td.values()}
    nq = {}
    for _, tid, _ in qterm_rows:
        nq[tid] = nq.get(tid, 0) + 1
    out["wand.scatter_partials"] = sum(df_by_tid[t] * n for t, n in nq.items())
    qterms.unpersist()
    cand.unpersist()

    # -- sources.catalog: the index as the workload left it ------------------------
    out["catalog.postings_files"] = postings_files(run)
    out["catalog.index_mb"] = dir_bytes(index_dir(run)) / MB

    # -- plans.index_updater (probe on workloads that do not update) ---------------
    if not any(o.kind == "add" for o in run.ops):
        updater = IndexUpdater(INDEX_NAME, spark, cfg)
        pool = spark.read.parquet(run.pages_path)
        new = pool.filter((F.col("pid") >= N_PAGES) & (F.col("pid") < N_PAGES + ADD_PAGES))
        with run.tracer.span("plans.index_updater.add", request=True):
            updater.add(new)
        gone = inputs.removal_order(run.seed, N_PAGES)[:REMOVE_PIDS]
        with run.tracer.span("plans.index_updater.remove", request=True):
            updater.remove(gone)
    n_adds = sum(1 for o in run.ops if o.kind == "add") or 1
    out["updater.files_added_per_add"] = (postings_files(run) - run.build_files) / n_adds
    tomb = load_tombstones(catalog, spark)
    out["updater.tombstones"] = 0 if tomb is None else tomb.count()

    # -- attribute Spark jobs to spans, then read them -----------------------------
    run.tracer.attribute()
    tr = run.tracer
    build = tr.named("plans.indexer.index")[0]
    out["session.start_s"] = run.setup_phases["session.start"]
    out["indexer.index_s"] = build.wall_s
    out["indexer.jobs"] = len(build.jobs)
    out["indexer.tasks"] = build.tasks()
    out["indexer.executor_run_s"] = build.total("executorRunTime") / 1000
    out["indexer.shuffle_write_mb"] = build.total("shuffleWriteBytes") / MB
    out["indexer.core_busy_ratio"] = (build.total("executorRunTime") / 1000
                                      / (build.wall_s * spark.sparkContext.defaultParallelism))

    query_ops = [o for o in run.ops if o.kind in ("search", "search_all")]
    qspans = [s for name in QUERY_SPANS for s in tr.named(name) if s.request]
    nq_traced = sum(s.attrs.get("queries", 1) for s in qspans)
    out["searcher.open_s"] = statistics.median(s.wall_s for s in tr.named("plans.searcher.open"))
    out["searcher.jobs_per_query"] = sum(len(s.jobs) for s in qspans) / nq_traced
    out["searcher.tasks_per_query"] = sum(s.tasks() for s in qspans) / nq_traced
    out["searcher.driver_gap_ms_per_query"] = 1000 * sum(s.driver_gap_s() for s in qspans) / nq_traced
    out["searcher.executor_ms_per_query"] = sum(s.total("executorRunTime") for s in qspans) / nq_traced
    out["searcher.shuffle_mb_per_query"] = sum(s.total("shuffleWriteBytes") for s in qspans) / MB / nq_traced
    out["catalog.scan_mb_per_query"] = sum(s.total("inputBytes") for s in qspans) / MB / nq_traced
    out["searcher.persisted_rdds"] = qspans[-1].attrs["persisted_rdds"]
    out["searcher.candidate_blocks_per_query"] = statistics.mean(
        sum(blocks_per_term.get(td[t][0], 0) for t in set(tokenize(text, QUERY_MAXLEN)) if t in td)
        for _, text in inputs.queries(run.seed, sum(o.items for o in query_ops)))

    adds = tr.named("plans.index_updater.add")
    out["updater.add_s"] = statistics.median(s.wall_s for s in adds)
    out["updater.add_jobs"] = statistics.mean(len(s.jobs) for s in adds)
    out["updater.remove_s"] = statistics.median(
        s.wall_s for s in tr.named("plans.index_updater.remove"))

    traced = [o.latency_s for o in query_ops if o.traced]
    plain = [o.latency_s for o in query_ops if not o.traced]
    out["trace.overhead_pct"] = (100 * (statistics.median(traced) / statistics.median(plain) - 1)
                                 if traced and plain else 0.0)
    return {name: float(v) for name, v in out.items()}
