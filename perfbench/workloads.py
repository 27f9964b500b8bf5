"""The benchmark's workloads: closed loop, one client thread, public API only.

Every workload sets up the same way: read the seed's pages, build the index
with ``Indexer.index`` and open a ``Searcher``. It then calls the engine in
a closed loop (each call waits for the previous one) until the measuring
window ends, and checks every result against the pure-Python oracle
outside the timed calls.

Each timed call is recorded as an ``Op`` (kind, latency, items); metrics
are medians over these.
"""

from __future__ import annotations

import statistics
import time
from contextlib import nullcontext
from dataclasses import dataclass, field
from pathlib import Path

from perfbench import inputs
from perfbench.oracle import BM25Oracle, same_ranking

INDEX_NAME = "perfbench"
#: corpus pages indexed during set-up
N_PAGES = 5_000
#: queries per search_all call; above the engine's 64-query auto-mode
#: threshold, so the batch takes the scatter path
BATCH_QUERIES = 100
#: update_mix: pages added, pids removed and queries run per round
ADD_PAGES = 1_000
REMOVE_PIDS = 100
ROUND_QUERIES = 2
#: update_mix never runs more rounds than its page pool holds
MAX_ROUNDS = 4
#: warm-up queries come from this offset of the seed's qid window, far
#: from the measured ones
WARMUP_QID_OFFSET = 90_000
#: a session's searches keep getting faster for about its first eight
#: calls (JIT); five warm-up searches leave the measured window near the
#: steady state
WARMUP_SEARCHES = 5
K = 10


#: what Run.call returns for a call that raised
FAILED = object()


@dataclass
class Op:
    kind: str
    latency_s: float
    items: int
    #: the traced run traces every other call of each kind, to measure
    #: the tracing overhead against the calls in between
    traced: bool = False


@dataclass
class Run:
    """State shared by set-up, the measured loop and the metrics."""
    spark: object
    tracer: object
    config: object
    seed: int
    pages_path: str
    oracle: BM25Oracle
    setup_phases: dict[str, float] = field(default_factory=dict)
    ops: list[Op] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    searcher: object = None
    docs: object = None
    build_s: float = 0.0
    index_bytes: int = 0
    build_files: int = 0

    # -- timing helpers -------------------------------------------------------
    def phase(self, name: str, fn):
        """Run one timed set-up phase inside a span of the same name."""
        t0 = time.perf_counter()
        with self.tracer.span(name):
            out = fn()
        self.setup_phases[name] = time.perf_counter() - t0
        return out

    def call(self, kind: str, items: int, span: str, fn, **attrs):
        """One measured client call → its result, or FAILED. An exception
        counts as a failed op and is reported, never retried."""
        self.attempted += 1
        traced = self.tracer.enabled and len(self.latencies(kind)) % 2 == 0
        t0 = time.perf_counter()
        try:
            with (self.tracer.span(span, request=True, **attrs) if traced
                  else nullcontext()) as sp:
                out = fn()
        except Exception as exc:  # the loop must go on and report it
            self.failed += 1
            self.problems.append(f"{kind}: {type(exc).__name__}: {exc}")
            return FAILED
        self.ops.append(Op(kind, time.perf_counter() - t0, items, traced))
        if sp is not None:
            # session-leak probe: RDDs still persisted after each call
            sp.attrs["persisted_rdds"] = persisted_rdds(self.spark)
        return out

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.failed += 1
            self.problems.append(what)

    def more(self, kind: str, deadline: float) -> bool:
        """Start another call of this kind? Always the first one; after that
        only if a call as long as the last one would end by the deadline."""
        lat = self.latencies(kind)
        return not lat or time.monotonic() + lat[-1] <= deadline

    def latencies(self, kind: str) -> list[float]:
        return [o.latency_s for o in self.ops if o.kind == kind]

    def items_per_s(self, kind: str) -> float:
        ops = [o for o in self.ops if o.kind == kind]
        return sum(o.items for o in ops) / sum(o.latency_s for o in ops)


# -- shared set-up -------------------------------------------------------------

def setup_index(run: Run) -> None:
    """Load pages, build the index, open a Searcher (all timed), then check
    the build against the oracle (untimed)."""
    import pyspark.sql.functions as F

    from colbert_spark import Indexer, Searcher

    def load():
        docs = run.spark.read.parquet(run.pages_path).filter(
            F.col("pid") < N_PAGES).select("pid", "text")
        docs.count()
        return docs

    run.docs = run.phase("load", load)
    run.phase("plans.indexer.index", lambda: Indexer(run.config).index(
        INDEX_NAME, run.docs, overwrite="force_silent_overwrite"))
    run.build_s = run.setup_phases["plans.indexer.index"]
    run.index_bytes = dir_bytes(index_dir(run))
    run.build_files = postings_files(run)
    run.searcher = run.phase(
        "plans.searcher.open", lambda: Searcher(INDEX_NAME, run.spark, run.config))
    check_build(run)


def check_build(run: Run) -> None:
    """Index statistics and the whole term dictionary against the oracle."""
    run.attempted += 1
    s = run.searcher
    want_df = run.oracle.df()
    got_df = {r["term"]: r["df"] for r in s.term_dict.select("term", "df").collect()}
    run.check(s.num_docs == run.oracle.n, f"build: num_docs {s.num_docs} != {run.oracle.n}")
    run.check(abs(s.avgdl - run.oracle.avgdl) <= 1e-9,
              f"build: avgdl {s.avgdl} != {run.oracle.avgdl}")
    run.check(got_df == want_df, f"build: term_dict df differs on "
              f"{len(set(got_df.items()) ^ set(want_df.items()))} terms")


def search_one(run: Run, text: str):
    """Searcher.search → [(pid, score)]."""
    pids, _ranks, scores = run.searcher.search(text, k=K)
    return list(zip(pids, scores))


def check_query(run: Run, qid: int, text: str, got) -> bool:
    want = run.oracle.topk(text, K)
    ok = same_ranking(got, want)
    if not ok:
        run.problems.append(f"query {qid} {text!r}: got {got} want {want}")
    return ok


def index_dir(run: Run) -> Path:
    return Path(run.config.index_root) / INDEX_NAME


def postings_files(run: Run) -> int:
    return sum(1 for _ in (index_dir(run) / "postings").rglob("*.parquet"))


def dir_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())


def persisted_rdds(spark) -> int:
    return int(spark.sparkContext._jsc.getPersistentRDDs().size())


# -- workloads -------------------------------------------------------------------

class Workload:
    name = ""
    #: pages generated per seed (the corpus plus any pages added later)
    pages = N_PAGES

    def setup(self, run: Run) -> None:
        setup_index(run)
        self.warm_up(run)

    def warm_up(self, run: Run) -> None:
        """WARMUP_SEARCHES searches from a qid range the measured calls never
        use."""
        qs = inputs.queries(run.seed, WARMUP_SEARCHES, WARMUP_QID_OFFSET)
        run.phase("warm_up", lambda: [search_one(run, t) for _, t in qs])

    def loop(self, run: Run, deadline: float) -> None:
        raise NotImplementedError

    def metrics(self, run: Run) -> dict[str, float]:
        """query_p50_ms (the median latency of the workload's query calls)
        plus workload-specific numbers that are printed, not gated."""
        raise NotImplementedError


class QueryInteractive(Workload):
    """Searcher.search(k=10) over distinct queries: per-call fixed cost on
    the gather path (one query per call)."""
    name = "query_interactive"

    def loop(self, run: Run, deadline: float) -> None:
        offset = 0
        while run.more("search", deadline):
            qid, text = inputs.queries(run.seed, 1, offset)[0]
            offset += 1
            got = run.call("search", 1, "plans.searcher.search",
                           lambda: search_one(run, text), qid=qid)
            if got is not FAILED:
                run.check(check_query(run, qid, text, got),
                          f"query {qid}: ranking differs from the oracle")

    def metrics(self, run: Run) -> dict[str, float]:
        return {"query_p50_ms": 1000 * statistics.median(run.latencies("search"))}


class QueryBatch(Workload):
    """search_all of BATCH_QUERIES distinct queries per call; auto mode
    picks scatter, so the gather kernel is bypassed."""
    name = "query_batch"

    def _batch(self, run: Run, offset: int):
        qs = inputs.queries(run.seed, BATCH_QUERIES, offset)
        return qs, lambda: run.searcher.search_all(dict(qs), k=K).df.collect()

    def warm_up(self, run: Run) -> None:
        _, fn = self._batch(run, WARMUP_QID_OFFSET)
        run.phase("warm_up", fn)

    def loop(self, run: Run, deadline: float) -> None:
        offset = 0
        while run.more("search_all", deadline):
            qs, fn = self._batch(run, offset)
            rows = run.call("search_all", len(qs), "plans.searcher.search_all",
                            fn, queries=len(qs))
            offset += BATCH_QUERIES
            if rows is FAILED:
                continue
            by_qid: dict[int, list] = {}
            for r in sorted(rows, key=lambda r: (r["qid"], r["rank"])):
                by_qid.setdefault(r["qid"], []).append((r["pid"], r["score"]))
            bad = [qid for qid, text in qs
                   if not check_query(run, qid, text, by_qid.get(qid, []))]
            run.check(not bad, f"search_all: {len(bad)} of {len(qs)} queries "
                      "differ from the oracle")

    def metrics(self, run: Run) -> dict[str, float]:
        return {"query_p50_ms": 1000 * statistics.median(run.latencies("search_all")),
                "batch_queries_per_s": run.items_per_s("search_all")}


class UpdateMix(Workload):
    """Rounds of IndexUpdater.add, IndexUpdater.remove, a reopened Searcher
    and searches, checked under the updater's frozen statistics."""
    name = "update_mix"
    pages = N_PAGES + ADD_PAGES * MAX_ROUNDS

    def setup(self, run: Run) -> None:
        from colbert_spark.plans.index_updater import IndexUpdater

        setup_index(run)
        self.updater = run.phase(
            "plans.index_updater.open",
            lambda: IndexUpdater(INDEX_NAME, run.spark, run.config))
        run.oracle.freeze()
        self.removal = inputs.removal_order(run.seed, N_PAGES)
        self.removed: set[int] = set()
        self.warm_up(run)

    def loop(self, run: Run, deadline: float) -> None:
        import pyspark.sql.functions as F

        from colbert_spark import Searcher

        pool = run.spark.read.parquet(run.pages_path).select("pid", "text")
        queries = iter(inputs.queries(run.seed, ROUND_QUERIES * MAX_ROUNDS))
        start = time.monotonic()
        for rnd in range(MAX_ROUNDS):
            if rnd and time.monotonic() + (time.monotonic() - start) / rnd > deadline:
                break
            lo = N_PAGES + rnd * ADD_PAGES
            new = pool.filter((F.col("pid") >= lo) & (F.col("pid") < lo + ADD_PAGES))
            if run.call("add", ADD_PAGES, "plans.index_updater.add",
                        lambda: self.updater.add(new), round=rnd) is not FAILED:
                run.oracle.add(self._page_texts(run, lo))
            gone = self.removal[rnd * REMOVE_PIDS:(rnd + 1) * REMOVE_PIDS]
            if run.call("remove", REMOVE_PIDS, "plans.index_updater.remove",
                        lambda: self.updater.remove(gone), round=rnd) is not FAILED:
                run.oracle.remove(gone)
                self.removed.update(gone)
            searcher = run.call("open", 1, "plans.searcher.open",
                                lambda: Searcher(INDEX_NAME, run.spark, run.config))
            if searcher is not FAILED:
                run.searcher = searcher
            for _ in range(ROUND_QUERIES):
                qid, text = next(queries)
                got = run.call("search", 1, "plans.searcher.search",
                               lambda: search_one(run, text), qid=qid, round=rnd)
                if got is FAILED:
                    continue
                if {p for p, _ in got} & self.removed:
                    run.check(False, f"query {qid}: returned a removed pid")
                else:
                    run.check(check_query(run, qid, text, got),
                              f"query {qid}: ranking differs from the frozen-stats oracle")

    @staticmethod
    def _page_texts(run: Run, lo: int) -> dict[int, str]:
        import pyarrow.parquet as pq

        tbl = pq.read_table(run.pages_path, filters=[("pid", ">=", lo),
                                                     ("pid", "<", lo + ADD_PAGES)])
        return dict(zip(tbl.column("pid").to_pylist(), tbl.column("text").to_pylist()))

    def metrics(self, run: Run) -> dict[str, float]:
        return {"query_p50_ms": 1000 * statistics.median(run.latencies("search")),
                "update_add_docs_per_s": run.items_per_s("add"),
                "update_remove_p50_ms": 1000 * statistics.median(run.latencies("remove"))}


WORKLOADS = {w.name: w for w in (QueryInteractive, QueryBatch, UpdateMix)}
