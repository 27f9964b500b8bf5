"""Seeded benchmark inputs: corpus pages, queries and update batches.

The seed picks a doc-id window and a qid window; pages and queries come from
``colbert_spark.sources.datagen.gen_docs_pdf`` / ``gen_queries_pdf``, which
are pure functions of the id, so the same seed always yields the same bytes.
Pids are dense positions inside the window (pid = doc id - window start), as
``sources.collection.assign_pids`` would give them.

Generated pages are cached per seed as parquet under the checkout's cache
directory; generation is never part of a timed phase.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pandas as pd

#: doc ids reserved per seed: windows of different seeds never overlap
DOC_WINDOW = 1_000_000
#: qids reserved per seed
QID_WINDOW = 100_000


def pages(cache_dir: Path, seed: int, n_pages: int) -> Path:
    """Parquet file of (pid long, text string) for the seed's first n_pages
    pages; generated once per (seed, n_pages), then reused."""
    from colbert_spark.sources.datagen import gen_docs_pdf

    path = cache_dir / f"pages-seed{seed}-n{n_pages}.parquet"
    if not path.exists():
        ids = np.arange(n_pages, dtype=np.int64) + seed * DOC_WINDOW
        pdf = gen_docs_pdf(ids)
        out = pd.DataFrame({"pid": ids - seed * DOC_WINDOW, "text": pdf["text"]})
        cache_dir.mkdir(parents=True, exist_ok=True)
        tmp = path.with_suffix(".tmp")
        out.to_parquet(tmp, index=False)
        tmp.rename(path)
    return path


def queries(seed: int, n: int, offset: int = 0) -> list[tuple[int, str]]:
    """n distinct (qid, text) pairs from the seed's qid window."""
    from colbert_spark.sources.datagen import gen_queries_pdf

    qids = np.arange(offset, offset + n, dtype=np.int64) + seed * QID_WINDOW
    pdf = gen_queries_pdf(qids)
    return [(int(q), str(t)) for q, t in zip(pdf["qid"], pdf["text"])]


def removal_order(seed: int, n_built: int) -> list[int]:
    """Seeded permutation of the built pids: update rounds remove from its
    front, so no pid is removed twice."""
    return np.random.default_rng(seed).permutation(n_built).tolist()
