"""BM25 scoring math — one definition shared by every scorer and oracle.

Replaces the reference's MaxSim interaction (colbert/modeling/colbert.py:132-177):
the max-then-sum over query tokens becomes sum-of-term-scores; candidate
pruning upper bounds (colbert/search/index_storage.py:111-166) become
per-block max term scores (block-max WAND).

Constants fixed & documented (SURVEY.md §7.3): k1=1.2, b=0.75,
idf = ln((N - df + 0.5)/(df + 0.5) + 1)  (the Lucene/ATIRE non-negative
variant). All math in float64 everywhere — Spark, numpy, DuckDB, Python —
so rankings are rank-identical across engines with the (-score, pid)
total order (reference tiebreak: server.py:34).
"""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import Column

K1 = 1.2
B = 0.75

#: round scores to this many decimals before ranking/compare so ULP-level
#: summation-order differences across engines can't flip ranks.
SCORE_DECIMALS = 6


def idf(df_col: Column, num_docs: Column | int) -> Column:
    """ln((N - df + 0.5) / (df + 0.5) + 1) as a Spark column (float64)."""
    n = F.lit(float(num_docs)) if isinstance(num_docs, int) else num_docs.cast("double")
    d = df_col.cast("double")
    return F.log((n - d + F.lit(0.5)) / (d + F.lit(0.5)) + F.lit(1.0))


def term_score(tf_col: Column, doclen_col: Column, avgdl: Column | float,
               idf_col: Column) -> Column:
    """idf * tf*(k1+1) / (tf + k1*(1 - b + b*doclen/avgdl))  (float64)."""
    a = F.lit(float(avgdl)) if isinstance(avgdl, float) else avgdl.cast("double")
    tf = tf_col.cast("double")
    dl = doclen_col.cast("double")
    denom = tf + F.lit(K1) * (F.lit(1.0 - B) + F.lit(B) * dl / a)
    return idf_col * tf * F.lit(K1 + 1.0) / denom


def np_term_score(tfs: np.ndarray, dls: np.ndarray,
                  idf: "float | np.ndarray", avgdl: float) -> np.ndarray:
    """Numpy mirror of term_score for the block kernels (build, purge,
    MaxScore, scatter). One float64 operation order everywhere, so
    max_block_score and query-time scores are bit-identical; idf may be
    per-posting (region builder) or 1.0 (scatter's idf-free core)."""
    tf = tfs.astype(np.float64)
    dl = dls.astype(np.float64)
    return idf * tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * dl / avgdl))
