"""Independent pure-Python BM25 oracle.

Shares no code with ``colbert_spark``: its own tokenizer (lower-case, split
on ``[^a-z0-9]+``, drop empties, truncate), its own BM25 (k1=1.2, b=0.75,
idf = ln((N - df + 0.5) / (df + 0.5) + 1), float64), scores rounded to 6
places before ranking by (-score, pid).

``freeze()`` switches to the frozen-statistics model that
``IndexUpdater`` documents: N, avgdl and idf stay at their build-time
values, a term unseen at build time scores with idf at df=0, and the scored
set is the built docs minus removed plus added.
"""

from __future__ import annotations

import math
import re
from collections import Counter

K1 = 1.2
B = 0.75
DECIMALS = 6
DOC_MAXLEN = 220
QUERY_MAXLEN = 32

_SPLIT = re.compile(r"[^a-z0-9]+")


def tokenize(text: str, maxlen: int) -> list[str]:
    return [t for t in _SPLIT.split(text.lower()) if t][:maxlen]


def idf(df: int, n: int) -> float:
    return math.log((n - df + 0.5) / (df + 0.5) + 1.0)


class BM25Oracle:
    def __init__(self, docs: dict[int, str]):
        self.postings: dict[str, dict[int, int]] = {}
        self.doclen: dict[int, int] = {}
        self.removed: set[int] = set()
        for pid, text in docs.items():
            self._index(pid, text)
        self.n = len(self.doclen)
        self.avgdl = sum(self.doclen.values()) / self.n
        self._frozen_df: dict[str, int] | None = None

    def _index(self, pid: int, text: str) -> None:
        toks = tokenize(text, DOC_MAXLEN)
        self.doclen[pid] = len(toks)
        for term, tf in Counter(toks).items():
            self.postings.setdefault(term, {})[pid] = tf

    def df(self) -> dict[str, int]:
        return {t: len(p) for t, p in self.postings.items()}

    # -- updates (frozen statistics) ----------------------------------------
    def freeze(self) -> None:
        self._frozen_df = self.df()

    def add(self, docs: dict[int, str]) -> None:
        self._require_frozen()
        for pid, text in docs.items():
            self._index(pid, text)

    def remove(self, pids: list[int]) -> None:
        self._require_frozen()
        self.removed.update(pids)

    def _require_frozen(self) -> None:
        if self._frozen_df is None:
            raise RuntimeError("freeze() the build statistics before updates")

    # -- ranking --------------------------------------------------------------
    def topk(self, text: str, k: int = 10) -> list[tuple[int, float]]:
        """[(pid, rounded score)] in (-score, pid) order."""
        scores: dict[int, float] = {}
        for term in set(tokenize(text, QUERY_MAXLEN)):
            plist = self.postings.get(term)
            if not plist:
                continue
            if self._frozen_df is None:
                w = idf(len(plist), self.n)
            else:
                w = idf(self._frozen_df.get(term, 0), self.n)
            for pid, tf in plist.items():
                if pid in self.removed:
                    continue
                norm = K1 * (1.0 - B + B * self.doclen[pid] / self.avgdl)
                scores[pid] = scores.get(pid, 0.0) + w * tf * (K1 + 1.0) / (tf + norm)
        ranked = sorted(
            ((round(s, DECIMALS), pid) for pid, s in scores.items()),
            key=lambda t: (-t[0], t[1]),
        )
        return [(pid, s) for s, pid in ranked[:k]]


def same_ranking(got: list[tuple[int, float]],
                 want: list[tuple[int, float]]) -> bool:
    """Rank-exact pids; scores equal up to one unit of the 6th decimal
    (the two engines may round a float64 sum that sits on a boundary
    differently)."""
    return len(got) == len(want) and all(
        gp == wp and abs(gs - ws) <= 1.5 * 10 ** -DECIMALS
        for (gp, gs), (wp, ws) in zip(got, want)
    )
