"""Output checks: resolve digests, planted-truth F1 and the fuzzy DP oracle."""

from __future__ import annotations

import numpy as np

_ALPHA = "abcdefghijklmnopqrstuvwxyz"


def resolve_digest(df) -> tuple[int, int]:
    """Order-insensitive digest of the (url, cluster_id) rows: row count
    and the xor of the row hashes (urls are distinct, so rows are)."""
    from pyspark.sql import functions as F

    row = df.agg(
        F.count("*").alias("n"),
        F.bit_xor(F.xxhash64("url", "cluster_id")).alias("h"),
    ).collect()[0]
    return int(row.n), int(row.h or 0)


def _hist(words: list[str]) -> np.ndarray:
    out = np.zeros((len(words), 26), dtype=np.int16)
    for i, w in enumerate(words):
        for ch in w:
            out[i, ord(ch) - 97] += 1
    return out


class FuzzyOracle:
    """Exact OSA hits of a query within k over a dictionary.

    Candidates are cut to keys whose length is within k and whose letter
    histogram is within 2k in L1 (one edit moves it by at most 2), then
    the DP kernel decides; the cut never drops a true hit."""

    def __init__(self, words: list[str], k: int) -> None:
        if any(set(w) - set(_ALPHA) for w in words):
            raise ValueError("oracle expects lowercase ascii keys")
        self.k = k
        self.by_len: dict[int, tuple[np.ndarray, np.ndarray]] = {}
        for n in sorted({len(w) for w in words}):
            group = [w for w in words if len(w) == n]
            self.by_len[n] = (np.array(group, dtype=object), _hist(group))

    def hits(self, q: str) -> list[str]:
        from orchid_fst_spark.functions.distance import batch_levenshtein

        if set(q) - set(_ALPHA):
            raise ValueError(f"query {q!r} outside the oracle alphabet")
        qh = _hist([q])[0]
        out: list[str] = []
        for n in range(len(q) - self.k, len(q) + self.k + 1):
            if n not in self.by_len:
                continue
            ws, h = self.by_len[n]
            cand = ws[np.abs(h - qh).sum(axis=1) <= 2 * self.k]
            if len(cand):
                d = batch_levenshtein([q] * len(cand), list(cand),
                                      clamp=self.k, transpositions=True)
                out.extend(cand[d <= self.k])
        return sorted(out)


def batch_check(rows, queries: list[str], oracle: FuzzyOracle) -> tuple[int, int, int]:
    """(true positives, reported hits, expected hits) of one lookup batch."""
    got: dict[str, set[str]] = {q: set() for q in queries}
    for r in rows:
        got.setdefault(r["query"], set()).add(r["key"])
    tp = rep = exp = 0
    for q, keys in got.items():
        want = set(oracle.hits(q)) if q in queries else set()
        tp += len(keys & want)
        rep += len(keys)
        exp += len(want)
    return tp, rep, exp


def f1(tp: int, reported: int, expected: int) -> float:
    p = tp / reported if reported else 1.0
    r = tp / expected if expected else 1.0
    return 2 * p * r / (p + r) if p + r else 0.0
