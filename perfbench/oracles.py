"""Independent references for the benchmark's output checks.

Pure Python / numpy / DuckDB recomputations of what each checked call
must return on the generated inputs.  None of them calls into
pandance_spark.
"""

from __future__ import annotations

import hashlib
import re
from collections import defaultdict
from itertools import combinations

import numpy as np

_TOKEN_SPLIT = re.compile(r"[^a-z0-9]+")


def fuzzy_count(a: np.ndarray, b: np.ndarray, tol: float) -> int:
    """Pairs with ``|a - b| <= tol``: a sorted search per left value,
    with the window edges settled by the exact predicate."""
    bs = np.sort(b)
    lo = np.searchsorted(bs, a - tol - 1e-9, side="left")
    hi = np.searchsorted(bs, a + tol + 1e-9, side="right")
    n = len(bs)
    # values inside the 1e-9 slack may fail the exact test; there are
    # at most a handful, so walk the two edges until they pass
    for _ in range(4):
        edge = (lo < hi) & (np.abs(a - bs[np.minimum(lo, n - 1)]) > tol)
        lo = lo + edge
        edge = (hi > lo) & (np.abs(a - bs[np.maximum(hi - 1, 0)]) > tol)
        hi = hi - edge
    return int((hi - lo).sum())


def ineq_lt_count(a_rows: int, b_rows: int, overlap: int) -> int:
    """``a < b`` pairs for a = [0, A), b = [A - L, A - L + B): the
    reference's A*B + C(L, 2) - L^2 (its test_ops.py asserts it with
    A = B)."""
    return a_rows * b_rows + overlap * (overlap - 1) // 2 - overlap * overlap


def _tokens(text: str) -> list:
    return [t for t in _TOKEN_SPLIT.split(text.lower()) if t]


def _shingles(text: str, n: int) -> frozenset:
    toks = _tokens(text)
    return frozenset(
        " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
    )


def jaccard_pairs(texts, threshold: float, shingle_n: int = 3) -> int:
    """Pairs with word-n-gram Jaccard >= ``threshold``.  Candidates come
    from an inverted index (a pair with Jaccard > 0 shares a shingle)."""
    sets = [_shingles(t, shingle_n) for t in texts]
    postings = defaultdict(list)
    for i, s in enumerate(sets):
        for sh in s:
            postings[sh].append(i)
    shared = defaultdict(int)
    for docs in postings.values():
        for i, j in combinations(docs, 2):
            shared[(i, j)] += 1
    n = 0
    for (i, j), k in shared.items():
        if k / (len(sets[i]) + len(sets[j]) - k) >= threshold:
            n += 1
    return n


def fingerprint_pairs(texts, k: int, mod: int, min_shared: int, max_df: int) -> int:
    """Pairs sharing >= ``min_shared`` selected char-k-gram
    fingerprints (md5 prefix, kept when divisible by ``mod``), after
    dropping fingerprints found in more than ``max_df`` documents."""
    memo: dict = {}

    def fp(gram):
        h = memo.get(gram)
        if h is None:
            h = memo[gram] = int(hashlib.md5(gram.encode()).hexdigest()[:14], 16)
        return h

    postings = defaultdict(list)
    for i, text in enumerate(texts):
        t = text.lower()
        fps = {fp(t[p : p + k]) for p in range(len(t) - k + 1)}
        for h in fps:
            if h % mod == 0:
                postings[h].append(i)
    shared = defaultdict(int)
    for docs in postings.values():
        if len(docs) <= max_df:
            for pair in combinations(docs, 2):
                shared[pair] += 1
    return sum(1 for c in shared.values() if c >= min_shared)


def substring_spans(texts, min_tokens: int) -> int:
    """Maximal spans of >= ``min_tokens`` whitespace tokens occurring
    verbatim in two places: matching windows grouped per (place a,
    place b, offset), one span per run of consecutive positions."""
    occ = defaultdict(list)
    for d, text in enumerate(texts):
        toks = text.split()
        for p in range(len(toks) - min_tokens + 1):
            occ[tuple(toks[p : p + min_tokens])].append((d, p))
    diag = defaultdict(list)
    for places in occ.values():
        for (da, pa), (db, pb) in combinations(sorted(places), 2):
            diag[(da, db, pb - pa)].append(pa)
    spans = 0
    for starts in diag.values():
        starts.sort()
        spans += 1 + sum(1 for x, y in zip(starts, starts[1:]) if y != x + 1)
    return spans


def levenshtein_pairs(left, right, max_dist: int) -> tuple:
    """(pair count, summed distance) of the brute-force cross product
    within ``max_dist``, computed by DuckDB."""
    import duckdb

    con = duckdb.connect()
    try:
        con.register("l", left)
        con.register("r", right)
        n, s = con.execute(
            "SELECT count(*), coalesce(sum(d), 0) FROM ("
            " SELECT levenshtein(l.name, r.name) AS d FROM l, r"
            f") WHERE d <= {int(max_dist)}"
        ).fetchone()
    finally:
        con.close()
    return int(n), int(s)
