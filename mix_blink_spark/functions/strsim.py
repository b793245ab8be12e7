"""String-similarity kernels for pairwise scoring.

Levenshtein stays JVM-side (``F.levenshtein`` — whole-stage codegen).
Jaro-Winkler has no Spark built-in, so it is an Arrow ``pandas_udf``
(batched; the only Python in this stage). Semantics follow the standard
Winkler definition (prefix ≤ 4, p = 0.1, boost threshold 0.7) so results
are checkable against DuckDB's ``jaro_winkler_similarity`` oracle.

Reference analog: the reference scores pairs only with dense embeddings
(trainer.py:228-235); lexical scores are additional semantics mandated by
BASELINE.json north_star ("Jaro-Winkler/Levenshtein string scores ...
evaluated as pandas_udf over Arrow record batches").
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType
from pyspark.sql.functions import pandas_udf

from . import rechunk


def jaro(s1: str, s2: str) -> float:
    """Plain Jaro similarity (match window floor(max/2)-1, transpositions/2).
    Either side empty → 0.0, including both-empty (DuckDB convention, so the
    oracle parity is exact)."""
    l1, l2 = len(s1), len(s2)
    if l1 == 0 or l2 == 0:
        return 0.0
    if s1 == s2:
        return 1.0
    window = max(l1, l2) // 2 - 1
    if window < 0:
        window = 0
    flags2 = [False] * l2
    match1 = []
    for i, c in enumerate(s1):
        lo = i - window if i - window > 0 else 0
        hi = i + window + 1
        if hi > l2:
            hi = l2
        for j in range(lo, hi):
            if not flags2[j] and s2[j] == c:
                flags2[j] = True
                match1.append(c)
                break
    m = len(match1)
    if m == 0:
        return 0.0
    match2 = [s2[j] for j in range(l2) if flags2[j]]
    t = sum(a != b for a, b in zip(match1, match2)) // 2
    return (m / l1 + m / l2 + (m - t) / m) / 3.0


def jaro_winkler(s1: str, s2: str, prefix_weight: float = 0.1, boost_threshold: float = 0.7) -> float:
    j = jaro(s1, s2)
    if j <= boost_threshold:
        return j
    prefix = 0
    for a, b in zip(s1[:4], s2[:4]):
        if a != b:
            break
        prefix += 1
    return j + prefix * prefix_weight * (1.0 - j)


# ---------------------------------------------------------------------------
# vectorized kernel: the scalar ``jaro``/``jaro_winkler`` above are the
# readable reference semantics; the numpy implementation below computes the
# IDENTICAL values (same greedy match, same float evaluation order — gated
# bit-for-bit against the scalar in tests/test_strsim.py) at ~10-20x the
# throughput by looping over CHARACTER POSITIONS (≤ max string length)
# instead of over pairs. Pair scoring is the hot kernel of the linkage
# pipeline at high vocabulary (round-3 highvocab profile: ~50k pairs/s/8
# cores with the per-pair Python loop).


def _codes(strs: list[str], width: int, ascii_only: bool) -> np.ndarray:
    """(n, width) codepoint matrix, zero-padded. uint8 when every string is
    latin-1-encodable (the common case for normalized surfaces — 4x less
    memory traffic in the hot loop), uint32 otherwise."""
    if ascii_only:
        out = np.zeros((len(strs), max(width, 1)), dtype=np.uint8)
        for i, s in enumerate(strs):
            if s:
                out[i, : len(s)] = np.frombuffer(s.encode("latin-1"), dtype=np.uint8)
        return out
    out = np.zeros((len(strs), max(width, 1)), dtype=np.uint32)
    for i, s in enumerate(strs):
        if s:
            out[i, : len(s)] = np.frombuffer(s.encode("utf-32-le"), dtype=np.uint32)
    return out


def _latin1_ok(strs: list[str]) -> bool:
    try:
        "\x00".join(strs).encode("latin-1")
        return True
    except UnicodeEncodeError:
        return False


def _jaro_core(sa: list[str], sb: list[str]) -> np.ndarray:
    """Vectorized plain Jaro for pairs that are non-empty and non-equal."""
    n = len(sa)
    l1 = np.fromiter((len(s) for s in sa), np.int64, n)
    l2 = np.fromiter((len(s) for s in sb), np.int64, n)
    L1, L2 = int(l1.max()), int(l2.max())
    ascii_only = _latin1_ok(sa) and _latin1_ok(sb)
    A = _codes(sa, L1, ascii_only)
    B = _codes(sb, L2, ascii_only)
    window = np.maximum(np.maximum(l1, l2) // 2 - 1, 0)

    flags = np.zeros((n, L2), dtype=bool)
    mcount = np.zeros(n, dtype=np.int64)
    match1 = np.zeros((n, L1), dtype=A.dtype)
    jgrid = np.arange(L2, dtype=np.int64)[None, :]
    # window bounds as per-pair precomputed grids: j >= i-window  <=>
    # jgrid+window >= i, and j < i+1+window  <=>  jgrid-window <= i; the
    # per-iteration test is then two scalar comparisons on these arrays
    w_up = (jgrid + window[:, None]).astype(np.int32)
    w_dn = (jgrid - window[:, None]).astype(np.int32)
    w_dn[jgrid >= l2[:, None]] = np.iinfo(np.int32).max  # j >= l2: never in window
    alive = np.empty((n, 1), dtype=bool)
    cand = np.empty((n, L2), dtype=bool)
    tmp = np.empty((n, L2), dtype=bool)
    for i in range(L1):
        # greedy first-unflagged-match inside the window, exactly as the
        # scalar loop: within one i at most one j is claimed per pair, so
        # claims across pairs are independent and vectorize cleanly
        np.greater_equal(w_up, i, out=cand)
        np.less_equal(w_dn, i, out=tmp)
        cand &= tmp
        np.equal(B, A[:, i][:, None], out=tmp)
        cand &= tmp
        np.logical_not(flags, out=tmp)
        cand &= tmp
        np.less(i, l1, out=alive[:, 0])
        cand &= alive
        has = cand.any(axis=1)
        r = np.nonzero(has)[0]
        if len(r):
            j = cand[r].argmax(axis=1)
            flags[r, j] = True
            match1[r, mcount[r]] = A[r, i]
            mcount[r] += 1

    # match2: flagged chars of B in j order, compacted to the left
    pos = np.cumsum(flags, axis=1) - 1
    r2, c2 = np.nonzero(flags)
    match2 = np.zeros((n, L1), dtype=B.dtype)
    match2[r2, pos[r2, c2]] = B[r2, c2]
    valid = np.arange(L1)[None, :] < mcount[:, None]
    t = ((match1 != match2) & valid).sum(axis=1) // 2

    res = np.zeros(n, dtype=np.float64)
    nz = mcount > 0
    m = mcount[nz]
    res[nz] = (m / l1[nz] + m / l2[nz] + (m - t[nz]) / m) / 3.0
    return res


def jaro_winkler_np(
    sa: list[str], sb: list[str], prefix_weight: float = 0.1, boost_threshold: float = 0.7
) -> np.ndarray:
    """Vectorized ``jaro_winkler`` over aligned string lists (no Nones)."""
    n = len(sa)
    out = np.zeros(n, dtype=np.float64)
    if n == 0:
        return out
    l1 = np.fromiter((len(s) for s in sa), np.int64, n)
    l2 = np.fromiter((len(s) for s in sb), np.int64, n)
    eq = np.fromiter((x == y for x, y in zip(sa, sb)), bool, n)
    nonempty = (l1 > 0) & (l2 > 0)
    out[eq & nonempty] = 1.0  # scalar order: empty check precedes s1==s2
    active = nonempty & ~eq
    idx = np.nonzero(active)[0]
    if len(idx) == 0:
        return out
    sub_a = [sa[i] for i in idx]
    sub_b = [sb[i] for i in idx]
    j = _jaro_core(sub_a, sub_b)

    boost = j > boost_threshold
    if boost.any():
        bi = np.nonzero(boost)[0]
        pa = [sub_a[i][:4] for i in bi]
        pb = [sub_b[i][:4] for i in bi]
        ok = _latin1_ok(pa) and _latin1_ok(pb)
        p4a = _codes(pa, 4, ok).astype(np.uint32)
        p4b = _codes(pb, 4, ok).astype(np.uint32)
        k = np.arange(4)[None, :]
        minl = np.minimum(
            np.minimum(l1[idx[bi]], l2[idx[bi]]), 4
        )[:, None]
        same = (p4a == p4b) & (k < minl)
        prefix = np.cumprod(same, axis=1).sum(axis=1)
        jb = j[bi]
        j[bi] = jb + (prefix * prefix_weight) * (1.0 - jb)
    out[idx] = j
    return out


@pandas_udf(DoubleType())
def jaro_winkler_udf(
    batches: Iterator[tuple[pd.Series, pd.Series]],
) -> Iterator[pd.Series]:
    """Batched JW over Arrow record batches (SURVEY.md §2.8 kernel 3),
    re-chunked to ~4k pairs per kernel call (see ``rechunk``). A pair
    with a null side scores NaN."""
    for group in rechunk(batches, 4096):
        a = [x for a_ser, _ in group for x in a_ser.tolist()]
        b = [y for _, b_ser in group for y in b_ser.tolist()]
        res = np.full(len(a), np.nan, dtype=np.float64)
        nn = [i for i, (x, y) in enumerate(zip(a, b)) if x is not None and y is not None]
        if nn:
            res[nn] = jaro_winkler_np([a[i] for i in nn], [b[i] for i in nn])
        yield pd.Series(res)


def levenshtein_sim(a: Column, b: Column) -> Column:
    """1 - lev/max(len) — JVM-side, codegen'd; 1.0 for two empty strings."""
    ml = F.greatest(F.length(a), F.length(b))
    return F.when(ml == 0, F.lit(1.0)).otherwise(
        1.0 - F.levenshtein(a, b) / ml.cast("double")
    )
