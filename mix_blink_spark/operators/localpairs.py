"""Driver-local blocking + pair scoring for dimension-scale surface sets.

Same hybrid-physical-strategy rationale as ``operators.cc``'s union-find
path: the distributed pairs DAG is ~20 Spark stages (block histograms,
self-joins, windows, dedups, three scoring kernels, a top-1 window), and
on dimension-scale inputs (hundreds to tens of thousands of distinct
surfaces) every stage is pure scheduling + Python-worker round-trip
overhead — measured ~13 s of the 62 s local[4] bench leg at 625 surfaces,
a fixed cost that caps N→4N scaling efficiency. Below
``LinkConfig.driver_pairs_limit`` the SAME semantics run as plain
numpy/python on the driver in ~0.1 s; above it the distributed path
(which survives any vocabulary) takes over.

Semantics mirrored 1:1 from the distributed operators (gated by the
parity test in tests/test_pipeline_e2e.py, which compares both paths
pair-for-pair and bit-for-bit on scores):

  - keys: ``keyed_records``'s tk/st/minhash-band families
    (functions.text.blocking_key / sorted_token_key, the shared
    operators.blocking.band_key_kernel), array_union-deduped;
  - mm pairs: ``candidate_pairs`` — all pairs for blocks ≤ cap,
    sorted-neighborhood (order by norm, rid; ``w`` successors) above;
  - me pairs: ``cross_family_pairs`` — exact product for combined blocks
    ≤ cap, insertion-window over the norm-interleaved order above;
  - scores: the distributed kernels themselves (same float32 matrices
    through ``_dense_np``, ``jaro_winkler_np``, the shared
    ``lev_sim_np``/``pair_score_np`` arithmetic) plus a vectorized
    Levenshtein matching ``F.levenshtein``;
  - me top-1 per surface: (score desc, b, norm_b) tie-break, tau_ent
    threshold after ranking.
"""

from __future__ import annotations

from typing import Callable

import numpy as np

from ..functions.strsim import jaro_winkler_np
from .blocking import band_key_kernel
from .scoring import _dense_np, lev_sim_np, pair_score_np


def record_keys(norm: str, band_keys: Callable[[str], list[str]]) -> list[str]:
    """``keyed_records``'s key expression for one norm: distinct of
    [tk:<first token>, st:<sorted tokens>, mh<i>:<band sig>...].
    ``band_keys`` is a ``blocking.band_key_kernel()``, shared across one
    call's records so its shingle memo spans the vocabulary."""
    tk = "tk:" + norm.split(" ", 1)[0]
    st = "st:" + " ".join(sorted(norm.split(" ")))
    return list(dict.fromkeys([tk, st, *(band_keys(norm) if norm else [])]))


def levenshtein_np(sa: list[str], sb: list[str]) -> np.ndarray:
    """Vectorized Levenshtein distance (int), matching ``F.levenshtein``
    (plain edit distance over codepoints). Row-DP over character
    positions, vectorized across pairs.

    The DP costs max(len_a) x max(len_b) iterations for the WHOLE batch,
    so one long outlier norm forces every pair through its padded grid —
    round 8 buckets pairs by max length (sorted, chunked at power-of-two
    bounds) and runs the identical per-pair DP per bucket: exact same
    distances (each pair's DP is independent), ~3x less padded work at
    the bench vocabulary where this kernel was ~60% of the driver-local
    me-pair tail every leg pays."""
    n = len(sa)
    if n == 0:
        return np.zeros(0, dtype=np.int64)
    ml_all = np.fromiter((max(len(a), len(b)) for a, b in zip(sa, sb)), np.int64, n)
    if n > 512 and int(ml_all.max()) > 8:
        out = np.empty(n, dtype=np.int64)
        order = np.argsort(ml_all, kind="stable")
        bound = 8
        start = 0
        while start < n:
            end = start
            while end < n and ml_all[order[end]] <= bound:
                end += 1
            if end > start:
                idx = order[start:end]
                out[idx] = _levenshtein_np_flat(
                    [sa[i] for i in idx], [sb[i] for i in idx]
                )
                start = end
            bound *= 2
        return out
    return _levenshtein_np_flat(sa, sb)


def _levenshtein_np_flat(sa: list[str], sb: list[str]) -> np.ndarray:
    n = len(sa)
    if n == 0:
        return np.zeros(0, dtype=np.int64)
    l1 = np.fromiter((len(s) for s in sa), np.int64, n)
    l2 = np.fromiter((len(s) for s in sb), np.int64, n)
    L1, L2 = int(l1.max()), int(l2.max())
    out = np.where(l1 == 0, l2, l1)  # correct whenever the other side is 0
    if L1 == 0 or L2 == 0:
        return out
    A = np.zeros((n, L1), dtype=np.uint32)
    B = np.zeros((n, L2), dtype=np.uint32)
    for i, s in enumerate(sa):
        if s:
            A[i, : len(s)] = np.frombuffer(s.encode("utf-32-le"), dtype=np.uint32)
    for i, s in enumerate(sb):
        if s:
            B[i, : len(s)] = np.frombuffer(s.encode("utf-32-le"), dtype=np.uint32)
    prev = np.tile(np.arange(L2 + 1, dtype=np.int64), (n, 1))
    cur = np.empty_like(prev)
    for i in range(1, L1 + 1):
        cur[:, 0] = i
        ai = A[:, i - 1]
        for j in range(1, L2 + 1):
            cost = (ai != B[:, j - 1]).astype(np.int64)
            np.minimum(prev[:, j] + 1, cur[:, j - 1] + 1, out=cur[:, j])
            np.minimum(cur[:, j], prev[:, j - 1] + cost, out=cur[:, j])
        # record finished rows: DP cell (l1, l2) only depends on the
        # un-padded prefixes, so reading it at i == l1 is exact
        done = l1 == i
        if done.any():
            out[done] = cur[done, l2[done]]
        prev, cur = cur, prev
    return out


def _max_len(sa: list[str], sb: list[str]) -> np.ndarray:
    return np.fromiter((max(len(a), len(b)) for a, b in zip(sa, sb)), np.int64, len(sa))


def local_mm_pairs(
    surfs: list[tuple[str, str]],
    mat: np.ndarray,
    measure: str,
    dense_weight: float,
    max_block_size: int,
    neighborhood: int,
) -> list[tuple]:
    """``candidate_pairs`` + ``score_pairs`` on the driver.

    ``surfs``: [(rid, norm)] aligned with ``mat`` rows. Returns rows
    (a, b, dense, jw, lev, score) with a < b, deduped across keys."""
    by_key: dict[str, list[int]] = {}
    band_keys = band_key_kernel()
    for i, (_rid, norm) in enumerate(surfs):
        if not norm:
            continue
        for k in record_keys(norm, band_keys):
            by_key.setdefault(k, []).append(i)

    pair_idx: dict[tuple[str, str], tuple[int, int]] = {}
    for members in by_key.values():
        if len(members) <= 1:
            continue
        if len(members) <= max_block_size:
            for x in range(len(members)):
                for y in range(x + 1, len(members)):
                    i, j = members[x], members[y]
                    a, b = (i, j) if surfs[i][0] < surfs[j][0] else (j, i)
                    pair_idx.setdefault((surfs[a][0], surfs[b][0]), (a, b))
        else:
            ranked = sorted(members, key=lambda i: (surfs[i][1], surfs[i][0]))
            for x in range(len(ranked)):
                for y in range(x + 1, min(x + 1 + neighborhood, len(ranked))):
                    i, j = ranked[x], ranked[y]
                    a, b = (i, j) if surfs[i][0] < surfs[j][0] else (j, i)
                    pair_idx.setdefault((surfs[a][0], surfs[b][0]), (a, b))

    if not pair_idx:
        return []
    items = list(pair_idx.values())
    ia = np.fromiter((p[0] for p in items), np.int64, len(items))
    ib = np.fromiter((p[1] for p in items), np.int64, len(items))
    na = [surfs[i][1] for i in ia]
    nb = [surfs[i][1] for i in ib]
    dense = _dense_np(mat[ia].astype(np.float64), mat[ib].astype(np.float64), measure)
    jw = jaro_winkler_np(na, nb)
    lev_sim = lev_sim_np(levenshtein_np(na, nb), _max_len(na, nb))
    score = pair_score_np(dense, jw, lev_sim, measure, dense_weight)
    return [
        (surfs[ia[k]][0], surfs[ib[k]][0], float(dense[k]), float(jw[k]), float(lev_sim[k]), float(score[k]))
        for k in range(len(items))
    ]


def local_me_pairs(
    surfs: list[tuple[str, str]],
    s_mat: np.ndarray,
    aliases: list[tuple[str, str]],
    a_mat: np.ndarray,
    measure: str,
    dense_weight: float,
    tau_ent: float,
    max_block_size: int | None,
    neighborhood: int,
) -> list[tuple]:
    """``cross_family_pairs`` + scoring + top-1 anchor on the driver.

    ``aliases``: [(rid, norm)] aligned with ``a_mat`` rows. Returns rows
    (a, b, dense, jw, lev, score): each surface's best (score desc, b,
    norm_b) alias with score >= tau_ent."""
    left: dict[str, list[int]] = {}
    right: dict[str, list[int]] = {}
    band_keys = band_key_kernel()
    for i, (_rid, norm) in enumerate(surfs):
        for k in record_keys(norm, band_keys):
            left.setdefault(k, []).append(i)
    for i, (_rid, norm) in enumerate(aliases):
        for k in record_keys(norm, band_keys):
            right.setdefault(k, []).append(i)

    cand: dict[tuple[str, str, str], tuple[int, int]] = {}
    for key, lmem in left.items():
        rmem = right.get(key)
        if not rmem:
            continue
        if max_block_size is None or len(lmem) + len(rmem) <= max_block_size:
            for i in lmem:
                if not surfs[i][1]:
                    continue
                for j in rmem:
                    if aliases[j][1]:
                        cand.setdefault((surfs[i][0], aliases[j][0], aliases[j][1]), (i, j))
        else:
            # insertion-window: interleave by (norm, side DESC — 'R'
            # before 'L' at equal norm — rid); rpos = count of R rows
            # at-or-before; pair each L with the R rows whose rank is in
            # (rpos - w, rpos + w] — cross_family_pairs' big-key branch
            combo = [(surfs[i][1], 1, surfs[i][0], i) for i in lmem if surfs[i][1]] + [
                (aliases[j][1], 0, aliases[j][0], j) for j in rmem if aliases[j][1]
            ]
            combo.sort()
            rcount = 0
            rlist: list[tuple[int, int]] = []  # (rank among R rows, alias idx)
            lrows: list[tuple[int, int]] = []  # (rpos at the L row, surface idx)
            for _norm, side_l, _rid, idx in combo:
                if side_l == 0:
                    rcount += 1
                    rlist.append((rcount, idx))
                else:
                    lrows.append((rcount, idx))
            for rpos, i in lrows:
                for rp, j in rlist:
                    if rpos - neighborhood < rp <= rpos + neighborhood:
                        cand.setdefault((surfs[i][0], aliases[j][0], aliases[j][1]), (i, j))

    if not cand:
        return []
    items = list(cand.values())
    ia = np.fromiter((p[0] for p in items), np.int64, len(items))
    ib = np.fromiter((p[1] for p in items), np.int64, len(items))
    na = [surfs[i][1] for i in ia]
    nb = [aliases[i][1] for i in ib]
    # Only each surface's top-1 candidate survives, so the Levenshtein DP
    # (the dominant cost of this tail at bench vocabulary — ~60% of the
    # kernel) only needs to run where a pair could still win. Exact
    # bounds: lev >= |la-lb| gives the upper-bound score, and lev_sim >= 0
    # the lower bound. A pair whose ub-score is below its surface's best
    # lb-score is strictly worse than the true winner (winner's exact
    # score >= every lb), so dropping it cannot change the argmax or its
    # emitted values; ties at equality are kept (>=). Winners' rows come
    # from the same helpers as the unpruned path, so they are
    # bit-identical (parity-gated in tests/test_pipeline_e2e.py against
    # the distributed operators).
    dense = _dense_np(
        s_mat[ia].astype(np.float64), a_mat[ib].astype(np.float64), measure
    )
    jw = jaro_winkler_np(na, nb)
    ml = _max_len(na, nb)
    len_gap = np.abs(
        np.fromiter((len(x) - len(y) for x, y in zip(na, nb)), np.int64, len(na))
    )
    ub_score = pair_score_np(dense, jw, lev_sim_np(len_gap, ml), measure, dense_weight)
    lb_score = pair_score_np(dense, jw, 0.0, measure, dense_weight)
    best_lb = np.full(len(surfs), -np.inf)
    np.maximum.at(best_lb, ia, lb_score)
    keep = np.flatnonzero(ub_score >= best_lb[ia])
    lev_sim_k = lev_sim_np(
        levenshtein_np([na[i] for i in keep], [nb[i] for i in keep]), ml[keep]
    )
    score_k = pair_score_np(dense[keep], jw[keep], lev_sim_k, measure, dense_weight)

    best: dict[str, tuple] = {}
    for j, k in enumerate(keep):
        a = surfs[ia[k]][0]
        b = aliases[ib[k]][0]
        nb_k = aliases[ib[k]][1]
        # rank key mirrors Window.orderBy(score desc, b, norm_b)
        rank = (-score_k[j], b, nb_k)
        if a not in best or rank < best[a][0]:
            best[a] = (rank, (a, b, float(dense[k]), float(jw[k]), float(lev_sim_k[j]), float(score_k[j])))
    return [row for _rank, row in best.values() if row[5] >= tau_ent]
