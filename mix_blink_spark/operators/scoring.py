"""Pairwise scoring (SURVEY.md §2.5, north_star stage 2).

Dense measures reproduce the reference exactly
(mix_blink/retriever/dense.py:41-46, trainer.py:228-235):

  - ``ip``  — inner product (default, argparser.py:42), descending;
  - ``cos`` — L2-normalize both sides then inner product
    (dense.py:81-82,92-93), descending;
  - ``l2``  — **squared** Euclidean distance (FAISS IndexFlatL2 contract),
    ascending;
  - anything else raises ``NotImplementedError(f"{measure} is not
    supported")`` (dense.py:41-42; asserted by reference
    tests/test_retriever.py:44-56).

Lexical scores (Jaro-Winkler via Arrow pandas_udf, Levenshtein via the
JVM built-in) are combined with the dense score into ``score`` — the
single column thresholded/ranked downstream. Similarities are rounded to
4 decimals only in *prediction payloads* (predict.py:46), never before
ranking.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType
from pyspark.sql.functions import pandas_udf

from ..functions import rechunk
from ..functions.strsim import jaro_winkler_udf, levenshtein_sim

MEASURES = ("ip", "cos", "l2")


def check_measure(measure: str) -> None:
    if measure not in MEASURES:
        raise NotImplementedError(f"{measure} is not supported")


def score_ascending(measure: str) -> bool:
    """l2 ranks ascending (smaller distance = better); ip/cos descending."""
    check_measure(measure)
    return measure == "l2"


def _dense_np(a: np.ndarray, b: np.ndarray, measure: str) -> np.ndarray:
    if measure == "cos":
        a = a / np.maximum(np.linalg.norm(a, axis=1, keepdims=True), 1e-12)
        b = b / np.maximum(np.linalg.norm(b, axis=1, keepdims=True), 1e-12)
        return np.einsum("ij,ij->i", a, b)
    if measure == "ip":
        return np.einsum("ij,ij->i", a, b)
    if measure == "l2":  # squared L2, FAISS contract
        d = a - b
        return np.einsum("ij,ij->i", d, d)
    raise NotImplementedError(f"{measure} is not supported")


def lev_sim_np(lev: np.ndarray, max_len: np.ndarray) -> np.ndarray:
    """``levenshtein_sim`` from an edit distance: 1 - lev/max_len, 1.0
    when both strings are empty (``max_len`` = the longer length)."""
    return np.where(
        max_len == 0, 1.0, 1.0 - lev / np.maximum(max_len, 1).astype(np.float64)
    )


def pair_score_np(
    dense: np.ndarray, jw: np.ndarray, lev_sim: np.ndarray | float, measure: str,
    dense_weight: float,
) -> np.ndarray:
    """``score_pairs``'s combined score over numpy arrays, IEEE-identical
    to the column expression: float64 ``w·dense_sim + (1-w)·max(jw,
    lev_sim)``, with an ``l2`` distance entering as ``1/(1+d)``."""
    dense_sim = (1.0 / (1.0 + dense)) if measure == "l2" else dense
    return dense_weight * dense_sim + (1.0 - dense_weight) * np.maximum(jw, lev_sim)


def make_dense_score_udf(measure: str):
    """Row-aligned dense score over two ArrayType(Float) columns.
    Arrow-batched, re-chunked to ~4k pairs (see ``rechunk``); numpy
    einsum inside — no per-row Python."""
    check_measure(measure)

    @pandas_udf(DoubleType())
    def dense_score(batches: Iterator[tuple[pd.Series, pd.Series]]) -> Iterator[pd.Series]:
        for group in rechunk(batches, 4096):
            a = np.stack(pd.concat([a for a, _ in group], ignore_index=True).to_numpy())
            b = np.stack(pd.concat([b for _, b in group], ignore_index=True).to_numpy())
            yield pd.Series(_dense_np(a.astype(np.float64), b.astype(np.float64), measure))

    return dense_score


def make_broadcast_dense_udf(measure: str, bc_a, bc_b):
    """Dense pair score via BROADCAST embedding matrices (the north_star
    contract: "the candidate-entity embedding index distributed as a
    broadcast variable to every executor"). ``bc_a``/``bc_b`` are Spark
    broadcasts of ``({id: row}, float32 matrix)``; pair rows then carry
    only two id strings instead of two 64-float arrays — at 1M+ candidate
    pairs the arrays were ~0.5 KB/row of shuffle + Arrow traffic and the
    dominant scoring cost (round-4 profiling: ~134 us/pair on the
    join-the-vectors plan, ~10 us/pair on this one).

    Input batches are re-chunked to ~8k pairs (see ``rechunk``). The
    id→row dicts resolve once per worker task. Unknown ids raise
    (blocking emitted a pair for a record that was never encoded — a
    pipeline bug, never data)."""
    check_measure(measure)

    @pandas_udf(DoubleType())
    def bc_dense(batches: Iterator[tuple[pd.Series, pd.Series]]) -> Iterator[pd.Series]:
        ids_a, mat_a = bc_a.value
        ids_b, mat_b = bc_b.value
        for group in rechunk(batches, 8192):
            a_ser = pd.concat([a for a, _ in group], ignore_index=True)
            b_ser = pd.concat([b for _, b in group], ignore_index=True)
            ia = a_ser.map(ids_a).to_numpy(dtype=np.int64)
            ib = b_ser.map(ids_b).to_numpy(dtype=np.int64)
            yield pd.Series(
                _dense_np(mat_a[ia].astype(np.float64), mat_b[ib].astype(np.float64), measure)
            )

    return bc_dense


def score_pairs(
    pairs: DataFrame,
    measure: str = "cos",
    dense_weight: float = 0.5,
    emb_a: str = "emb_a",
    emb_b: str = "emb_b",
    norm_a: str = "norm_a",
    norm_b: str = "norm_b",
    dense_col: str | None = None,
) -> DataFrame:
    """Attach dense + lexical + combined scores to candidate pairs.

    ``score`` = dense_weight · dense_sim + (1-dense_weight) · max(jw, lev).
    For ``l2`` the dense part enters as a similarity via 1/(1+dist) so the
    combined score still ranks descending.

    ``dense_col``: name of an ALREADY-COMPUTED dense column (e.g. from
    ``make_broadcast_dense_udf``) — skips the row-aligned array UDF, so
    pairs never need embedding columns at all.
    """
    check_measure(measure)
    if dense_col is not None:
        out = pairs.withColumn("dense", F.col(dense_col)) if dense_col != "dense" else pairs
    else:
        dense_udf = make_dense_score_udf(measure)
        out = pairs.withColumn("dense", dense_udf(F.col(emb_a), F.col(emb_b)))
    dense_sim = (
        (1.0 / (1.0 + F.col("dense"))) if measure == "l2" else F.col("dense")
    )
    out = out.withColumn("jw", jaro_winkler_udf(F.col(norm_a), F.col(norm_b)))
    out = out.withColumn("lev", levenshtein_sim(F.col(norm_a), F.col(norm_b)))
    lex = F.greatest(F.col("jw"), F.col("lev"))
    return out.withColumn(
        "score", F.lit(dense_weight) * dense_sim + F.lit(1.0 - dense_weight) * lex
    )


def fused_me_top1(
    pairs: DataFrame,
    measure: str,
    dense_weight: float,
    tau_ent: float,
    bc_a=None,
    bc_b=None,
    drain_rows: int = 200_000,
) -> DataFrame:
    """Score surface→entity candidate pairs AND reduce to the top-1 entity
    per surface inside one Arrow stage — a map-side combine for what was a
    corpus-wide window (round-5 verdict item 3: the window shuffled every
    scored candidate row, ~1.2M at 8k entities, to rank them and keep one
    per surface).

    Input columns: ``a, b, norm_a, norm_b, lev`` (Levenshtein arrives
    precomputed from the JVM ``levenshtein_sim`` column — codegen beats a
    Python edit-distance). Each task scores its candidate partition with
    the broadcast embedding matrices (``bc_a``/``bc_b`` as in
    ``make_broadcast_dense_udf``; the b-side key is ``b + "\\x00" +
    norm_b``) plus the numpy Jaro-Winkler kernel, applies the ``tau_ent``
    threshold, and keeps ONE best row per surface seen in the partition.
    Only those per-partition winners — O(|surfaces|) rows, never
    O(|candidates|) — cross the final exchange, where the same order picks
    the global winner.

    ROW-EMBEDDING mode (``bc_a``/``bc_b`` = None): pairs instead carry
    ``emb_a``/``emb_b`` array columns (the join-the-vectors plan of the
    beyond-broadcast vocabulary regime, where the alias matrix exceeds
    the broadcast budget). Same kernels, same reduction, dense computed
    from the row arrays with the exact ``make_dense_score_udf``
    arithmetic (stack → float64 → ``_dense_np``). The reduction matters
    MOST here: at 10^8-10^9 distinct surfaces the scored-candidate
    exchange the window plan would shuffle is the largest intermediate
    in the pipeline.

    Correctness: the ranking order (score desc, b asc, norm_b asc) is
    TOTAL, so max over it is associative — per-partition argmax then
    global argmax equals the single global window, bit for bit (asserted
    against the driver-local mirror by the regime-parity e2e test). The
    tau filter commutes with argmax because score is the primary sort
    key: the global winner carries the max score, so it survives the
    filter iff any candidate does. Duplicate (a, b, norm_b) candidate
    rows (the generator runs dedup=False) score identically and collapse
    in the argmax.

    Score arithmetic is ``pair_score_np`` — IEEE-identical to
    ``score_pairs``' column expression.
    """
    check_measure(measure)
    import pyarrow as pa

    from ..functions.strsim import jaro_winkler_np
    from pyspark.sql.window import Window

    out_schema = (
        "a string, b string, norm_b string, dense double, jw double, "
        "lev double, score double"
    )
    out_pa = pa.schema(
        [
            ("a", pa.string()),
            ("b", pa.string()),
            ("norm_b", pa.string()),
            ("dense", pa.float64()),
            ("jw", pa.float64()),
            ("lev", pa.float64()),
            ("score", pa.float64()),
        ]
    )
    # mapInArrow, not mapInPandas: the session's Arrow batch cap is sized
    # for multi-KB html cells (128 rows), and per-batch pandas DataFrame
    # construction at that granularity cost MORE than the shuffle the
    # fusion removes (measured: ~9.3k tiny frames for 1.2M candidates).
    # RecordBatches concatenate zero-copy; ONE to_pandas per ~8k rows.
    row_emb = bc_a is None

    def part(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        if not row_emb:
            ids_a, mat_a = bc_a.value
            ids_b, mat_b = bc_b.value

        def top1(df: pd.DataFrame) -> pd.DataFrame:
            # numeric group-max first (hash groupby, C speed), THEN the
            # lexicographic (b, norm_b) tie-break on only the rows tied at
            # their group's max — a full multi-key string sort of every
            # scored row costs more than the shuffle the fusion removes
            gmax = df.groupby("a", sort=False)["score"].transform("max")
            df = df[df["score"] == gmax]
            df = df.sort_values(["a", "b", "norm_b"], kind="mergesort")
            return df.drop_duplicates("a", keep="first")

        def score_chunk(pdf: pd.DataFrame) -> pd.DataFrame:
            # local dedup before the kernels: the generator runs
            # dedup=False (a global dropDuplicates is a full shuffle),
            # so identical (a, b, norm_b) rows reach scoring — dropping
            # them HERE costs a hash pass, no shuffle, and cuts the JW
            # volume (the dominant kernel cost) by the duplicate fraction.
            # NEVER dedup/groupby on ``bkey``: pandas' string hashtable
            # (factorize / multi-key duplicated / groupby) hashes
            # C-strings and TRUNCATES at the embedded NUL, silently
            # collapsing distinct aliases ('boreali stechnologies' vs
            # 'borealis technologies' share every byte around the NUL).
            # The NUL-free (a, b, norm_b) triple is the same identity —
            # which makes NUL-free ids a CONTRACT, enforced here: `a`/`b`
            # are caller-provided opaque ids, and an id with an embedded
            # NUL would hit the same silent pandas key collapse (and, for
            # `b`, make the broadcast lookup key `b + NUL + norm_b`
            # ambiguous). The check is one C-speed scan per chunk,
            # negligible next to the JW kernel.
            for idc in ("a", "b"):
                # na=False: a null id can't contain a NUL, and without it
                # the NA result makes .any() dtype-dependent (object
                # dtype skipna's it, pandas StringDtype propagates NA)
                if pdf[idc].str.contains("\x00", regex=False, na=False).any():
                    raise ValueError(
                        f"fused_me_top1: column '{idc}' contains an id with "
                        "an embedded NUL byte; ids must be NUL-free — "
                        "pandas 2.2 string hashing (drop_duplicates/"
                        "factorize/groupby) truncates at NUL and would "
                        "silently collapse distinct ids"
                    )
            pdf = pdf.drop_duplicates(["a", "b", "norm_b"])
            if row_emb:
                dense = _dense_np(
                    np.stack(pdf["emb_a"].to_numpy()).astype(np.float64),
                    np.stack(pdf["emb_b"].to_numpy()).astype(np.float64),
                    measure,
                )
            else:
                ia = pdf["a"].map(ids_a).to_numpy(dtype=np.int64)
                ib = pdf["bkey"].map(ids_b).to_numpy(dtype=np.int64)
                dense = _dense_np(
                    mat_a[ia].astype(np.float64), mat_b[ib].astype(np.float64), measure
                )
            jw = jaro_winkler_np(pdf["norm_a"].tolist(), pdf["norm_b"].tolist())
            lev = pdf["lev"].to_numpy(dtype=np.float64)
            score = pair_score_np(dense, jw, lev, measure, float(dense_weight))
            out = pd.DataFrame(
                {
                    "a": pdf["a"].to_numpy(),
                    "b": pdf["b"].to_numpy(),
                    "norm_b": pdf["norm_b"].to_numpy(),
                    "dense": dense,
                    "jw": jw,
                    "lev": lev,
                    "score": score,
                }
            )
            return top1(out[out["score"] >= tau_ent])

        # per-chunk winners ACCUMULATE and reduce once at partition end
        # (plus a size-capped intermediate drain): merging the running
        # best-set on every chunk is O(chunks x |winners|) — measured
        # slower than the window shuffle this fusion removes. The drain
        # triggers on rows appended SINCE the last collapse (``pending``),
        # not the running total: a partition whose collapsed winner set
        # alone exceeds drain_rows (the 10^8-surface row-embedding regime)
        # must not re-merge the full set after every 8k-row chunk — that
        # is exactly the per-chunk merge measured slower (round-6 ADVICE).
        # Amortized cost stays O(|winners| / drain_rows) per new row.
        acc: list[pd.DataFrame] = []
        pending = 0

        def drain() -> None:
            nonlocal acc, pending
            if len(acc) > 1:
                acc = [top1(pd.concat(acc, ignore_index=True))]
            pending = 0

        for group in rechunk(batches, 8192):
            acc.append(score_chunk(pa.Table.from_batches(group).to_pandas()))
            pending += len(acc[-1])
            if pending >= drain_rows:
                drain()
        drain()
        if acc and len(acc[0]):
            yield pa.RecordBatch.from_pandas(
                acc[0].reset_index(drop=True), schema=out_pa, preserve_index=False
            )

    if row_emb:
        winners = pairs.select(
            "a", "b", "norm_a", "norm_b", "lev", "emb_a", "emb_b"
        ).mapInArrow(part, schema=out_schema)
    else:
        # the b-side lookup key (b + NUL + norm_b) is built JVM-side:
        # pandas string concat (both ``+`` and ``str.cat``) silently DROPS
        # embedded NUL bytes (pandas 2.2), which would miss every dict
        # entry — concat_ws preserves them through Arrow, as the
        # broadcast-dense UDF path always relied on
        winners = pairs.select(
            "a",
            "b",
            "norm_a",
            "norm_b",
            "lev",
            F.concat_ws("\x00", F.col("b"), F.col("norm_b")).alias("bkey"),
        ).mapInArrow(part, schema=out_schema)
    w = Window.partitionBy("a").orderBy(
        F.col("score").desc(), F.col("b"), F.col("norm_b")
    )
    return (
        winners.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("a", "b", "dense", "jw", "lev", "score")
    )
