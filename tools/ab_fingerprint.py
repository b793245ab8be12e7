"""Interleaved A/B: fingerprint's unordered max(pos) window vs a
pre-explode size() column (the _maxpos window is a second WindowExec pass
over every token row; size(tokens) is known before the explode).

Usage: python tools/ab_fingerprint.py [n_docs_multiplier] [reps] [docs_parquet] [scratch_dir]

``docs_parquet`` (default ``DOCS``, the sf0.1 documents table) needs
``doc_id`` and ``text`` columns; ``scratch_dir`` (default ``SCRATCH``) is
overwritten with the replicated input.
"""
from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window as W

from mix_blink_spark.session import get_spark

DOCS = "/root/testdata/sf0.1/documents.parquet"
SCRATCH = "/tmp/ab-fp-docs"


def fingerprint_nowin(docs: DataFrame, id_col="doc_id", text_col="text", w=5) -> DataFrame:
    # filter equivalence: `_maxpos < w-1` (doc shorter than w tokens) holds
    # exactly when lead(tok, w-1) is NULL at pos 0 — lead() is NULL only
    # past the partition end (split() never yields NULL tokens), so
    #   _last.isNotNull() | (pos==0 & _maxpos<w-1)
    #   == _last.isNotNull() | (pos==0 & _last.isNull())
    #   == _last.isNotNull() | pos==0
    # and the unordered max(pos) window disappears entirely.
    toks = docs.select(
        F.col(id_col).cast("string").alias("id"),
        F.posexplode(F.split(F.lower(F.col(text_col)), " ")).alias("pos", "tok"),
    )
    win = W.partitionBy("id").orderBy("pos")
    parts = [F.col("tok")] + [F.lead("tok", i).over(win) for i in range(1, w)]
    shingled = toks.select(
        "id",
        "pos",
        F.concat_ws(" ", *parts).alias("sh"),
        F.lead("tok", w - 1).over(win).alias("_last"),
    ).filter(F.col("_last").isNotNull() | (F.col("pos") == 0))
    return shingled.groupBy("id").agg(F.min(F.md5("sh")).alias("fingerprint"))


def main():
    mult = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    src = sys.argv[3] if len(sys.argv) > 3 else DOCS
    scratch = sys.argv[4] if len(sys.argv) > 4 else SCRATCH
    from mix_blink_spark.functions.textstats import fingerprint

    spark = get_spark(app_name="ab-fingerprint", master="local[32]", shuffle_partitions=64)
    base = spark.read.parquet(src)
    # scale by replication with distinct ids (measurement input only)
    big = (
        base.crossJoin(spark.range(mult).select(F.col("id").alias("_rep")))
        .select((F.col("doc_id") + F.col("_rep") * 1_000_000).alias("doc_id"), "text")
    )
    big.write.mode("overwrite").parquet(scratch)
    docs = spark.read.parquet(scratch)
    n = docs.count()
    print(f"docs: {n}")

    # correctness first: identical rows on the real sf0.1 table
    a = fingerprint(base, w=5).orderBy("id").collect()
    b = fingerprint_nowin(base, w=5).orderBy("id").collect()
    assert a == b, "variant results differ!"
    print(f"parity: identical on {src}")

    ts = {"old": [], "new": []}
    for r in range(reps):
        for name, fn in (("old", fingerprint), ("new", fingerprint_nowin)):
            spark.sparkContext.setJobDescription(f"ab-fp:{name}:{r}")
            t0 = time.monotonic()
            fn(docs, w=5).count()
            ts[name].append(round(time.monotonic() - t0, 3))
    print({k: (statistics.median(v), v) for k, v in ts.items()})


if __name__ == "__main__":
    main()
