"""Physical-plan hygiene: pushdown, pruning, broadcast, salting — the
properties that decide whether the same plan survives a 100x scale-up."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mix_blink_spark.operators.blocking import block_sizes_salted, keyed_records

SF = "/root/testdata/sf0.01"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_and_projection_pushed_to_scan(spark):
    df = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .filter(F.col("lang") == "en")
        .select("doc_id", "n_chars")
    )
    plan = _plan(df)
    assert "PushedFilters" in plan and "lang" in plan.split("PushedFilters")[1][:200]
    # column pruning: text (the wide column) must not be read
    readschema = plan.split("ReadSchema")[1][:300]
    assert "text" not in readschema


def test_dimension_join_broadcasts(spark):
    n = spark.read.parquet(f"{SF}/nation.parquet")
    r = spark.read.parquet(f"{SF}/region.parquet")
    j = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    assert "BroadcastHashJoin" in _plan(j)


def test_html_pruned_after_extraction(spark, corpus):
    """The binary html column must not flow past text extraction."""
    from mix_blink_spark.plans.pipeline import build_mentions

    pages = corpus["pages"]
    golds = corpus["mentions_gold"]
    spans = golds.select("url", "mention_id", "start", "end")
    m = build_mentions(pages, spans).select("mention_id", "norm")
    plan = _plan(m)
    # html appears only inside the extraction's own project, never in a
    # shuffle exchange (would ship GBs at scale)
    exchange_sections = [s for s in plan.split("Exchange") if s is not plan]
    for sec in exchange_sections:
        head = sec[:400]
        assert "html" not in head, "html column crossed a shuffle boundary"


def test_salted_block_sizes_match_plain(spark):
    recs = spark.createDataFrame(
        [(f"r{i}", "hot" if i % 2 else f"cold{i}") for i in range(200)],
        "rid string, norm string",
    )
    keyed = keyed_records(recs, "rid")
    plain = {r["key"]: r["n"] for r in keyed.groupBy("key").agg(F.count("*").alias("n")).collect()}
    salted = {r["key"]: r["block_n"] for r in block_sizes_salted(keyed, buckets=8).collect()}
    assert salted == plain


def test_partition_pruning_on_pages_layout(spark, corpus, tmp_path):
    """write_pages lays out (lang, warc_day); a lang filter must prune
    directories (PartitionFilters), not scan them."""
    from mix_blink_spark.sources.pages import write_pages

    path = str(tmp_path / "pages")
    write_pages(corpus["pages"], path)
    df = spark.read.parquet(path).filter(F.col("lang") == "ja").select("url")
    plan = _plan(df)
    assert "PartitionFilters" in plan
    assert "lang" in plan.split("PartitionFilters")[1][:200]
    assert df.count() > 0


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Two tables bucketed on the join key must sort-merge join without a
    shuffle (the co-located join pattern for repeated big-big joins)."""
    from mix_blink_spark.sources.bucketing import colocated_join, write_bucketed

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        docs = spark.read.parquet(f"{SF}/documents.parquet")
        write_bucketed(docs.select("doc_id", "lang"), "b_left", ["doc_id"], 8)
        write_bucketed(docs.select("doc_id", "n_chars"), "b_right", ["doc_id"], 8)
        j = colocated_join(spark, "b_left", "b_right", ["doc_id"])
        plan = _plan(j)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
        assert j.count() == docs.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS b_left")
        spark.sql("DROP TABLE IF EXISTS b_right")


def test_mentions_join_from_bucketed_tables_has_no_exchange(spark, corpus, tmp_path):
    """The pipeline's pages⋈spans join over bucketed-on-url tables — the
    disk-co-located layout a 100 TB deployment uses (Iceberg bucket(url);
    parquet bucketBy here).

    Two measured facts, both asserted: (a) with text materialized at
    ingest (the warehouse layout) the join is FULLY exchange-free;
    (b) with in-flight extraction, Spark's ArrowEvalPython node does not
    propagate the bucket distribution, so the pages side re-shuffles but
    the spans side still reads co-located — bucketing always removes at
    least the spans-side Exchange."""
    from mix_blink_spark.sources.bucketing import write_bucketed
    from mix_blink_spark.sources.pages import mentions_from_spans, with_extracted_text

    pages = corpus["pages"]
    spans = corpus["mentions_gold"].select("url", "mention_id", "start", "end")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        import shutil

        for t in ("b_pages", "b_spans"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
            # orphaned managed-table dirs (killed earlier run) block CREATE
            shutil.rmtree(f"/tmp/mbs-warehouse/{t}", ignore_errors=True)
        write_bucketed(pages, "b_pages", ["url"], 8)
        write_bucketed(spans, "b_spans", ["url"], 8)

        # (a) text stored at ingest: zero Exchange anywhere
        m = mentions_from_spans(
            spark.table("b_pages").select("url", "text", "lang"), spark.table("b_spans")
        )
        plan = _plan(m)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
        assert m.count() == spans.count()

        # (b) extract-on-read: exactly one Exchange (the UDF side), never two
        bp = with_extracted_text(spark.table("b_pages")).select(
            "url", F.col("extracted_text").alias("text"), "lang"
        )
        m2 = mentions_from_spans(bp, spark.table("b_spans"))
        plan2 = _plan(m2)
        assert plan2.count("Exchange hashpartitioning") == 1
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS b_pages")
        spark.sql("DROP TABLE IF EXISTS b_spans")


def test_aqe_splits_skewed_join(spark):
    """A pathological hot blocking key must be split by AQE's skew-join
    handler: the finalized adaptive plan marks the sort-merge join
    skew=true and the hot partition is processed as multiple splits
    instead of one straggler reducer (north_rule: 'AQE skew-join
    splitting'). Thresholds are scaled down to fixture size."""
    conf_keys = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "20k",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "10k",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.shuffle.partitions": "8",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    old = {k: spark.conf.get(k, None) for k in conf_keys}
    try:
        for k, v in conf_keys.items():
            spark.conf.set(k, v)
        # 60k rows on ONE key vs uniform keys; incompressible payload so
        # the hot shuffle partition exceeds the (scaled-down) threshold
        left = spark.range(60_000).select(
            F.when(F.col("id") < 59_000, F.lit(0)).otherwise(F.col("id") % 50).alias("k"),
            F.md5(F.col("id").cast("string")).alias("pl"),
        )
        right = spark.range(50).select(F.col("id").alias("k"), F.lit("dim").alias("d"))
        j = left.join(right, "k")
        # execute THIS QueryExecution (count() would plan a separate one)
        assert len(j.collect()) == 60_000
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "SortMergeJoin(skew=true)" in plan, plan[:2000]
        assert "AQEShuffleRead skewed" in plan
    finally:
        for k, v in old.items():
            if v is not None:
                spark.conf.set(k, v)


def test_whole_stage_codegen_on_jvm_path(spark):
    """Normalization/blocking keys are pure column expressions — they must
    sit inside a WholeStageCodegen span, not a Python runner."""
    from mix_blink_spark.functions.text import blocking_key, normalize_surface

    df = spark.read.parquet(f"{SF}/documents.parquet").select(
        blocking_key(normalize_surface(F.col("text"))).alias("k")
    )
    plan = _plan(df)
    assert "*(1)" in plan  # WholeStageCodegen span marker
    assert "PythonUDF" not in plan and "BatchEvalPython" not in plan
