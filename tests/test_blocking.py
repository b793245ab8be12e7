"""Blocking: key families, pair generation, hot-key skew guard."""

from __future__ import annotations

from pyspark.sql import functions as F

from mix_blink_spark.operators.blocking import candidate_pairs, cross_family_pairs, keyed_records


def _recs(spark, rows):
    return spark.createDataFrame(rows, "rid string, norm string")


def test_key_families_present(spark):
    k = keyed_records(_recs(spark, [("r1", "acme systems")]), "rid")
    keys = [r["key"] for r in k.collect()]
    assert any(x.startswith("tk:") for x in keys)
    assert any(x.startswith("st:") for x in keys)
    assert sum(x.startswith("mh") for x in keys) == 4


def test_record_keys_match_keyed_records(spark):
    """The driver-local key expression yields exactly ``keyed_records``'
    key set per record, so both engines block identically."""
    from mix_blink_spark.operators.blocking import band_key_kernel
    from mix_blink_spark.operators.localpairs import record_keys

    norms = ["acme systems", "acme", "global dynamics corp", "zürich straße", "a", "x y x", ""]
    recs = _recs(spark, [(f"r{i}", n) for i, n in enumerate(norms)])
    got: dict = {}
    for r in keyed_records(recs, "rid").collect():
        got.setdefault(r["rid"], set()).add(r["key"])
    band_keys = band_key_kernel()
    for i, n in enumerate(norms):
        want = record_keys(n, band_keys)
        assert len(want) == len(set(want))
        assert got[f"r{i}"] == set(want), n


def test_typo_pair_recovered_by_lsh(spark):
    """First-token typo breaks tk:/st: keys; minhash bands must recover."""
    recs = _recs(spark, [("r1", "globax dynamics"), ("r2", "global dynamics")])
    pairs = candidate_pairs(keyed_records(recs, "rid"), max_block_size=50).collect()
    assert {(p["a"], p["b"]) for p in pairs} == {("r1", "r2")}


def test_exact_and_token_blocking(spark):
    recs = _recs(
        spark,
        [("r1", "acme systems"), ("r2", "acme systems"), ("r3", "acme robotics"), ("r4", "zeta corp")],
    )
    pairs = {(p["a"], p["b"]) for p in candidate_pairs(keyed_records(recs, "rid")).collect()}
    assert ("r1", "r2") in pairs
    assert ("r1", "r3") in pairs  # shares tk:acme
    assert not any("r4" in p for p in pairs)


def test_hot_key_is_bounded(spark):
    """A block of 100 members with cap 20 must produce O(n*w), not O(n^2)."""
    n = 100
    recs = _recs(spark, [(f"r{i:03d}", f"global name{i:03d}") for i in range(n)])
    keyed = keyed_records(recs, "rid").filter(F.col("key") == "tk:global")
    pairs = candidate_pairs(keyed, max_block_size=20, neighborhood=5)
    cnt = pairs.count()
    assert cnt <= n * 5
    assert cnt > 0
    # neighbors-in-sorted-order: adjacent names must pair
    got = {(p["a"], p["b"]) for p in pairs.collect()}
    assert ("r000", "r001") in got


def test_cross_family_pairs_broadcast(spark):
    mentions = keyed_records(_recs(spark, [("m1", "acme systems"), ("m2", "other co")]), "rid")
    ents = keyed_records(_recs(spark, [("ENT::E1", "acme systems")]), "rid")
    pairs = cross_family_pairs(mentions, ents)
    got = {(p["a"], p["b"]) for p in pairs.collect()}
    assert got == {("m1", "ENT::E1")}
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "Broadcast" in plan


def test_cross_family_capped_equals_exact_on_small_blocks(spark):
    """Below the cap the guarded path must produce the exact join's pairs."""
    mentions = keyed_records(
        _recs(spark, [("m1", "acme systems"), ("m2", "zeta corp"), ("m3", "acme robotics")]),
        "rid",
    )
    ents = keyed_records(
        _recs(spark, [("ENT::E1", "acme systems"), ("ENT::E2", "zeta corp")]), "rid"
    )
    exact = {
        (p["a"], p["b"], p["norm_b"])
        for p in cross_family_pairs(mentions, ents).collect()
    }
    capped = {
        (p["a"], p["b"], p["norm_b"])
        for p in cross_family_pairs(mentions, ents, max_block_size=50).collect()
    }
    assert capped == exact


def test_cross_family_hot_key_is_bounded(spark):
    """The round-3 collapse shape: one hot first token shared by many
    surfaces AND many entity aliases. The guard must bound pair volume to
    O(size*w) while still pairing every surface with its exact-match alias
    (sort-adjacent)."""
    n = 80
    mentions = keyed_records(
        _recs(spark, [(f"m{i:03d}", f"global name{i:03d}") for i in range(n)]), "rid"
    )
    ents = keyed_records(
        _recs(spark, [(f"ENT::E{i:03d}", f"global name{i:03d}") for i in range(n)]), "rid"
    )
    w = 6
    pairs = cross_family_pairs(mentions, ents, max_block_size=20, neighborhood=w)
    rows = pairs.collect()
    # every surface keeps its exact-match alias despite the cap
    exact_hits = {(p["a"], p["b"]) for p in rows if p["norm_a"] == p["norm_b"]}
    assert exact_hits == {(f"m{i:03d}", f"ENT::E{i:03d}") for i in range(n)}
    # volume is neighborhood-bounded, not quadratic: every (key, surface)
    # contributes at most 2w candidates, and no key joins the full product
    from collections import Counter

    per_a_key = Counter()
    for p in rows:
        per_a_key[p["a"]] += 1
    assert max(per_a_key.values()) < 6 * 2 * w  # 6 key families x 2w
    assert len(rows) < n * 6 * 2 * w
    assert len(rows) < n * n  # and strictly below the exact product


def test_cross_family_dedup_false_and_shared_sizes_match(spark):
    """Round-5 perf path: dedup=False must emit a row SUPERSET whose
    dedup equals the default output, and a precomputed left_sizes
    histogram must not change the capped dispatch (identical pairs)."""
    from mix_blink_spark.operators.blocking import block_sizes_salted

    n = 40
    mentions = keyed_records(
        _recs(spark, [(f"m{i:03d}", f"global name{i:03d}") for i in range(n)]), "rid"
    )
    ents = keyed_records(
        _recs(spark, [(f"ENT::E{i:03d}", f"global name{i:03d}") for i in range(n)]), "rid"
    )
    for cap in (None, 15):
        ded = cross_family_pairs(mentions, ents, max_block_size=cap)
        raw = cross_family_pairs(mentions, ents, max_block_size=cap, dedup=False)
        key = lambda p: (p["a"], p["b"], p["norm_b"])
        ded_set, raw_set = ({key(p) for p in df.collect()} for df in (ded, raw))
        assert raw_set == ded_set  # same distinct candidates
        assert raw.count() >= ded.count()
    shared = cross_family_pairs(
        mentions, ents, max_block_size=15,
        left_sizes=block_sizes_salted(mentions),
    )
    plain = cross_family_pairs(mentions, ents, max_block_size=15)
    assert {(p["a"], p["b"], p["norm_b"]) for p in shared.collect()} == {
        (p["a"], p["b"], p["norm_b"]) for p in plain.collect()
    }
