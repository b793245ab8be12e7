"""The flagship end-to-end linkage pipeline (north_star stages 1-3).

    pages ──extract_text──► mentions(spans) ──keys──►┐
                                                     ├─ block join ─► pairs ─► score ─► edges ─► CC ─► clusters
    entities ──NIL+surfaces──keys──► (broadcast) ────┘

Graph construction (surface-form factored — the 100 TB-critical design):
  - every mention first collapses to its **normalized-surface node**
    ``NORM::md5(norm)`` via a linear edge. Pairwise work then runs over
    *distinct surfaces*, never over mentions: a popular entity mentioned a
    million times contributes ONE node to the quadratic stage instead of a
    10^12-edge clique. Cluster membership flows back through the
    mention→surface edges during connected components.
  - **surface↔surface** edges: combined score ≥ ``tau_mm`` within blocks;
  - **surface→entity anchor** edges: top-1 entity with score ≥
    ``tau_ent``. Entity nodes are namespaced ``ENT::<id>``; only the
    top-1 edge is kept per surface, so no surface can transitively merge
    two dictionary entities (the reference links each mention to exactly
    one best entity the same way, prediction/predict.py:40-52).

Anchors give the cluster step the dictionary's alias knowledge (the
"Facebook"→Meta analog in the reference toy data, dataset_toy.jsonl:3):
two mentions with lexically unrelated aliases of the same entity meet at
the anchor. Pure-NIL duplicate mentions meet through mention↔mention
edges instead.

Scale notes (100 TB):
  - the only wide rows (``html``) die immediately after text extraction
    (column pruning — verified in tests via the explained plan);
  - entity surfaces are dimension-sized → broadcast join, no fact shuffle;
  - mention↔mention pairs shuffle on block_key with the size cap /
    sorted-neighborhood skew guard (operators/blocking.py);
  - CC runs on the (much smaller) above-threshold edge set with
    checkpointed iterations.
"""

from __future__ import annotations

import os as _os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.embed import encode
from ..functions.text import normalize_surface
from ..operators.blocking import (
    block_sizes_salted,
    candidate_pairs,
    cross_family_pairs,
    keyed_records,
)
from ..operators.cc import connected_components
from ..operators.scoring import (
    check_measure,
    fused_me_top1,
    make_broadcast_dense_udf,
    score_pairs,
)
from ..sources.dictionary import explode_surfaces, with_nil
from ..sources.pages import mentions_from_spans, with_extracted_text
from .resume import StageStore

ENT_PREFIX = "ENT::"
NORM_PREFIX = "NORM::"


@dataclass
class LinkConfig:
    measure: str = "cos"
    dense_weight: float = 0.5
    tau_mm: float = 0.82       # mention<->mention edge threshold
    tau_ent: float = 0.80      # mention->entity anchor threshold
    max_block_size: int = 200
    neighborhood: int = 8
    # JVM codegen extraction fast path (functions/text.extract_text_jvm):
    # byte-equal for standard-escaped corpora, ~no Python in the per-page
    # stage. Default False = full-fidelity Python kernel.
    jvm_extract: bool = False
    # encoder pandas_udf (Column -> Column) — the E1/E2 production seam:
    # None = the trigram `encode`; pass make_encoder_udf(hf_encode_batch(..))
    # or make_encoder_udf(mini_transformer_batch(..)) to swap encoders
    # without touching the plan (functions/embed.py)
    encoder: object | None = None
    # broadcast the span table into the pages join so the heavy text
    # column never shuffles (sources/pages.mentions_from_spans) — right
    # whenever the span set fits a broadcast; the profiled 40%-sys
    # shuffle of round 3 was exactly this join's exchange
    broadcast_spans: bool = False
    # high-vocabulary guard for the surface→entity candidate join: keys
    # whose combined membership exceeds me_max_block_size switch to
    # sorted-neighborhood pairing (operators/blocking.cross_family_pairs).
    # None (default) = exact join on every key: every candidate a key can
    # produce is scored, so default recall never depends on sort
    # adjacency. The guard is OPT-IN because it is recall-affecting: a
    # true match inside a hot key that is not within ``neighborhood`` of
    # its surface's insertion point is dropped. Set it (200 is the bench
    # value) at Common-Crawl vocabulary scale, where one hot key carried
    # 2.6k surfaces x 2k aliases = 5M scored pairs (round-3 finding).
    me_max_block_size: int | None = None
    # up to this many distinct surfaces, pair scoring reads embeddings
    # from BROADCAST matrices (north_star: the embedding index as a
    # broadcast variable) and pair rows carry only ids — ~0.5 KB/row less
    # shuffle+Arrow traffic. Above it, the join-the-vectors plan (scales
    # to any vocabulary) takes over. 500k rows x 64 float32 = 128 MB.
    broadcast_dense_limit: int = 500_000
    # S8 integration: directory of an EntityIndexStore holding the
    # pre-encoded alias index (ord, id, norm, emb). When set, link() LOADS
    # the committed version instead of re-encoding the dictionary — the
    # build-once/reuse contract of the reference's serialized retriever
    # (reference retriever/dense.py:124-151) applied to the pipeline's
    # alias side, which is the expensive encode with a real transformer
    # behind the seam. A store with no committed version is populated on
    # first run (dimension-scale path). Like StageStore, one store dir
    # binds to one (dictionary, encoder) configuration.
    alias_store: str | None = None
    # up to this many (surfaces + aliases), blocking + pair scoring run
    # DRIVER-LOCAL (operators.localpairs — same semantics, parity-gated):
    # the distributed pairs DAG is ~20 Spark stages of pure scheduling
    # overhead at dimension scale (~13 s of a 62 s bench leg at 625
    # surfaces — the fixed cost that capped N->4N efficiency). The local
    # path is SINGLE-threaded, so the crossover is low: measured ~0.3 s
    # at 1.6k rows (bench dictionary) but 133 s at 42k rows, where the
    # 8-core distributed path needs ~22 s. 0 disables.
    driver_pairs_limit: int = 4_000

    def __post_init__(self) -> None:
        check_measure(self.measure)


def _with_emb(df: DataFrame, text_col: str = "norm", enc=None) -> DataFrame:
    return df.withColumn("emb", (enc or encode)(F.col(text_col)))


def _attach_embs(pairs: DataFrame, embs_a: DataFrame, embs_b: DataFrame) -> DataFrame:
    ea = embs_a.select(F.col("rid").alias("a"), F.col("emb").alias("emb_a"))
    eb = embs_b.select(F.col("rid").alias("b"), F.col("emb").alias("emb_b"))
    return pairs.join(ea, "a").join(eb, "b")


def build_mentions(
    pages: DataFrame | str,
    spans: DataFrame,
    from_html: bool = True,
    jvm_extract: bool = False,
    broadcast_spans: bool = False,
) -> DataFrame:
    """Extract text from ``html`` (the byte-stable kernel — the pipeline's
    own text, never trusting a pre-extracted column) and slice mention
    surfaces. ``html`` is pruned immediately after extraction.

    ``pages`` may be a parquet PATH instead of a DataFrame: the scan then
    uses the python-direct row-group reader
    (``sources.pages.read_pages_extracted_python`` — mmap parquet decode +
    extraction inside the Python worker, html never crossing the
    JVM↔Python socket), the fastest measured plan at every parallelism
    level on parquet-backed pages (round 5: ~2.2× the standard scan
    single-core). Byte-identical text output (parity-gated); the
    DataFrame form remains the plan for non-parquet sources (Iceberg,
    streams, in-memory tests)."""
    if isinstance(pages, str):
        if jvm_extract:
            raise ValueError(
                "jvm_extract=True is the JVM DataFrame plan; a parquet-path "
                "pages input selects the python-direct reader — pass a "
                "DataFrame instead"
            )
        if not from_html:
            raise ValueError(
                "from_html=False (pre-extracted text) has no python-direct "
                "plan; pass the pages DataFrame instead of a parquet path"
            )
        from ..sources.pages import read_pages_extracted_python

        pages = read_pages_extracted_python(
            spans.sparkSession, pages, columns=("url", "lang")
        )
        return mentions_from_spans(pages, spans, broadcast_spans=broadcast_spans)
    if from_html and "html" in pages.columns:
        if jvm_extract:
            from ..functions.text import extract_text_jvm

            pages = pages.select(
                "url", extract_text_jvm(F.col("html")).alias("text"), "lang"
            )
        else:
            pages = (
                with_extracted_text(pages)
                .select("url", F.col("extracted_text").alias("text"), "lang")
            )
    return mentions_from_spans(pages, spans, broadcast_spans=broadcast_spans)


def link(
    spark: SparkSession,
    pages: DataFrame | str,
    spans: DataFrame,
    entities: DataFrame,
    cfg: LinkConfig | None = None,
    store: StageStore | None = None,
    verbose: bool = False,
    timings: dict | None = None,
) -> dict[str, DataFrame]:
    """Run the full pipeline. With a ``store``, every stage is resumable.

    ``pages`` may be a parquet path (string) — the scan then uses the
    python-direct row-group reader, the fastest measured plan on
    parquet-backed pages at every parallelism level (see
    ``build_mentions``). Pass a DataFrame for every other source.

    Returns dict with: mentions, pairs_mm, pairs_me, edges, clusters.
    cluster ids: min member id (entity anchors sort first via ENT:: prefix
    only by accident of lexicographics — ids are opaque).

    ``timings``: optional dict that receives per-stage/per-mark elapsed
    seconds (the same numbers verbose mode prints) — bench legs record
    these into the artifact so a slow run is attributable to a stage.
    """
    cfg = cfg or LinkConfig()

    import time as _time

    def stage(name: str, fn):
        t0 = _time.monotonic()
        out = store.run(name, fn) if store is not None else fn()
        dt = _time.monotonic() - t0
        if timings is not None:
            timings[name] = round(dt, 3)
        if verbose:
            print(f"[link] stage {name}: {dt:.2f}s")
        return out

    def mark(name: str, t0: float) -> None:
        dt = _time.monotonic() - t0
        if timings is not None:
            # stable key: drop the per-run "(n=..., p=...)" detail suffix
            timings[name.split(" (")[0]] = round(dt, 3)
        if verbose:
            print(f"[link] {name}: {dt:.2f}s")

    mentions = stage(
        "mentions",
        lambda: build_mentions(
            pages,
            spans,
            jvm_extract=cfg.jvm_extract,
            broadcast_spans=cfg.broadcast_spans,
        ),
    )
    # Only (mention_id, norm) is consumed inside the pipeline (surfaces
    # are distinct norms; the cluster projection joins on norm keyed by
    # mention_id), so that NARROW projection is what gets cached — the
    # full mention rows carry surface/context/url (~350 B/row vs ~30 B),
    # and caching them charged every leg a corpus-sized serialize +
    # re-scan for columns nothing downstream reads (optimization guide
    # §2.3: project before you materialize). The returned ``mentions``
    # frame keeps the full schema; callers that materialize it recompute
    # the (lazy) extraction — no in-pipeline consumer does.
    m_narrow = mentions.select("mention_id", "norm")
    if store is None:
        m_narrow = m_narrow.persist()

    # dimension side: dictionary surfaces (with NIL dropped from surfaces)
    ent_surfaces = (
        explode_surfaces(with_nil(entities))
        .withColumn("norm", normalize_surface(F.col("surface")))
        .withColumn("rid", F.concat(F.lit(ENT_PREFIX), F.col("id")))
        .select("rid", "id", "surface", "norm")
    )

    # surface-form factoring: all quadratic work happens on DISTINCT norms
    def make_surfaces():
        return (
            m_narrow.select("norm")
            .filter(F.length("norm") > 0)
            .distinct()
            .withColumn("rid", F.concat(F.lit(NORM_PREFIX), F.md5("norm")))
        )

    # eager-materialize the heavy shared subtree once (persist alone is
    # lazy); downstream dimension-scale frames read this cache
    _t0 = _time.monotonic()
    surfaces0 = stage("surfaces", make_surfaces).persist()
    # single materialization of the heavy upstream (scan+extract+join):
    # count AFTER persist, then the coalesce below reads from cache
    n_surf = surfaces0.count()
    # dimension-scale data runs on few partitions: each Python-UDF task has
    # a fixed Arrow/worker cost, so 625 surfaces across 32 partitions is
    # ~10x slower than across 1 (measured); fact-scale stages keep full
    # parallelism. No second persist/count: re-reading the surfaces0 cache
    # through a coalesce is cheaper than another action per run.
    p_surf = max(1, min(spark.sparkContext.defaultParallelism, n_surf // 2000 + 1))
    surfaces = surfaces0.coalesce(p_surf)
    mark(f"surfaces materialize (n={n_surf}, p={p_surf})", _t0)

    # S8: a COMMITTED alias store is the single source of truth for the
    # dictionary side in EVERY regime — blocking, dense lookup, and the
    # join path all derive from the same store rows ("store wins", the
    # contract test_link_alias_store_reuse documents). Round-4 ADVICE:
    # deriving blocking from the `entities` argument while the dense
    # matrix came from the store made divergent dictionaries crash (bc
    # id-map NaN) or silently skip store-only aliases depending on
    # corpus size. A store with no committed version is ignored here and
    # populated below on first run (dimension-scale path).
    ai_store = None
    store_idx = None
    if cfg.alias_store is not None:
        from .index_store import EntityIndexStore

        ai_store = EntityIndexStore(spark, cfg.alias_store)
        idx = ai_store.index_df()
        if idx is not None and "norm" in idx.columns:
            store_idx = idx
    alias_records = (
        store_idx.select(F.col("id").alias("rid"), "norm")
        if store_idx is not None
        else ent_surfaces.select("rid", "norm").distinct()
    )

    _t0 = _time.monotonic()
    s_keyed = keyed_records(surfaces, "rid").persist()
    e_keyed = keyed_records(alias_records, "rid")
    # surface-side block-size histogram, computed ONCE and shared by both
    # pair generators (candidate_pairs sizes its own blocks with it;
    # cross_family_pairs adds the dimension side's tiny per-key counts) —
    # one salted aggregation pass over s_keyed instead of two
    s_sizes = block_sizes_salted(s_keyed).persist()

    # s_keyed fills its cache lazily inside the first pairs job — cheap
    # column exprs + one tiny minhash UDF task, not worth a dedicated
    # action per run. The encoder kernel (one eager action) runs as a
    # Spark job either way; at dimension scale its RESULT is collected
    # into broadcast matrices so candidate pairs carry only ids — the
    # north_star's "embedding index as a broadcast variable". Above the
    # limit (vocabularies past driver memory) the vectors stay distributed
    # and join onto pairs instead.
    s_embs = _with_emb(surfaces.select("rid", "norm"), enc=cfg.encoder).persist()
    # resumable runs with BOTH pair stages already committed skip every
    # eager scoring prerequisite below (surface toPandas, alias encode or
    # store load, broadcasts, store commit): the mm_pairs/me_pairs
    # closures are never invoked, so building their inputs at plan-build
    # time was pure waste on resume (round-4 ADVICE).
    pairs_cached = (
        store is not None and store.is_done("pairs_mm") and store.is_done("pairs_me")
    )
    use_bc = not pairs_cached and n_surf <= cfg.broadcast_dense_limit
    bc_s = None
    s_rows: list | None = None
    s_mat = None
    apdf = None
    if use_bc:
        import numpy as np

        # alias dimension table: the committed store's rows when loaded
        # (S8 reuse — no re-encode; the SAME rows e_keyed blocks on), else
        # alias_records encoded as a Spark job (partitioned by the n_surf
        # proxy — avoids a dedicated count job) and committed to the store
        # if one was given. Collected once for both the broadcast-dense
        # and local paths. Without a store, surfaces and aliases encode +
        # collect in ONE side-tagged Spark job instead of two: at
        # dimension scale each toPandas round trip is mostly fixed job
        # overhead, and that fixed cost is what caps the N→4N ratio
        # (round 5 — both legs pay it equally).
        if store_idx is not None:
            spdf = s_embs.select("rid", "norm", "emb").toPandas()
            apdf = (
                store_idx.orderBy("ord")
                .select(F.col("id").alias("rid"), "norm", "emb")
                .toPandas()
            )
        else:
            p_ent = max(1, min(spark.sparkContext.defaultParallelism, n_surf // 2000 + 1))
            both = (
                surfaces.select("rid", "norm")
                .withColumn("side", F.lit(0))
                .unionByName(
                    alias_records.coalesce(p_ent).withColumn("side", F.lit(1))
                )
                # the union carries p_surf + p_ent partitions; at dimension
                # scale that's 2 sequential ~0.5s-fixed-cost UDF tasks for
                # ~1k tiny rows — collapse to the intended parallelism
                .coalesce(p_ent)
            )
            if cfg.encoder is None:
                # default trigram encoder: its batch kernel
                # (functions.embed.encode_matrix) is importable driver-side,
                # so at dimension scale the rows come back in ONE collect
                # job with NO Arrow-UDF stage and the encode runs here —
                # bit-identical float32 rows (same kernel, same None→""
                # fold as the pandas_udf wrapper), one fewer Python-worker
                # round trip in the fixed tail every leg pays (round 8;
                # the N→4N gate is capped by exactly this fixed cost). A
                # custom cfg.encoder keeps the UDF job: its batch_fn may
                # need worker-side state (HF weights) by design.
                from ..functions.embed import encode_matrix

                bpdf = both.select("side", "rid", "norm").toPandas()
                _bmat = encode_matrix(
                    [s if s is not None else "" for s in bpdf["norm"]]
                )
                bpdf["emb"] = list(_bmat)
            else:
                bpdf = (
                    _with_emb(both, enc=cfg.encoder)
                    .select("side", "rid", "norm", "emb")
                    .toPandas()
                )
            spdf = bpdf[bpdf["side"] == 0].reset_index(drop=True)
            apdf = bpdf[bpdf["side"] == 1].reset_index(drop=True)
        s_ids = {r: i for i, r in enumerate(spdf["rid"])}
        s_rows = list(zip(spdf["rid"], spdf["norm"]))
        s_mat = (
            np.stack(spdf["emb"].to_numpy()).astype(np.float32)
            if len(spdf)
            else np.zeros((0, 1), np.float32)
        )
        bc_s = spark.sparkContext.broadcast((s_ids, s_mat))
        a_rows = list(zip(apdf["rid"], apdf["norm"]))
        a_mat = (
            np.stack(apdf["emb"].to_numpy()).astype(np.float32)
            if len(apdf)
            else np.zeros((0, 1), np.float32)
        )
        if ai_store is not None and ai_store.version() is None:
            index_df = spark.createDataFrame(
                [
                    (i, a_rows[i][0], a_rows[i][1], [float(x) for x in a_mat[i]])
                    for i in range(len(a_rows))
                ],
                "ord int, id string, norm string, emb array<float>",
            )
            ai_store.commit(
                index_df,
                {
                    "encoder": "link-alias",
                    "dim": int(a_mat.shape[1]),
                    "n_rows": len(a_rows),
                    "measure": cfg.measure,
                },
            )
    elif not pairs_cached:
        s_embs.count()
    use_local = (
        cfg.driver_pairs_limit > 0
        and use_bc
        and apdf is not None
        and n_surf + len(apdf) <= cfg.driver_pairs_limit
    )
    mark(f"keys+embs materialize (local_pairs={use_local})", _t0)
    _PAIRS_SCHEMA = "a string, b string, dense double, jw double, lev double, score double"
    # pair rows computed driver-side (use_local regime) are stashed here so
    # the edges/CC steps below can reuse them without a Spark round trip
    _local: dict[str, list] = {}
    # intermediate caches opened by blocking operators (diamond-plan
    # persists); unpersisted with the pipeline's own caches below
    _op_caches: list = []

    def mm_pairs():
        if use_local:
            from ..operators.localpairs import local_mm_pairs

            rows = local_mm_pairs(
                s_rows, s_mat, cfg.measure, cfg.dense_weight,
                cfg.max_block_size, cfg.neighborhood,
            )
            _local["mm"] = rows
            return spark.createDataFrame(rows, _PAIRS_SCHEMA)
        p = candidate_pairs(
            s_keyed, cfg.max_block_size, cfg.neighborhood, sizes=s_sizes,
            caches=_op_caches,
        )
        if _os.environ.get("SPARK_GRAFT_PROFILE_PAIRGEN") == "1":
            # profiling only (off by default): materialize the candidate
            # rows BEFORE scoring so the stage log splits generation from
            # scoring — the count re-executes the (diamond-cached)
            # generation subtree, so never enable outside a profile run
            _tg = _time.monotonic()
            mark(f"pairs_mm generation only (n={p.count()})", _tg)
        if use_bc:
            dense_udf = make_broadcast_dense_udf(cfg.measure, bc_s, bc_s)
            p = p.withColumn("dense", dense_udf(F.col("a"), F.col("b")))
            scored = score_pairs(p, cfg.measure, cfg.dense_weight, dense_col="dense")
        else:
            p = _attach_embs(p, s_embs, s_embs)
            scored = score_pairs(p, cfg.measure, cfg.dense_weight)
        return scored.select("a", "b", "dense", "jw", "lev", "score")

    def me_pairs():
        # entity aliases scored independently (entity rid alone is not
        # unique — one entity can carry several alias norms). Aliases are
        # pre-encoded ONCE as a dimension table (encoding on the pair rows
        # would run the encoder UDF once per (surface, alias) pair — a
        # fan-out multiplier that melts with a real transformer behind the
        # seam), then either collected into a broadcast matrix keyed by
        # (rid, norm) or broadcast-joined onto the pairs.
        if use_local:
            from ..operators.localpairs import local_me_pairs

            rows = local_me_pairs(
                s_rows, s_mat, a_rows, a_mat, cfg.measure, cfg.dense_weight,
                cfg.tau_ent, cfg.me_max_block_size, cfg.neighborhood,
            )
            _local["me"] = rows
            return spark.createDataFrame(rows, _PAIRS_SCHEMA)
        # dedup=False: fused_me_top1's per-surface argmax already collapses
        # duplicate (a, b, norm_b) candidates (identical rows score
        # identically, so the top-1 output is invariant) — skipping the
        # dropDuplicates saves a full shuffle of the largest intermediate
        # in the pipeline (0.6-4M rows at 8k entities, round-4 profile)
        p = cross_family_pairs(
            s_keyed,
            e_keyed,
            max_block_size=cfg.me_max_block_size,
            neighborhood=cfg.neighborhood,
            dedup=False,
            left_sizes=s_sizes,
            caches=_op_caches,
        )
        if _os.environ.get("SPARK_GRAFT_PROFILE_PAIRGEN") == "1":
            # same generation/scoring split for the me leg (see pairs_mm)
            _tg = _time.monotonic()
            mark(f"pairs_me generation only (n={p.count()})", _tg)
        # fused score + top-1-per-surface (round-5 verdict item 3):
        # Levenshtein stays a JVM codegen column; dense + JW + the
        # per-partition argmax run in ONE Arrow stage, so only each
        # partition's per-surface winners — not every scored candidate —
        # reach the final ranking exchange. Dense vectors come from the
        # broadcast matrices at dimension scale, else ride the pair rows.
        from ..functions.strsim import levenshtein_sim

        p = p.withColumn("lev", levenshtein_sim(F.col("norm_a"), F.col("norm_b")))
        if use_bc:
            a_ids = {f"{r}\x00{nm}": i for i, (r, nm) in enumerate(a_rows)}
            bc_e = spark.sparkContext.broadcast((a_ids, a_mat))
            return fused_me_top1(
                p, cfg.measure, cfg.dense_weight, cfg.tau_ent, bc_s, bc_e
            )
        if store_idx is not None:
            # vocabulary-scale reuse: the stored index stays a distributed
            # frame (load-only here; committing an ordinal at this scale
            # is the store builder's job) — the SAME rows e_keyed blocks
            # on, so the join is inner over a consistent dictionary in
            # every regime
            alias_embs = store_idx.select(F.col("id").alias("rid"), "norm", "emb")
        else:
            # dimension-scale partitioning heuristic: each Arrow UDF task
            # has a ~0.25 s fixed cost, so tiny alias tables encode on one
            # partition; large dictionaries keep parallelism
            p_ent = max(
                1,
                min(spark.sparkContext.defaultParallelism, alias_records.count() // 2000 + 1),
            )
            alias_embs = _with_emb(alias_records.coalesce(p_ent), enc=cfg.encoder)
        ea = s_embs.select(F.col("rid").alias("a"), F.col("emb").alias("emb_a"))
        eb = F.broadcast(
            alias_embs.select(
                F.col("rid").alias("b"), F.col("norm").alias("norm_b"), F.col("emb").alias("emb_b")
            )
        )
        p = p.join(ea, "a").join(eb, ["b", "norm_b"])
        return fused_me_top1(p, cfg.measure, cfg.dense_weight, cfg.tau_ent)

    pairs_mm = stage("pairs_mm", mm_pairs)
    pairs_me = stage("pairs_me", me_pairs)
    if verbose and store is None:
        # eager-pairs attribution (round-3 verdict item 7): the pairs
        # frames are lazy, so without this the first action under a LATER
        # stage pays for the whole scoring subtree and the [link] stage
        # timings lie. Verbose mode persists + counts each pairs frame so
        # the profile shows where time actually goes; edges below then
        # read the caches. Non-verbose runs keep the single-materialization
        # plan (the persisted edges frame).
        pairs_mm = pairs_mm.persist()
        _t0 = _time.monotonic()
        n_mm = pairs_mm.count()
        mark(f"pairs_mm materialize (n={n_mm})", _t0)
        pairs_me = pairs_me.persist()
        _t0 = _time.monotonic()
        n_me = pairs_me.count()
        mark(f"pairs_me materialize (n={n_me})", _t0)
    if store is not None:
        # score-distribution metrics per scoring stage (north_rule)
        store.record_histogram("pairs_mm", pairs_mm, "score")
        store.record_histogram("pairs_me", pairs_me, "score")

    def make_edges():
        # surface/entity graph only — mentions are projected back after CC
        # via their surface node, so the iterative stage runs on a graph
        # ~|distinct surfaces|, independent of corpus size
        mm = pairs_mm.filter(F.col("score") >= cfg.tau_mm).select(
            F.col("a").alias("src"), F.col("b").alias("dst")
        )
        me = pairs_me.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        return mm.unionByName(me)

    edges = stage("edges", make_edges)
    n_edges: int | None = None
    local_assign: list[tuple[str, str]] | None = None
    edges_persisted = False
    if store is None and use_local and "mm" in _local and "me" in _local:
        # the pair rows never left the driver in this regime, so edges and
        # the union-find run here directly — skipping the edges count job,
        # CC's collect job, and the pair-cache re-read. Same contract as
        # connected_components' driver path (self-loops dropped, min-id
        # cluster ids); the returned `edges` DataFrame is definitionally
        # the same rows (make_edges over createDataFrame'd _local rows).
        from ..operators.cc import _unionfind_local

        _t0 = _time.monotonic()
        edge_rows = [
            (r[0], r[1]) for r in _local["mm"] if r[5] >= cfg.tau_mm and r[0] != r[1]
        ] + [(r[0], r[1]) for r in _local["me"] if r[0] != r[1]]
        n_edges = len(edge_rows)
        local_assign = _unionfind_local(edge_rows)
        mark(f"edges local (n={n_edges})", _t0)
    elif store is None:
        # CC takes several actions over edges (size probe, collect/loop)
        # and the cluster projection re-reads them; without a persist the
        # whole pair-scoring DAG re-executes per action (measured: the
        # clusters stage ran the blocking+scoring subtree ~3x). The count
        # here (a) materializes the cache EAGERLY so the scoring subtree
        # is attributed to the edges stage, not wherever the first action
        # lands (the round-3 highvocab profile blamed 94 s on "clusters"),
        # and (b) doubles as the CC dispatch hint — connected_components
        # skips its limit-probe job when the bound is under threshold.
        edges = edges.persist()
        edges_persisted = True
        _t0 = _time.monotonic()
        n_edges = edges.count()
        mark(f"edges materialize (n={n_edges})", _t0)

    def cluster():
        # reliable checkpoints only in resumable (store) mode; localCheckpoint
        # truncates lineage identically for in-session runs
        if local_assign is not None:
            # the (rid, norm) surface rows AND the assignment are both
            # driver-local in this regime, so the surface->cluster map is a
            # dict lookup — the same left-join-with-rid-fallback semantics
            # as below without the join job + its broadcast-build chain
            amap = dict(local_assign)
            surf_assign = spark.createDataFrame(
                [(nm, amap.get(r, r)) for r, nm in s_rows],
                "norm string, cluster_id string",
            )
        else:
            assignment = connected_components(
                edges,
                checkpoint=store is not None,
                verbose=verbose,
                n_edges_hint=n_edges,
            )
            surf_assign = (
                surfaces.join(assignment.withColumnRenamed("member", "rid"), "rid", "left")
                .select("norm", F.coalesce("cluster_id", F.col("rid")).alias("cluster_id"))
            )
        m = m_narrow
        # the projection joins CORPUS-scale mentions against the
        # dimension-scale surface assignment: broadcast the small side so
        # the mention table never shuffles here. Size-gated on the n_surf
        # we already counted — at vocabulary scales past the broadcast
        # budget this degrades to the shuffle join AQE would plan anyway.
        sa = F.broadcast(surf_assign) if n_surf < 2_000_000 else surf_assign
        # single pass over the mention table: every non-empty norm is in
        # surf_assign by construction (surfaces = distinct non-empty norms
        # of these mentions), so the left join matches exactly them and the
        # null-side fallback makes empty-norm mentions singletons — the
        # same result as an inner join + union of the two filters, without
        # reading the corpus-scale cache twice
        return m.join(sa, "norm", "left").select(
            F.col("mention_id").alias("member"),
            F.coalesce("cluster_id", F.col("mention_id")).alias("cluster_id"),
        )

    _t0 = _time.monotonic()
    clusters = stage("clusters", cluster)
    mark("clusters stage", _t0)
    if store is None:
        # materialize before dropping upstream caches (clusters is lazy here)
        clusters = clusters.persist()
        _t0 = _time.monotonic()
        clusters.count()
        mark("clusters materialize", _t0)
    unpersist = [surfaces0, s_keyed, s_sizes, s_embs, *_op_caches]
    if store is None:
        unpersist.append(m_narrow)
    if edges_persisted:
        unpersist.append(edges)
    if verbose and store is None:
        unpersist.extend([pairs_mm, pairs_me])
    for df in unpersist:
        df.unpersist()

    return {
        "mentions": mentions,
        "pairs_mm": pairs_mm,
        "pairs_me": pairs_me,
        "edges": edges,
        "clusters": clusters,
    }
