"""Traced run: per-layer metrics, taken apart from the timed runs.

The run times an untraced pass with the Spark UI off (after a warm-up pass
on the same input), restarts the session with the UI on, warms up the same
way and times the pass again as the ``pipeline`` span, with ``link``'s own
stage timings.
Then, on the same session:

- ``sources``: the scan, extraction and span join, materialized at their
  boundary (``link``'s timings do not split them from the distinct-surface
  job that follows);
- ``distributed`` (workloads that ask for it): ``link`` once more with
  ``driver_pairs_limit=0``, so its distributed blocking and scoring run. The
  call is verbose with candidate generation profiled apart from scoring;
  each line ``link`` prints closes one of its stages, and the benchmark
  switches the job group there, so blocking's and scoring's jobs are
  counted apart;
- ``cc``: the star-loop connected components on the pass's edge graph;
- ``incremental``: the tiny input set fed in three ``warc_ts`` increments
  through ``process_increment`` into a fresh ``IncrementalStore``.

Spans (name, start, end, parent) are recorded around the benchmark's own
calls into each layer, kept in memory and written to ``.perfbench/work/``
when the run ends. Task, failure and shuffle counts come from Spark's REST
status API on the local UI.
"""

from __future__ import annotations

import contextlib
import dataclasses
import io
import json
import os
import random
import re
import shutil
import time
import urllib.request
from urllib.parse import urlparse
from datetime import datetime

import checks
from inputs import _boiler_pool, make_entities, prepare, render_html
from workloads import (
    WORKLOADS,
    Env,
    link_cfg,
    run_pass,
    shutdown,
    start_session,
)

UNITS = {
    "session.start_s": "s",
    "sources.scan_s": "s",
    "sources.mb_per_s": "MB/s",
    "sources.pages": "count",
    "sources.mentions": "count",
    "sources.tasks": "count",
    "sources.failed_tasks": "count",
    "functions.extract_mb_per_s": "MB/s",
    "functions.encode_rows_per_s": "1/s",
    "functions.jw_pairs_per_s": "1/s",
    "blocking.s": "s",
    "blocking.candidates_mm": "count",
    "blocking.candidates_me": "count",
    "blocking.max_block_rows": "count",
    "blocking.shuffle_mb": "MB",
    "blocking.failed_tasks": "count",
    "scoring.s": "s",
    "scoring.pairs_scored": "count",
    "scoring.edges_kept": "count",
    "scoring.edge_yield": "ratio",
    "localpairs.s": "s",
    "localpairs.pairs": "count",
    "cc.s": "s",
    "cc.iterations": "count",
    "cc.edges_in": "count",
    "cc.iter_s_max": "s",
    "incremental.commit_s": "s",
    "incremental.merge_s": "s",
    "incremental.state_mb": "MB",
    "incremental.mb_written": "MB",
    "pipeline.link_s": "s",
    "pipeline.jobs": "count",
    "pipeline.tasks": "count",
    "pipeline.driver_gap_s": "s",
    "trace.overhead_s": "s",
}


class Tracer:
    """In-memory spans plus job-group bookkeeping against the Spark REST API."""

    def __init__(self):
        # the root span covers the whole run; every layer span is its child
        self.spans: list[dict] = [{"name": "run", "start": time.time(), "end": None, "parent": None}]
        self._stack: list[int] = [0]
        self.spark = None

    def close(self) -> None:
        self.spans[0]["end"] = time.time()

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {"name": name, "start": time.time(), "end": None,
               "parent": self.spans[self._stack[-1]]["name"]}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        if self.spark is not None:
            self.spark.sparkContext.setJobGroup(name, name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self.spark is not None:
                # jobs after a nested span go back to the enclosing one
                sc = self.spark.sparkContext
                if len(self._stack) > 1:
                    parent = rec["parent"]
                    sc.setJobGroup(parent, parent)
                else:
                    sc._jsc.clearJobGroup()

    def _get(self, path: str):
        sc = self.spark.sparkContext
        url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/{path}"
        with urllib.request.urlopen(url, timeout=10) as r:
            return json.load(r)

    def jobs(self, group: str) -> list[dict]:
        """Finished jobs of a job group, once the UI's status store has them."""
        want = set(self.spark.sparkContext.statusTracker().getJobIdsForGroup(group))
        deadline = time.time() + 15
        while True:
            jobs = [j for j in self._get("jobs") if j.get("jobGroup") == group]
            done = {j["jobId"] for j in jobs if j["status"] in ("SUCCEEDED", "FAILED")}
            if want <= done or time.time() > deadline:
                return jobs
            time.sleep(0.2)

    def group_counts(self, group: str) -> dict:
        jobs = self.jobs(group)
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        shuffle = sum(
            st.get("shuffleWriteBytes", 0)
            for st in self._get("stages")
            if st["stageId"] in stage_ids and st["status"] == "COMPLETE"
        )
        return {
            "jobs": len(jobs),
            "tasks": sum(j["numCompletedTasks"] + j["numFailedTasks"] for j in jobs),
            "failed_tasks": sum(j["numFailedTasks"] for j in jobs),
            "shuffle_mb": shuffle / 2**20,
            "intervals": [(_epoch(j["submissionTime"]), _epoch(j.get("completionTime")))
                          for j in jobs],
        }


def _epoch(s: str | None) -> float:
    if s is None:
        return time.time()
    return datetime.strptime(s.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def _uncovered(start: float, end: float, intervals) -> float:
    """Seconds of [start, end] during which no interval was running."""
    covered, cursor = 0.0, start
    for a, b in sorted((max(a, start), min(b, end)) for a, b in intervals):
        if b <= cursor:
            continue
        covered += b - max(a, cursor)
        cursor = b
    return (end - start) - covered


def kernel_rates() -> dict:
    """Single-process rates of the per-row kernels on fixed seeded inputs."""
    import numpy as np

    from mix_blink_spark.functions.embed import encode_matrix
    from mix_blink_spark.functions.strsim import jaro_winkler_np
    from mix_blink_spark.functions.text import extract_text_str

    rng = random.Random(20250101)
    pool = _boiler_pool(rng, 40 * 1024, n=8)
    pages = [
        render_html(f"page {i}", f"Shares of Acme Systems {i} rose.", pool[i % 8] + pool[(i * 3) % 8]).decode()
        for i in range(64)
    ]
    names = [s for e in make_entities(rng, 1500, wide=True) for s in [e["name"], *e["aliases"]]]
    idx = np.random.default_rng(7).integers(0, len(names), size=(100_000, 2))
    sa, sb = [names[i] for i in idx[:, 0]], [names[i] for i in idx[:, 1]]

    def rate(fn, work: float, min_s: float = 0.5) -> float:
        reps, t0 = 0, time.perf_counter()
        while True:
            fn()
            reps += 1
            dt = time.perf_counter() - t0
            if dt >= min_s:
                return reps * work / dt

    page_mb = sum(len(p) for p in pages) / 2**20
    return {
        "functions.extract_mb_per_s": rate(lambda: [extract_text_str(p) for p in pages], page_mb),
        "functions.encode_rows_per_s": rate(lambda: encode_matrix(names), len(names)),
        "functions.jw_pairs_per_s": rate(lambda: jaro_winkler_np(sa, sb), len(sa)),
    }


def _mb(path: str) -> float:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    ) / 2**20


class _LinkLines(io.TextIOBase):
    """Stdout for a verbose ``link``: keeps the lines it prints and, when a
    line closes the stage before a layer, puts the jobs that follow under
    that layer's job group."""

    def __init__(self, spark, groups: dict[str, str]):
        self.sc = spark.sparkContext
        self.groups = groups
        self.lines: list[str] = []
        self._part = ""

    def write(self, text: str) -> int:
        *done, self._part = (self._part + text).split("\n")
        for line in done:
            self.lines.append(line)
            for prefix, group in self.groups.items():
                if line.startswith(prefix):
                    self.sc.setJobGroup(group, group)
        return len(text)

    def count(self, mark: str) -> int:
        """The ``n=`` of the first line that starts with ``mark``."""
        for line in self.lines:
            hit = re.match(re.escape(mark) + r" \(n=(\d+)", line)
            if hit:
                return int(hit.group(1))
        return 0


def sources_layer(spark, tr: Tracer, inp, m: dict) -> dict[str, str]:
    """Scan + extraction + span join, materialized; returns the extracted text."""
    from pyspark.sql import functions as F

    from mix_blink_spark.operators.blocking import block_sizes_salted, keyed_records
    from mix_blink_spark.sources.pages import mentions_from_spans, read_pages_extracted_python

    spans = spark.read.parquet(inp.spans)
    with tr.span("sources") as s:
        pages = read_pages_extracted_python(spark, inp.pages, columns=("url", "lang")).persist()
        m["sources.pages"] = pages.count()
        mentions = mentions_from_spans(pages, spans, broadcast_spans=link_cfg().broadcast_spans)
        norms = mentions.select("norm").persist()
        m["sources.mentions"] = norms.count()
    m["sources.scan_s"] = s["end"] - s["start"]
    m["sources.mb_per_s"] = inp.manifest["html_bytes"] / 2**20 / m["sources.scan_s"]
    c = tr.group_counts("sources")
    m["sources.tasks"], m["sources.failed_tasks"] = c["tasks"], c["failed_tasks"]
    text = {r[0]: r[1] for r in pages.select("url", "text").collect()}
    # skew of the blocking keys over the distinct surfaces (the records
    # link blocks on, whatever their ids)
    surfaces = norms.filter(F.length("norm") > 0).distinct().withColumn("rid", F.col("norm"))
    sizes = block_sizes_salted(keyed_records(surfaces, "rid"))
    m["blocking.max_block_rows"] = sizes.agg(F.max("block_n")).first()[0] or 0
    pages.unpersist()
    norms.unpersist()
    return text


def distributed_layers(spark, tr: Tracer, inp, m: dict) -> list[tuple[str, str]]:
    """``link`` on its distributed pairs plan; fills ``blocking.*`` and
    ``scoring.*`` and returns the assignment rows."""
    cfg = dataclasses.replace(link_cfg(), driver_pairs_limit=0)
    lines = _LinkLines(spark, {
        "[link] keys+embs materialize": "blocking",
        "[link] pairs_me generation only": "scoring",
        "[link] pairs_me materialize": "distributed",
    })
    timings: dict = {}
    os.environ["SPARK_GRAFT_PROFILE_PAIRGEN"] = "1"
    try:
        with tr.span("distributed"), contextlib.redirect_stdout(lines):
            _, rows, _ = run_pass(spark, inp, cfg, timings=timings, verbose=True)
    finally:
        del os.environ["SPARK_GRAFT_PROFILE_PAIRGEN"]
    gen = [timings.get(f"pairs_{k} generation only", 0.0) for k in ("mm", "me")]
    mat = [timings.get(f"pairs_{k} materialize", 0.0) for k in ("mm", "me")]
    # blocking: the two candidate-generation counts link profiles apart;
    # scoring: the two pair-frame materializations after them, which score
    # the candidates (re-read from blocking's caches)
    m["blocking.s"], m["scoring.s"] = sum(gen), sum(mat)
    m["blocking.candidates_mm"] = lines.count("[link] pairs_mm generation only")
    m["blocking.candidates_me"] = lines.count("[link] pairs_me generation only")
    c = tr.group_counts("blocking")
    m["blocking.shuffle_mb"], m["blocking.failed_tasks"] = c["shuffle_mb"], c["failed_tasks"]
    m["scoring.pairs_scored"] = m["blocking.candidates_mm"] + m["blocking.candidates_me"]
    m["scoring.edges_kept"] = lines.count("[link] edges materialize")
    m["scoring.edge_yield"] = m["scoring.edges_kept"] / max(m["scoring.pairs_scored"], 1)
    return rows


def cc_layer(spark, tr: Tracer, edges, m: dict) -> None:
    """The star-loop connected components (the path link takes above
    ``small_graph_threshold`` edges) on a pass's edge graph."""
    from mix_blink_spark.operators.cc import connected_components

    edges = spark.createDataFrame(edges.collect(), "src string, dst string").localCheckpoint()
    m["cc.edges_in"] = edges.count()
    st: dict = {}
    with tr.span("cc") as s:
        connected_components(edges, stats=st, small_graph_threshold=0).count()
    m["cc.s"] = s["end"] - s["start"]
    m["cc.iterations"] = st.get("iterations", 0)
    m["cc.iter_s_max"] = max(st.get("iter_secs") or [0.0])


def incremental_layer(spark, tr: Tracer, inp, state_dir: str, m: dict,
                      increments: int = 3) -> list[tuple[str, str]]:
    """The input pages as a DataFrame, fed in ``warc_ts`` order as
    ``increments`` batches through ``process_increment``; returns the last
    committed assignment. ``incremental.merge_s`` is the summed self time of
    the ``process_increment`` calls: their time net of ``link`` and
    ``commit``."""
    from pyspark.sql import functions as F

    import mix_blink_spark.streaming.incremental as inc

    class TimedStore(inc.IncrementalStore):
        def commit(self, *args, **kwargs):
            with tr.span("commit"):
                return super().commit(*args, **kwargs)

    def traced_link(*args, **kwargs):
        with tr.span("link"):
            return link(*args, **kwargs)

    shutil.rmtree(state_dir, ignore_errors=True)
    store = TimedStore(spark, state_dir)
    pages = spark.read.parquet(inp.pages)
    spans = spark.read.parquet(inp.spans)
    ents = spark.read.parquet(inp.entities)
    ts = sorted(r[0] for r in pages.select("warc_ts").collect())
    bounds = [ts[(len(ts) * (k + 1)) // increments - 1] for k in range(increments)]
    link, inc.link = inc.link, traced_link
    try:
        with tr.span("incremental"):
            for b in bounds:
                with tr.span("increment"):
                    inc.process_increment(spark, pages.filter(F.col("warc_ts") <= F.lit(b)),
                                          spans, ents, store, link_cfg())
    finally:
        inc.link = link
    rows = [(r[0], r[1]) for r in store.assignment().collect()]

    def total(name: str) -> float:
        return sum(x["end"] - x["start"] for x in tr.spans if x["name"] == name)

    m["incremental.commit_s"] = total("commit")
    m["incremental.merge_s"] = total("increment") - total("link") - total("commit")
    # the committed state is what the next increment reads back
    state = store.assignment().inputFiles() + store.node_map().inputFiles()
    m["incremental.state_mb"] = sum(os.path.getsize(urlparse(f).path) for f in state) / 2**20
    m["incremental.mb_written"] = _mb(state_dir)
    shutil.rmtree(state_dir, ignore_errors=True)
    return rows


def traced_run(env: Env, name: str, seed: int, tiny: bool) -> tuple[dict, dict]:
    wl = WORKLOADS[name]
    inp, _ = prepare(env.cache, name, wl.tiny if tiny else wl.shape, seed)
    small, _ = prepare(env.cache, name, wl.tiny, seed)
    tr = Tracer()
    m: dict = dict.fromkeys(UNITS, 0)
    checked: dict[str, list[str]] = {}

    with tr.span("session"):
        spark = start_session(env, env.cores)
    m["session.start_s"] = tr.spans[-1]["end"] - tr.spans[-1]["start"]
    try:
        with tr.span("functions"):
            m.update(kernel_rates())
        inp.warm_page_cache()
        run_pass(spark, inp)  # warm-up, as in every set-up
        with tr.span("untraced_pass") as s:
            _, rows, _ = run_pass(spark, inp)
        untraced_s = s["end"] - s["start"]
        checked["untraced pass"] = checks.check_assignment(rows, inp.gold_mentions)
        spark.stop()

        spark = start_session(env, env.cores, ui=True)
        tr.spark = spark
        inp.warm_page_cache()
        run_pass(spark, inp)
        timings: dict = {}
        with tr.span("pipeline") as s:
            _, rows, out = run_pass(spark, inp, timings=timings)
        m["pipeline.link_s"] = s["end"] - s["start"]
        m["trace.overhead_s"] = m["pipeline.link_s"] - untraced_s
        checked["traced pass"] = checks.check_assignment(rows, inp.gold_mentions)
        c = tr.group_counts("pipeline")
        m["pipeline.jobs"], m["pipeline.tasks"] = c["jobs"], c["tasks"]
        m["pipeline.driver_gap_s"] = _uncovered(s["start"], s["end"], c["intervals"])
        # the driver-local regime blocks and scores inside link's pairs stages
        local = "edges local" in timings
        if local:
            m["localpairs.s"] = timings.get("pairs_mm", 0.0) + timings.get("pairs_me", 0.0)
            m["localpairs.pairs"] = out["pairs_mm"].count() + out["pairs_me"].count()

        inp.warm_page_cache()
        checked["text"] = checks.check_text(sources_layer(spark, tr, inp, m), inp.gold_text)
        if wl.distributed_layers:
            rows = distributed_layers(spark, tr, inp, m)
            checked["distributed pass"] = checks.check_assignment(rows, inp.gold_mentions)
        cc_layer(spark, tr, out["edges"], m)
        rows = incremental_layer(spark, tr, small, os.path.join(env.work, f"incremental-{name}"), m)
        checked["incremental"] = checks.check_assignment(rows, small.gold_mentions)
    finally:
        shutdown(spark)

    tr.close()
    os.makedirs(env.work, exist_ok=True)
    with open(os.path.join(env.work, f"trace-{name}-s{seed}.json"), "w") as f:
        json.dump(tr.spans, f, indent=1)
    problems = [f"{k}: {p}" for k, found in checked.items() for p in found]
    result = {
        "correct": not problems,
        "attempted": len(checked),
        "failed": sum(bool(found) for found in checked.values()),
        "metrics": {k: {"value": m[k], "unit": u} for k, u in UNITS.items()},
    }
    details = {"workload": name, "seed": seed, "tiny": tiny,
               "regime": "driver-local" if local else "distributed",
               "link_timings": timings, "spans": tr.spans, "problems": problems[:20]}
    return result, details
