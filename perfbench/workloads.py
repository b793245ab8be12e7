"""Workloads, Spark sessions and the timed (untraced) run.

Closed loop: one driver process, one pass at a time, each pass starting
after the previous one ended. A run measures passes at local[N] (N = the
box's cores), then restarts the session in the same JVM and measures passes
at local[1] on the same inputs. Each session start plus its warm-up pass is
one set-up sample.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
import traceback
from dataclasses import asdict, dataclass

import checks
from inputs import Inputs, Shape, prepare


@dataclass(frozen=True)
class Workload:
    shape: Shape
    tiny: Shape
    # traced runs also time the distributed blocking and scoring operators
    # on this workload's vocabulary (link switches to them above
    # driver_pairs_limit surfaces plus aliases)
    distributed_layers: bool = False


# Sizes fit a 4-core, 15 GB box inside the benchmark's time budget. Both feed
# the pages as a parquet path, so link uses its python-direct reader, and
# both stay under driver_pairs_limit, so pairs are blocked and scored in the
# Spark driver: the distributed pairs plan costs 13-26 s per pass on a 4-core
# box whatever the input size, which the budget cannot hold at two core counts.
WORKLOADS = {
    "scan_crawl": Workload(
        Shape(pages=3000, boiler_kb=80, entities=300),
        Shape(pages=240, boiler_kb=8, entities=40),
    ),
    "vocab_link": Workload(
        Shape(pages=1000, boiler_kb=2, entities=1000, wide_names=True),
        Shape(pages=150, boiler_kb=2, entities=1000, wide_names=True),
        distributed_layers=True,
    ),
}
# the LinkConfig of the repository's crawl benchmark: spans broadcast into
# the pages join, and the hot-key guard on the surface-to-entity join
LINK_CONFIG = {"broadcast_spans": True, "me_max_block_size": 200}


class Env:
    """Core count and checkout-local directories."""

    def __init__(self, root: str, cores: int):
        self.cores = cores
        self.cache = os.path.join(root, ".perfbench", "cache")
        self.work = os.path.join(root, ".perfbench", "work")


def start_session(env: Env, cores: int, ui: bool = False):
    from mix_blink_spark.session import get_spark

    extra = {"spark.ui.enabled": "true"} if ui else None
    return get_spark("perfbench", master=f"local[{cores}]", extra_conf=extra)


def link_cfg():
    from mix_blink_spark.plans.pipeline import LinkConfig

    return LinkConfig(**LINK_CONFIG)


def run_pass(spark, inp: Inputs, cfg=None, **link_kw):
    """One ``link`` over the parquet path: (seconds, assignment rows, link's
    output frames). ``link_kw`` goes to ``link`` (``timings``, ``verbose``)."""
    from mix_blink_spark.plans.pipeline import link

    t0 = time.monotonic()
    spans = spark.read.parquet(inp.spans)
    ents = spark.read.parquet(inp.entities)
    out = link(spark, inp.pages, spans, ents, cfg or link_cfg(), **link_kw)
    out["clusters"].count()
    dt = time.monotonic() - t0
    rows = [(r[0], r[1]) for r in out["clusters"].collect()]
    out["clusters"].unpersist()
    return dt, rows, out


def extracted_text(spark, inp: Inputs) -> dict[str, str]:
    """The program's extracted text per url, read through the same source
    layer the pass uses."""
    from mix_blink_spark.sources.pages import read_pages_extracted_python

    df = read_pages_extracted_python(spark, inp.pages, columns=("url",))
    return {r[0]: r[1] for r in df.select("url", "text").collect()}


class RssSampler:
    """Peak resident memory of the Spark driver JVM and every process under it
    (the Python daemon and workers), sampled from /proc while enabled.

    The process tree is read from the ``children`` files of the tree's own
    threads when sampling is enabled and every 5 s after; in between only
    each member's ``statm`` is read, so the sampler holds the driver's GIL
    for a few small reads per tick. The warm-up pass has started every
    Python worker before the timed passes begin."""

    def __init__(self, jvm_pid: int, interval: float = 0.1, tree_every: int = 50):
        self.pid = jvm_pid
        self.interval = interval
        self.tree_every = tree_every
        self.peak_bytes = 0
        self.busy_s = 0.0  # the sampler's own time while enabled
        self.active = False
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _tree(self) -> list[int]:
        tree, frontier = [self.pid], [self.pid]
        while frontier:
            p = frontier.pop()
            try:
                tasks = os.listdir(f"/proc/{p}/task")
            except OSError:
                continue
            for t in tasks:
                try:
                    with open(f"/proc/{p}/task/{t}/children") as f:
                        kids = [int(c) for c in f.read().split()]
                except (OSError, ValueError):
                    continue
                tree += kids
                frontier += kids
        return tree

    def _rss(self, tree: list[int]) -> int:
        total = 0
        for p in tree:
            try:
                with open(f"/proc/{p}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                pass
        return total

    def _loop(self) -> None:
        tree, tick = [self.pid], 0
        while not self._stop.wait(self.interval):
            if not self.active:
                tick = 0
                continue
            t0 = time.perf_counter()
            if tick % self.tree_every == 0:
                tree = self._tree()
            tick += 1
            self.peak_bytes = max(self.peak_bytes, self._rss(tree))
            self.busy_s += time.perf_counter() - t0

    def close(self) -> None:
        self._stop.set()
        self._thread.join()


def shutdown(spark) -> None:
    """Stop the session, then end the JVM and wait for it: the JVM exits when
    its stdin closes, and takes its Python daemon and workers with it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def timed_run(env: Env, name: str, seed: int, seconds: float, tiny: bool) -> tuple[dict, dict]:
    """Untraced run: returns (result line, details).

    Order: set-up at local[N], passes at local[N], the text check, then a
    session restart and set-up at local[1] and passes at local[1]. Every
    pass's assignment is checked."""
    wl = WORKLOADS[name]
    inp, gen_s = prepare(env.cache, name, wl.tiny if tiny else wl.shape, seed)
    items = inp.manifest["shape"]["pages"]
    n = env.cores
    setups, passes = [], {n: [], 1: []}
    attempted = failed = 0
    problems: list[str] = []
    last_rows = None
    # --seconds sets the pass counts: one local[N] pass per 4 s and one
    # local[1] pass per 12 s, the nominal pass times on a 4-core box
    counts = {n: max(1, round(seconds / 4)), 1: max(1, round(seconds / 12))}

    def setup(cores):
        t0 = time.monotonic()
        spark = start_session(env, cores)
        # the warm-up pass runs on the workload's own input: it loads the
        # program and starts every Python worker the timed passes use (after
        # a smaller warm-up the first timed pass ran ~20 % slower)
        run_pass(spark, inp)
        setups.append(time.monotonic() - t0)
        return spark

    def phase(spark, cores):
        nonlocal attempted, failed, last_rows
        inp.warm_page_cache()
        for _ in range(counts[cores]):
            attempted += 1
            rss.active = cores == n
            try:
                dt, rows, _ = run_pass(spark, inp)
            except Exception as e:  # a failed pass counts against the run
                traceback.print_exc()
                failed += 1
                problems.append(f"pass failed: {type(e).__name__}: {str(e)[:300]}")
                return
            finally:
                rss.active = False
            found = checks.check_assignment(rows, inp.gold_mentions)
            if found:
                failed += 1
                problems.extend(found)
            passes[cores].append(dt)
            if cores == n:
                last_rows = rows

    spark = setup(n)
    rss = RssSampler(jvm_pid(spark))
    try:
        phase(spark, n)
        attempted += 1
        text_problems = checks.check_text(extracted_text(spark, inp), inp.gold_text)
        if text_problems:
            failed += 1
            problems.extend(text_problems)
        spark.stop()
        spark = setup(1)
        phase(spark, 1)
    finally:
        rss.close()
        shutdown(spark)

    metrics = {}
    if passes[n] and passes[1] and last_rows is not None:
        wall_n = statistics.median(passes[n])
        pos, neg = checks.labeled_pairs(inp.gold_mentions, seed)
        values = {
            "docs_per_s": (items / wall_n, "1/s"),
            "wall_s": (wall_n, "s"),
            "scaling_eff_1_4": (statistics.median(passes[1]) / wall_n / n, "ratio"),
            "pairwise_f1": (checks.pairwise_f1(dict(last_rows), pos, neg), "ratio"),
            "setup_s": (statistics.median(setups), "s"),
            "peak_rss_mb": (rss.peak_bytes / 2**20, "MB"),
        }
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in values.items()}
    result = {
        "correct": not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
    details = {
        "workload": name,
        "seed": seed,
        "tiny": tiny,
        "items": items,
        "link_config": asdict(link_cfg()),
        "shape": inp.manifest["shape"],
        "html_mb": inp.manifest["html_bytes"] / 2**20,
        "gen_s": gen_s,
        "setup_samples_s": setups,
        "pass_s": {f"local[{k}]": v for k, v in passes.items()},
        "rss_sampler_busy_s": rss.busy_s,
        "error_rate": failed / attempted if attempted else 1.0,
        "problems": problems[:20],
    }
    return result, details
