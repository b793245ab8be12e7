"""Seeded workload inputs, written as parquet and cached per (workload, size, seed).

The generator is the benchmark's own: the program under test only ever sees
the files it writes (pages, spans, entities). The gold tables (page text,
mention labels, surfaces) stay with the benchmark and drive its checks.

Page shape follows the project's Common-Crawl schema
(``url, warc_ts, html, lang``): a short article inside a fixed template, plus
``boiler_kb`` of script/style boilerplate in ``<head>`` that text extraction
must strip, so every page's extracted text equals its gold ``text``.
"""

from __future__ import annotations

import html as _html
import json
import os
import random
import shutil
import time
from dataclasses import asdict, dataclass
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq

NIL = "-1"
EPOCH_US = int(datetime(2025, 1, 1, tzinfo=timezone.utc).timestamp() * 1_000_000)
PAGES_PER_ROW_GROUP = 200
PAGES_PER_FILE = 2000
KEEP_CACHED = 4  # input sets kept on disk; older ones are evicted

_FIRST = [
    "Acme", "Borealis", "Cascade", "Datum", "Everest", "Fulcrum", "Granite",
    "Helios", "Ironwood", "Juniper", "Kestrel", "Lumen", "Meridian", "Nimbus",
    "Obsidian", "Pinnacle", "Quartz", "Redwood", "Summit", "Tundra",
    "Umbra", "Vertex", "Willow", "Xenon", "Yonder", "Zephyr",
]
_SECOND = [
    "Systems", "Dynamics", "Analytics", "Industries", "Holdings", "Partners",
    "Technologies", "Networks", "Logistics", "Robotics", "Ventures",
    "Materials", "Energy", "Biosciences", "Aerospace", "Microdevices",
]
_SUFFIX = ["Inc", "Corp", "Ltd", "Group", "Co"]
_CITY = [
    "Osaka", "Denver", "Lagos", "Porto", "Tallinn", "Quito", "Perth",
    "Geneva", "Nairobi", "Reykjavik", "Montevideo", "Hanoi",
]
_HOT = "Global"  # shared first token of every 12th entity: a hot blocking key
_TEMPLATES = [
    "{m} announced a new product line this quarter.",
    "Analysts expect {m} to expand into new markets.",
    "The merger between {m} and a regional supplier closed today.",
    "Shares of {m} rose after the earnings call.",
    "A spokesperson for {m} declined to comment.",
]
_FILLER = [
    "Markets were mixed across the region.",
    "The quarterly report cited supply constraints.",
    "Officials described the outlook as stable.",
    "Trading volume stayed near seasonal averages.",
]
_LANGS = ["en"] * 8 + ["de", "ja"]


@dataclass(frozen=True)
class Shape:
    """Input size of one workload."""

    pages: int
    boiler_kb: int
    entities: int
    wide_names: bool = False


def _typo(rng: random.Random, s: str) -> str:
    if len(s) < 8:
        return s.lower()
    i = rng.randrange(4, len(s) - 1)
    return s[:i] + s[i + 1:]


def make_entities(rng: random.Random, n: int, wide: bool) -> list[dict]:
    """``n`` dictionary entries with alias surfaces. ``wide`` draws three-token
    names from a ~5k namespace (few collisions, a large vocabulary); otherwise
    two-token names from 416 bases, so entities crowd into shared blocks."""
    names: list[str] = []
    seen: set[str] = set()
    while len(names) < n:
        first = _HOT if len(names) % 12 == 3 else rng.choice(_FIRST)
        base = f"{first} {rng.choice(_SECOND)}"
        if wide:
            base += f" {rng.choice(_CITY)}"
        if base in seen:
            base += f" {rng.choice(_SUFFIX)}"
        if base in seen:
            base += f" {len(names)}"
        seen.add(base)
        names.append(base)
    out = []
    for k, name in enumerate(names):
        aliases = {name.lower(), _typo(rng, name)}
        if rng.random() < 0.3:
            aliases.add(f"{name} {rng.choice(_SUFFIX)}")
        if rng.random() < 0.2:
            aliases.add(f"{name.split()[0]}{k % 97:02d} project")
        aliases.discard(name)
        out.append({
            "id": f"E{k:05d}",
            "name": name,
            "description": f"{name} is a company based in {rng.choice(_CITY)}.",
            "aliases": sorted(aliases),
        })
    return out


def _boiler_pool(rng: random.Random, chunk_bytes: int, n: int = 64) -> list[str]:
    unit = (
        "<script>var a%d=%d;function f%d(x){return x*%d+%d;}</script>"
        "<style>.c%d{margin:%dpx;padding:%dpx;color:#%06x;}</style>"
    )
    pool = []
    for _ in range(n):
        parts, size = [], 0
        while size < chunk_bytes:
            s = unit % tuple(rng.randrange(1 << 20) for _ in range(9))
            parts.append(s)
            size += len(s)
        pool.append("".join(parts))
    return pool


def render_html(title: str, text: str, boiler: str) -> bytes:
    return (
        '<!DOCTYPE html><html><head><meta charset="utf-8">'
        f"<title>{_html.escape(title, quote=False)}</title>"
        f"<script>var x=1;</script>{boiler}</head>"
        f"<body><nav>home | about</nav><article>{_html.escape(text, quote=False)}</article>"
        "<footer>(c) example</footer></body></html>"
    ).encode("utf-8")


def generate(shape: Shape, seed: int, out_dir: str) -> dict:
    """Write one input set under ``out_dir``; returns its manifest."""
    rng = random.Random(seed)
    ents = make_entities(rng, shape.entities, shape.wide_names)
    nils = [f"{rng.choice(_FIRST)}{rng.choice(_SECOND)}X{j}" for j in range(max(3, shape.entities // 5))]
    pool = _boiler_pool(rng, shape.boiler_kb * 512) if shape.boiler_kb else [""]
    surfaces = [[e["name"], *e["aliases"]] for e in ents]

    page_rows = {"url": [], "warc_ts": [], "html": [], "lang": []}
    span_rows = {"url": [], "mention_id": [], "start": [], "end": []}
    gold_text, gold_mentions = {}, {}
    for i in range(shape.pages):
        prng = random.Random((seed << 24) ^ i)
        url = f"https://site{i % 37}.example/page/{i}"
        mentions = []
        roll = prng.random()
        if roll < 0.70:
            for _ in range(prng.randrange(1, 4)):
                k = prng.randrange(len(ents))
                labels = [ents[k]["id"]] if prng.random() >= 0.05 else [ents[k]["id"], NIL]
                mentions.append((prng.choice(surfaces[k]), labels))
        elif roll < 0.80:
            mentions.append((prng.choice(nils), [NIL]))
        parts = [prng.choice(_FILLER)]
        offset = len(parts[0]) + 1
        for j, (surface, labels) in enumerate(mentions):
            tmpl = prng.choice(_TEMPLATES)
            start = offset + tmpl.index("{m}")
            mid = f"{url}#m{j}"
            span_rows["url"].append(url)
            span_rows["mention_id"].append(mid)
            span_rows["start"].append(start)
            span_rows["end"].append(start + len(surface))
            gold_mentions[mid] = {"surface": surface, "labels": labels}
            sent = tmpl.format(m=surface)
            parts.append(sent)
            offset += len(sent) + 1
        parts.append(prng.choice(_FILLER))
        text = " ".join(parts)
        gold_text[url] = text
        boiler = prng.choice(pool) + prng.choice(pool)
        page_rows["url"].append(url)
        page_rows["warc_ts"].append(EPOCH_US + 137_000_000 * i)
        page_rows["html"].append(render_html(f"page {i}", text, boiler))
        page_rows["lang"].append(_LANGS[prng.randrange(len(_LANGS))])

    pages = pa.table({
        "url": pa.array(page_rows["url"], pa.string()),
        "warc_ts": pa.array(page_rows["warc_ts"], pa.timestamp("us", tz="UTC")),
        "html": pa.array(page_rows["html"], pa.binary()),
        "lang": pa.array(page_rows["lang"], pa.string()),
    })
    pages_dir = os.path.join(out_dir, "pages")
    os.makedirs(pages_dir)
    for f, lo in enumerate(range(0, shape.pages, PAGES_PER_FILE)):
        pq.write_table(
            pages.slice(lo, PAGES_PER_FILE),
            os.path.join(pages_dir, f"part-{f:05d}.parquet"),
            row_group_size=PAGES_PER_ROW_GROUP,
            compression="none",
        )
    pq.write_table(
        pa.table({
            "url": pa.array(span_rows["url"], pa.string()),
            "mention_id": pa.array(span_rows["mention_id"], pa.string()),
            "start": pa.array(span_rows["start"], pa.int32()),
            "end": pa.array(span_rows["end"], pa.int32()),
        }),
        os.path.join(out_dir, "spans.parquet"),
    )
    pq.write_table(pa.Table.from_pylist(ents), os.path.join(out_dir, "entities.parquet"))
    manifest = {"shape": asdict(shape), "seed": seed,
                "html_bytes": int(pages.column("html").nbytes)}
    with open(os.path.join(out_dir, "gold.json"), "w") as f:
        json.dump({"text": gold_text, "mentions": gold_mentions}, f)
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    return manifest


class Inputs:
    """Paths and gold tables of one cached input set."""

    def __init__(self, path: str):
        self.path = path
        self.pages = os.path.join(path, "pages")
        self.spans = os.path.join(path, "spans.parquet")
        self.entities = os.path.join(path, "entities.parquet")
        with open(os.path.join(path, "manifest.json")) as f:
            self.manifest = json.load(f)
        with open(os.path.join(path, "gold.json")) as f:
            gold = json.load(f)
        self.gold_text: dict[str, str] = gold["text"]
        self.gold_mentions: dict[str, dict] = gold["mentions"]

    def warm_page_cache(self) -> None:
        """Read every input file once, so each timed phase starts from the
        same page-cache state."""
        for root, _dirs, files in os.walk(self.path):
            for name in files:
                with open(os.path.join(root, name), "rb") as f:
                    while f.read(1 << 22):
                        pass


def prepare(cache_dir: str, key: str, shape: Shape, seed: int) -> tuple[Inputs, float]:
    """Cached input set for (key, shape, seed); returns it and the seconds
    spent generating (0.0 on a cache hit)."""
    tag = f"{key}-p{shape.pages}-b{shape.boiler_kb}-e{shape.entities}-s{seed}"
    path = os.path.join(cache_dir, tag)
    if os.path.exists(os.path.join(path, "manifest.json")):
        os.utime(path)
        return Inputs(path), 0.0
    os.makedirs(cache_dir, exist_ok=True)
    # runs in one checkout are sequential: a leftover .tmp dir is from a
    # killed run
    for d in os.listdir(cache_dir):
        if ".tmp" in d:
            shutil.rmtree(os.path.join(cache_dir, d), ignore_errors=True)
    t0 = time.monotonic()
    tmp = f"{path}.tmp"
    os.makedirs(tmp)
    generate(shape, seed, tmp)
    os.replace(tmp, path)
    gen_s = time.monotonic() - t0
    cached = sorted((os.path.join(cache_dir, d) for d in os.listdir(cache_dir)), key=os.path.getmtime)
    for old in cached[:-KEEP_CACHED]:
        shutil.rmtree(old, ignore_errors=True)
    return Inputs(path), gen_s
