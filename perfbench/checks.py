"""Output checks and pairwise F1, computed by the benchmark itself.

Each check returns a list of problems (empty = passed); a run that finds
any problem counts as failed.
"""

from __future__ import annotations

import random
from collections import Counter, defaultdict

from inputs import NIL


def check_text(extracted: dict[str, str], gold: dict[str, str]) -> list[str]:
    """Extracted text must be byte-identical to the generator's text for every url."""
    problems = [f"url missing from extraction: {u}" for u in gold if u not in extracted]
    problems += [
        f"text differs for {u}"
        for u, t in gold.items()
        if u in extracted and (extracted[u] or "").encode() != t.encode()
    ]
    return problems[:20]


def check_assignment(rows: list[tuple[str, str]], gold_mentions: dict[str, dict]) -> list[str]:
    """Every span's mention_id appears in exactly one cluster row, and mentions
    with byte-identical surfaces share a cluster: the pipeline clusters
    normalized surfaces, so equal surfaces cannot be split."""
    counts = Counter(m for m, _ in rows)
    problems = [
        f"mention {m} in {counts.get(m, 0)} cluster rows"
        for m in gold_mentions
        if counts.get(m, 0) != 1
    ]
    cluster = dict(rows)
    by_surface: dict[str, set[str]] = defaultdict(set)
    for m, g in gold_mentions.items():
        if m in cluster:
            by_surface[g["surface"]].add(cluster[m])
    problems += [
        f"surface {s!r} split over {len(c)} clusters"
        for s, c in by_surface.items()
        if len(c) > 1
    ]
    return problems[:20]


def labeled_pairs(gold_mentions: dict[str, dict], seed: int, neg_per_pos: int = 3):
    """Seeded labeled mention pairs in linear time: for each mention with a
    non-NIL label, one positive partner sharing that label; ``neg_per_pos``
    random negatives per positive with disjoint non-NIL labels."""
    rng = random.Random(seed)
    labels = {m: frozenset(x for x in g["labels"] if x != NIL) for m, g in gold_mentions.items()}
    by_label: dict[str, list[str]] = defaultdict(list)
    for m in sorted(labels):
        for lb in sorted(labels[m]):
            by_label[lb].append(m)
    pos: set[tuple[str, str]] = set()
    for members in by_label.values():
        if len(members) < 2:
            continue
        for m in members:
            o = rng.choice(members)
            if o != m:
                pos.add((min(m, o), max(m, o)))
    ids = sorted(labels)
    neg: set[tuple[str, str]] = set()
    for _ in range(len(pos) * neg_per_pos * 4):
        if len(neg) >= len(pos) * neg_per_pos:
            break
        a, b = rng.sample(ids, 2)
        if not labels[a] & labels[b]:
            neg.add((min(a, b), max(a, b)))
    return sorted(pos), sorted(neg)


def pairwise_f1(cluster: dict[str, str], pos, neg) -> float:
    """F1 of "same cluster" predictions over the labeled pairs."""
    tp = sum(cluster.get(a) is not None and cluster.get(a) == cluster.get(b) for a, b in pos)
    fp = sum(cluster.get(a) is not None and cluster.get(a) == cluster.get(b) for a, b in neg)
    fn = len(pos) - tp
    return 2 * tp / (2 * tp + fp + fn) if tp else 0.0
