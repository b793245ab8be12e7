"""The benchmark's own tests.

    python -m pytest perfbench/test_perfbench.py -q        # ~5 min, runs Spark

The check tests need no Spark; the emission test runs every workload once,
untraced and traced, at tiny size.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
from inputs import Inputs, Shape, generate  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


@pytest.fixture(scope="module")
def gold(tmp_path_factory):
    out = tmp_path_factory.mktemp("inputs")
    generate(Shape(pages=120, boiler_kb=1, entities=15), seed=5, out_dir=str(out))
    return Inputs(str(out))


def _true_assignment(inp: Inputs) -> list[tuple[str, str]]:
    return [(m, "C:" + g["surface"]) for m, g in inp.gold_mentions.items()]


def test_checks_pass_on_true_outputs(gold):
    assert checks.check_text(dict(gold.gold_text), gold.gold_text) == []
    assert checks.check_assignment(_true_assignment(gold), gold.gold_mentions) == []


def test_text_check_fails_on_one_changed_byte(gold):
    extracted = dict(gold.gold_text)
    url = sorted(extracted)[7]
    t = extracted[url]
    extracted[url] = t[:3] + chr(ord(t[3]) ^ 1) + t[4:]
    assert checks.check_text(extracted, gold.gold_text) == [f"text differs for {url}"]
    del extracted[url]
    assert checks.check_text(extracted, gold.gold_text)


def test_assignment_check_fails_on_one_flipped_cluster_id(gold):
    rows = _true_assignment(gold)
    surfaces = [g["surface"] for g in gold.gold_mentions.values()]
    i = next(i for i, (m, _) in enumerate(rows)
             if surfaces.count(gold.gold_mentions[m]["surface"]) > 1)
    rows[i] = (rows[i][0], "flipped")
    assert checks.check_assignment(rows, gold.gold_mentions)


def test_assignment_check_fails_on_missing_or_duplicate_mention(gold):
    rows = _true_assignment(gold)
    assert checks.check_assignment(rows[1:], gold.gold_mentions)
    assert checks.check_assignment(rows + rows[:1], gold.gold_mentions)


def test_pairwise_f1(gold):
    pos, neg = checks.labeled_pairs(gold.gold_mentions, seed=3)
    assert pos and neg
    assert (pos, neg) == checks.labeled_pairs(gold.gold_mentions, seed=3)
    by_label = {m: next((x for x in g["labels"] if x != "-1"), m)
                for m, g in gold.gold_mentions.items()}
    assert checks.pairwise_f1(by_label, pos, neg) == 1.0
    one = {m: "all" for m in gold.gold_mentions}
    assert checks.pairwise_f1(one, pos, neg) == pytest.approx(2 * len(pos) / (2 * len(pos) + len(neg)))


def test_link_lines_switch_job_groups_and_read_counts():
    from traced import _LinkLines

    class Ctx:
        groups: list[str] = []

        def setJobGroup(self, group, _description):
            self.groups.append(group)

    class Session:
        sparkContext = Ctx()

    lines = _LinkLines(Session(), {"[link] keys+embs": "blocking", "[link] pairs_me gen": "scoring"})
    print("[link] keys+embs materialize (local_pairs=False): 0.50s", file=lines)
    lines.write("[link] pairs_me generation only (n=1")
    lines.write("23): 0.40s\n")
    assert Session.sparkContext.groups == ["blocking", "scoring"]
    assert lines.count("[link] pairs_me generation only") == 123
    assert lines.count("[link] pairs_mm generation only") == 0


def _benchmark_json() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_names_the_workloads():
    spec = _benchmark_json()
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)


@pytest.mark.parametrize("workload", list(WORKLOADS))
@pytest.mark.parametrize("trace", [0, 1])
def test_every_metric_is_emitted_with_its_unit(workload, trace):
    spec = _benchmark_json()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "9", "--seconds", "1", "--trace", str(trace), "--tiny"],
        stdout=subprocess.PIPE, text=True, timeout=600,
    )
    assert proc.returncode == 0
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = spec["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {m["name"]: m["unit"] for m in want}
