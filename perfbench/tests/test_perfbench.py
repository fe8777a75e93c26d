"""Tests of the benchmark itself (no Spark needed).

Run from the root of a checkout::

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import gen, layers, oracle, run, suite, workloads  # noqa: E402

BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())


def test_names_match_benchmark_json():
    assert [w["name"] for w in BENCH["workloads"]] == list(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in BENCH["end_to_end"]} == run.UNITS
    assert [(m["name"], m["unit"]) for m in BENCH["per_layer"]] == list(
        layers.CATALOG
    )
    assert BENCH["command"] == ["python3", "perfbench/run.py"]


def _tree(root: Path) -> dict[str, bytes]:
    return {
        str(p.relative_to(root)): p.read_bytes()
        for p in sorted(root.rglob("*")) if p.is_file()
    }


def test_mef_generator_is_deterministic_per_seed(tmp_path):
    a = gen.write_mef_inputs(tmp_path / "a", 7, 2019, 600)
    b = gen.write_mef_inputs(tmp_path / "b", 7, 2019, 600)
    c = gen.write_mef_inputs(tmp_path / "c", 8, 2019, 600)
    assert _tree(tmp_path / "a") == _tree(tmp_path / "b")
    assert _tree(tmp_path / "a") != _tree(tmp_path / "c")
    assert (a.rows, a.nbytes) == (b.rows, b.nbytes)
    # the dirt the pipeline must survive is present, under the 1% gate
    lines = sum(f.lines for f in a.bulk)
    malformed = sum(f.malformed for f in a.bulk)
    assert 0 < malformed < 0.01 * lines
    assert sum(f.invalid_year for f in a.bulk) > 0
    assert {f.encoding for f in a.files} == {"utf-8", "latin-1"}
    raw = a.bulk[1].path.read_bytes()
    assert "EDUCACIÓN".encode("latin-1") in raw
    # the next edition re-delivers the previous one byte for byte
    assert a.append.path.read_bytes().startswith(raw)
    assert a.append.months == (*a.bulk[1].months, 7)


def test_zone_generators_are_deterministic_per_seed():
    vocab = gen.vocabulary(3)
    assert vocab == gen.vocabulary(3) != gen.vocabulary(4)
    assert gen.documents(3, 0, 50, vocab) == gen.documents(3, 0, 50, vocab)
    assert gen.embeddings(3, 0, 20) == gen.embeddings(3, 0, 20)
    assert gen.orders(3, 0, 50) == gen.orders(3, 0, 50)
    assert gen.orders(3, 0, 50) != gen.orders(4, 0, 50)


@pytest.fixture(scope="module")
def mef_truth(tmp_path_factory):
    plan = gen.write_mef_inputs(tmp_path_factory.mktemp("mef"), 5, 2019, 600)
    truth = oracle.MefOracle()
    truth.load(plan.bulk)
    return plan, truth


def test_checker_flags_a_perturbed_result(mef_truth):
    _, truth = mef_truth
    expected = truth.q1(2019, 12)
    assert oracle.same(list(expected), expected, ordered=True)
    bumped = [expected[0][:-1] + (expected[0][-1] + 0.01,), *expected[1:]]
    assert not oracle.same(bumped, expected, ordered=True)
    assert not oracle.same(expected[1:], expected, ordered=True)
    swapped = [expected[1], expected[0], *expected[2:]]
    assert not oracle.same(swapped, expected, ordered=True)
    assert oracle.same(swapped, expected, ordered=False)


def test_redelivered_months_count_once(mef_truth):
    plan, truth = mef_truth
    before = sorted(truth.agg_mensual(2020, 3))
    truth.load([plan.append])
    assert sorted(truth.agg_mensual(2020, 3)) == before
    assert truth.agg_mensual(2020, 7)


def test_zone_oracles_flag_perturbations():
    docs = {1: "gasto obra via", 2: "gasto gasto salud", 3: "obra obra obra"}
    top = oracle.bm25_topk(docs, ["gasto", "obra"], 10)
    assert [d for d, _, _ in top] and [r for _, _, r in top] == [1, 2, 3]
    # delete == rebuild-on-remaining: serving a deleted doc is wrong
    after = oracle.bm25_topk({k: v for k, v in docs.items() if k != 2},
                             ["gasto", "obra"], 10)
    assert not oracle.same(top, after, ordered=False)
    assert oracle.trigram_hits(docs, "OBRA") == [(1,), (3,)]
    orders = gen.orders(1, 0, 200)
    served = oracle.agg_zone(orders, 64)
    wrong = [served[0][:2] + (served[0][2] + 1,) + served[0][3:], *served[1:]]
    assert not oracle.same(wrong, served, ordered=False)


def test_tail_picks_highest_percentile_with_ten_beyond():
    assert run.tail([1.0] * 10) is None
    pct, value = run.tail([float(i) for i in range(11)])
    assert (pct, value) == (0.0, 0.0)
    xs = [float(i) for i in range(100)]
    pct, value = run.tail(xs)
    assert sum(1 for x in xs if x > value) == 10
    assert value == 89.0 and round(pct, 3) == round(100 * 89 / 99, 3)


def test_compare_refuses_mixed_core_counts_and_run_lengths(tmp_path, capsys):
    def result(nproc, seconds=10):
        return [{"detail": {"env": {"nproc": nproc}, "workload": "x",
                            "trace": 0, "seconds": seconds},
                 "result": {"metrics": {}}}]
    a, b = tmp_path / "a.json", tmp_path / "b.json"
    a.write_text(json.dumps(result(4)))
    b.write_text(json.dumps(result(32)))
    assert suite.compare(str(a), str(b)) == 2
    assert "core counts" in capsys.readouterr().err
    b.write_text(json.dumps(result(4, seconds=20)))
    assert suite.compare(str(a), str(b)) == 2
    assert "run lengths" in capsys.readouterr().err
    b.write_text(json.dumps(result(4)))
    assert suite.compare(str(a), str(b)) == 0
