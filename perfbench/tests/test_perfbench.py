"""Tests of the benchmark itself: deterministic inputs, output checks
that reject wrong results, and a BENCHMARK.json that matches what the
benchmark prints.

    python3 -m pytest perfbench/tests -q                    # fast tests
    python3 -m pytest perfbench/tests -q -m "slow or not slow"   # plus one real run
"""

from __future__ import annotations

import json
import math
import os
import re
import shutil
import subprocess
import sys
import types

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import bench  # noqa: E402
import gen  # noqa: E402
import headline  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def _tables(out_dir: str) -> dict:
    return {
        n: pq.read_table(os.path.join(out_dir, n))
        for n in sorted(os.listdir(out_dir))
        if n.endswith(".parquet")
    }


@pytest.mark.parametrize(
    "make", [lambda d, s: gen.ratings(d, s, 5000), lambda d, s: gen.orders_lineitem(d, s, 2000)]
)
def test_generators_are_deterministic_per_seed(tmp_path, make):
    dirs = [tmp_path / name for name in ("a", "b", "c")]
    for d in dirs:
        d.mkdir()
    facts = [make(str(dirs[0]), 7), make(str(dirs[1]), 7), make(str(dirs[2]), 8)]
    a, b, c = (_tables(str(d)) for d in dirs)
    assert a and all(a[n].equals(b[n]) for n in a)
    assert not all(a[n].equals(c[n]) for n in a)
    strip = lambda f: {k: v for k, v in f.items() if k != "path"}  # noqa: E731
    assert strip(facts[0]) == strip(facts[1])


def test_generator_facts_match_rows(tmp_path):
    r = gen.ratings(str(tmp_path), 3, 5000)
    t = pq.read_table(r["path"]).to_pandas()
    assert t["tconst"].is_unique and t["tconst"].str.fullmatch(r"tt\d{7,}").all()
    keys = (t["averageRating"] + 0.5).map(math.floor)
    assert keys.value_counts().to_dict() == r["census"]
    o = gen.orders_lineitem(str(tmp_path), 3, 2000)
    orders = pq.read_table(os.path.join(o["path"], "orders.parquet")).to_pandas()
    li = pq.read_table(os.path.join(o["path"], "lineitem.parquet")).to_pandas()
    urgent = set(orders.loc[orders.o_orderpriority == workloads.URGENT, "o_orderkey"])
    assert o["urgent_orders"] == len(urgent)
    assert o["urgent_lines"] == li.l_orderkey.isin(urgent).sum()
    assert o["rows"] == len(li)


def _paper_fp_rate(n: int, p: float, bits_scale: float = 1.0) -> float:
    """Ideal false-positive rate of a filter sized with the paper's
    formulas, k = ceil(log2 1/p) and m = ceil(-n ln p / ln^2 2), with
    m scaled by ``bits_scale``. Restated here, not imported from the
    engine, so a change to the engine's sizing cannot move it."""
    k = math.ceil(-math.log(p) / math.log(2))
    m = math.ceil(bits_scale * -n * math.log(p) / math.log(2) ** 2)
    return (1.0 - math.exp(-k * n / m)) ** k


def _fp_case(bits_scale: float = 1.0):
    """A sweep result with false positives at the ideal rate of
    filters with ``bits_scale`` times the paper's bits."""
    census = {5: 40_000, 6: 60_000, 7: 30_000}
    test = {5: 16_000, 6: 24_000, 7: 12_000}
    rows = []
    for p in workloads.FP_SWEEP_PS:
        for key, t in test.items():
            fp = round(t * _paper_fp_rate(census[key] - t, p, bits_scale))
            rows.append({"key": str(key), "p": p, "false_positives": fp,
                         "total_tests": t, "fp_rate": fp / t})
    return rows, census, test


def test_fp_check_accepts_a_correct_sweep():
    rows, census, test = _fp_case()
    assert workloads.check_fp_sweep(rows, census, test, workloads.FP_SWEEP_PS) == []


@pytest.mark.parametrize("corrupt", [
    lambda r: r[0].update(total_tests=r[0]["total_tests"] + 1),
    lambda r: r[1].update(false_positives=r[1]["false_positives"] * 3),
    lambda r: r[2].update(false_positives=0, fp_rate=0.0),
    lambda r: r[3].update(fp_rate=r[3]["fp_rate"] + 0.01),
    lambda r: r.pop(4),
])
def test_fp_check_rejects_a_corrupted_sweep(corrupt):
    rows, census, test = _fp_case()
    corrupt(rows)
    assert workloads.check_fp_sweep(rows, census, test, workloads.FP_SWEEP_PS)


def test_fp_check_rejects_undersized_filters():
    """Filters with 10% fewer bits than p needs miss p at every p."""
    rows, census, test = _fp_case(bits_scale=0.9)
    errors = workloads.check_fp_sweep(rows, census, test, workloads.FP_SWEEP_PS)
    assert {e.split()[0] for e in errors} == {f"p={p}" for p in workloads.FP_SWEEP_PS}


def test_semijoin_check():
    facts = {"urgent_orders": 10, "urgent_lines": 40}
    ref = {"rows": 10, "items": 40, "hash": "123"}
    assert workloads.check_semijoin(dict(ref), ref, facts) == []
    for bad in ({"hash": "124"}, {"rows": 11}, {"items": 39}):
        assert workloads.check_semijoin({**ref, **bad}, ref, facts)


def test_catalog_count_check():
    recorded = headline.recorded_counts()
    assert sorted(recorded) == sorted(bench.HEADLINE)
    assert workloads.check_counts(dict(recorded), recorded) == []
    assert workloads.check_counts({**recorded, "q1_pricing_summary": 7}, recorded)
    assert workloads.check_counts({}, recorded)


def _module(name: str, source: str) -> types.ModuleType:
    mod = types.ModuleType(name)
    exec(source, vars(mod))
    return mod


def test_call_log_ties_a_traced_form_to_its_op(monkeypatch):
    layers = _module("fakeengine.layers", (
        "def build(df, key, p=0.1):\n    return helper(df)\n"
        "def helper(df):\n    return probe(df, 1)\n"
        "def probe(df, k):\n    return k\n"
    ))
    ops = _module("fakeengine.ops", (
        "def op(df):\n    build(df, 'a')\n    return probe(df, k=2)\n"
        "def rerouted(df):\n    return probe(df, k=2)\n"
    ))
    ops.build, ops.probe = layers.build, layers.probe  # from .layers import build, probe
    monkeypatch.setitem(sys.modules, "fakeengine.layers", layers)
    monkeypatch.setitem(sys.modules, "fakeengine.ops", ops)
    log = spans.CallLog(modules=("fakeengine.layers",), prefix="fakeengine")

    with log.recording() as want:
        ops.op(object())
    assert want == [
        ("fakeengine.layers.build", (("df", "object"), ("key", "a"), ("p", 0.1))),
        ("fakeengine.layers.probe", (("df", "object"), ("k", 2))),
    ]
    with log.recording() as same:  # a traced form: the same calls, made through the module
        layers.build(object(), key="a")
        layers.probe(object(), 2)
    assert spans.call_diff(want, same) == ""
    with log.recording() as other:
        ops.rerouted(object())
    assert spans.call_diff(want, other).startswith("call 0 of 1 is ('fakeengine.layers.probe'")
    assert ops.build is layers.build and layers.build.__name__ == "build"
    assert not hasattr(layers.build, "__wrapped__")


NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def test_spec_is_well_formed():
    spec = _spec()
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert spec["paths"] == ["perfbench"]
    assert 2 <= len(spec["workloads"]) <= 8
    assert {w["name"] for w in spec["workloads"]} <= set(workloads.WORKLOADS)
    names = [m["name"] for k in ("workloads", "end_to_end", "per_layer") for m in spec[k]]
    assert len(names) == len(set(names)) and all(NAME.fullmatch(n) for n in names)
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert UNIT.fullmatch(m["unit"]) and m["better"] in ("lower", "higher")
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    assert setup[0]["bound"] == max(m["bound"] for m in spec["end_to_end"])
    assert {f"catalog.{k}.s" for k in bench.HEADLINE} <= {m["name"] for m in spec["per_layer"]}


def test_fails_without_the_program(tmp_path):
    """Without the engine next to it, the benchmark exits non-zero and
    prints no result."""
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "semijoin_prune",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


@pytest.mark.slow
@pytest.mark.parametrize("trace", [0, 1])
def test_output_names_match_the_spec(trace):
    spec = _spec()
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "semijoin_prune",
         "--seed", "3", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    want = spec["per_layer"] if trace else spec["end_to_end"]
    assert {k: m["unit"] for k, m in out["metrics"].items()} == {m["name"]: m["unit"] for m in want}
