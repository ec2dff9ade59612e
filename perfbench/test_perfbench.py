"""Tests of the benchmark itself: generator determinism, the metric
names BENCHMARK.json declares, and tiny-size runs of every workload,
untraced and traced.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import gen, run  # noqa: E402

TINY = 0.02
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# ------------------------------------------------------------- generators

def test_text_chains_is_a_function_of_the_seed():
    a = gen.text_chains(5, 3, 10, 20, 7)
    b = gen.text_chains(5, 3, 10, 20, 7)
    c = gen.text_chains(6, 3, 10, 20, 7)
    assert a.docs.equals(b.docs) and a.labels == b.labels
    assert not a.docs["text"].equals(c.docs["text"])
    assert len(a.docs) == 3 * 10 + 20 + 7
    assert sorted(a.labels) == sorted(a.docs["doc_id"])


def test_text_chain_neighbours_differ_by_one_token():
    # rows keep generation order (only the ids are permuted)
    docs = [t.split() for t in gen.text_chains(1, 1, 6, 0, 0).docs["text"]]
    assert all(len(d) == gen.DOC_TOKENS for d in docs)
    for a, b in zip(docs, docs[1:]):
        assert sum(x != y for x, y in zip(a, b)) <= 1


def test_exact_batches_are_a_function_of_the_seed():
    a = gen.exact_batches(3, 500, 250)
    b = gen.exact_batches(3, 500, 250)
    c = gen.exact_batches(4, 500, 250)
    assert a[0].equals(b[0]) and a[2].equals(b[2]) and a[1] == b[1]
    assert not a[0]["account"].equals(c[0]["account"])


def test_exact_truth_is_consistent():
    b1, t1, b2, t2 = gen.exact_batches(9, 2_000, 1_000)
    assert t1.record_count == len(b1) and not t1.seen_rows
    assert t1.dupe_count == len(t1.dup_pairs) > 0
    assert t1.hash_count == b1[["account", "region"]].drop_duplicates().shape[0]
    assert t2.seen_rows and t2.record_count == len(b2) - len(t2.seen_rows)
    keys1 = set(b1["account"])
    seen = set(b2.loc[b2["account"].isin(keys1), "row_id"])
    assert seen == t2.seen_rows


def test_pair_scores():
    planted = {1: "a", 2: "a", 3: "a", 4: "b"}
    assert gen.pair_scores(planted, {1: 1, 2: 1, 3: 1, 4: 4}) == (1.0, 1.0)
    # split {1,2,3} into {1,2},{3}: one of three planted pairs found
    assert gen.pair_scores(planted, {1: 1, 2: 1, 3: 3, 4: 4}) == (1 / 3, 1.0)
    # merge 4 into the family: three of six reported pairs are planted
    assert gen.pair_scores(planted, {1: 1, 2: 1, 3: 1, 4: 1}) == (1.0, 0.5)
    assert gen.set_scores(frozenset({(1, 2)}), {(1, 2), (3, 4)}) == (1.0, 0.5)


# --------------------------------------------------------- BENCHMARK.json

def test_benchmark_json_declares_what_run_prints():
    bench = _bench()
    assert set(bench) == {"command", "paths", "run_seconds", "workloads",
                          "end_to_end", "per_layer"}
    from perfbench.workloads import WORKLOADS

    assert {w["name"] for w in bench["workloads"]} <= set(WORKLOADS)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    assert e2e == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} \
        == run.per_layer_units()
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])


def test_metric_names_and_units_fit_the_charset():
    bench = _bench()
    names = [w["name"] for w in bench["workloads"]]
    for m in bench["end_to_end"] + bench["per_layer"]:
        names.append(m["name"])
        assert UNIT.match(m["unit"]), m
        assert m["better"] in ("lower", "higher"), m
    for m in bench["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    assert all(NAME.match(n) for n in names), names
    assert len(names) == len(set(names))
    assert all(len(w["why"]) <= 200 and "\n" not in w["why"]
               for w in bench["workloads"])


# ------------------------------------------------------------- smoke runs

@pytest.fixture(scope="module")
def spark():
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    s, _ = run.start_session(4, "1g")
    yield s
    run.stop_session(s)


@pytest.mark.parametrize("name", ["image_pipeline", "text_chains",
                                  "exact_incremental"])
def test_workload_untraced_and_traced(spark, tmp_path, name):
    from perfbench.probe import Tracer
    from perfbench.workloads import WORKLOADS

    wl = WORKLOADS[name](spark, 7, str(tmp_path), TINY)
    wl.prepare()
    assert wl.check(wl.run()) == (1.0, 1.0)
    untraced = wl.labels
    tr = Tracer(spark)
    assert wl.check(wl.traced(tr)) == (1.0, 1.0)
    assert wl.labels == untraced
    layers = tr.layers
    if name == "exact_incremental":
        assert layers["features"]["python_sent_mb"] == 0
        assert layers["exact"]["seen_rows"] > 0
        assert layers["sinks"]["rows_written"] > 0
    else:
        assert layers["features"]["python_sent_mb"] > 0
        assert layers["cc"]["stages"] > 0
    if name == "text_chains":
        assert layers["cc"]["rounds"] > 1
    if name == "image_pipeline":
        assert layers["cc"]["rounds"] == 1
        assert layers["verify"]["psnr_pairs"] > 0


def _cli(cwd, *args, timeout=600):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd,
        capture_output=True, text=True, timeout=timeout)


@pytest.mark.parametrize("trace", ["0", "1"])
def test_cli_prints_the_declared_metrics(trace):
    p = _cli(ROOT, "--workload", "text_chains", "--seed", "3",
             "--seconds", "1", "--trace", trace, "--scale", str(TINY))
    assert p.returncode == 0, p.stderr[-2000:]
    last = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["correct"] and last["failed"] == 0 and last["attempted"] >= 1
    want = run.per_layer_units() if trace == "1" else run.E2E_UNITS
    assert {k: v["unit"] for k, v in last["metrics"].items()} == want
    if trace == "0":
        assert last["metrics"]["pair_recall"]["value"] == 1.0
        assert all(v["value"] > 0 for v in last["metrics"].values())
        assert last["attempted"] >= 1 + run.MIN_TIMED
    else:
        assert last["metrics"]["run.first_run_s"]["value"] > 0


def test_cli_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _cli(tmp_path, "--workload", "text_chains", "--seed", "1",
             "--seconds", "1", "--trace", "0", timeout=180)
    assert p.returncode != 0 and p.stdout == ""
