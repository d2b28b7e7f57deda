"""The benchmark's own tests (no Spark session needed):

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import harness as H  # noqa: E402
from perfbench import inputs, run, workloads  # noqa: E402


# --- the percentile rule --------------------------------------------------------

@pytest.mark.parametrize("n,want", [
    (0, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0), (99, 75.0),
    (100, 90.0), (200, 95.0), (999, 95.0), (1000, 99.0), (10_000, 99.9),
])
def test_tail_percentile_keeps_ten_samples_beyond(n, want):
    assert H.tail_percentile(n) == want
    if want is not None:
        beyond = lambda p: sum(1 for v in range(1, n + 1)  # noqa: E731
                               if v > H.percentile(range(1, n + 1), p))
        assert beyond(want) >= H.MIN_BEYOND
        assert all(beyond(p) < H.MIN_BEYOND
                   for p in H.TAIL_LADDER if p > want)


def test_percentile_nearest_rank():
    values = list(range(1, 101))
    assert H.percentile(values, 50) == 50
    assert H.percentile(values, 90) == 90
    assert H.percentile(values, 100) == 100
    assert H.percentile([3.0], 99.9) == 3.0
    assert H.percentile([5, 1, 4, 2, 3], 50) == 3


# --- seeded inputs ----------------------------------------------------------------

def test_corpus_digest_is_a_function_of_the_seed():
    assert inputs.corpus_digest(60, 1) == inputs.corpus_digest(60, 1)
    assert inputs.corpus_digest(60, 1) != inputs.corpus_digest(60, 2)


def test_upsert_plan_is_a_function_of_the_seed():
    plan = lambda seed: inputs.upsert_plan(seed, 1000, 3, 16)  # noqa: E731
    assert inputs.plan_digest(plan(1)) == inputs.plan_digest(plan(1))
    assert inputs.plan_digest(plan(1)) != inputs.plan_digest(plan(2))


def test_upsert_plan_shape():
    n_docs = 1000
    plan = inputs.upsert_plan(7, n_docs, 4, 16)
    inserted = 0
    for batch in plan:
        ids = [i for i, _ in batch]
        assert len(ids) == len(set(ids)) == 16
        new = [i for i in ids if i >= n_docs + inserted]
        assert len(new) == 4  # 3 updates : 1 insert
        inserted += len(new)
    # updates carry new content (a short doc may repeat by chance)
    updates = [(i, c) for i, c in plan[0] if i < n_docs]
    changed = sum(inputs.batch_rows([u]) != inputs.doc_rows([u[0]], 7)
                  for u in updates)
    assert changed >= len(updates) // 2


def test_catalog_tables_are_a_function_of_the_seed(tmp_path):
    small = {"documents": 50, "events": 200, "embeddings": 20,
             "orders": 60, "lineitem": 120}
    for seed, d in ((1, "a"), (1, "b"), (2, "c")):
        inputs.write_catalog_tables(str(tmp_path / d), seed, small)
    for t in small:
        a, b, c = (pd.read_parquet(tmp_path / d / f"{t}.parquet")
                   for d in "abc")
        pd.testing.assert_frame_equal(a, b)
        assert len(a) == small[t]
        assert not a.equals(c)


# --- declared metrics == printed metrics -------------------------------------

def _declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"] for m in spec["end_to_end"]},
            {m["name"] for m in spec["per_layer"]}, spec)


def test_end_to_end_metrics_match_declaration():
    e2e, _, spec = _declared()
    ops = [{"s": 0.5 + i, "cpu_s": 1.0 + i, "query": q}
           for i, q in enumerate(workloads.QUERIES * 3)]
    for w in spec["workloads"]:
        wl = workloads.WORKLOADS[w["name"]]()
        printed = run.end_to_end_metrics(wl, 5.0, 2.0, ops)
        assert set(printed) == e2e
        assert all(v > 0 for v in printed.values())


def test_catalog_cpu_is_a_whole_pass():
    """Every query's cost counts: the sum of per-query medians, so a
    regression of any one query moves the metric."""
    wl = workloads.CatalogMix()
    cpu = {q: 1.0 + k for k, q in enumerate(workloads.QUERIES)}
    ops = [{"query": q, "cpu_s": cpu[q] * f}
           for f in (0.9, 1.0, 1.2) for q in workloads.QUERIES]
    assert wl.op_cpu_s(ops) == pytest.approx(sum(cpu.values()))
    slow = [dict(o, cpu_s=o["cpu_s"] * 3) if o["query"] == "tpch_q4" else o
            for o in ops]
    assert wl.op_cpu_s(slow) == pytest.approx(
        sum(cpu.values()) + 2 * cpu["tpch_q4"])


def test_jit_cpu_reads_only_compiler_threads():
    """A process without HotSpot compiler threads (this one) has no JIT
    time, nor has one that is gone; its whole CPU time is not JIT time."""
    assert H.jit_cpu_s(os.getpid()) == 0.0
    assert H.jit_cpu_s(2 ** 22 + 1) == 0.0
    assert H.tree_cpu_s(os.getpid()) > 0.0


def test_jit_share_is_jit_over_all_cpu():
    ops = [{"cpu_s": 3.0, "jit_s": 1.0}, {"cpu_s": 5.0, "jit_s": 1.0}]
    assert run.jit_share(ops) == pytest.approx(0.2)
    assert run.jit_share([]) == 0.0


def test_per_layer_metrics_match_declaration():
    """The declared workloads' traced runs together print every declared
    per-layer metric, and no workload measures an undeclared one."""
    _, layers, spec = _declared()
    produced = set(workloads.COMMON_LAYER_METRICS)
    for w in spec["workloads"]:
        produced |= set(workloads.WORKLOADS[w["name"]].LAYER_METRICS)
    assert produced == layers
    for wl in workloads.WORKLOADS.values():
        assert set(wl.LAYER_METRICS) <= layers


def test_declared_workloads_exist():
    _, _, spec = _declared()
    assert {w["name"] for w in spec["workloads"]} <= set(workloads.WORKLOADS)


def test_assemble_rejects_undeclared_and_fills_unmeasured():
    declared = {"a_s": "s", "b": "count"}
    out = run.assemble(declared, {"a_s": 1.5})
    assert out == {"a_s": {"value": 1.5, "unit": "s"},
                   "b": {"value": 0.0, "unit": "count"}}
    with pytest.raises(KeyError):
        run.assemble(declared, {"c": 1.0})


# --- a checkout without the program ---------------------------------------------

def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "bulk_extract",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
