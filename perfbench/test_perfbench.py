"""Tests of the benchmark itself (no Spark needed):

    python3 -m pytest perfbench/test_perfbench.py -q

* the same seed gives byte-identical inputs, another seed different ones;
* the generator's expected answers match an independent computation over
  the generated bytes, fed through the benchmark's own answer checks;
* one wrong expected value makes ``error_rate`` greater than 0;
* without the package next to it, the benchmark fails without a result.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402
import run  # noqa: E402
from workloads import WORKLOADS, Query, Workload  # noqa: E402

SMALL = {
    "json_bigfile": {"rows": 600},
    "json_dirty_parts": {"rows": 1500, "parts": 4, "bad_frac": 0.01},
    "write_roundtrip": {"rows": 5000},
    "pipeline_ops": {"docs": 60, "vecs": 40, "dup_frac": 0.05},
}


def _gen(tmp: Path, workload: str, seed: int):
    return gen.ensure_inputs(tmp / f"s{seed}", workload, seed, **SMALL[workload])


@pytest.mark.parametrize("workload", ["json_bigfile", "json_dirty_parts", "pipeline_ops"])
def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path, workload):
    a, exp_a, _ = _gen(tmp_path / "a", workload, 7)
    b, exp_b, _ = _gen(tmp_path / "b", workload, 7)
    c, _, _ = _gen(tmp_path / "c", workload, 8)
    assert gen.tree_digest(a) == gen.tree_digest(b)
    assert exp_a == exp_b
    assert gen.tree_digest(a) != gen.tree_digest(c)


def test_roundtrip_expected_depends_on_seed(tmp_path):
    _, e7, _ = _gen(tmp_path / "a", "write_roundtrip", 7)
    _, e7b, _ = _gen(tmp_path / "b", "write_roundtrip", 7)
    _, e8, _ = _gen(tmp_path / "c", "write_roundtrip", 8)
    assert e7 == e7b and e7["k3_sum_id"] != e8["k3_sum_id"]


def test_cache_reuses_and_evicts(tmp_path):
    size = SMALL["json_bigfile"]
    d1, _, t1 = gen.ensure_inputs(tmp_path, "json_bigfile", 1, **size)
    _, _, t2 = gen.ensure_inputs(tmp_path, "json_bigfile", 1, **size)
    assert t1 > 0 and t2 == 0.0
    gen.ensure_inputs(tmp_path, "json_bigfile", 2, **size)
    assert not d1.exists()  # only the newest seed is kept


# ------------------------------------------- answers computed independently


def _rows_of(files: list[Path]) -> tuple[list[dict], int]:
    """(parsed rows, malformed line count) with the standard json module."""
    rows, bad = [], 0
    for f in files:
        for line in f.read_bytes().splitlines():
            try:
                rows.append(json.loads(line))
            except ValueError:
                bad += 1
    return rows, bad


def _full(rows: list[dict]) -> dict:
    return {
        "sum_id": sum(r["id"] for r in rows),
        "sum_k": sum(r["k"] for r in rows),
        "sum_v": sum(r["v"] for r in rows),
        "sum_score": sum(r["meta"]["score"] for r in rows),
        "n_flag": sum(r["flag"] for r in rows),
        "text_len": sum(len(r["uid"]) + sum(len(r[c]) for c in gen.FILLERS) for r in rows),
    }


def _answers(workload: str, inp: Path) -> dict:
    """The answer each query of ``workload`` must give, as Spark would
    return it, computed without the generator's own bookkeeping."""
    from pyspark.sql import Row

    if workload == "json_bigfile":
        rows, _ = _rows_of([inp / "big.ndjson"])
        k3 = [r for r in rows if r["k"] == 3]
        langs: dict[str, list] = {}
        for r in rows:
            acc = langs.setdefault(r["meta"]["lang"], [0, 0.0])
            acc[0] += 1
            acc[1] += r["v"]
        return {
            "json_full_s": [Row(rows=len(rows), **_full(rows))],
            "json_project_s": [Row(sum_v=sum(r["v"] for r in rows))],
            "json_filter_s": [Row(k3_rows=len(k3), k3_sum_id=sum(r["id"] for r in k3))],
            "json_agg_s": [Row(lang=k, n=n, sum_v=v) for k, (n, v) in langs.items()],
        }
    rows, bad = _rows_of(sorted((inp / "parts").iterdir()))
    lines = len(rows) + bad
    return {
        "dirty_permissive_s": [Row(lines=lines, malformed=bad, **_full(rows))],
        "event_project_s": [
            Row(
                lines=lines,
                rows=len(rows),
                sum_id=sum(r["id"] for r in rows),
                sum_k=sum(r["k"] for r in rows),
            )
        ],
    }


def _offline_bench(workload: str, inp: Path, exp: dict) -> run.Bench:
    """A Bench whose queries return the independently computed answers
    and go through the workload's real checks and error accounting."""
    answers = _answers(workload, inp)
    wl = WORKLOADS[workload]
    fake = Workload(
        wl.name,
        wl.first_plan,
        [Query(q.metric, lambda ctx, m=q.metric: (answers[m], None), q.check) for q in wl.queries],
    )
    from spans import Tracer
    from workloads import Ctx

    b = run.Bench(fake, inp, exp, 7, 0.0, False)
    b.ctx = Ctx(None, inp, exp, 7, Tracer(False))
    return b


@pytest.mark.parametrize("workload", ["json_bigfile", "json_dirty_parts"])
def test_expected_answers_pass_the_checks(tmp_path, workload):
    inp, exp, _ = _gen(tmp_path, workload, 7)
    if workload == "json_dirty_parts":
        assert exp["malformed"] == 15  # 1% of 1500 lines were cut
    b = _offline_bench(workload, inp, exp)
    b.measure()
    assert b.attempted == (run.WARMUP_PASSES + run.MIN_PASSES) * len(WORKLOADS[workload].queries)
    assert b.failed == 0
    assert b.end_to_end()["error_rate"][0] == 0.0


@pytest.mark.parametrize("workload", ["json_bigfile", "json_dirty_parts"])
def test_wrong_expected_value_counts_as_error(tmp_path, workload):
    inp, exp, _ = _gen(tmp_path, workload, 7)
    exp = dict(exp, sum_id=exp["sum_id"] + 1)
    b = _offline_bench(workload, inp, exp)
    b.measure()
    assert b.failed >= 1
    assert b.end_to_end()["error_rate"][0] > 0


def test_canon_orders_columns_and_rows():
    from workloads import canon

    assert canon(["b", "a"], [(2, 1.5), (1, None)]) == [("1.5", "2"), ("<null>", "1")]


# ------------------------------------------------------------------ contract


def test_fails_without_the_package(tmp_path):
    shutil.copytree(HERE, tmp_path / HERE.name, ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, f"{HERE.name}/run.py", "--workload", "json_bigfile", "--seed", "1", "--seconds", "1"],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=60,
    )
    assert p.returncode != 0 and p.stdout == ""


def test_metric_lists_match_benchmark_json():
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    assert tuple(m["name"] for m in spec["end_to_end"]) == run.END_TO_END
    assert tuple(m["name"] for m in spec["per_layer"]) == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)
