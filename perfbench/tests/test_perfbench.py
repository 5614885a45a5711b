"""Self-tests for the benchmark.

Run from the checkout root: ``python3 -m pytest perfbench/tests -q``.  The
fast tests check the pieces; the ``run`` tests start the benchmark itself
(Spark included) with a one-second window, so each pass runs once cold, in
the workload's warm-up passes and in the two measured passes every run holds.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import datagen, digest, workloads  # noqa: E402
from perfbench.trace import Span, self_times  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCHMARK = json.load(_f)
WORKLOADS = [w["name"] for w in BENCHMARK["workloads"]]


def _run(workload: str, seed: int, trace: int, cwd: str = ROOT):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )
    return p


def _record(workload: str, seed: int, trace: int) -> dict:
    path = os.path.join(ROOT, ".perfbench", "results", f"{workload}-seed{seed}-trace{trace}.json")
    with open(path) as f:
        return json.load(f)


# -- pieces -------------------------------------------------------------------


def test_inputs_are_deterministic_per_seed():
    a, b, c = datagen.make_tables(5), datagen.make_tables(5), datagen.make_tables(6)
    assert all(a[t].equals(b[t]) for t in datagen.TABLES)
    assert not a["lineitem"].equals(c["lineitem"])
    assert set(a) == set(datagen.TABLES)


def test_event_chunks_are_time_contiguous_and_seeded(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    n = datagen.ROWS["events"]
    k = workloads.EVENT_CHUNKS
    assert datagen.chunk_bounds(7, n, k) == datagen.chunk_bounds(7, n, k)
    assert datagen.chunk_bounds(7, n, k) != datagen.chunk_bounds(8, n, k)
    datagen.write_inputs(7, str(tmp_path), k)
    d = tmp_path / "event_chunks"
    files = sorted(d.iterdir(), key=lambda f: f.stat().st_mtime)
    assert len(files) == k and files == sorted(d.iterdir())
    whole = pa.concat_tables(pq.read_table(f) for f in files)
    assert whole.equals(pq.read_table(tmp_path / "tables" / "events.parquet"))
    ts = whole.column("ts").to_pylist()
    assert ts == sorted(ts)


def test_seed_changes_order_not_the_work():
    orders = {tuple(workloads.headline_order(s)) for s in range(8)}
    assert tuple(workloads.headline_order(None)) in orders
    assert len(orders) > 1
    assert all(sorted(o) == sorted(next(iter(orders))) for o in orders)
    for o in orders:  # the q/x/t/p/s family order is kept
        fams = [n[0] for n in o]
        assert fams == sorted(fams, key="qxtps".index)
    files = {tuple(workloads.slt_files(ROOT, s)) for s in range(8)}
    assert len(files) > 1 and all(sorted(f) == sorted(next(iter(files))) for f in files)


def test_digest_is_order_insensitive_and_value_sensitive():
    rows = [(1, "a", 2.5), (2, None, float("nan"))]
    assert digest.rows_digest(rows, ["x", "y", "z"]) == digest.rows_digest(rows[::-1], ["x", "y", "z"])
    assert digest.rows_digest(rows, ["x", "y", "z"]) != digest.rows_digest(rows[:1], ["x", "y", "z"])
    assert digest.rows_digest([(1, "a", 2.5)], ["x", "y", "z"]) != digest.rows_digest(
        [(1, "a", 2.50001)], ["x", "y", "z"]
    )


def test_self_times_add_up_to_the_root():
    root = Span(0, 0, None, "op", 0.0, 10.0)
    build = Span(0, 1, 0, "operators.build", 1.0, 6.0)
    job = Span(0, 2, 1, "execution.job", 2.0, 4.0)
    job2 = Span(0, 3, 1, "execution.job", 3.0, 5.0)  # overlaps job
    st = self_times([root, build, job, job2])
    assert st[0] == pytest.approx(5.0)
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(2.0) and st[3] == pytest.approx(2.0)


def test_benchmark_json_matches_the_metrics_printed():
    from perfbench import run
    from perfbench.probe import METRICS
    from perfbench.run import E2E_UNITS

    assert [m["name"] for m in BENCHMARK["end_to_end"]] == list(E2E_UNITS)
    assert {m["name"]: m["unit"] for m in BENCHMARK["end_to_end"]} == E2E_UNITS
    assert {m["name"]: m["unit"] for m in BENCHMARK["per_layer"]} == METRICS
    assert WORKLOADS == list(run.WORKLOADS)


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(WORKLOADS[0], 1, 0, cwd=str(tmp_path))
    assert p.returncode != 0
    assert p.stdout.strip() == ""


# -- whole runs ------------------------------------------------------------------


@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_metric_printed_and_traced_results_identical(workload):
    results = {}
    for trace, section in ((0, "end_to_end"), (1, "per_layer")):
        p = _run(workload, 41, trace)
        assert p.returncode == 0, p.stderr[-3000:]
        out = json.loads(p.stdout.strip().splitlines()[-1])
        assert out["correct"] and out["failed"] == 0 and out["attempted"] > 0
        for m in BENCHMARK[section]:
            got = out["metrics"][m["name"]]
            assert got["unit"] == m["unit"]
            assert isinstance(got["value"], (int, float))
            assert f"{workload} {m['name']} = " in p.stdout
        assert set(out["metrics"]) == {m["name"] for m in BENCHMARK[section]}
        assert f"{workload} failed_frac = 0 " in p.stdout
        rec = _record(workload, 41, trace)
        results[trace] = {(name, d) for name, _, ok, d in rec["ops"]}
    assert results[0] == results[1]
    layers = _record(workload, 41, 1)["layers"]
    assert layers["trace.accounted_frac"] == pytest.approx(1.0, abs=0.05)
    assert layers["execution.jobs"] > 0
    if workload == "headline":
        assert layers["operators.build_jobs"] > 0 and layers["sources.load_table_calls"] > 0
        assert layers["streaming.batches"] >= workloads.EVENT_CHUNKS
        assert layers["streaming.state_rows_max"] > 0
    else:
        assert layers["session.retries"] > 0 and layers["client_context.execute_prepared_s"] > 0


def test_corrupted_expected_digest_counts_as_failed():
    seed = 990_001
    cache = os.path.join(ROOT, ".perfbench", "inputs", f"seed-{seed}")
    shutil.rmtree(cache, ignore_errors=True)
    try:
        from perfbench import run

        d = run.prepare_inputs(seed)
        path = os.path.join(d, "expected.json")
        with open(path) as f:
            exp = json.load(f)
        name = workloads.HEADLINE_FAMILIES[0][0]
        exp["expected"][name] = "0" * 64
        with open(path, "w") as f:
            json.dump(exp, f)
        p = _run("headline", seed, 0)
        assert p.returncode == 0, p.stderr[-3000:]
        out = json.loads(p.stdout.strip().splitlines()[-1])
        assert not out["correct"]
        assert out["failed"] >= 2  # the cold and the warm pass both miss
        assert f"FAILED {name}" in p.stdout
        assert "headline failed_frac = 0 " not in p.stdout
    finally:
        shutil.rmtree(cache, ignore_errors=True)


def test_other_seed_other_order_same_verdict():
    """Another seed permutes the queries and moves the event-chunk cuts; the
    checks still pass and the drain still runs one batch per chunk."""
    for seed in (43, 44):
        p = _run("headline", seed, 0)
        assert p.returncode == 0, p.stderr[-3000:]
        assert json.loads(p.stdout.strip().splitlines()[-1])["correct"]
        rec = _record("headline", seed, 0)
        ops = [o[0] for o in rec["ops"]]
        n = len(workloads.headline_order(None))
        assert ops[:n] == workloads.headline_order(None)  # the cold pass
        assert ops[n:] == workloads.headline_order(seed) * (len(ops) // n - 1)
        assert all(len(b) >= workloads.EVENT_CHUNKS for b in rec["batch_s"])
    assert workloads.headline_order(43) != workloads.headline_order(44)
    n = datagen.ROWS["events"]
    assert datagen.chunk_bounds(43, n, workloads.EVENT_CHUNKS) != datagen.chunk_bounds(
        44, n, workloads.EVENT_CHUNKS
    )
