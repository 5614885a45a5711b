"""sqlrs_spark benchmark: run one workload and print its metrics.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload headline --seed 1 --seconds 12 --trace 0

``--workload all`` runs every workload in turn.  The last line of standard
output is one JSON object ``{"correct", "attempted", "failed", "metrics"}``;
with ``--trace 0`` the metrics are the end-to-end metrics of BENCHMARK.json,
with ``--trace 1`` the per-layer ones.  The lines before it name every
metric with its unit, the failed fraction and the host stamp.

Inputs are generated from the seed (``perfbench/datagen.py``) together
with their expected results, once per seed, under ``.perfbench/`` in the
checkout.  Each run sets the program up in a fresh process whose scratch
files (Spark warehouse, local dirs, checkpoints, temp files) live under
``.perfbench/tmp/`` and are removed afterwards.  A run fails if it leaves
any other file of the checkout changed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True

ROOT = os.getcwd()
#: The one checkout directory a run may write: inputs, results, scratch.
CACHE = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("headline", "slt_session")
WORKER_TIMEOUT_S = 150
DRIVER_MEMORY = "2g"

E2E_UNITS = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "pass_s": "s",
    "op_p50_s": "s",
    "op_p90_s": "s",
    "exec_memory_mb": "MB",
}


def _program_present() -> bool:
    return all(
        os.path.exists(os.path.join(ROOT, p))
        for p in ("sqlrs_spark/__init__.py", "sqlrs_spark/registry.py", "tests/slt")
    )


def _tree_snapshot() -> dict[str, tuple[int, int]]:
    """(size, mtime) of every file of the checkout outside the benchmark's
    cache directory and bytecode caches."""
    snap = {}
    for dirpath, dirnames, files in os.walk(ROOT):
        rel = os.path.relpath(dirpath, ROOT)
        if rel == ".":
            dirnames[:] = [d for d in dirnames if d != os.path.basename(CACHE)]
        dirnames[:] = [d for d in dirnames if d != "__pycache__"]
        for f in files:
            p = os.path.join(dirpath, f)
            try:
                st = os.lstat(p)
            except FileNotFoundError:
                continue
            snap[os.path.relpath(p, ROOT)] = (st.st_size, st.st_mtime_ns)
    return snap


def _tree_changes(before: dict, after: dict) -> list[str]:
    return sorted(k for k in before.keys() | after.keys() if before.get(k) != after.get(k))


def prepare_inputs(seed: int) -> str:
    """Inputs and expected results for ``seed``, generated once and reused."""
    d = os.path.join(CACHE, "inputs", f"seed-{seed}")
    if os.path.exists(os.path.join(d, "expected.json")):
        return d
    from perfbench import datagen, digest, workloads

    tmp = f"{d}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    datagen.write_inputs(seed, tmp, workloads.EVENT_CHUNKS)

    import duckdb

    from sqlrs_spark.registry import all_specs

    specs = all_specs()
    con = duckdb.connect()
    con.execute("SET threads = 2")
    for t in datagen.TABLES:
        path = os.path.join(tmp, "tables", f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    expected = {}
    for fam in workloads.HEADLINE_FAMILIES:
        for name in fam:
            expected[name] = digest.arrow_digest(con.execute(specs[name].oracle).arrow())
    lookups = workloads.lookup_params(seed, datagen.ROWS)
    for stmt, param in lookups:
        tbl = con.execute(workloads.PREPARED[stmt], [param]).arrow()
        expected[f"{stmt}:{param}"] = digest.arrow_digest(tbl)
    con.close()
    with open(os.path.join(tmp, "expected.json"), "w") as f:
        json.dump({"expected": expected, "lookups": lookups}, f)
    if os.path.exists(d):  # another run finished first
        shutil.rmtree(tmp, ignore_errors=True)
    else:
        os.rename(tmp, d)
    return d


def _spawn(job: dict, tmp: str) -> tuple[dict, float]:
    """Run one worker process to completion; return its result and the
    wall-clock time it was started at (set-up time counts from there)."""
    job_path = os.path.join(tmp, "job.json")
    job["result"] = os.path.join(tmp, "result.json")
    with open(job_path, "w") as f:
        json.dump(job, f)
    env = dict(os.environ)
    env.update(
        PYTHONPATH=ROOT + (os.pathsep + env["PYTHONPATH"] if env.get("PYTHONPATH") else ""),
        PYTHONDONTWRITEBYTECODE="1",
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(tmp, "local"),
        SPARK_GRAFT_CPUS=str(job["cores"]),
        # the short-lived launcher JVM of spark-submit, too
        SPARK_LAUNCHER_OPTS=" ".join(filter(None, [env.get("SPARK_LAUNCHER_OPTS"), "-XX:-UsePerfData"])),
    )
    log_path = os.path.join(tmp, "worker.log")
    with open(log_path, "w") as log:
        t0 = time.time()
        proc = subprocess.Popen(
            [sys.executable, os.path.join(ROOT, "perfbench", "worker.py"), job_path],
            cwd=ROOT,
            env=env,
            stdout=log,
            stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            proc.wait(timeout=WORKER_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            pass
        finally:
            _kill_group(proc)
    result = {"ok": False, "error": "the worker produced no result"}
    if os.path.exists(job["result"]):
        with open(job["result"]) as f:
            result = json.load(f)
    if not result.get("ok"):
        with open(log_path) as f:
            tail = f.read()[-4000:]
        result["error"] = f"{result.get('error', '')}\n--- worker log tail ---\n{tail}"
    return result, t0


def _kill_group(proc: subprocess.Popen) -> None:
    """Kill the worker's process group (it holds the JVM and the Python
    workers Spark forks) and wait until every member has ended."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.time() + 10
    while time.time() < deadline:
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)


def _cpu_times() -> list[int]:
    """The host's aggregate CPU time counters (user ... steal) from
    /proc/stat, or none where there is no such file."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return []


def run_workload(workload: str, seed: int, seconds: int, trace: bool) -> tuple[dict, dict]:
    """Returns (the printed JSON object, the full record)."""
    inputs = prepare_inputs(seed)
    with open(os.path.join(inputs, "expected.json")) as f:
        exp = json.load(f)
    tmp = os.path.join(CACHE, "tmp", f"{workload}-{os.getpid()}-{time.time_ns()}")
    os.makedirs(os.path.join(tmp, "local"))
    cores = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    job = {
        "workload": workload,
        "seed": seed,
        "seconds": seconds,
        "trace": int(trace),
        "inputs": inputs,
        "expected": exp["expected"],
        "lookups": exp["lookups"],
        "tmp": tmp,
        "cores": cores,
        "driver_memory": DRIVER_MEMORY,
        "spans": os.path.join(CACHE, "results", f"{workload}-seed{seed}.spans.jsonl"),
    }
    os.makedirs(os.path.join(CACHE, "results"), exist_ok=True)
    load_before = os.getloadavg()
    cpu_before = _cpu_times()
    try:
        res, t0 = _spawn(job, tmp)
        if not res["ok"]:
            raise RuntimeError(res["error"])
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    load_after = os.getloadavg()
    cpu = [b - a for a, b in zip(cpu_before, _cpu_times())]

    passes = res["passes"]
    all_ops = [o for p in passes for o in p["ops"]]
    failed = [o for o in all_ops if not o["ok"]]
    warm = [p for p in passes if p["measured"] and not p["traced"]]
    # latency samples: one per operation, or one per micro-batch of a drain
    warm_ops = [x for p in warm for o in p["ops"] for x in (o["samples"] or [o["s"]])]
    e2e = {
        "setup_s": res["ready_epoch"] - t0,
        "cold_pass_s": passes[0]["s"],
        "pass_s": statistics.median(p["s"] for p in warm),
        "op_p50_s": statistics.median(warm_ops),
        "op_p90_s": statistics.quantiles(warm_ops, n=10, method="inclusive")[-1],
        "exec_memory_mb": statistics.median(p["exec_memory_mb"] for p in warm),
    }
    if trace:
        from perfbench.probe import METRICS

        metrics = {k: {"value": res["layers"][k], "unit": METRICS[k]} for k in METRICS}
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    host = dict(
        res["host"],
        nproc=len(os.sched_getaffinity(0)),
        SPARK_GRAFT_CPUS=os.environ.get("SPARK_GRAFT_CPUS"),
        cores=cores,
        seed=seed,
        jvm_peak_rss_mb=res["jvm_peak_rss_mb"],
        loadavg_before=load_before,
        loadavg_after=load_after,
        # time the hypervisor gave this host's CPUs to others during the run
        cpu_steal_frac=cpu[7] / sum(cpu) if len(cpu) > 7 and sum(cpu) else None,
    )
    record = {
        "workload": workload,
        "host": host,
        "e2e": e2e,
        "failed_frac": len(failed) / len(all_ops),
        "samples": {"warm_passes": len(warm), "warm_ops": len(warm_ops)},
        "failures": failed[:20],
        "passes": [{k: p[k] for k in ("cold", "measured", "traced", "s")} for p in passes],
        "ops": [[o["name"], round(o["s"], 4), o["ok"], o["digest"]] for o in all_ops],
        "batch_s": [o["samples"] for o in all_ops if o["samples"] is not None],
        "layers": res.get("layers"),
    }
    out = {
        "correct": not failed,
        "attempted": len(all_ops),
        "failed": len(failed),
        "metrics": metrics,
    }
    return out, record


def _report(out: dict, record: dict) -> None:
    w = record["workload"]
    for name, m in out["metrics"].items():
        print(f"{w} {name} = {m['value']:.6g} {m['unit']}")
    s = record["samples"]
    print(
        f"{w} failed_frac = {record['failed_frac']:.4g} fraction"
        f" ({out['failed']} of {out['attempted']} operations)"
    )
    print(f"{w} samples: {s['warm_passes']} warm passes, {s['warm_ops']} warm latency samples")
    print(f"{w} host: {json.dumps(record['host'], sort_keys=True)}")
    for f in record["failures"]:
        print(f"{w} FAILED {f['name']}: {f['err']}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not _program_present():
        print(f"perfbench: no sqlrs_spark program under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    before = _tree_snapshot()
    names = WORKLOADS if args.workload == "all" else (args.workload,)
    results = {}
    for w in names:
        try:
            out, record = run_workload(w, args.seed, args.seconds, bool(args.trace))
        except RuntimeError as e:
            print(f"perfbench: {w} failed to run:\n{e}", file=sys.stderr)
            return 1
        rec_path = os.path.join(CACHE, "results", f"{w}-seed{args.seed}-trace{args.trace}.json")
        with open(rec_path, "w") as f:
            json.dump(record, f, indent=1)
        _report(out, record)
        results[w] = out
    changed = _tree_changes(before, _tree_snapshot())
    if changed:
        print(f"perfbench: the run changed checkout files: {changed[:20]}", file=sys.stderr)
        return 1
    if len(results) == 1:
        print(json.dumps(next(iter(results.values()))))
    else:
        print(json.dumps(results))
    return 0


if __name__ == "__main__":
    sys.exit(main())
