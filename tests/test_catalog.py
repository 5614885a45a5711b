"""The per-session table catalog (sources/tables.py): schema inference
runs once per table per session, every resolution is a fresh scan, a
rewritten file is seen, and no operator mutates a shared view."""

from __future__ import annotations

import os
import re
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq

from sqlrs_spark.registry import all_specs
from sqlrs_spark.sources.tables import catalog, load_table, register_views

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_rewritten_table_is_reinferred(spark, tmp_path):
    """Metadata reuse, not result caching: rewriting the file mid-session
    shows both the new rows and the new schema."""
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"a": [1, 2, 3]}), path)
    first = load_table(spark, str(tmp_path), "t")
    assert sorted(r.a for r in first.collect()) == [1, 2, 3]
    pq.write_table(pa.table({"a": [10, 20], "b": ["x", "y"]}), path)
    second = load_table(spark, str(tmp_path), "t")
    assert second.columns == ["a", "b"]
    assert sorted(tuple(r) for r in second.collect()) == [(10, "x"), (20, "y")]


def test_self_join_of_two_resolutions(spark, sf_dir):
    """Each resolution is a fresh scan with its own attribute ids, so the
    classic self-join pitfall (one frame's column on both sides) cannot
    arise."""
    a = load_table(spark, sf_dir, "nation")
    b = load_table(spark, sf_dir, "nation")
    got = a.join(b, a["n_regionkey"] == b["n_regionkey"]).select(
        a["n_nationkey"], b["n_nationkey"]
    )
    per_region = Counter(
        pq.read_table(f"{sf_dir}/nation.parquet")["n_regionkey"].to_pylist()
    )
    assert got.count() == sum(n * n for n in per_region.values())
    assert got.filter(a["n_nationkey"] == b["n_nationkey"]).count() == sum(per_region.values())


def test_p33_leaves_the_documents_view_plain(spark, oracle_sf_dir, tmp_path):
    """p33 reads a private repartitioned scan: its own plan repartitions
    the single-row-group input, the session's ``documents`` view does not,
    and no temp view is left behind."""
    par = spark.sparkContext.defaultParallelism
    docs = pq.read_table(f"{oracle_sf_dir}/documents.parquet")
    reps = -(-32 * par // docs.num_rows)
    big = pa.concat_tables([docs] * reps)
    pq.write_table(big, tmp_path / "documents.parquet", row_group_size=big.num_rows)
    sf = str(tmp_path)
    register_views(spark, sf, ("documents",))
    try:
        views = {t.name for t in spark.catalog.listTables()}
        p33 = all_specs()["p33_span_scrub"].fn(spark, sf)
        assert "Repartition" in _optimized(p33)
        assert "Repartition" not in _optimized(spark.table("documents"))
        assert {t.name for t in spark.catalog.listTables()} == views
    finally:
        spark.catalog.dropTempView("documents")


def test_second_q05_build_launches_no_jobs(spark, sf_dir):
    """Schemas come from the catalog and the measured reduction from the
    session's memo, so rebuilding q05 runs no Spark job."""
    build = all_specs()["q05_local_volume"].fn
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    build(spark, sf_dir)
    job0 = dag.nextJobId()
    build(spark, sf_dir)
    assert dag.nextJobId() == job0
    assert catalog(spark).measured, "q05's measured reduction is memoized"
    assert catalog(spark.newSession()).measured == [], "memos are per session"


#: Read-backs of files the operator itself has just written, per module:
#: they must see exactly those files, so they bypass the catalog.
_READ_BACKS = {
    "sqlrs_spark/operators/statements.py": 4,  # v09, v11, x34 fact + dim
    "sqlrs_spark/operators/temporal.py": 1,  # p34 aggregate state
    "sqlrs_spark/streaming/ops.py": 1,  # s08 foreachBatch sink
}


def test_base_tables_resolve_through_the_catalog():
    """One resolution path: no module outside sources/tables.py reads
    parquet by path, apart from the listed read-backs."""
    found: dict[str, int] = {}
    for root, _, files in os.walk(os.path.join(REPO, "sqlrs_spark")):
        for f in files:
            if not f.endswith(".py"):
                continue
            rel = os.path.relpath(os.path.join(root, f), REPO)
            with open(os.path.join(REPO, rel)) as fh:
                n = len(re.findall(r"\.read\.parquet\(", fh.read()))
            if n and rel != "sqlrs_spark/sources/tables.py":
                found[rel] = n
    assert found == _READ_BACKS
