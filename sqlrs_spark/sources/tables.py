"""Parquet base tables, resolved through one per-session catalog.

Every base-table reference (``load_table``, ``register_views``,
``common.t``, the ``FROM 'x.parquet'`` replacement scan, bucketed-layout
adoption) binds against a :class:`TableCatalog` entry that already holds
the table's schema, like the reference's ``TableCatalogEntry`` (SURVEY
§1.1).  An entry is METADATA only, what Spark would otherwise re-derive
per read: the inferred schema (a schema-less ``spark.read.parquet`` runs a
one-task footer job per call) and layout facts (files, row groups, rows).
Each resolution is a fresh ``spark.read.schema(cached).parquet(path)``: no
job, distinct attribute ids per scan (self-joins), full pushdown, and every
execution still scans parquet.  Entries are stamped with the file count,
newest ``st_mtime_ns`` and total size, so a rewritten table is re-inferred.
The catalog lives on the SparkContext under the session's id (every Python
handle of a session shares it; it dies with the context) and also holds the
session's measured-broadcast and bloom memos (``operators.common``).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _data_files(path: str) -> tuple[list[str], tuple[int, int, int]]:
    """The data files of a parquet table path and their stamp (file count,
    newest ``st_mtime_ns``, total bytes).  Names starting with ``_`` or
    ``.`` are not data, as in Spark's own file listing."""
    files = [path]
    if os.path.isdir(path):
        files = []
        for root, dirs, fs in os.walk(path):
            dirs[:] = sorted(d for d in dirs if not d.startswith(("_", ".")))
            files += [os.path.join(root, f) for f in sorted(fs) if not f.startswith(("_", "."))]
    stats = [os.stat(f) for f in files]
    mtime = max((s.st_mtime_ns for s in stats), default=0)
    return files, (len(files), mtime, sum(s.st_size for s in stats))


def _scan_units(files: list[str]) -> tuple[int, int]:
    """(splittable units, rows) of a parquet table: the number of row
    groups across part files — the finest granularity Spark can assign to
    independent scan tasks (parquet is row-group-splittable, never
    within a row group)."""
    import pyarrow.parquet as pq

    units = rows = 0
    for f in files:
        md = pq.ParquetFile(f).metadata
        units += md.num_row_groups
        rows += md.num_rows
    return units, rows


@dataclass
class _Entry:
    stamp: tuple[int, int, int]
    files: list[str]
    schema: StructType
    layout: tuple[int, int] | None = None  # (row groups, rows), read on first use


@dataclass
class TableCatalog:
    """One session's table entries, keyed by path, plus its memos."""

    spark: SparkSession
    entries: dict[str, _Entry] = field(default_factory=dict)
    #: operators.common.measured_broadcast: (key, input_df, result,
    #: persisted_or_None, measured_rows), least recently used first
    measured: list[tuple] = field(default_factory=list)
    #: operators.common.bloom_prefilter: (key, reduction_df, bloom_bytes)
    blooms: list[tuple] = field(default_factory=list)

    def entry(self, path: str) -> _Entry:
        files, stamp = _data_files(path)
        e = self.entries.get(path)
        if e is None or e.stamp != stamp:
            schema = self.spark.read.parquet(path).schema
            e = self.entries[path] = _Entry(stamp, files, schema)
        return e

    def read(self, path: str) -> DataFrame:
        """A fresh scan of the parquet table at ``path``."""
        try:
            schema = self.entry(path).schema
        except OSError:
            # not a local path: Spark resolves it (and reports what is wrong)
            return self.spark.read.parquet(path)
        return self.spark.read.schema(schema).parquet(path)

    def layout(self, path: str) -> tuple[int, int]:
        """(row groups, rows) of the table at ``path``."""
        e = self.entry(path)
        if e.layout is None:
            e.layout = _scan_units(e.files)
        return e.layout


def catalog(spark: SparkSession) -> TableCatalog:
    """The catalog of ``spark``'s session, created on first use."""
    catalogs = spark.sparkContext.__dict__.setdefault("_sqlrs_catalogs", {})
    key = spark._jsparkSession.sessionUUID()
    cat = catalogs.get(key)
    if cat is None:
        cat = catalogs[key] = TableCatalog(spark)
    return cat


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = f"{sf_dir}/{name}.parquet"
    if name != "events":
        return catalog(spark).read(path)
    # events.ts has shipped as both TIMESTAMP(NANOS) (round 1) and naive
    # timestamp[us] (current testdata).  NANOS is rejected by Spark's
    # vectorized reader, so keep the nanos-as-long fallback: if the file
    # is NANOS the column surfaces as bigint and gets truncated to
    # micros (the same truncation DuckDB applies); a micros file reads
    # straight through as TIMESTAMP_NTZ and the branch is a no-op.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = catalog(spark).read(path)
    if dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def register_views(spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TABLES) -> None:
    """Register each parquet table as a temp view named by table name."""
    for t in tables:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)


def parallelized(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Table ``name`` with the unsplittable-input repartition when its
    layout calls for it — the standard remedy for one huge unsplittable
    file (repartition immediately after the read), OPT-IN per consumer.  Returns a private frame; no view is touched, so other
    operators of the session keep the plain scan.

    Parquet scans parallelize at row-group granularity, and the small-SF
    testdata ships every table as ONE file with ONE row group — so every
    pre-exchange stage of every query runs on a single core no matter the
    session's core count.  Whether that matters is a per-CONSUMER
    question the optimizer cannot answer (guide §8: use what you know
    that it does not): measured same-session interleaved at sf0.1/32
    cores, the md5-per-gram explode pipeline (p33) wins ~2x
    (off {3.35, 2.76, 2.88, 2.62} s vs on {1.90, 1.41, 1.34, 1.42} s)
    because its per-row compute is ~200 md5+conv calls per document,
    while every cheap-per-row consumer LOSES the cost of the extra
    exchange: q01 0.78→1.19, q05 0.97→1.44, t01 0.93→1.52,
    p01 0.28→0.51, p06 0.74→0.91, p38 1.48→1.89, p20 1.07→1.39 (measured
    before a blanket version of this was rejected).  Hence: a consumer
    that knows its per-row cost is heavyweight reads through this;
    everyone else keeps the plain scan.

    Scale honesty: the trigger is the MEASURED layout — row groups <
    session parallelism — never a scale factor, so on any real cluster
    dataset (thousands of row groups) or the sharded bench replicas this
    is a no-op; the row floor keeps toy fixtures (sf0.001/0.01
    correctness runs, degenerate-table fixtures) out.  The round-robin
    repartition carries only the columns Catalyst keeps below it
    (pruning and filter pushdown both pass through a Repartition node —
    plans/r09/p33_span_scrub_after.txt).  Disable with
    SQLRS_SCAN_PARALLELIZE=0.
    """
    df = load_table(spark, sf_dir, name)
    if os.environ.get("SQLRS_SCAN_PARALLELIZE", "1") == "0":
        return df
    try:
        par = spark.sparkContext.defaultParallelism
        units, rows = catalog(spark).layout(f"{sf_dir}/{name}.parquet")
    except Exception:  # noqa: BLE001 — layout probing must never break a read
        return df
    if units >= par or rows < 32 * par:
        return df
    return df.repartition(par)
