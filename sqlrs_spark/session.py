"""Session layer: SparkSession construction + the sqlrs-style SQL frontend.

The reference exposes an embedded session (``Database::run`` at
src/db.rs:107-150 v1; ``ClientContext::query`` at
src/main_entry/client_context.rs:34-102 v2).  Here the engine is Spark, so
the session is a thin wrapper over SparkSession that reproduces the
reference's *frontend* conveniences:

- ``load_csv(name, path)``       — v1 ``\\load csv`` (src/cli.rs:119-167)
- ``read_csv(path, header=, delim=)`` — v2 table function
  (src/function/table/read_csv.rs:44-199)
- replacement scan: ``SELECT * FROM 't.csv'`` rewrites to a CSV read
  (src/planner_v2/binder/tableref/bind_base_table_ref.rs:97-126)
- ``sqlrs_tables()`` / ``sqlrs_columns()`` catalog table functions
  (src/function/table/sqlrs_tables.rs:90-183, sqlrs_columns.rs)
- ``COPY t FROM 'f.csv'`` sugar → INSERT INTO t SELECT * FROM read_csv
  (src/planner_v2/binder/statement/bind_copy.rs:9-56)
- ``show tables`` / ``describe t`` / ``explain q``
  (src/planner_v2/binder/statement/bind_show_tables.rs:7-19 et al.)

Everything relational (SELECT/CREATE/INSERT/joins/aggs/...) is delegated
verbatim to Spark SQL — Catalyst covers the reference's whole optimizer rule
set natively (SURVEY.md §4).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sqlrs_spark.sources.tables import catalog


#: Compiled Catalyst extension jar (built by tools/build_extension.sh from
#: jvm/org/sqlrs/*.java).  Opt-in because a jar/extension pair only loads
#: into a FRESH JVM — getOrCreate on a live session silently ignores both.
EXTENSION_JAR = os.path.join(os.path.dirname(__file__), "jvm", "sqlrs-extensions.jar")


def build_spark(
    app_name: str = "sqlrs_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    jvm_extension: bool | None = None,
) -> SparkSession:
    """Build a local SparkSession tuned for analytics.

    Local mode is for testing only; the configuration choices (AQE,
    coalesced/skew-handled shuffles, UTC session time, Arrow transfers) are
    the ones that matter on a real multi-executor cluster too.

    ``jvm_extension=True`` (or env ``SQLRS_JVM_EXT=1``) loads the compiled
    Catalyst extension (org.sqlrs.SqlrsExtensions): the reference binder's
    alias-in-WHERE quirk then resolves as an analyzer rule instead of the
    Python frontend's regex retry (see jvm/org/sqlrs/AliasInWhereRule.java).
    """
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    shuffle_partitions = shuffle_partitions or max(cores, 4)
    if jvm_extension is None:
        jvm_extension = os.environ.get("SQLRS_JVM_EXT", "") == "1"
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Prefer shuffled-hash over sort-merge for non-broadcast equi-joins:
        # the build side is hashed instead of BOTH sides being sorted, which
        # measured 16-32% off the heavy TPC-H shapes at the 100x replica
        # (q03 5.75s->3.91s, q05 7.38s->6.17s).  Safe at cluster scale on
        # modern Spark: SHJ spills since 3.2, and AQE still upgrades to
        # broadcast / splits skewed partitions first.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        # Runtime bloom-filter join pruning (round-2 verdict #4): when a
        # SELECTIVELY filtered dimension joins a fact, inject a bloom
        # filter of the dim's join keys into the fact scan so
        # non-matching fact rows die BEFORE the shuffle (q28: p_name
        # LIKE '%red%' keeps ~13% of part and cannot reach lineitem any
        # other way).  The feature is on by default in Spark 4 but the
        # stock thresholds block it at every tested scale: creation side
        # must be <=10MB and the application-side scan >=10GB.  Widen
        # carefully — a 512MB/16M-key first attempt let q03's barely-
        # selective date filter (97% of orders) inject a saturated,
        # useless bloom whose per-task 16M-item build buffers OOMed the
        # 1000x bench: 128MB/4M keys admits genuinely selective dims
        # (q28's 2.6M filtered part keys at ~sf100) while number-heavy
        # creation sides stay blocked; the 2GB application floor keeps
        # toy SFs from paying the extra creation-side pass.
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "128MB")
        .config(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "2GB",
        )
        # These two caps also silently distort DataFrameStatFunctions
        # .bloomFilter (Spark 4 routes it through BloomFilterAggregate),
        # measured at the 1000x replica on common.bloom_prefilter's
        # ~15M-key filter:
        # - maxNumBits (default 2^26) squeezed it to 8 MB;
        # - maxNumItems (default 4M) is the sneaky one: numBits is sized
        #   for the REAL item count but numHashFunctions for the CAPPED
        #   count, so a 15M-key filter got k=16 instead of k=4 — 27.8%
        #   fpp in a filter sized for 5% (0.923^16), plus 4x the bit
        #   tests per probe.  Verified: fpp follows
        #   (1-exp(-k*n/m))^k with k = optimal(min(n, maxNumItems), m)
        #   exactly at n = 4M/8M/14.5M.
        # 2^28 bits / 32M items cover the 30M-item prefilter ceiling at
        # fpp=0.05 with slack; injected runtime filters also benefit (a
        # creation side past 4M rows now gets a correctly-k'd filter
        # instead of a saturated one, still bounded by the 32 MB cap).
        .config("spark.sql.optimizer.runtime.bloomFilter.maxNumBits", "268435456")
        .config("spark.sql.optimizer.runtime.bloomFilter.maxNumItems", "32000000")
        # Trust per-bucket sort order on bucketed scans (off by default
        # since Spark 3.0, SPARK-28169): sources/bucketing writes exactly
        # one sorted file per bucket (repartition-by-bucket-key before a
        # sortBy write), which is the one layout where the pre-3.0
        # behavior is sound — the scan then satisfies a sort-merge join's
        # ordering requirement and the join runs with zero Exchange AND
        # zero Sort.  The flag only reports ordering when the per-bucket
        # single-file check holds, so foreign multi-file buckets are
        # unaffected.
        .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 16g on a 128 GiB box: 32 concurrent local tasks × (shuffle sort
        # pages + hash-join builds + bloom aggregate buffers) blew an 8g
        # heap at the 1000x replica once runtime filters landed
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
    )
    if jvm_extension and os.path.exists(EXTENSION_JAR):
        builder = (
            builder.config("spark.jars", EXTENSION_JAR)
            .config("spark.driver.extraClassPath", EXTENSION_JAR)
            .config("spark.sql.extensions", "org.sqlrs.SqlrsExtensions")
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def configure_runtime(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable conf on a session we did not build.

    The driver hands us an already-built SparkSession; pin the conf that
    affects result *values* (time zone ↔ duckdb naive timestamps) and the
    adaptive execution flags that are safe to set at runtime.
    """
    for k, v in {
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.legacy.bucketedTableScan.outputOrdering": "true",
    }.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # non-runtime-settable on some builds; values then depend on driver conf
    return spark


_COPY_RE = re.compile(
    # opts may hold quoted values containing ')' — e.g. DELIMITER ')' —
    # so the option body consumes quoted spans atomically
    r"^\s*COPY\s+(?P<table>[A-Za-z_][\w.]*)\s+FROM\s+'(?P<path>[^']+)'"
    r"(?:\s*\(\s*(?P<opts>(?:'[^']*'|[^)'])*)\))?\s*;?\s*$",
    re.IGNORECASE,
)
_READ_CSV_RE = re.compile(
    r"read_csv\s*\(\s*'(?P<path>[^']+)'\s*"
    r"(?P<args>(?:,\s*\w+\s*=>\s*(?:'[^']*'|[^,)]+))*)\)",
    re.IGNORECASE,
)
_REPLACEMENT_SCAN_RE = re.compile(
    r"(?P<kw>\bFROM|\bJOIN)\s+'(?P<path>[^']+\.(?:csv|parquet|json))'", re.IGNORECASE
)
_SHOW_TABLES_RE = re.compile(r"^\s*show\s+tables\s*;?\s*$", re.IGNORECASE)
_DESCRIBE_RE = re.compile(r"^\s*describe\s+(?P<table>[A-Za-z_][\w.]*)\s*;?\s*$", re.IGNORECASE)
_EXPLAIN_RE = re.compile(r"^\s*explain\s+(?P<query>.+)$", re.IGNORECASE | re.DOTALL)
_SQLRS_TABLES_RE = re.compile(r"\bsqlrs_tables\s*\(\s*\)", re.IGNORECASE)
_SQLRS_COLUMNS_RE = re.compile(r"\bsqlrs_columns\s*\(\s*\)", re.IGNORECASE)

# Unsigned integer DDL (``tinyint unsigned`` …, src/types_v2/types.rs:9-26):
# Spark has no unsigned ints, so map to the next wider signed type
# (documented deviation, SURVEY §1.3 / sqlrs_spark.functions.types).
_UNSIGNED_DDL_RE = re.compile(
    r"\b(?P<base>tinyint|smallint|int(?:eger)?|bigint)\s+unsigned\b", re.IGNORECASE
)
_UNSIGNED_DDL_MAP = {
    "tinyint": "smallint",
    "smallint": "int",
    "int": "bigint",
    "integer": "bigint",
    "bigint": "decimal(20, 0)",
}
# Reference ``varchar`` is unbounded (src/types_v2/types.rs Varchar → arrow
# Utf8); Spark 4 DDL requires a length on VARCHAR, so map bare varchar → string.
_VARCHAR_DDL_RE = re.compile(r"\bvarchar\b(?!\s*\()", re.IGNORECASE)
# The reference accepts ``OFFSET n LIMIT m`` in either order
# (tests/slt/order.slt ``order by id desc offset 2 limit 1``); Spark's
# grammar only takes LIMIT before OFFSET.
_OFFSET_LIMIT_RE = re.compile(
    r"\boffset\s+(?P<off>\d+)\s+limit\s+(?P<lim>\d+)", re.IGNORECASE
)
_INSERT_VALUES_RE = re.compile(
    r"^\s*insert\s+into\s+(?P<table>[A-Za-z_][\w.]*)\s*"
    r"(?:\((?P<cols>[^)]*)\))?\s*values\s*(?P<values>.+)$",
    re.IGNORECASE | re.DOTALL,
)


# String/identifier tokens, mirroring Spark's lexer (verified on 4.1, ANSI
# mode on): single- and double-quoted literals honor BOTH backslash escapes
# (``'a\'b'`` → a'b) and quote doubling (``'it''s'``); backticked
# identifiers double the backtick.  Every regex rewrite below must skip
# these spans — a ``read_csv('f.csv')`` INSIDE a string literal is data,
# not syntax (the frontend-fuzz suite pins this down).
_LITERAL_RE = re.compile(
    r"'(?:[^'\\]|\\.|'')*'" r'|"(?:[^"\\]|\\.|"")*"' r"|`(?:[^`]|``)*`",
    re.DOTALL,
)


def _literal_spans(q: str) -> list[tuple[int, int]]:
    return [(m.start(), m.end()) for m in _LITERAL_RE.finditer(q)]


def _sub_outside_literals(pattern: re.Pattern, repl, q: str) -> str:
    """``pattern.sub(repl, q)``, but only for matches STARTING outside
    string-literal/identifier tokens.  A match may still span into a
    literal (``FROM 'x.csv'`` legitimately captures the quoted path)."""
    spans = _literal_spans(q)
    out: list[str] = []
    last = 0
    for m in pattern.finditer(q):
        if any(s <= m.start() < e for s, e in spans):
            continue
        out.append(q[last : m.start()])
        out.append(repl(m) if callable(repl) else m.expand(repl))
        last = m.end()
    out.append(q[last:])
    return "".join(out)


def _search_outside_literals(pattern: re.Pattern, q: str) -> re.Match | None:
    spans = _literal_spans(q)
    for m in pattern.finditer(q):
        if not any(s <= m.start() < e for s, e in spans):
            return m
    return None


def _split_statements(q: str) -> list[str]:
    """Split a multi-statement string on ``;`` outside quotes.

    The reference's client loops over parsed statements
    (src/main_entry/client_context.rs:35-52); slt blocks rely on it.
    """
    parts: list[str] = []
    buf: list[str] = []
    in_str: str | None = None
    escaped = False
    for ch in q:
        if in_str:
            buf.append(ch)
            if escaped:
                escaped = False
            elif ch == "\\":
                escaped = True
            elif ch == in_str:
                in_str = None
        elif ch in ("'", '"'):
            in_str = ch
            buf.append(ch)
        elif ch == ";":
            parts.append("".join(buf))
            buf = []
        else:
            buf.append(ch)
    parts.append("".join(buf))
    return [p.strip() for p in parts if p.strip()]


def _split_top_level(s: str, sep: str) -> list[str]:
    """Split on ``sep`` at paren depth 0, outside quoted strings."""
    parts: list[str] = []
    buf: list[str] = []
    depth = 0
    in_str: str | None = None
    escaped = False
    for ch in s:
        if in_str:
            buf.append(ch)
            if escaped:
                escaped = False
            elif ch == "\\":
                escaped = True
            elif ch == in_str:
                in_str = None
        elif ch in ("'", '"'):
            in_str = ch
            buf.append(ch)
        elif ch == "(":
            depth += 1
            buf.append(ch)
        elif ch == ")":
            depth -= 1
            buf.append(ch)
        elif ch == sep and depth == 0:
            parts.append("".join(buf))
            buf = []
        else:
            buf.append(ch)
    parts.append("".join(buf))
    return parts


class Session:
    """sqlrs-compatible SQL session on top of Spark.

    >>> s = Session(spark)
    >>> s.load_csv("employee", "tests/fixtures/employee.csv")
    >>> s.sql("select first_name from employee where last_name = 'Hopkins'")
    """

    def __init__(self, spark: SparkSession):
        self.spark = configure_runtime(spark)

    # -- v1 CLI surface (src/cli.rs:119-167) --------------------------------

    def load_csv(self, name: str, path: str, header: bool = True, delim: str = ",") -> DataFrame:
        """``\\load csv name path`` — register a CSV file as a table."""
        df = self.read_csv(path, header=header, delim=delim)
        df.createOrReplaceTempView(name)
        return df

    def read_csv(self, path: str, header: bool = True, delim: str = ",") -> DataFrame:
        """v2 ``read_csv(file, header=>bool, delim=>char)`` table function.

        Schema inference mirrors the reference (≤1024-row inference window,
        src/function/table/read_csv.rs:97-109); Spark's sampled inference is
        the scale-safe equivalent.  Headerless files get the reference's
        1-based ``column_1..column_n`` names (tests/slt/table_function.slt).
        """
        df = (
            self.spark.read.option("header", str(header).lower())
            .option("sep", delim)
            .option("inferSchema", "true")
            .option("nullValue", "")
            .csv(path)
        )
        if not header:
            df = df.toDF(*[f"column_{i + 1}" for i in range(len(df.columns))])
        return df

    # -- catalog table functions --------------------------------------------

    def sqlrs_tables(self) -> DataFrame:
        """(schema_name, schema_oid, table_name, table_oid) like the reference.

        Internal scratch views (``__sqlrs_*``: COPY staging, read_csv
        rewrites, catalog-function snapshots) are implementation artifacts
        of the SQL frontend, not user tables — the reference catalog has
        no counterpart for them, so they are hidden here and in
        sqlrs_columns().
        """
        rows = [
            (t.namespace[0] if t.namespace else "main", 0, t.name, i)
            for i, t in enumerate(self.spark.catalog.listTables())
            if not t.name.startswith("__sqlrs_")
        ]
        return self.spark.createDataFrame(
            rows or [("main", 0, "", -1)],
            "schema_name string, schema_oid long, table_name string, table_oid long",
        ).filter(F.col("table_oid") >= 0)

    def sqlrs_columns(self, table: str | None = None) -> DataFrame:
        rows = []
        for t in self.spark.catalog.listTables():
            if table and t.name != table:
                continue
            if t.name.startswith("__sqlrs_"):
                continue
            for c in self.spark.catalog.listColumns(t.name):
                rows.append((t.name, c.name, c.dataType, c.nullable))
        return self.spark.createDataFrame(
            rows or [("", "", "", True)],
            "table_name string, column_name string, column_type string, nullable boolean",
        ).filter(F.col("table_name") != "")

    # -- function registry (reference §2.10 extension surface) ---------------

    def create_function(self, name: str, fn, return_type: str = "string"):
        """Register a row-at-a-time Python scalar function usable in SQL.

        Mirrors the reference's internal ScalarFunction registry
        (src/function/scalar/scalar_function.rs, registered via
        src/function/mod.rs:45-56) as a user-facing API.  Row-at-a-time
        Python is the SLOW path (ser/de per row, no codegen) — use it for
        glue, not the hot path; prefer create_pandas_function for bulk
        columns, or built-in expressions wherever one exists.
        """
        self.spark.udf.register(name, fn, return_type)

    def create_pandas_function(self, name: str, fn, return_type: str = "string"):
        """Register a vectorized (Arrow-batched) pandas scalar function.

        ``fn`` maps pandas.Series -> pandas.Series.  This is the scale
        path for Python logic Spark can't express: Arrow moves whole
        column batches across the JVM/Python boundary (~10-100× the
        row-at-a-time throughput), and the call sites stay inside the
        same declarative plan (projection over a scan — pushdown and
        pruning still apply around it).
        """
        from pyspark.sql.functions import pandas_udf

        self.spark.udf.register(name, pandas_udf(fn, return_type))

    # -- SQL frontend ---------------------------------------------------------

    def sql(self, query: str) -> DataFrame:
        """Run a statement with the reference's frontend sugar applied.

        Multi-statement strings run in order (client_context.rs:35-52);
        the last statement's DataFrame is returned.
        """
        stmts = _split_statements(query)
        if len(stmts) > 1:
            out = None
            for s in stmts:
                out = self.sql(s)
            return out
        q = stmts[0] if stmts else query.strip()

        m = _SHOW_TABLES_RE.match(q)
        if m:
            # bind_show_tables.rs:7-19 rewrites to a sqlrs_tables() projection
            return self.sqlrs_tables().select("schema_name", "table_name")

        m = _DESCRIBE_RE.match(q)
        if m:
            return self.sqlrs_columns(m.group("table"))

        m = _EXPLAIN_RE.match(q)
        if m and not q.lower().startswith("explain table"):
            # reference shape: (type, plan) rows logical_plan /
            # logical_plan_opt / physical_plan (physical_explain.rs:24-33)
            child = self.sql(m.group("query"))
            qe = child._jdf.queryExecution()
            rows = [
                ("logical_plan", qe.analyzed().toString()),
                ("logical_plan_opt", qe.optimizedPlan().toString()),
                ("physical_plan", qe.executedPlan().toString()),
            ]
            return self.spark.createDataFrame(rows, "type string, plan string")

        m = _COPY_RE.match(q)
        if m:
            # bind_copy.rs:9-56: COPY t FROM 'f.csv' (DELIMITER '|', HEADER)
            # → INSERT INTO t SELECT * FROM read_csv(...); the insert casts
            # source columns to the target schema (insert.rs:154-159).
            opts = m.group("opts") or ""
            delim = ","
            dm = re.search(r"DELIMITER\s+'(.)'", opts, re.IGNORECASE)
            if dm:
                delim = dm.group(1)
            hm = re.search(r"HEADER(?:\s+(true|false))?", opts, re.IGNORECASE)
            header = bool(hm) and (hm.group(1) or "true").lower() == "true"
            src = self.read_csv(m.group("path"), header=header, delim=delim)
            target = self.spark.table(m.group("table")).schema
            src = src.select(
                *[
                    F.col(c).cast(f.dataType).alias(f.name)
                    for c, f in zip(src.columns, target.fields)
                ]
            )
            src.createOrReplaceTempView("__sqlrs_copy_src")
            return self.spark.sql(
                f"INSERT INTO {m.group('table')} SELECT * FROM __sqlrs_copy_src"
            )

        q = self._rewrite_query(q)

        try:
            return self.spark.sql(q)
        except Exception as e:
            # The reference resolves select-list aliases inside WHERE
            # (tests/slt/filter.slt `select v1+1 as a from t1 where a >= 2`;
            # alias map built before WHERE binding,
            # src/planner_v2/binder/statement/mod.rs:24-37).  Spark does not,
            # so retry with the alias expression substituted into WHERE.
            if "UNRESOLVED_COLUMN" in str(e) or "cannot be resolved" in str(e):
                rq = _rewrite_where_alias(q)
                if rq is not None:
                    return self.spark.sql(rq)
            # The reference binds INSERT VALUES with casts to the target
            # column types (bind_insert.rs:27-110, e.g. string literals into
            # a DATE column).  Spark's ANSI store assignment rejects those;
            # retry with explicit casts.
            if "CANNOT_SAFELY_CAST" in str(e):
                rq = self._rewrite_insert_cast(q)
                if rq is not None:
                    return self.spark.sql(rq)
            raise

    def prepare(self, query: str) -> "PreparedStatement":
        """Prepare-once / execute-many with parameter binding — the second
        half of the reference's v2 main_entry surface
        (PreparedStatementData: unbound statement + plan + names/types,
        src/main_entry/prepared_statement_data.rs:1-18, held on the
        ActiveQueryContext.prepared slot, query_context.rs:1-32).

        Spark-first mapping: the frontend rewrites run ONCE here (the
        reference's bind step), the statement is eagerly PARSED so syntax
        errors surface at prepare time (the reference's unbound_statement
        parse), and each ``execute(params)`` binds via Spark's
        parameterized ``spark.sql(sql, args)`` — named ``:name`` or
        positional ``?`` markers substitute into the PARSED plan, so
        literal injection is impossible and Catalyst re-optimizes with
        the actual parameter values (constant folding / pushdown per
        execution — on a cluster, re-planning a prepared query is cheap;
        losing pushdown on the bound value is not).

        Statements with session-level side-effect sugar (COPY, show
        tables, describe, explain) are not preparable — same restriction
        as the reference, whose prepared path carries a planned
        statement only.
        """
        stmts = [s for s in _split_statements(query) if s.strip()]
        if len(stmts) != 1:
            raise ValueError("prepare() takes exactly one statement")
        q = stmts[0]
        for pat in (_SHOW_TABLES_RE, _DESCRIBE_RE, _EXPLAIN_RE, _COPY_RE):
            if pat.match(q):
                raise ValueError(
                    "statement is not preparable (frontend command); use sql()"
                )
        q = self._rewrite_query(q)
        try:  # eager parse — syntax errors at prepare time, like the reference
            self.spark._jsparkSession.sessionState().sqlParser().parsePlan(q)
        except Exception as e:  # noqa: BLE001 - surface as a prepare error
            raise ValueError(f"prepare failed to parse: {e}") from None
        return PreparedStatement(self, q)

    def _rewrite_query(self, q: str) -> str:
        """The pure string-rewrite portion of the frontend (no execution):
        read_csv named args, replacement scans, DDL type mapping,
        sqlrs_tables/columns substitution, OFFSET/LIMIT order."""
        # read_csv('path', header=>true, delim=>'|') inside a query: register
        # the scan as a temp view and substitute the view name.
        def _sub_read_csv(match: re.Match) -> str:
            path = match.group("path")
            header, delim = True, ","
            for am in re.finditer(
                r"(\w+)\s*=>\s*('[^']*'|[^,)]+)", match.group("args") or ""
            ):
                key, val = am.group(1).lower(), am.group(2).strip().strip("'")
                if key == "header":
                    header = val.lower() in ("true", "1", "t")
                elif key in ("delim", "sep", "delimiter"):
                    delim = val
            view = f"__sqlrs_read_csv_{abs(hash((path, header, delim))) % 10**8}"
            self.read_csv(path, header=header, delim=delim).createOrReplaceTempView(view)
            return view

        q = _sub_outside_literals(_READ_CSV_RE, _sub_read_csv, q)

        # replacement scan: FROM 'file.csv' (bind_base_table_ref.rs:97-126).
        # The reference binds the scan under the file stem, so qualified
        # references like ``select t1.a from 't1.csv'`` resolve
        # (tests/slt/table_function.slt); name the temp view by stem.
        def _sub_path(match: re.Match) -> str:
            path = match.group("path")
            if path.endswith(".csv"):
                df = self.read_csv(path)
            elif path.endswith(".parquet"):
                df = catalog(self.spark).read(path)
            else:
                df = self.spark.read.json(path)
            stem = re.sub(r"\W", "_", os.path.splitext(os.path.basename(path))[0])
            view = stem if stem and stem[0].isalpha() else f"__sqlrs_scan_{stem}"
            df.createOrReplaceTempView(view)
            return f"{match.group('kw')} {view}"

        q = _sub_outside_literals(_REPLACEMENT_SCAN_RE, _sub_path, q)

        if re.match(r"^\s*create\s+table\b", q, re.IGNORECASE):
            q = _sub_outside_literals(
                _UNSIGNED_DDL_RE, lambda m: _UNSIGNED_DDL_MAP[m.group("base").lower()], q
            )
            q = _sub_outside_literals(_VARCHAR_DDL_RE, lambda m: "string", q)

        if _search_outside_literals(_SQLRS_TABLES_RE, q):
            self.sqlrs_tables().createOrReplaceTempView("__sqlrs_tables_view")
            q = _sub_outside_literals(_SQLRS_TABLES_RE, lambda m: "__sqlrs_tables_view", q)
        if _search_outside_literals(_SQLRS_COLUMNS_RE, q):
            self.sqlrs_columns().createOrReplaceTempView("__sqlrs_columns_view")
            q = _sub_outside_literals(_SQLRS_COLUMNS_RE, lambda m: "__sqlrs_columns_view", q)

        q = self._rewrite_qualify(q)

        q = _sub_outside_literals(
            _OFFSET_LIMIT_RE, lambda m: f"limit {m.group('lim')} offset {m.group('off')}", q
        )
        return q

    def _rewrite_qualify(self, q: str) -> str:
        """QUALIFY clause (DuckDB/Snowflake/BigQuery surface; Spark has no
        native support): filter on window-function results without a
        manual subquery.

        Rewrite: ``SELECT ... QUALIFY <pred> [ORDER BY/LIMIT tail]`` →

            SELECT * EXCEPT (__sqlrs_qualify__) FROM (
              SELECT *, (<pred>) AS __sqlrs_qualify__ FROM (<head>) b
            ) p WHERE __sqlrs_qualify__ [tail]

        The predicate evaluates over the SELECT's output relation, so both
        QUALIFY idioms work: referencing a window-expression ALIAS from
        the select list, and writing the window function inline in the
        predicate.  Supported subset: one top-level QUALIFY (outside
        string literals and parens — subqueries keep theirs untouched);
        the predicate may not reference base-table columns absent from
        the select list (project them or use SELECT *).  The trailing
        ORDER BY / LIMIT / OFFSET moves to the outer query, preserving
        evaluation order (QUALIFY before ORDER/LIMIT, per the dialects
        that define it).
        """
        spans = _literal_spans(q)

        def in_lit(i: int) -> bool:
            return any(a <= i < b for a, b in spans)

        low = q.lower()
        depth = 0
        qspan = None
        tailpos = None
        i = 0
        while i < len(q):
            if in_lit(i):
                i += 1
                continue
            c = q[i]
            if c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
            elif depth == 0 and (c.isalpha() or c == "_"):
                j = i
                while j < len(q) and (q[j].isalnum() or q[j] == "_"):
                    j += 1
                w = low[i:j]
                if w == "qualify" and qspan is None:
                    qspan = (i, j)
                elif qspan is not None and tailpos is None and w in (
                    "order",
                    "limit",
                    "offset",
                ):
                    tailpos = i
                i = j
                continue
            i += 1
        if qspan is None:
            return q
        head = q[: qspan[0]].rstrip()
        pred = (q[qspan[1] : tailpos] if tailpos else q[qspan[1] :]).strip()
        tail = (" " + q[tailpos:].strip()) if tailpos else ""
        return (
            "SELECT * EXCEPT (__sqlrs_qualify__) FROM ("
            f"SELECT *, ({pred}) AS __sqlrs_qualify__ FROM ({head}) __sqlrs_qbase"
            f") __sqlrs_qpred WHERE __sqlrs_qualify__{tail}"
        )

    def _rewrite_insert_cast(self, q: str) -> str | None:
        """INSERT INTO t VALUES … → INSERT …  SELECT cast(…) FROM VALUES …"""
        m = _INSERT_VALUES_RE.match(q)
        if not m:
            return None
        table = m.group("table")
        schema = self.spark.table(table).schema
        if m.group("cols"):
            cols = [c.strip() for c in m.group("cols").split(",")]
        else:
            cols = [f.name for f in schema.fields]
        types = {f.name.lower(): f.dataType.simpleString() for f in schema.fields}
        casts = ", ".join(
            f"cast(col{i + 1} as {types[c.lower()]}) as {c}" for i, c in enumerate(cols)
        )
        names = ", ".join(f"col{i + 1}" for i in range(len(cols)))
        return (
            f"insert into {table} ({', '.join(cols)}) "
            f"select {casts} from (values {m.group('values').rstrip().rstrip(';')}) "
            f"as __sqlrs_vals({names})"
        )


def _rewrite_where_alias(q: str) -> str | None:
    """Substitute select-list alias expressions into the WHERE clause.

    Both the WHERE-boundary scan and the alias substitution are literal-
    aware: ``where note = 'group by'`` must not truncate the clause, and an
    alias named ``a`` must not rewrite the characters of ``'a b'``.
    """
    m = re.match(r"(?is)^\s*select\s+(?P<sel>.*?)\s+from\s+(?P<rest>.*)$", q)
    if not m:
        return None
    sel, rest = m.group("sel"), m.group("rest")
    aliases: dict[str, str] = {}
    for part in _split_top_level(sel, ","):
        am = re.match(r"(?is)^(?P<expr>.+?)\s+as\s+(?P<alias>\w+)\s*$", part.strip())
        if am:
            aliases[am.group("alias").lower()] = am.group("expr").strip()
    if not aliases:
        return None
    wm = _search_outside_literals(re.compile(r"(?i)\bwhere\b"), rest)
    if not wm:
        return None
    tail = rest[wm.end() :]
    em = _search_outside_literals(
        re.compile(r"(?i)\bgroup\s+by\b|\border\s+by\b|\blimit\b|\boffset\b"), tail
    )
    w_end = wm.end() + (em.start() if em else len(tail))
    w = new_w = rest[wm.end() : w_end]
    for alias, expr in aliases.items():
        new_w = _sub_outside_literals(
            re.compile(rf"(?i)\b{re.escape(alias)}\b"), lambda _m: f"({expr})", new_w
        )
    if new_w == w:
        return None
    return f"select {sel} from {rest[: wm.end()]}{new_w}{rest[w_end:]}"


class PreparedStatement:
    """A prepared statement: rewritten/parsed once, executed many times with
    parameter binding (reference: PreparedStatementData,
    src/main_entry/prepared_statement_data.rs:1-18 — unbound statement +
    plan + result names/types).

    ``execute(*args)`` binds positional ``?`` markers;
    ``execute(**params)`` binds named ``:name`` markers.  Both ride
    Spark's parameterized ``spark.sql(sqlText, args)``: parameters are
    typed literals substituted into the parsed plan, never string-spliced.
    Result ``names``/``types`` are captured from the analyzed schema on
    first execution (Spark cannot fully analyze an unbound parameterized
    plan; the reference binds parameters before planning, so its
    names/types exist at prepare time — a documented one-step lag).
    """

    def __init__(self, session: Session, sql_text: str):
        self.session = session
        self.sql_text = sql_text
        self.names: list[str] | None = None
        self.types: list[str] | None = None

    def execute(self, *args, **params) -> DataFrame:
        """Bind parameters and return the result DataFrame (lazy — callers
        collect; ClientContext.execute_prepared materializes)."""
        if args and params:
            raise ValueError("use positional (?) OR named (:name) parameters")
        # DB-API convention: execute([v1, v2]) is the whole positional
        # sequence, same as execute(v1, v2).  (To pass a literal array as
        # the single ? value, wrap it once more: execute([[1, 2, 3]]).)
        if len(args) == 1 and isinstance(args[0], (list, tuple)):
            args = tuple(args[0])
        bind = list(args) if args else (params or None)

        def _run(sql_text: str) -> DataFrame:
            if bind is not None:
                return self.session.spark.sql(sql_text, args=bind)
            return self.session.spark.sql(sql_text)

        try:
            df = _run(self.sql_text)
        except Exception as e:
            # the same binder-quirk retries Session.sql applies — the
            # prepared path must not support a narrower dialect than the
            # sql() path it mirrors (alias-in-WHERE resolves at analysis,
            # which for a parameterized statement happens at execute time)
            rq = None
            if "UNRESOLVED_COLUMN" in str(e) or "cannot be resolved" in str(e):
                rq = _rewrite_where_alias(self.sql_text)
            elif "CANNOT_SAFELY_CAST" in str(e):
                rq = self.session._rewrite_insert_cast(self.sql_text)
            if rq is None:
                raise
            df = _run(rq)
            self.sql_text = rq  # later executes skip the failing parse
        if self.names is None:
            self.names = list(df.columns)
            self.types = [f.dataType.simpleString() for f in df.schema.fields]
        return df
