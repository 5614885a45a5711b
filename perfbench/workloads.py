"""The benchmark's workloads: which operations one pass runs, in which order.

Every workload is a closed loop driven by one client thread: the next
operation starts when the previous one has returned its materialized
result.  The seed fixes the inputs (datagen), the order of operations
within warm passes and the prepared-lookup parameters; it never changes
how much work a pass does.  The cold pass runs the operations in their
listed order, so its first operation, which pays the JVM's warm-up, is the
same for every seed.
"""

from __future__ import annotations

import os
import random

#: The registry's streaming s09 plan (a watermarked stream-stream outer
#: join), drained over the generated events cut into EVENT_CHUNKS
#: time-contiguous files read one per trigger: each drain runs EVENT_CHUNKS
#: data micro-batches, with join state carried and evicted between them, and
#: a final batch that flushes the evictable state.  Its expected result is
#: the registry query's DuckDB oracle.
STREAM_QUERY = "s09_stream_stream_outer_join"
EVENT_CHUNKS = 2

#: Registry queries of the ``headline`` pass, in bench.py's q/x/t/p family
#: order with the streaming family last.  A subset of the 21 bench-flagged
#: queries sized to the run budget: q05 launches Spark jobs while its
#: DataFrame is built (measured_broadcast), q06 is a plain
#: scan-filter-aggregate, t01 returns the widest result (Arrow transfer) and
#: p33 takes the scan-repartition path (sources._scan_units) into a
#: CPU-heavy md5-per-gram pipeline; s09 is the streaming drain.
HEADLINE_FAMILIES: tuple[tuple[str, ...], ...] = (
    ("q05_local_volume", "q06_simple_agg"),
    ("t01_token_count",),
    ("p33_span_scrub",),
    (STREAM_QUERY,),
)

#: CSV fixtures the replayed slt files read, registered by file stem at
#: set-up (the other fixtures of tests/slt/csv serve files not replayed).
SLT_FIXTURES = ("staff",)
SLT_LABELS = {"spark"}
#: slt files replayed per pass, sized to the run budget: CREATE, INSERT,
#: COPY, read_csv and CTAS, EXPLAIN, and the two retry paths of Session.sql
#: (alias in WHERE in filter.slt, insert casts in time.slt).
SLT_FILES = ("csv", "explain", "filter", "time")

#: Parameterized point and range lookups over the generated tables.  The
#: same SQL runs on DuckDB for the expected result.
PREPARED = {
    "order_by_key": (
        "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,"
        " CAST(o_orderdate AS DATE) AS o_orderdate FROM orders WHERE o_orderkey = ?"
    ),
    "lines_of_order": (
        "SELECT l_linenumber, l_partkey, l_quantity, l_extendedprice"
        " FROM lineitem WHERE l_orderkey = ?"
    ),
    "segment_counts": (
        "SELECT c_mktsegment, COUNT(*) AS n,"
        " SUM(CAST(o_totalprice AS DECIMAL(18, 2))) AS total"
        " FROM orders JOIN customer ON o_custkey = c_custkey"
        " WHERE c_nationkey = ? GROUP BY c_mktsegment"
    ),
}
PREPARED_TABLES = ("orders", "lineitem", "customer")
LOOKUPS_PER_STATEMENT = 2

#: Warm passes run (and checked) after the cold pass but before the
#: measurement window opens.  An ``slt_session`` pass is 36 operations on
#: tiny inputs, so its latency is the JIT's: its first two warm passes run
#: 10-30% slower than later ones, and how fast they converge depends on the
#: host's load.  A ``headline`` pass is mostly Spark execution; its first
#: warm pass is within about a tenth of the next.
WARMUP_PASSES = {"headline": 0, "slt_session": 2}
#: Fewest passes an untraced run measures, so every median spans two or more.
MIN_MEASURED_PASSES = 2


def headline_order(seed: int | None) -> list[str]:
    """Family order kept, queries permuted within each family by ``seed``
    (listed order for ``None``)."""
    rng = random.Random(seed)
    out: list[str] = []
    for fam in HEADLINE_FAMILIES:
        names = list(fam)
        if seed is not None:
            rng.shuffle(names)
        out.extend(names)
    return out


def slt_files(root: str, seed: int | None) -> list[str]:
    """The slt files in the order of ``seed`` (listed order for ``None``);
    each file builds its own tables."""
    files = [os.path.join(root, "tests", "slt", f"{name}.slt") for name in SLT_FILES]
    if seed is not None:
        random.Random(seed).shuffle(files)
    return files


def lookup_params(seed: int, rows: dict[str, int]) -> list[tuple[str, int]]:
    """Seeded (statement, parameter) pairs, interleaved across statements."""
    rng = random.Random(seed + 2)
    pairs = []
    for _ in range(LOOKUPS_PER_STATEMENT):
        pairs.append(("order_by_key", rng.randrange(rows["orders"])))
        pairs.append(("lines_of_order", rng.randrange(rows["orders"])))
        pairs.append(("segment_counts", rng.randrange(25)))
    return pairs
