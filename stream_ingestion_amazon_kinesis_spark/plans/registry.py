"""Central query registry — the contract surface the driver consumes.

Every implemented operator from SURVEY.md §2 registers here with
(a) a (spark, sf_dir) -> DataFrame callable built on the DataFrame API,
and (b) where SQL-expressible, an equivalent ANSI-SQL oracle string that
DuckDB runs on the same parquet fixtures. Column names are aligned on
both sides because the harness sorts columns by name before hashing.

Determinism rules enforced across the registry:
- no processing-time/now() columns in compared output;
- float aggregates go through exact DECIMAL math (functions.numeric)
  and are cast to DOUBLE at the end, so partial-aggregation order can
  never change a value;
- rank/top-k queries always carry a total tiebreak key.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    description: str
    # For rows-only queries (oracle=None — approximate or randomized by
    # nature): the pytest node that carries the hard signal instead
    # (recall / accuracy-band / determinism), so a correctness report
    # can say `no_oracle (see tests/...)` rather than a bare no_oracle.
    twin_test: str | None = None


# Iteration order is @register() call order: module import order in
# _load_all(), then definition order within each module.
QUERIES: dict[str, QuerySpec] = {}

# Pre-checkpoint intermediate plans for the pin/guard machinery
# (verdict r9 #2): operators whose registry entry eagerly
# localCheckpoints (lineage-truncating their real join/agg shapes out
# of plan inspection) register their intermediate stages here, keyed
# `query::stage`, with the same (spark, sf_dir) -> DataFrame builder
# signature. scripts/gen_plan_pins.py and tests/test_plan_shapes.py
# pick these up alongside the bench HEADLINE queries.
EXTRA_PLAN_BUILDERS: dict[
    str, Callable[[SparkSession, str], DataFrame]
] = {}

# Invalidators release_cached() runs BEFORE unpersisting: operator
# modules that memoize localCheckpointed relations across queries
# (e.g. the BPE training loop shared by two registry entries) register
# a clear-function here — the memoized DataFrames' blocks are about to
# be dropped and their lineage is checkpoint-truncated, so a stale memo
# entry would fail (not recompute) on next use.
RELEASE_HOOKS: list[Callable[[], None]] = []


def register(
    name: str,
    oracle: str | None = None,
    description: str = "",
    twin_test: str | None = None,
):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        QUERIES[name] = QuerySpec(name, fn, oracle, description, twin_test)
        return fn

    return deco


def _load_all() -> None:
    # Importing the operator modules populates QUERIES via @register.
    from ..operators import enrichment  # noqa: F401
    from ..operators import relational  # noqa: F401
    from ..operators import tpch_extra  # noqa: F401
    from ..operators import udfs  # noqa: F401
    from ..operators import streaming_live  # noqa: F401
    from ..operators import windows  # noqa: F401
    from ..operators import event_time  # noqa: F401
    from ..operators import curation  # noqa: F401
    from ..operators import dedup  # noqa: F401
    from ..operators import similarity  # noqa: F401
    from ..operators import text_analysis  # noqa: F401
    from ..operators import multimodal  # noqa: F401
    from ..operators import semistructured  # noqa: F401
    from ..operators import sketches  # noqa: F401
    from ..operators import subqueries  # noqa: F401
    from ..operators import agg_extra  # noqa: F401
    from ..operators import analytics  # noqa: F401
    from ..operators import layout  # noqa: F401
    from ..operators import linkage  # noqa: F401
    from ..operators import graph  # noqa: F401
    from ..operators import tpcds_shapes  # noqa: F401
    from ..operators import cdc  # noqa: F401
    from ..operators import corpus_extra  # noqa: F401
    from ..operators import timeseries  # noqa: F401
    from ..operators import corpus_quality  # noqa: F401
    from ..operators import profiler  # noqa: F401
    from ..streaming import state_reader  # noqa: F401
    from ..sources import file_formats  # noqa: F401
    from ..sources import kinesis_sim  # noqa: F401
    from ..sources import rest_page_sim  # noqa: F401


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    _load_all()
    return {name: spec.fn for name, spec in QUERIES.items()}


def all_oracles() -> dict[str, str]:
    _load_all()
    return {name: spec.oracle for name, spec in QUERIES.items() if spec.oracle}


def release_cached(spark: SparkSession) -> int:
    """Release engine-cached state between independent queries.

    Several operators localCheckpoint bounded intermediates (iterative
    graph edge relations, reused adjacency/similarity relations — 24
    sites). Those blocks sit in the session's block manager until their
    RDD is garbage-collected, and PySpark only triggers that cleanup
    when Python's GC drops the py4j handle — so a long-lived session
    running hundreds of independent queries (the correctness gate, a
    full-registry sweep) accumulates them. Measured: a bare 1 GiB
    local[32] driver OOMs ~316 queries into the sf0.1 value gate even
    though every individual query passes alone. Harnesses should call
    this between queries; it is a no-op for memory the queries still
    need (every registry call builds its lineage from scratch).

    Returns the number of RDDs unpersisted.
    """
    import gc

    for hook in RELEASE_HOOKS:
        hook()  # drop cross-query memos of soon-to-be-dropped blocks
    gc.collect()  # drop py4j handles so nothing here is still referenced
    n = 0
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        # blocking=True: the non-blocking form returns before the block
        # manager actually drops the blocks, so under the exact 1 GiB
        # heap pressure this function exists to relieve, the next query
        # can start allocating against the previous query's residue.
        rdd.unpersist(True)
        n += 1
    spark.catalog.clearCache()
    # Stopped streaming queries leave their state-store providers (and
    # each provider's in-memory version maps) in the executor-side
    # loadedProviders cache — ~200 providers per stateful query at the
    # default shuffle partitioning, never unloaded in local mode.
    # StateStore.stop() unloads them all and re-initializes lazily on
    # the next stateful query.
    try:
        pkg = spark.sparkContext._jvm.org.apache.spark.sql.execution.streaming.state
        getattr(getattr(pkg, "StateStore$"), "MODULE$").stop()
    except Exception:
        pass  # no JVM access (connect mode) — nothing cached there anyway
    return n
