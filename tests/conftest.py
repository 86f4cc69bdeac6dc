from __future__ import annotations

import os

import pytest

from downscaledclimatedata_spark.session import get_spark

SF_CORRECTNESS = "/root/testdata/sf0.01"
SF_SMOKE = "/root/testdata/sf0.001"

# Central slow-tier assignment (r14): the `slow` marker is applied here,
# not scattered over decorators, so the tier's composition is one
# auditable list. Criteria — measured >20 s per item on a quiet 32-core
# box (full-suite --durations sweep, 2026-08-18), or a whole-file sweep
# whose value is plan-shape auditing rather than result correctness.
# Every slow test still runs under `-m ""` (CI/manual full gate).
_SLOW_FILES = {
    "test_plan_audit.py",   # ~225 s: whitelist-equality plan sweep over all specs
    "test_ivf_k256.py",     # ~39 s: 256-list build + recall ladder
    # full-registry oracle sweep SUBSUMED by test_driver_canon_parity,
    # which its own docstring calls "strictly harsher" (driver-faithful
    # stringified-hash comparison) and which STAYS in the fast tier —
    # the tuple-comparison twin runs only under -m ""
    "test_oracle_parity.py",
}
# parametrized spec names whose DuckDB oracle is a recursive-CTE
# monster (~100 s EACH in the three parity suites + oracle_parity)
_SLOW_PARAMS = ("[dedup_all_signal_clusters]", "[dedup_multi_signal_clusters]")
_SLOW_TESTS = {
    "test_graph_search_recall_monotone_and_floor",   # ~25 s
    "test_clustered_serve_recall_floors",            # ~24 s
    "test_neardup_index_compaction_bounds_files",    # ~22 s
}


def pytest_collection_modifyitems(config, items):
    for item in items:
        fname = item.fspath.basename
        base = item.name.split("[", 1)[0]
        if (fname in _SLOW_FILES or base in _SLOW_TESTS
                or any(p in item.name for p in _SLOW_PARAMS)):
            item.add_marker(pytest.mark.slow)


def pytest_terminal_summary(terminalreporter, config):
    if "slow" not in (config.getoption("markexpr") or ""):
        return  # e.g. -m "": nothing was deselected for being slow
    n = sum(1 for item in terminalreporter.stats.get("deselected", [])
            if item.get_closest_marker("slow"))
    if n:
        terminalreporter.write_line(
            f'{n} slow tests deselected; run `-m ""` for the full gate')


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    s = get_spark("dcd-spark-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def duck():
    import duckdb
    con = duckdb.connect()
    for name in ("region", "nation", "customer", "supplier", "part", "orders",
                 "lineitem", "events", "documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM "
            f"read_parquet('{SF_CORRECTNESS}/{name}.parquet')")
    yield con
