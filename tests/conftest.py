from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from minimised_impala_spark.seams import query_scope
from minimised_impala_spark.session import build_session

SF_DIR = os.environ.get("MIS_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = build_session(
        app_name="mis-pytest",
        master="local[8]",
        shuffle_partitions=8,
        extra_conf={"spark.ui.enabled": "false", "spark.driver.memory": "6g"},
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def live_shapes(spark):
    """``live_shapes(names)``: {name: (PLANSHAPES.tsv row, build seconds)}
    of the live registry at the table's fixture. Each query is built once
    per session, by whichever test asks for it first."""
    from tools import mis

    sf, _ = mis.committed_shapes()
    built: dict[str, tuple[str, float]] = {}

    def rows(names) -> dict[str, tuple[str, float]]:
        todo = [n for n in names if n not in built]
        built.update((n, (row, build_s)) for n, row, build_s in mis.shapes(spark, sf, todo))
        return {n: built[n] for n in names}

    return rows


@pytest.fixture
def in_query_scope():
    """Run the test inside a query scope, as ``registry.run`` builds: its
    seams are persists, whose ``InMemoryTableScan`` prints the sub-plan and
    keeps its partitioning, and they are released when the test ends."""
    with query_scope():
        yield


# Columns each fixture table must expose — queries/extensions reference
# these by name, so a driver-side fixture regeneration that drops or
# renames one should fail HERE with one clear message, not as dozens of
# cascading AnalysisExceptions. (Round 2 lost the whole events/streaming
# wing + the bench to silent fixture drift: events.ts moved
# TIMESTAMP(NANOS) → timestamp[us] under a loader that assumed nanos.)
_REQUIRED_COLUMNS = {
    "region": {"r_regionkey", "r_name"},
    "nation": {"n_nationkey", "n_name", "n_regionkey"},
    "customer": {"c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"},
    "supplier": {"s_suppkey", "s_name", "s_nationkey", "s_acctbal"},
    "part": {"p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"},
    "orders": {
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority",
    },
    "lineitem": {
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
        "l_linestatus", "l_shipdate",
    },
    "events": {"event_id", "ts", "user_id", "event_type", "value", "props"},
    "documents": {"doc_id", "text", "lang", "source", "n_chars"},
    "embeddings": {"vec_id", "embedding", "label"},
}


def _assert_fixtures_readable() -> None:
    """Fail fast on fixture drift: missing columns or an unknown events.ts
    encoding."""
    import pyarrow.parquet as pq

    problems = []
    for table, required in _REQUIRED_COLUMNS.items():
        path = f"{SF_DIR}/{table}.parquet"
        if not os.path.exists(path):
            continue
        schema = pq.read_schema(path)
        missing = required - set(schema.names)
        if missing:
            problems.append(f"{table}: missing columns {sorted(missing)}")
        if table == "events" and "ts" in schema.names:
            ts_type = str(schema.field("ts").type)
            known = {"timestamp[ns]", "timestamp[us]", "timestamp[ms]", "int64"}
            if ts_type not in known:
                problems.append(
                    f"events.ts dtype drifted to {ts_type!r} (known: {known}); "
                    "update minimised_impala_spark.tables.fix_events_ts first"
                )
    assert not problems, "fixture drift detected — fix loaders before anything else:\n" + "\n".join(problems)


_assert_fixtures_readable()
