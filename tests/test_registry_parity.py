"""Registry entries that run shipped operators agree with their DuckDB
oracles on edge rows the generated testdata never has: unmatched and NULL
``props``, a NULL ``event_type``, a NULL latest ``value``, ``(user_id,
ts)`` ties, an event type no dimension knows, a sink no event reaches,
and a click→NULL→NULL→click run."""

from collections import Counter
from datetime import datetime

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.pandas.types import to_arrow_type

from logshipper_spark.operators import aggregate as agg
from logshipper_spark.queries import ORACLES, QUERIES
from tools.oracle_check import value_hash

OPERATOR_ENTRIES = [
    "route_fanout", "match_extract", "replace_redact", "edge_detect", "syslog_pri_decode",
    "events_per_minute", "gauge_last", "sampled_counter", "enrich_lookup", "tool_invocations",
]


def _ts(m: int, s: int) -> datetime:
    return datetime(2024, 1, 1, 0, m, s)


# (event_id, ts, user_id, event_type, value, props); no 'error' event, so
# the errors sink counts zero
EDGE_EVENTS = [
    (0, _ts(0, 0), 1, "click", 1.5, '{"k": 3}'),
    (1, _ts(0, 10), 1, None, 2.0, '{"k": 12}'),
    (2, _ts(0, 20), 1, None, None, None),
    (3, _ts(0, 30), 1, "click", 4.25, "{}"),
    (4, _ts(1, 30), 2, "purchase", 10.0, '{"k": 7}'),
    (5, _ts(1, 30), 2, "view", 11.0, '{"x": 5}'),
    (6, _ts(1, 0), 2, "signup", 3.0, '{"k": 40}'),
    (7, _ts(2, 0), 3, "view", 5.0, '{"k": 1}'),
    (8, _ts(2, 30), 3, "logout", None, '{"k": x}'),
    (9, _ts(2, 45), 4, "purchase", 8.0, "k=9"),
    (10, _ts(3, 0), 4, "click", None, None),
    (11, _ts(3, 0), 4, "click", 2.5, '{"k": 99999999999}'),
]

EVENTS_SCHEMA = pa.schema([
    ("event_id", pa.int64()), ("ts", pa.timestamp("us")), ("user_id", pa.int64()),
    ("event_type", pa.string()), ("value", pa.float64()), ("props", pa.string()),
])


@pytest.fixture(scope="module")
def edge_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("edge_events")
    cols = list(zip(*EDGE_EVENTS))
    table = pa.Table.from_arrays([pa.array(c, f.type) for c, f in zip(cols, EVENTS_SCHEMA)],
                                 schema=EVENTS_SCHEMA)
    pq.write_table(table, d / "events.parquet")
    return str(d)


@pytest.mark.parametrize("name", OPERATOR_ENTRIES)
def test_entry_matches_oracle_on_edge_rows(spark, edge_dir, name):
    out = QUERIES[name](spark, edge_dir)
    got = [tuple(r) for r in out.collect()]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{edge_dir}/events.parquet')")
    want = con.execute(ORACLES[name]).fetch_arrow_table()
    want_rows = [tuple(r.values()) for r in want.to_pylist()]
    assert out.columns == want.column_names
    assert Counter(got) == Counter(want_rows)
    assert value_hash(got, out.columns) == value_hash(want_rows, want.column_names)
    assert [to_arrow_type(f.dataType) for f in out.schema.fields] == want.schema.types


def test_gauge_last_breaks_ties_and_keeps_null_latest(spark, edge_dir):
    ev = spark.read.parquet(f"{edge_dir}/events.parquet")
    got = {r["user_id"]: r["last_value"]
           for r in agg.gauge_last(ev, "user_id", "value", ("ts", "event_id")).collect()}
    # user 2: events 4 and 5 tie on ts, event 5 is later; user 3's latest
    # value is NULL; user 4: events 10 (NULL) and 11 tie, 11 is later
    assert got == {1: 4.25, 2: 11.0, 3: None, 4: 2.5}
