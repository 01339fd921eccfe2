"""Fixture-schema canary (VERDICT r3 ask #2).

The driver regenerates /root/testdata between rounds and has already
changed a physical type once (events.ts: TIMESTAMP(NANOS) in rounds
1-2 -> TIMESTAMP(MICROS) in round 3), which broke 29 tests and the
bench in one shot. This canary pins the POST-NORMALIZATION schema of
every fixture table as seen through the loaders, so the next
fixture-side drift fails here first — one obvious test naming the
table and column, instead of dozens of scattered downstream failures.

If this test fails after a fixture regeneration: fix the loader
normalization (sources/tables.py / streaming/core.py) so downstream
queries keep seeing the schema below, or — if the driver genuinely
changed the logical schema — update the expectation AND audit every
query touching the changed column.
"""

from __future__ import annotations

import pyarrow.parquet as pq
import pytest

from embarrassingly_parallel_image_classification_spark.sources.tables import (
    TABLES,
    load_table,
)
from embarrassingly_parallel_image_classification_spark.streaming.core import (
    events_stream,
)

from conftest import SF_SMOKE as SF_DIR

# table -> ordered (column, spark simpleString type) after loader
# normalization. timestamp_ntz is fine for date-like columns (queries
# date_trunc/cast them); events.ts must be session-TZ timestamp because
# watermarks + window() operate on it.
EXPECTED = {
    "region": [("r_regionkey", "int"), ("r_name", "string")],
    "nation": [
        ("n_nationkey", "int"),
        ("n_name", "string"),
        ("n_regionkey", "int"),
    ],
    "customer": [
        ("c_custkey", "bigint"),
        ("c_name", "string"),
        ("c_nationkey", "int"),
        ("c_acctbal", "double"),
        ("c_mktsegment", "string"),
    ],
    "supplier": [
        ("s_suppkey", "bigint"),
        ("s_name", "string"),
        ("s_nationkey", "int"),
        ("s_acctbal", "double"),
    ],
    "part": [
        ("p_partkey", "bigint"),
        ("p_name", "string"),
        ("p_brand", "string"),
        ("p_type", "string"),
        ("p_size", "int"),
        ("p_retailprice", "double"),
    ],
    "orders": [
        ("o_orderkey", "bigint"),
        ("o_custkey", "bigint"),
        ("o_orderstatus", "string"),
        ("o_totalprice", "double"),
        ("o_orderdate", "timestamp_ntz"),
        ("o_orderpriority", "string"),
    ],
    "lineitem": [
        ("l_orderkey", "bigint"),
        ("l_partkey", "bigint"),
        ("l_suppkey", "bigint"),
        ("l_linenumber", "int"),
        ("l_quantity", "double"),
        ("l_extendedprice", "double"),
        ("l_discount", "double"),
        ("l_tax", "double"),
        ("l_returnflag", "string"),
        ("l_linestatus", "string"),
        ("l_shipdate", "timestamp_ntz"),
    ],
    "events": [
        ("event_id", "bigint"),
        ("ts", "timestamp"),
        ("user_id", "bigint"),
        ("event_type", "string"),
        ("value", "double"),
        ("props", "string"),
    ],
    "documents": [
        ("doc_id", "bigint"),
        ("text", "string"),
        ("lang", "string"),
        ("source", "string"),
        ("n_chars", "bigint"),
    ],
    "embeddings": [
        ("vec_id", "bigint"),
        ("embedding", "array<float>"),
        ("label", "int"),
    ],
}


def test_expected_covers_all_tables():
    assert set(EXPECTED) == set(TABLES)


@pytest.mark.parametrize("name", TABLES)
def test_loader_schema_pinned(spark, name):
    df = load_table(spark, SF_DIR, name)
    got = [(f.name, f.dataType.simpleString()) for f in df.schema.fields]
    assert got == EXPECTED[name], (
        f"fixture/loader schema drift for {name!r}: the driver likely "
        f"regenerated the fixture — reconcile the loader normalization "
        f"(sources/tables.py) before touching downstream queries"
    )


@pytest.mark.parametrize("sf_dir", ["/root/testdata/sf0.01", "/root/testdata/sf0.1"])
def test_loader_schema_identical_across_scale_factors(spark, sf_dir):
    """The driver regenerates each sf dir independently — guard against
    PER-SF drift (e.g. only sf0.1 regenerated with a new type), which
    would pass the sf0.001 canary yet break the bench or the t2 gate."""
    for name in TABLES:
        df = load_table(spark, sf_dir, name)
        got = [(f.name, f.dataType.simpleString()) for f in df.schema.fields]
        assert got == EXPECTED[name], f"{name!r} drifted at {sf_dir}"


def test_events_stream_schema_matches_batch(spark):
    """Batch and streaming event loaders MUST produce identical schemas
    (stream-batch equivalence is a contract, SURVEY §5.3)."""
    batch = load_table(spark, SF_DIR, "events")
    stream = events_stream(spark, SF_DIR)
    assert stream.schema == batch.schema


def test_events_parquet_physical_type_documented():
    """Record which ts representation this fixture generation uses and
    assert it is one the loaders know how to normalize."""
    t = pq.read_schema(f"{SF_DIR}/events.parquet").field("ts").type
    assert str(t) in ("timestamp[ns]", "timestamp[us]", "int64"), (
        f"events.ts physical type {t} is new — teach "
        f"sources.tables.normalize_events_ts how to normalize it"
    )
