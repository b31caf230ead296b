"""Fixture-drift guard: the driver regenerates /root/testdata between
rounds, and a silent type change there corrupts results downstream (the
round-3 example: events.ts flipped TIMESTAMP(NANOS) -> TIMESTAMP(MICROS)
and the loader's hardcoded nanos conversion shrank every timestamp
1000x). Compare every table's parquet footer against the declared
STAR_SCHEMAS so drift fails HERE, loudly, not deep inside a query.
"""

import glob
import os

import pyarrow.parquet as pq
import pytest

from medallion_data_lake_spark.schemas import STAR_SCHEMAS, STAR_TABLES

SF_DIRS = sorted(glob.glob("/root/testdata/sf*"))

# pyarrow type string -> Spark simpleString as declared in STAR_SCHEMAS.
_ARROW_TO_SPARK = {
    "int32": "int",
    "int64": "bigint",
    "float": "float",
    "double": "double",
    "string": "string",
    "large_string": "string",
    "timestamp[us]": "timestamp_ntz",
    "timestamp[ns]": "timestamp_ntz",
    "list<element: float>": "array<float>",
    "list<item: float>": "array<float>",
}


@pytest.mark.parametrize("sf_dir", SF_DIRS)
@pytest.mark.parametrize("table", STAR_TABLES)
def test_fixture_matches_declared_schema(sf_dir, table):
    path = os.path.join(sf_dir, f"{table}.parquet")
    if not os.path.exists(path):
        pytest.skip(f"{path} absent")
    arrow = pq.ParquetFile(path).schema_arrow
    declared = STAR_SCHEMAS[table]
    assert [f.name for f in arrow] == [f.name for f in declared.fields], (
        f"{path}: column drift"
    )
    for af, df in zip(arrow, declared.fields):
        got = _ARROW_TO_SPARK.get(str(af.type), str(af.type))
        want = df.dataType.simpleString()
        if table == "events" and af.name == "ts":
            # Both fixture generations are legal; catalog.load_star_table
            # detects which one it got (see its docstring).
            assert str(af.type) in ("timestamp[us]", "timestamp[ns]"), str(af.type)
            continue
        assert got == want, (
            f"{path}.{af.name}: fixture {af.type} != declared {want}"
        )


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_customer_key_is_unique(sf_dir):
    """customer_value_tiers aggregates orders per o_custkey and then
    joins customer, so it relies on c_custkey being the primary key: a
    repeated key would emit that customer's totals once per copy."""
    path = os.path.join(sf_dir, "customer.parquet")
    if not os.path.exists(path):
        pytest.skip(f"{path} absent")
    keys = pq.read_table(path, columns=["c_custkey"]).column(0).to_pylist()
    assert None not in keys
    assert len(set(keys)) == len(keys), f"{path}: duplicate c_custkey"


def test_events_nanos_and_micros_load_alike(spark, tmp_path):
    """Every events.ts fixture generation loads to the same frame, and
    loading one starts no Spark job: the TIMESTAMP(NANOS) file (Spark
    reads it as long nanos) goes through load_star_table's ns->us
    conversion, which drops the sub-microsecond part exactly as DuckDB's
    read does, and a UTC-adjusted TIMESTAMP(MICROS) file (Spark reads it
    as an instant) is cast to wall-clock UTC."""
    import pyarrow as pa

    from pyspark.sql import types as T

    from medallion_data_lake_spark.catalog import load_star_table

    n = 1000
    micros = [1_700_000_000_000_000 + i * 1_234_567 for i in range(n)]
    files = {
        "us": pa.array(micros, pa.timestamp("us")),
        "ns": pa.array([m * 1000 + 789 for m in micros], pa.timestamp("ns")),
        "us_utc": pa.array(micros, pa.timestamp("us", tz="UTC")),
    }
    for name, ts in files.items():
        (tmp_path / name).mkdir()
        table = pa.table({
            "event_id": pa.array(range(n), pa.int64()),
            "ts": ts,
            "user_id": pa.array([i % 37 for i in range(n)], pa.int64()),
            "event_type": pa.array([("view", "click", "buy")[i % 3] for i in range(n)]),
            "value": pa.array([i / 8 for i in range(n)], pa.float64()),
            "props": pa.array([f'{{"k": {i}}}' for i in range(n)]),
        })
        pq.write_table(table, str(tmp_path / name / "events.parquet"))

    inferred = {
        name: spark.read.parquet(str(tmp_path / name / "events.parquet"))
        .schema["ts"].dataType
        for name in files
    }
    assert inferred == {"us": T.TimestampNTZType(), "ns": T.LongType(),
                        "us_utc": T.TimestampType()}

    sc = spark.sparkContext
    loaded = {}
    for name in files:
        group = f"load-events-{name}"
        sc.setJobGroup(group, "load only, no action")
        try:
            loaded[name] = load_star_table(spark, str(tmp_path / name), "events")
        finally:
            sc.setJobGroup(None, None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        assert sc.statusTracker().getJobIdsForGroup(group) == [], name

    us = loaded.pop("us")
    assert us.schema == STAR_SCHEMAS["events"]
    assert us.count() == n
    for name, other in loaded.items():
        assert other.schema == us.schema, name
        assert other.count() == n, name
        assert us.exceptAll(other).count() == 0, name
        assert other.exceptAll(us).count() == 0, name
