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


def test_events_cache_key_sees_nested_rewrites(tmp_path):
    """The footer-cache freshness key must change when a data file
    nested inside a partition subdirectory is rewritten in place
    (partitioned layouts put data one level down, where the top-level
    entries stay unchanged — r16 review)."""
    import os
    import time

    from medallion_data_lake_spark.catalog import _events_cache_key

    root = tmp_path / "events.parquet"
    part = root / "day=2024-01-01"
    part.mkdir(parents=True)
    data = part / "part-00000.parquet"
    data.write_bytes(b"v1")
    (root / "_SUCCESS").write_bytes(b"")  # metadata: excluded from the key

    k1 = _events_cache_key(str(root))
    # same content size, later mtime — an in-place rewrite
    time.sleep(0.01)
    data.write_bytes(b"v2")
    k2 = _events_cache_key(str(root))
    assert k1 != k2

    # metadata-file churn must NOT invalidate (only data files count)
    (root / "_SUCCESS").write_bytes(b"x")
    assert _events_cache_key(str(root)) == k2

    # file-backed fixture keeps the (path, mtime, size) form
    f = tmp_path / "flat.parquet"
    f.write_bytes(b"abc")
    st = os.stat(f)
    assert _events_cache_key(str(f)) == (str(f), st.st_mtime_ns, st.st_size)
