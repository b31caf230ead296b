"""``session.local_frame``: driver-held rows become JVM-local frames.

Contract under test:
- the frame equals ``createDataFrame(<list>)`` row for row for every
  type the package's call sites use (string, long, double, decimal,
  ``array<double>``, zero rows), with exactly the declared schema —
  nullability included;
- its executed plan is a ``LocalTableScan``, never a Python RDD
  (``ExistingRDD``), so no Python worker starts for it;
- (Spark-free) no module of the package calls ``createDataFrame``
  anywhere but ``local_frame``.
"""

from __future__ import annotations

import ast
import os
from decimal import Decimal

import pytest
from pyspark.sql.types import LongType, StringType, StructField, StructType

from medallion_data_lake_spark.session import local_frame

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "medallion_data_lake_spark",
)

CASES = [
    ([("a",), (None,), ("",)], "s string"),
    ([(1, "x"), (2**40, None), (None, "z")], "id long, tag string"),
    ([(0.5,), (-1e300,), (None,)], "v double"),
    ([(Decimal("1.50"),), (Decimal("-99999999.99"),), (None,)],
     "d decimal(10,2)"),
    ([(0, [1.0, -2.5]), (1, []), (2, None)],
     "cid long, centroid array<double>"),
    ([], "doc_id long, n_matches long"),
    ([], StructType([StructField("k", LongType(), False),
                     StructField("s", StringType(), True)])),
]


@pytest.mark.parametrize("rows,schema", CASES)
def test_local_frame_equals_create_dataframe(spark, rows, schema):
    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema  # names, types AND nullability
    assert got.collect() == want.collect()
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan


def test_local_frame_keeps_not_null_fields(spark):
    """A StructType's non-nullable fields stay non-nullable (a collected
    aggregate re-entering Spark keeps its declared schema)."""
    agg = spark.range(3).selectExpr("count(1) AS n", "'b' AS layer")
    got = local_frame(spark, agg.collect(), agg.schema)
    assert got.schema == agg.schema
    assert [f.nullable for f in got.schema.fields] == [False, False]
    assert got.collect() == agg.collect()


# dedup_graph's driver path is replaced by a lazy mapInPandas kernel on
# the roadmap (that kernel does run Python); until then it keeps the
# plain list frame, and PLAN_BASELINE.json's fingerprint of it
ALLOWED = {"dedup_graph.py"}


def _create_dataframe_calls(path):
    tree = ast.parse(open(path, encoding="utf-8").read(), path)
    out = []

    def visit(node, func):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            func = node.name
        if (isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"):
            out.append((node.lineno, func))
        for child in ast.iter_child_nodes(node):
            visit(child, func)

    visit(tree, None)
    return out


def test_create_dataframe_only_in_local_frame():
    """Spark-free guard: every driver-held frame goes through
    ``local_frame``, so none of them plans a Python RDD."""
    bad = []
    for dirpath, _, names in os.walk(PKG):
        for name in names:
            if not name.endswith(".py") or name in ALLOWED:
                continue
            path = os.path.join(dirpath, name)
            rel = os.path.relpath(path, PKG)
            for lineno, func in _create_dataframe_calls(path):
                if not (rel == "session.py" and func == "local_frame"):
                    bad.append(f"{rel}:{lineno} (in {func})")
    assert not bad, (
        "createDataFrame outside session.local_frame (driver-held rows "
        f"plan a Python RDD and start Python workers): {bad}"
    )
