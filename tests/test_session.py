"""Session defaults that the tests can pin by behaviour."""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# gated queries: together they need more generated classes (~130 at
# sf0.001) than Spark's default codegen cache (100 entries) holds.
# bm25_term_stats is left out: its physical plan is not the same on
# every run (one sweep in eight compiled four new classes, then none),
# which is new code, not a cache miss.
QUERIES = [
    "customer_value_tiers", "price_distribution_approx",
    "large_volume_orders", "minhash_signatures", "blocklist_scrub_stats",
    "user_running_totals", "doc_lang_id", "ann_ivf_bucketed",
    "media_near_dup_bucketed", "parts_held_by_customer", "calendar_trends",
    "order_priority_stats", "priority_status_cube",
]

_SWEEPS = """
import json, sys
from medallion_data_lake_spark.queries import load_all
from medallion_data_lake_spark.session import get_spark

spark = get_spark(master="local[2]",
                  extra_conf={"spark.sql.shuffle.partitions": "2"})
spark.sparkContext.setLogLevel("ERROR")
compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics \\
    .METRIC_COMPILATION_TIME()
registry = load_all()
counts = []
for _ in range(2):
    before = compiles.getCount()
    for name in sys.argv[2:]:
        registry[name].build(spark, sys.argv[1]).write.format("noop") \\
            .mode("overwrite").save()
    counts.append(compiles.getCount() - before)
spark.stop()
print(json.dumps(counts))
"""


def test_repeated_queries_compile_no_code_twice(sf_dir, tmp_path):
    """The codegen cache holds a whole sweep of registry queries, so a
    repeat sweep compiles nothing. Its size is a static conf, read when
    the JVM first generates code, so this runs in a fresh session."""
    env = dict(os.environ, PYTHONPATH=ROOT, SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "-c", _SWEEPS, sf_dir, *QUERIES],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    cold, warm = json.loads(out.stdout.strip().splitlines()[-1])
    assert cold > 100, f"the set no longer overflows the default cache: {cold}"
    assert warm == 0, (cold, warm)


def test_column_calls_capture_no_call_site(spark, monkeypatch):
    """Column calls build their expression and nothing else: with
    call-site capture off no command touches ``PySparkCurrentOrigin``,
    and an expression of four calls sends at most 16 py4j commands
    (8 warm, 14 on the first `functions` lookups; 38 with capture on)."""
    import threading

    from py4j.clientserver import ClientServerConnection
    from pyspark.sql import functions as F

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    me, sent = threading.current_thread(), []
    orig = ClientServerConnection.send_command

    def counting(self, command, *a, **kw):
        if threading.current_thread() is me:
            sent.append(command)
        return orig(self, command, *a, **kw)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    (F.col("a") + F.lit(1)).alias("b")
    monkeypatch.undo()
    assert not [c for c in sent if "PySparkCurrentOrigin" in c], sent
    assert len(sent) <= 16, sent
