"""gated_queries: one query from each query module of the gated query
registry (``queries.load_all``), over a seeded star schema, written
through the noop sink the way ``bench.py`` runs them.

A checking sweep, run first, collects every result and compares it with
its DuckDB oracle (the comparison in ``tests/test_oracle_parity.py``);
``price_distribution_approx`` has no oracle and is checked on schema and
row count only. Timed sweeps follow that sweep and two warm-up sweeps.
"""

from __future__ import annotations

import os
import sys
import time

from common import (
    cpu_between,
    cpu_snapshot,
    patched,
    steal_between,
    steal_snapshot,
)
from gen_star import SIZES, write_star
from harness import Batch, Workload

# one per module of queries/ — module -> query name; the cheapest of each
# module's gated queries, except where a module has only one
QUERIES = {
    "core": "customer_value_tiers",
    "core2": "price_distribution_approx",
    "shapes": "large_volume_orders",
    "dedup": "minhash_signatures",
    "retrieval": "bm25_term_stats",
    "curation": "blocklist_scrub_stats",
    "streamlike": "user_running_totals",
    "text": "doc_lang_id",
    "similarity": "ann_ivf_bucketed",
    "multimodal": "media_near_dup_bucketed",
    "routines": "parts_held_by_customer",
}


def _oracle_module():
    """``tests/test_oracle_parity.py``, imported by path (``tests`` is
    not a package)."""
    import importlib.util

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(root, "tests", "test_oracle_parity.py")
    spec = importlib.util.spec_from_file_location("_oracle_parity", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class GatedQueries(Workload):
    warmup = 2            # after the checking sweep, which runs every query
    min_timed = 3

    def inputs(self) -> None:
        self.sf_dir = os.path.join(self.work, "star")
        self.tables = write_star(self.sf_dir, self.seed)

    def setup(self) -> None:
        from medallion_data_lake_spark.queries import load_all

        registry = load_all()
        self.specs = {m: registry[q] for m, q in QUERIES.items()}
        missing = [q for q in QUERIES.values() if q not in registry]
        if missing:
            raise SystemExit(f"queries missing from the registry: {missing}")

    def describe(self) -> dict:
        return {"queries": QUERIES, "sizes": SIZES, "tables": self.tables}

    # -- correctness ---------------------------------------------------------

    def check(self) -> list[dict]:
        """Warm-up sweep with results collected and compared."""
        parity = _oracle_module()
        results = []
        for module, spec in self.specs.items():
            t = time.perf_counter()
            entry = {"query": spec.name, "module": module}
            try:
                if spec.oracle is None:
                    pdf = spec.build(self.spark, self.sf_dir).toPandas()
                    ok = len(pdf.columns) > 0 and len(pdf) > 0
                    entry["check"] = "schema and row count only (no oracle)"
                    entry["rows"] = len(pdf)
                else:
                    parity.compare(self.spark, spec.name, self.sf_dir)
                    ok = True
                    entry["check"] = "oracle"
            except AssertionError as exc:
                ok, entry["error"] = False, str(exc)[:300]
            except Exception as exc:  # a failing query is a failed check
                ok, entry["error"] = False, f"{type(exc).__name__}: {exc}"[:300]
            entry["ok"] = ok
            entry["seconds"] = time.perf_counter() - t
            results.append(entry)
        return results

    # -- batches ---------------------------------------------------------------

    def batch(self, traced: bool) -> Batch:
        out = Batch()
        for module, spec in self.specs.items():
            steal0, cpu0 = steal_snapshot(), cpu_snapshot()
            t0 = time.perf_counter()
            try:
                if traced:
                    self._traced_query(module, spec, out)
                else:
                    df = spec.build(self.spark, self.sf_dir)
                    df.write.format("noop").mode("overwrite").save()
            except Exception as exc:
                out.failed += 1
                out.errors.append(f"{spec.name}: {type(exc).__name__}: {exc}"[:300])
            out.op(spec.name, time.perf_counter() - t0,
                   cpu_between(cpu0, cpu_snapshot()),
                   steal_between(steal0, steal_snapshot()))
        return out

    def _traced_query(self, module, spec, out: Batch) -> None:
        tr = self.tracer
        with tr.span(f"query.{spec.name}"):
            t = time.perf_counter()
            with tr.span("build"):
                df = spec.build(self.spark, self.sf_dir)
            t1 = time.perf_counter()
            # a planning pass of its own: the noop write below plans the
            # query again, so exec_s includes planning too, and the traced
            # batch (hence trace.overhead) pays for one extra pass a query
            with tr.span("plan"):
                df._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
            with tr.span("exec"):
                df.write.format("noop").mode("overwrite").save()
            t3 = time.perf_counter()
        out.layer(f"queries.{module}.build_s", t1 - t)
        out.layer(f"queries.{module}.plan_s", t2 - t1)
        out.layer(f"queries.{module}.exec_s", t3 - t2)

    def tracing(self):
        """Catalog loaders, rebound wherever a query module imported them."""
        from medallion_data_lake_spark import catalog, queries

        targets = [(catalog, "load_star_table"), (catalog, "load_star_table_spread")]
        for mod in list(sys.modules.values()):
            if (getattr(mod, "__name__", "").startswith(queries.__name__ + ".")):
                for attr in ("load_star_table", "load_star_table_spread"):
                    if hasattr(mod, attr):
                        targets.append((mod, attr))
        return patched(targets, self.tracer, "catalog.")

    def batch_layers(self, out: Batch, first_span: int) -> None:
        spans = self.tracer.spans[first_span:]
        base = first_span
        cat = [i for i, s in enumerate(spans) if s.name.startswith("catalog.")]
        cat_ids = {base + i for i in cat}
        out.layer("catalog.loads", float(len(cat)))
        out.layer("catalog.load_s", sum(
            spans[i].end - spans[i].start for i in cat
            if spans[i].parent not in cat_ids))
