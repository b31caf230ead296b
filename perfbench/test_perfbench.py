"""Tests of the benchmark's own parts (no Spark): generator determinism,
the ingest ground truth on a hand-checked input, fresh bronze roots,
statistics, spans and the metric lists in BENCHMARK.json.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import filecmp
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import common  # noqa: E402
import gen_bronze  # noqa: E402
import gen_star  # noqa: E402
import wl_store  # noqa: E402

SMALL = {"customer": 20, "film": 15, "inventory": 30, "rental": 60}


def _tree_files(root: str) -> list[str]:
    return sorted(os.path.relpath(os.path.join(d, f), root)
                  for d, _, fs in os.walk(root) for f in fs)


def _same_tree(a: str, b: str) -> bool:
    files = _tree_files(a)
    return files == _tree_files(b) and all(
        filecmp.cmp(os.path.join(a, f), os.path.join(b, f), shallow=False)
        for f in files)


def test_same_seed_same_bronze_bytes(tmp_path):
    for d in ("a", "b"):
        gen_bronze.write_bronze(str(tmp_path / d), gen_bronze.generate(7, SMALL))
    gen_bronze.write_bronze(str(tmp_path / "c"), gen_bronze.generate(8, SMALL))
    assert _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))
    assert not _same_tree(str(tmp_path / "a"), str(tmp_path / "c"))


def test_bronze_is_hive_partitioned_by_date(tmp_path):
    gen_bronze.write_bronze(str(tmp_path), gen_bronze.generate(3, SMALL))
    for f in _tree_files(str(tmp_path)):
        table, year, month, day, name = f.split(os.sep)
        assert table in gen_bronze.PK
        assert year.startswith("year=") and month.startswith("month=")
        assert day.startswith("day=") and name == "part-0.json"


def test_same_seed_same_star_bytes(tmp_path):
    gen_star.write_star(str(tmp_path / "a"), 5)
    gen_star.write_star(str(tmp_path / "b"), 5)
    assert _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))


def test_same_seed_same_requests():
    gen = gen_bronze.generate(4, SMALL)
    docs = gen_bronze.corpus(gen)
    ids = list(range(1, 16))
    a = wl_store.make_requests(4, docs, ids, n=500)
    b = wl_store.make_requests(4, docs, ids, n=500)
    c = wl_store.make_requests(5, docs, ids, n=500)
    assert json.dumps(a) == json.dumps(b)
    assert json.dumps(a) != json.dumps(c)
    assert [r for r, _ in a[:len(wl_store.ROUTE_CYCLE)]] == list(wl_store.ROUTE_CYCLE)
    for route, body in a:
        if route == "/phrase":  # a real 3-token window of some document
            assert any(" ".join(body["phrase"]) in t for t in docs.values())


def _env(table, op, ts, **data):
    return {"table": table, "operation": op,
            "timestamp": f"2024-01-0{ts}T00:00:00.000000", "data": data}


def test_ground_truth_by_hand():
    """Two customers (one re-delivered, one whose later UPDATE nulls the
    email), three payments (one negative, one duplicated with a later
    UPDATE), two rentals, one film, one inventory row, two bad lines."""
    t = None
    gen = {
        "customer": {"envelopes": [
            (t, _env("customer", "INSERT", 1, customer_id="1", email="a")),
            (t, _env("customer", "INSERT", 1, customer_id="1", email="a")),
            (t, _env("customer", "INSERT", 1, customer_id="2", email="b")),
            (t, _env("customer", "UPDATE", 2, customer_id="2", email=None)),
        ], "malformed": [(t, "{")]},
        "payment": {"envelopes": [
            (t, _env("payment", "INSERT", 1, payment_id="1", customer_id="1",
                     amount="5.00", payment_date="2024-01-01 10:00:00")),
            (t, _env("payment", "INSERT", 1, payment_id="2", customer_id="1",
                     amount="-3.00", payment_date="2024-01-01 11:00:00")),
            (t, _env("payment", "INSERT", 1, payment_id="3", customer_id="2",
                     amount="1.25", payment_date="2024-01-02 09:00:00")),
            (t, _env("payment", "INSERT", 1, payment_id="3", customer_id="2",
                     amount="1.25", payment_date="2024-01-02 09:00:00")),
            (t, _env("payment", "UPDATE", 3, payment_id="3", customer_id="2",
                     amount="2.50", payment_date="2024-01-02 09:00:00")),
        ], "malformed": [(t, "not json")]},
        "rental": {"envelopes": [
            (t, _env("rental", "INSERT", 1, rental_id="1", customer_id="1",
                     inventory_id="1")),
            (t, _env("rental", "INSERT", 1, rental_id="2", customer_id=None,
                     inventory_id="1")),
        ], "malformed": []},
        "film": {"envelopes": [
            (t, _env("film", "INSERT", 1, film_id="1", title="F", description="x y z")),
        ], "malformed": []},
        "inventory": {"envelopes": [
            (t, _env("inventory", "INSERT", 1, inventory_id="1", film_id="1")),
        ], "malformed": []},
    }
    truth = gen_bronze.ground_truth(gen)
    assert truth["silver_rows"] == {"customer": 1, "payment": 3, "rental": 1,
                                    "film": 1, "inventory": 1}
    assert truth["corrupt_rows"] == {"customer": 1, "payment": 1, "rental": 0,
                                     "film": 0, "inventory": 0}
    gold = truth["gold"]
    # customer 2 is gone, so its payment no longer joins
    assert gold["customer_summary"] == {"rows": 1, "total_payments": 2,
                                        "total_rentals": 1}
    # -3.00 clamps to 0; payment 3 carries its UPDATE amount
    assert gold["daily_revenue"] == {"2024-01-01": [2, 5.0], "2024-01-02": [1, 2.5]}
    assert gold["rental_trends"] == {"total_rentals": 1}
    assert gold["film_performance"] == {"rows": 1, "total_rentals": 1}


def test_generated_shares_present():
    gen = gen_bronze.generate(11)
    ops = [e["operation"] for p in gen.values() for _, e in p["envelopes"]]
    assert "UPDATE" in ops
    assert all(p["malformed"] for p in gen.values())
    amounts = [float(e["data"]["amount"]) for _, e in gen["payment"]["envelopes"]
               if e["data"]["amount"] is not None]
    assert any(a < 0 for a in amounts)


def test_bronze_root_is_new_to_the_session(tmp_path):
    # the run's work directory is made afresh for each process, so a root
    # inside it was never read by an earlier session
    work = str(tmp_path / "run")
    root = wl_store.bronze_root(work)
    assert root.startswith(work + os.sep)
    assert not os.path.exists(root)


def test_percentile_and_median():
    xs = [float(x) for x in range(1, 11)]
    assert common.median(xs) == 5.5
    assert common.percentile(xs, 0) == 1.0
    assert common.percentile(xs, 100) == 10.0
    assert abs(common.percentile(xs, 90) - 9.1) < 1e-9


def test_span_self_time():
    tr = common.Tracer(enabled=True)
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    outer, inner = tr.spans
    assert inner.parent == 0 and outer.parent is None
    st = tr.self_times()
    assert abs(st[0] - ((outer.end - outer.start) - (inner.end - inner.start))) < 1e-9
    off = common.Tracer(enabled=False)
    with off.span("x"):
        pass
    assert off.spans == []


def test_patched_restores():
    class Box:
        @staticmethod
        def f(x):
            return x + 1

    tr = common.Tracer(enabled=True)
    orig = Box.f
    with common.patched([(Box, "f")], tr, "box."):
        assert Box.f(1) == 2
    assert Box.f is orig
    assert [s.name for s in tr.spans] == ["box.f"]


def test_benchmark_json_metrics_are_well_formed():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    assert len(names) == len(set(names))
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])


def test_batch_cpu_is_unstolen_per_operation_medians_or_block_median():
    from harness import Batch, Harness

    def block(cpu, steal):
        b = Batch(cpu=cpu, steal=steal)
        b.op("r", 0.1)
        return b

    # each block needs 1.0 s with nothing stolen
    blocks = [block(1.0 + common.STEAL_FACTOR * s, s) for s in (0.0, 0.05, 0.10, 0.20)]
    assert abs(Harness.batch_cpu(blocks) - 1.0) < 1e-9

    sweeps = []
    for cpus in ([1.0, 2.0], [3.0, 2.5], [2.0, 9.0]):
        b = Batch(cpu=sum(cpus))
        for key, c in zip(("q1", "q2"), cpus):
            b.op(key, c, cpu=c)
        sweeps.append(b)
    # q1's median 2.0 plus q2's median 2.5
    assert abs(Harness.batch_cpu(sweeps) - 4.5) < 1e-9
    # q1's 2.0 s in the third sweep ran while 40% was stolen: worth 1.0 s
    sweeps[2].op_steal[0] = 0.4
    assert abs(Harness.batch_cpu(sweeps) - 3.5) < 1e-9
