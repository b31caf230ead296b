"""Seeded Sakila envelope generator and its plain-Python ground truth.

Lands JSON-lines envelopes (``{table, operation, timestamp, data}``) for
customer, film, inventory, rental and payment under
``<root>/<table>/year=YYYY/month=M/day=D/part-0.json``, with fixed shares
of re-delivered duplicates, later UPDATE envelopes, malformed lines, null
required fields and negative payment amounts, and Zipf-skewed customer
keys on rentals and payments. Film descriptions double as the search
corpus (Zipf-drawn words), and ``film_vectors`` gives one embedding per
film id for the vector store.

``ground_truth`` recomputes what the silver and gold layers must hold
from the same envelopes, following the conform rules: the newest
envelope per key wins (UPDATE over INSERT on equal time), then rows with
a null required field are dropped, then negative money is clamped to 0.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
from decimal import Decimal

SIZES = {"customer": 400, "film": 400, "inventory": 1200, "rental": 4000}
DUP_SHARE = 0.05        # re-delivered identical envelopes
UPDATE_SHARE = 0.05     # later UPDATE envelopes for an existing key
MALFORMED_SHARE = 0.01  # lines that are not JSON
NULL_SHARE = 0.01       # a required field arrives null
NEGATIVE_SHARE = 0.02   # payments with a negative amount
ZIPF_S = 1.1
START = dt.datetime(2024, 1, 1)
DAYS = 28

PK = {"customer": "customer_id", "film": "film_id", "inventory": "inventory_id",
      "rental": "rental_id", "payment": "payment_id"}
REQUIRED = {
    "customer": ("customer_id", "email"),
    "film": ("film_id", "title"),
    "payment": ("payment_id", "customer_id", "amount"),
    "rental": ("rental_id", "customer_id"),
    "inventory": ("inventory_id", "film_id"),
}
NULLABLE = {"customer": "email", "film": "title", "payment": "amount",
            "rental": "customer_id", "inventory": "film_id"}
UPDATED = {"customer": "email", "film": "rental_rate", "payment": "amount",
           "rental": "return_date", "inventory": "store_id"}
OP_RANK = {"INSERT": 1, "UPDATE": 2, "DELETE": 3}


def vocabulary(n: int = 600) -> list[str]:
    """Deterministic pseudo-words, most frequent first."""
    cons, vow = "bcdfghklmnprstvz", "aeiou"
    words = []
    for i in range(n):
        a, b, c = i % 16, (i // 16) % 5, (i // 80) % 16
        words.append(cons[a] + vow[b] + cons[c] + vow[(i // 1280 + a) % 5]
                     + ("" if i < 1280 else str(i // 1280)))
    return words


def zipf_weights(n: int, s: float = ZIPF_S) -> list[float]:
    return [1.0 / (r ** s) for r in range(1, n + 1)]


def _stamp(t: dt.datetime) -> str:
    return t.strftime("%Y-%m-%d %H:%M:%S")


def _iso(t: dt.datetime) -> str:
    return t.strftime("%Y-%m-%dT%H:%M:%S.%f")


def generate(seed: int, sizes: dict[str, int] | None = None) -> dict:
    """Every envelope (as dicts, plus malformed raw lines) by table."""
    rng = random.Random(seed)
    n = dict(SIZES, **(sizes or {}))
    words = vocabulary()
    weights = zipf_weights(len(words))
    base: dict[str, list[tuple[dt.datetime, dict]]] = {t: [] for t in PK}

    def when() -> dt.datetime:
        return START + dt.timedelta(seconds=rng.randrange(DAYS * 86400))

    for i in range(1, n["customer"] + 1):
        base["customer"].append((when(), {
            "customer_id": str(i), "store_id": str(rng.randrange(1, 3)),
            "first_name": f"F{i}", "last_name": f"L{i}",
            "email": f"  Cust{i}@Example.com ", "address_id": str(i),
            "active": rng.choice(["1", "0", "true", "false"]),
            "create_date": "2023-06-01 00:00:00",
            "last_update": "2023-06-01 00:00:00"}))
    for i in range(1, n["film"] + 1):
        desc = " ".join(rng.choices(words, weights, k=rng.randrange(8, 40)))
        base["film"].append((when(), {
            "film_id": str(i), "title": f"  FILM {i} ", "description": desc,
            "release_year": str(rng.randrange(1990, 2024)), "language_id": "1",
            "rental_duration": str(rng.randrange(3, 8)),
            "rental_rate": rng.choice(["0.99", "2.99", "4.99"]),
            "length": str(rng.randrange(60, 180)),
            "replacement_cost": "19.99", "rating": rng.choice(["G", "PG", "R"]),
            "special_features": "Trailers", "last_update": "2023-06-01 00:00:00"}))
    for i in range(1, n["inventory"] + 1):
        base["inventory"].append((when(), {
            "inventory_id": str(i), "film_id": str(rng.randrange(1, n["film"] + 1)),
            "store_id": str(rng.randrange(1, 3)),
            "last_update": "2023-06-01 00:00:00"}))
    cust_w = zipf_weights(n["customer"])
    customers = rng.choices(range(1, n["customer"] + 1), cust_w, k=n["rental"])
    for i in range(1, n["rental"] + 1):
        t = when()
        cust = str(customers[i - 1])
        base["rental"].append((t, {
            "rental_id": str(i), "rental_date": _stamp(t),
            "inventory_id": str(rng.randrange(1, n["inventory"] + 1)),
            "customer_id": cust,
            "return_date": _stamp(t + dt.timedelta(days=rng.randrange(1, 8))),
            "staff_id": "1", "last_update": _stamp(t)}))
        pay_t = t + dt.timedelta(minutes=rng.randrange(1, 120))
        amount = round(rng.uniform(0.99, 11.99), 2)
        if rng.random() < NEGATIVE_SHARE:
            amount = -amount
        base["payment"].append((pay_t, {
            "payment_id": str(i), "customer_id": cust, "staff_id": "1",
            "rental_id": str(i), "amount": f"{amount:.2f}",
            "payment_date": _stamp(pay_t), "last_update": _stamp(pay_t)}))

    out: dict[str, dict] = {}
    for table, rows in base.items():
        envs: list[tuple[dt.datetime, dict]] = []
        for t, data in rows:
            if rng.random() < NULL_SHARE:
                data = dict(data, **{NULLABLE[table]: None})
            env = {"table": table, "operation": "INSERT",
                   "timestamp": _iso(t), "data": data}
            envs.append((t, env))
            if rng.random() < DUP_SHARE:
                envs.append((t, json.loads(json.dumps(env))))
            if rng.random() < UPDATE_SHARE:
                later = t + dt.timedelta(hours=rng.randrange(1, 72))
                envs.append((later, {
                    "table": table, "operation": "UPDATE",
                    "timestamp": _iso(later),
                    "data": dict(data, **{UPDATED[table]: _updated(
                        table, data, rng)}),
                }))
        n_bad = max(1, int(len(rows) * MALFORMED_SHARE))
        bad = [(when(), f'{{"table": "{table}", "operation": "INSERT", '
                        f'"timestamp": "broken-{k}", "data": {{')
               for k in range(n_bad)]
        out[table] = {"envelopes": envs, "malformed": bad}
    return out


def _updated(table: str, data: dict, rng: random.Random):
    if table == "customer":
        return f"new{data['customer_id']}@example.com"
    if table == "film":
        return "3.99"
    if table == "payment":
        return f"{round(rng.uniform(0.99, 11.99), 2):.2f}"
    if table == "rental":
        return data["return_date"][:-8] + "23:59:59"
    return "3"


def write_bronze(root: str, generated: dict) -> dict[str, int]:
    """Write the envelopes as hive-partitioned JSON lines; returns the
    line count per table. Lines within a day keep generation order."""
    counts = {}
    for table, parts in generated.items():
        by_day: dict[tuple[int, int, int], list[str]] = {}
        lines = [(t, json.dumps(env, sort_keys=True)) for t, env in parts["envelopes"]]
        lines += parts["malformed"]
        for t, line in lines:
            by_day.setdefault((t.year, t.month, t.day), []).append(line)
        for (y, m, d), day_lines in sorted(by_day.items()):
            path = os.path.join(root, table, f"year={y}", f"month={m}", f"day={d}")
            os.makedirs(path, exist_ok=True)
            with open(os.path.join(path, "part-0.json"), "w") as f:
                f.write("\n".join(day_lines) + "\n")
        counts[table] = len(lines)
    return counts


def _latest(envelopes: list[tuple[dt.datetime, dict]], pk: str) -> dict[int, dict]:
    best: dict[int, tuple] = {}
    for _t, env in envelopes:
        key = env["data"].get(pk)
        if key is None:
            continue
        rank = (env["timestamp"], OP_RANK[env["operation"]])
        k = int(key)
        if k not in best or rank > best[k][0]:
            best[k] = (rank, env["data"])
    return {k: v[1] for k, v in best.items()}


def ground_truth(generated: dict) -> dict:
    """Silver row and corrupt counts per table, and the gold totals."""
    silver: dict[str, dict[int, dict]] = {}
    truth: dict = {"silver_rows": {}, "corrupt_rows": {}}
    for table, parts in generated.items():
        rows = _latest(parts["envelopes"], PK[table])
        rows = {k: d for k, d in rows.items()
                if all(d.get(c) is not None for c in REQUIRED[table])}
        silver[table] = rows
        truth["silver_rows"][table] = len(rows)
        truth["corrupt_rows"][table] = len(parts["malformed"])

    customers = set(silver["customer"])
    payments = silver["payment"]
    rentals = silver["rental"]
    films = set(silver["film"])
    inv_film = {k: int(d["film_id"]) for k, d in silver["inventory"].items()}
    daily: dict[str, list] = {}
    for d in payments.values():
        amount = max(Decimal(d["amount"]), Decimal(0))
        slot = daily.setdefault(d["payment_date"][:10], [0, Decimal(0)])
        slot[0] += 1
        slot[1] += amount
    truth["gold"] = {
        "customer_summary": {
            "rows": len(customers),
            "total_payments": sum(int(d["customer_id"]) in customers
                                  for d in payments.values()),
            "total_rentals": sum(int(d["customer_id"]) in customers
                                 for d in rentals.values()),
        },
        "daily_revenue": {day: [c, float(rev)] for day, (c, rev) in daily.items()},
        "rental_trends": {"total_rentals": len(rentals)},
        "film_performance": {
            "rows": len(films),
            "total_rentals": sum(
                inv_film.get(int(d["inventory_id"])) in films
                for d in rentals.values()),
        },
    }
    return truth


def corpus(generated: dict) -> dict[int, str]:
    """The search corpus the silver film table will carry: the newest
    surviving envelope's description per film id."""
    rows = _latest(generated["film"]["envelopes"], "film_id")
    return {k: d["description"] for k, d in sorted(rows.items())
            if all(d.get(c) is not None for c in REQUIRED["film"])}
