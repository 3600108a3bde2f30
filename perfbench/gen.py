"""Seeded input generator for the pipeline benchmark.

Kept apart from the program under test: it imports nothing from the
engine package and no Spark. Everything it writes is a function of
the seed alone:

- ``pos/day_NNN.csv`` — daily POS exports written with the ``csv``
  module in the raw sheet layout the ETL reads. The product grammar
  follows the engine's POS fixture (``plans/pos_fixture.py``): sized,
  hot/cold, sugar and spice variants, target items with flavours,
  thousands-comma amounts, ``x N`` quantities and missing ones. Each
  drop carries re-submitted orders of earlier days (upserts),
  negative amounts (quarantine), a totals footer, empty tokens,
  unmapped items and target items with unknown flavours, at fixed
  shares.
- ``sf/*.parquet`` — a TPC-H-shaped star (region, nation, customer,
  part, orders, lineitem, events) for the registered dashboard KPIs.
- ``docs/documents.parquet`` — a curation corpus with exact and
  near duplicates, shared boilerplate lines, PII, non-English and
  too-short documents.
- ``reads.json`` — the seeded reads that follow each daily run and
  each curation pass.

``manifest.json`` records every input's bytes and the generator's
expected counts. Run standalone to inspect an input set::

    python3 perfbench/gen.py OUT_DIR --seed 7
"""

from __future__ import annotations

import argparse
import csv
import datetime as dt
import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

HEADER = (
    "Order ID", "Type/Channel", "Products", "Product amount",
    "Received amount", "Cash", "Gcash", "Payment time",
)

# Product tokens in the fixture's grammar, as (token, unit price). One
# token per base item, so the items of one order never collide on the
# fact key (order_id, items, payment_time).
PRODUCTS: tuple[tuple[str, float], ...] = (
    ("Matcha Espresso(Hot)", 160.0),
    ("Cappuccino(Cold)", 140.0),
    ("Americano(Hot)", 120.0),
    ("Spanish Latte(Cold)", 165.0),
    ("Signature Chocolate(Duo)", 596.0),
    ("Choco Almond(Familia)", 1192.0),
    ("French Fries(Default/Cheese)", 90.0),
    ("Fruit Lemonade w/Popping Pearls(Sugar 50%)", 95.0),
    ("Mango Yakult(Sugar 75%)", 110.0),
    ("Pad Kra Pao(Mild (1/4))", 210.0),
    ("Spicy Pork Stir Fry(Spicy (3/4))", 230.0),
    ("Cookies(Chip and Chunk)", 115.0),
    ("Croffle(Almond Nutella)", 175.0),
    ("Dubai Cookie(Default)", 175.0),
    ("Croissant(Spam and Egg)", 190.0),
    ("Croffle(Smores Cookie)", 145.0),
    ("Chicken Salpicao", 255.0),
    ("Coke in Can", 45.0),
    ("Biscoff tiramisu", 260.0),
    ("Carbonara", 240.0),
    ("Nachos", 95.0),
    ("Clubhouse", 220.0),
    ("New York Cheesecake", 185.0),
    ("Banana Bread", 85.0),
)
UNMAPPED = ("Mystery Item(Default)", 95.0)  # → Uncategorized
UNKNOWN_FLAVOUR = ("Croffle(Unicorn)", 150.0)  # dropped by the kernel

# Every share and size below is an assumption of this benchmark, not an
# observation: the engine's only observed deployment loaded one demo
# batch of 121 fact rows, and its POS fixture (``plans/pos_fixture.py``)
# covers each row kind once rather than at a traffic share. The shares
# keep every row kind in every drop; the sizes keep one run inside the
# benchmark's time budget on 4 cores.

#: shares of a drop's new orders: re-submitted corrections of orders
#: from the last ``reach_days`` days, and negative amounts
SHARES = {"resubmit": 0.10, "reach_days": 3, "negative": 0.03}

ORDERS_PER_DAY = 500
DAYS = 16
N_DOCS = 240
SF_ORDERS = 6_000
SF_CUSTOMERS = 600
SF_PARTS = 800
SF_EVENTS = 6_000
#: reads after each daily run / curation pass
KPIS_PER_BURST = 3
LOOKUPS_PER_BURST = 9
DOC_REPORTS_PER_BURST = 4
DOC_LOOKUPS_PER_BURST = 8

EPOCH = dt.datetime(2026, 2, 1)


def _money(x: float) -> str:
    return f"{x:,.2f}"


def _order_row(rng: random.Random, day: int, seq: int, shares: dict) -> list[str]:
    n_items = rng.choice((1, 1, 2, 2, 3, 4))
    picks = rng.sample(PRODUCTS, n_items)
    roll = rng.random()
    if roll < 0.04:
        picks.append(UNMAPPED)
    elif roll < 0.06:
        picks.append(UNKNOWN_FLAVOUR)
    tokens, total = [], 0.0
    for name, price in picks:
        q = rng.choice((1, 1, 1, 2, 3))
        total += q * price
        # 1 in 12 tokens omits the quantity (kernel default: 1)
        tokens.append(name if rng.random() < 1 / 12 and q == 1 else f"{name} x {q}")
    products = ", ".join(tokens) if rng.random() < 0.5 else ",".join(tokens)
    if rng.random() < 0.05:
        products += ","  # trailing empty token
    amount = -total if rng.random() < shares["negative"] else total
    received = amount + rng.choice((0.0, 0.0, 0.0, 5.0, 20.0))
    pay = rng.random()
    if pay < 0.45:
        cash, gcash = _money(received).replace(",", ""), "-"
    elif pay < 0.80:
        cash, gcash = "-", _money(received).replace(",", "")
    elif pay < 0.93:
        cash, gcash = "-", "-"
    else:
        cash, gcash = rng.choice(("0.00", "0")), "-"
    ts = EPOCH + dt.timedelta(days=day, seconds=rng.randrange(7 * 3600, 22 * 3600))
    return [
        f"D{day:03d}-{seq:06d}",
        rng.choice(("Dine-in", "Takeaway")),
        products,
        _money(amount),
        _money(received),
        cash,
        gcash,
        ts.strftime("%Y-%m-%d %H:%M:%S"),
    ]


def write_pos_drops(out: str, rng: random.Random, shares: dict) -> list[dict]:
    """One CSV per day; returns per-drop bookkeeping."""
    pos = os.path.join(out, "pos")
    os.makedirs(pos, exist_ok=True)
    history: list[list[list[str]]] = []
    drops = []
    for day in range(DAYS):
        rows = [_order_row(rng, day, i, shares) for i in range(ORDERS_PER_DAY)]
        n_resub = 0
        if history:
            n_resub = int(ORDERS_PER_DAY * shares["resubmit"])
            pool_days = history[-shares["reach_days"]:]
            for _ in range(n_resub):
                old = list(rng.choice(rng.choice(pool_days)))
                # a correction: same order, items and time, new receipt
                old[4] = _money(float(old[4].replace(",", "")) + 1.0)
                rows.append(old)
            rng.shuffle(rows)
        footer = ["", "", "", _money(sum(float(r[3].replace(",", "")) for r in rows)), "", "", "", ""]
        path = os.path.join(pos, f"day_{day:03d}.csv")
        with open(path, "w", newline="") as f:
            w = csv.writer(f)
            w.writerow(HEADER)
            w.writerows(rows)
            w.writerow(footer)
        history.append([r for r in rows if r[0].startswith(f"D{day:03d}-")])
        drops.append({
            "file": os.path.relpath(path, out),
            "bytes": os.path.getsize(path),
            "orders": len(rows),
            "new_orders": ORDERS_PER_DAY,
            "resubmitted": n_resub,
            "negative": sum(r[3].startswith("-") for r in rows),
        })
    return drops


def _write(table: dict, path: str) -> int:
    pq.write_table(pa.table(table), path)
    return os.path.getsize(path)


def write_star(out: str, rng: random.Random) -> dict[str, int]:
    """TPC-H-shaped tables with the columns the dashboard queries read."""
    sf = os.path.join(out, "sf")
    os.makedirs(sf, exist_ok=True)
    sizes = {}
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    sizes["region"] = _write({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": regions,
    }, os.path.join(sf, "region.parquet"))
    sizes["nation"] = _write({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }, os.path.join(sf, "nation.parquet"))
    sizes["customer"] = _write({
        "c_custkey": pa.array(range(SF_CUSTOMERS), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(SF_CUSTOMERS)],
        "c_nationkey": pa.array([rng.randrange(25) for _ in range(SF_CUSTOMERS)], pa.int32()),
        "c_acctbal": [round(rng.uniform(-999, 9999), 2) for _ in range(SF_CUSTOMERS)],
        "c_mktsegment": [rng.choice(("AUTOMOBILE", "BUILDING", "HOUSEHOLD", "MACHINERY"))
                         for _ in range(SF_CUSTOMERS)],
    }, os.path.join(sf, "customer.parquet"))
    types = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
    sizes["part"] = _write({
        "p_partkey": pa.array(range(SF_PARTS), pa.int64()),
        "p_name": [f"part {i}" for i in range(SF_PARTS)],
        "p_brand": [f"Brand#{rng.randrange(1, 26)}" for _ in range(SF_PARTS)],
        "p_type": [rng.choice(types) for _ in range(SF_PARTS)],
        "p_size": pa.array([rng.randrange(1, 51) for _ in range(SF_PARTS)], pa.int32()),
        "p_retailprice": [round(900 + i * 0.1, 2) for i in range(SF_PARTS)],
    }, os.path.join(sf, "part.parquet"))
    li: dict[str, list] = {k: [] for k in (
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
        "l_shipdate")}
    orders: dict[str, list] = {k: [] for k in (
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
        "o_orderpriority")}
    base = dt.datetime(1995, 1, 1)
    for ok in range(SF_ORDERS):
        odate = base + dt.timedelta(days=rng.randrange(2400))
        total = 0.0
        for ln in range(1, rng.randrange(2, 9)):
            qty = float(rng.randrange(1, 51))
            price = round(qty * rng.uniform(900, 2000), 2)
            total += price
            li["l_orderkey"].append(ok)
            li["l_partkey"].append(rng.randrange(SF_PARTS))
            li["l_suppkey"].append(rng.randrange(100))
            li["l_linenumber"].append(ln)
            li["l_quantity"].append(qty)
            li["l_extendedprice"].append(price)
            li["l_discount"].append(rng.randrange(11) / 100)
            li["l_tax"].append(rng.randrange(9) / 100)
            li["l_returnflag"].append(rng.choice("ANR"))
            li["l_linestatus"].append(rng.choice("FO"))
            li["l_shipdate"].append(odate + dt.timedelta(days=rng.randrange(1, 120)))
        orders["o_orderkey"].append(ok)
        orders["o_custkey"].append(rng.randrange(SF_CUSTOMERS))
        orders["o_orderstatus"].append(rng.choice("FOP"))
        orders["o_totalprice"].append(round(total, 2))
        orders["o_orderdate"].append(odate)
        orders["o_orderpriority"].append(rng.choice(
            ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")))
    li_types = {"l_orderkey": pa.int64(), "l_partkey": pa.int64(), "l_suppkey": pa.int64(),
                "l_linenumber": pa.int32(), "l_shipdate": pa.timestamp("us")}
    sizes["lineitem"] = _write(
        {k: pa.array(v, li_types.get(k)) for k, v in li.items()},
        os.path.join(sf, "lineitem.parquet"))
    sizes["orders"] = _write(
        {k: pa.array(v, pa.timestamp("us") if k == "o_orderdate" else None)
         for k, v in orders.items()},
        os.path.join(sf, "orders.parquet"))
    ev_base = dt.datetime(2024, 1, 1)
    ts = sorted(ev_base + dt.timedelta(seconds=rng.uniform(0, 90 * 86400))
                for _ in range(SF_EVENTS))
    sizes["events"] = _write({
        "event_id": pa.array(range(SF_EVENTS), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array([rng.randrange(500) for _ in range(SF_EVENTS)], pa.int64()),
        "event_type": [rng.choice(("click", "view", "purchase", "error")) for _ in range(SF_EVENTS)],
        "value": [round(rng.uniform(0, 100), 2) for _ in range(SF_EVENTS)],
        "props": [json.dumps({"k": rng.randrange(100)}) for _ in range(SF_EVENTS)],
    }, os.path.join(sf, "events.parquet"))
    return sizes


_WORDS = (
    "data table query engine stream batch window merge join filter scan "
    "partition shuffle cache memory disk file format schema column value "
    "record order customer product price sales store region market report "
    "daily morning evening service quality system model corpus token "
    "language training pipeline cluster server network request response "
    "latency storage index search result metric signal feature sample "
    "coffee pastry cookie croffle matcha latte chocolate caramel cream "
    "river mountain garden city street market harbor forest valley bridge "
    "teacher student library lesson history science music painting theater"
).split()
_STOP = ("the", "and", "of", "to", "a", "in", "is", "it")
_BOILER = "Subscribe to the newsletter and follow us for daily updates."
_ES = "el la de que y en un es la casa de la ciudad y el mercado".split()


def _sentence(rng: random.Random) -> str:
    out = []
    for _ in range(rng.randrange(8, 16)):
        out.append(rng.choice(_STOP) if rng.random() < 0.3 else rng.choice(_WORDS))
    return " ".join(out).capitalize() + "."


def _doc(rng: random.Random) -> str:
    paras = []
    for _ in range(rng.randrange(2, 5)):
        paras.append(" ".join(_sentence(rng) for _ in range(rng.randrange(2, 5))))
    if rng.random() < 0.15:
        paras.insert(rng.randrange(len(paras) + 1),
                     f"Contact {rng.choice(_WORDS)}{rng.randrange(100)}@example.com "
                     f"or call 555-{rng.randrange(100, 999)}-{rng.randrange(1000, 9999)}.")
    if rng.random() < 0.25:
        paras.append(_BOILER)
    return "\n".join(paras)


#: exact shares of the curation corpus by kind; the rest are unique
#: English documents
DOC_SHARES = {"exact_dup": 0.10, "near_dup": 0.10, "non_en": 0.05, "short": 0.05}


def write_docs(out: str, rng: random.Random) -> dict:
    """Curation corpus at the exact shares of ``DOC_SHARES``: exact
    copies and near duplicates (one word swapped) of earlier documents,
    Spanish and too-short documents, in a seeded order."""
    os.makedirs(os.path.join(out, "docs"), exist_ok=True)
    kinds = [k for k, share in DOC_SHARES.items() for _ in range(round(N_DOCS * share))]
    kinds += ["unique"] * (N_DOCS - 1 - len(kinds))
    rng.shuffle(kinds)
    kinds.insert(0, "unique")  # a duplicate needs an earlier document
    texts: list[str] = []
    for kind in kinds:
        if kind == "exact_dup":
            texts.append(rng.choice(texts))
        elif kind == "near_dup":
            words = rng.choice(texts).split(" ")
            words[rng.randrange(len(words))] = rng.choice(_WORDS)
            texts.append(" ".join(words))
        elif kind == "non_en":
            texts.append(" ".join(rng.choice(_ES) for _ in range(60)))
        elif kind == "short":
            texts.append(_sentence(rng))
        else:
            texts.append(_doc(rng))
    counts = {k: kinds.count(k) for k in ("unique", *DOC_SHARES)}
    path = os.path.join(out, "docs", "documents.parquet")
    size = _write({
        "doc_id": pa.array(range(N_DOCS), pa.int64()),
        "text": texts,
        "lang": ["en"] * N_DOCS,
        "source": [f"src{i % 7}" for i in range(N_DOCS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }, path)
    return {"file": os.path.relpath(path, out), "bytes": size, "docs": N_DOCS, **counts}


KPI_OPS = (
    "star_net_sales_by_region", "a4_a7_headline_kpis", "a8_a12_order_mix",
    "a9_time_bucket_sets", "a10_a11_share_of_total",
    "pos_category", "pos_payment_mix", "pos_hour", "view_read",
)


def read_bursts(rng: random.Random) -> dict[str, list[list[list]]]:
    """The dashboard's reads after each daily run (KPIs in a fixed
    cycle, then point reads of orders landed within the upsert reach
    and one day-range read), and the corpus reads after each curation
    pass (the train split's source mixture and the documents and tokens
    per split, then point reads by doc id). The first day's reads run
    every KPI once, so each is warm before the first measured day."""
    pos = []
    for day in range(DAYS):
        if day == 0:
            burst = [["kpi", name] for name in KPI_OPS]
        else:
            burst = [["kpi", KPI_OPS[((day - 1) * KPIS_PER_BURST + k) % len(KPI_OPS)]]
                     for k in range(KPIS_PER_BURST)]
        for _ in range(LOOKUPS_PER_BURST - 1):
            d = rng.randrange(max(0, day - SHARES["reach_days"]), day + 1)
            burst.append(["lookup_order", f"D{d:03d}-{rng.randrange(ORDERS_PER_DAY):06d}"])
        d = rng.randrange(day + 1)
        burst.append(["lookup_days", d, d + 1])
        pos.append(burst)
    docs = [[[("mixture", "split_tokens")[i % 2]] for i in range(DOC_REPORTS_PER_BURST)]
            + [["lookup_doc", rng.randrange(N_DOCS)] for _ in range(DOC_LOOKUPS_PER_BURST)]
            for _ in range(DAYS)]
    return {"pos": pos, "docs": docs}


def generate(out: str, seed: int) -> dict:
    """Write the whole input set under ``out``; return its manifest."""
    os.makedirs(out, exist_ok=True)
    drops = write_pos_drops(out, random.Random(f"pos:{seed}"), SHARES)
    star = write_star(out, random.Random(f"star:{seed}"))
    docs = write_docs(out, random.Random(f"docs:{seed}"))
    with open(os.path.join(out, "reads.json"), "w") as f:
        json.dump(read_bursts(random.Random(f"reads:{seed}")), f)
    manifest = {
        "seed": seed,
        "shares": SHARES,
        "epoch": EPOCH.isoformat(),
        "drops": drops,
        "star_bytes": star,
        "docs": docs,
    }
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1)
    return manifest


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out")
    ap.add_argument("--seed", type=int, required=True)
    a = ap.parse_args()
    print(json.dumps(generate(a.out, a.seed), indent=1))
