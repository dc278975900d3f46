"""Seeded input generators for the three benchmark workloads.

Every generator takes a seed and writes its files into one directory. The
same seed gives byte-identical files (numpy PCG64 streams, pyarrow parquet
writer, fixed key order in JSON); a different seed gives different files.
Schemas and value ranges follow the repository's TPC-H-ish corpus
(TESTDATA.md) and the zolo API fixtures under fixtures/; no file is copied.

    nightly   Square / Shopify / QuickBooks payload JSONL plus items and
              coffee-profile CSVs, named like fixtures/: one backfill
              directory with a year of history, then one directory per
              nightly window (one whole local day, UTC-7). Every day carries
              the payload counts of the fixtures/ extraction.
    forecast  lineitem + part with ~100 p_brand profiles and a year of
              weekly history before the forecast cut; about 15 % of profiles launched in the last
              five weeks before the forecast cut.
    headline  all ten corpus tables (lineitem, orders, part, events,
              documents, embeddings, ...) at 0.1 x the sf0.1 row counts,
              one row group per table.

Run standalone to inspect a corpus:  python3 perfbench/gen.py <workload> <seed> <dir>
"""
import datetime as dt
import hashlib
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_VERSION = 2

# ---------------------------------------------------------------- corpus

# 0.1 x the repository's sf0.1 corpus sizes (600 k lineitem, 150 k orders,
# ...; TESTDATA.md).
HEADLINE_ROWS = {
    "lineitem": 60_000, "orders": 15_000, "part": 2_000, "customer": 1_500,
    "supplier": 100, "events": 10_000, "documents": 500, "embeddings": 200,
}
ADJ = ["large", "small", "hot", "cold", "blue", "red", "new", "old", "shiny", "dull", "green"]
NOUN = ["ring", "bolt", "anvil", "plate", "rod", "widget"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ("a agg batch big column customer data fast filter group hash join key line merge "
         "order part query row scan slow small sort spark stream table the value vector window").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
EMB_DIM = 64

US_PER_DAY = 86_400 * 1_000_000


def _ts(days_since_epoch):
    """int64 day numbers -> pyarrow timestamp[us] (naive, as the corpus)."""
    return pa.array(np.asarray(days_since_epoch, dtype=np.int64) * US_PER_DAY, type=pa.timestamp("us"))


def _day(s):
    return (dt.date.fromisoformat(s) - dt.date(1970, 1, 1)).days


def _write(table, path, row_groups=1):
    rows = max(1, table.num_rows)
    per_group = -(-rows // row_groups)
    pq.write_table(table, path, row_group_size=per_group, compression="snappy")


def _part(rng, n, brands):
    keys = np.arange(n, dtype=np.int64)
    names = [f"{ADJ[a]} {NOUN[b]}" for a, b in zip(rng.integers(0, len(ADJ), n), rng.integers(0, len(NOUN), n))]
    return keys, {
        "p_partkey": pa.array(keys),
        "p_name": pa.array(names),
        "p_brand": pa.array([f"Brand#{b}" for b in brands]),
        "p_type": pa.array([P_TYPES[i] for i in rng.integers(0, len(P_TYPES), n)]),
        "p_size": pa.array(rng.integers(1, 51, n).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (keys % 1000) / 10.0, 2)),
    }


def _lineitem(rng, n, orders, parts, suppliers, ship_days):
    q = rng.integers(1, 51, n).astype(np.float64)
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, orders, n)),
        "l_partkey": pa.array(parts),
        "l_suppkey": pa.array(rng.integers(0, suppliers, n)),
        "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
        "l_quantity": pa.array(q),
        "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 105_000.0, n), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array([("A", "N", "R")[i] for i in rng.integers(0, 3, n)]),
        "l_linestatus": pa.array([("F", "O")[i] for i in rng.integers(0, 2, n)]),
        "l_shipdate": _ts(ship_days),
    })


def gen_headline(seed, out):
    """The 18-query headline corpus: sf0.1 schemas, ranges and layout."""
    rng = np.random.Generator(np.random.PCG64(seed))
    n = HEADLINE_ROWS
    _write(pa.table({"r_regionkey": pa.array(np.arange(5, dtype=np.int32)), "r_name": pa.array(REGIONS)}),
           f"{out}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(rng.integers(0, 5, 25).astype(np.int32)),
    }), f"{out}/nation.parquet")
    c = n["customer"]
    _write(pa.table({
        "c_custkey": pa.array(np.arange(c, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(c)]),
        "c_nationkey": pa.array(rng.integers(0, 25, c).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, c), 2)),
        "c_mktsegment": pa.array([SEGMENTS[i] for i in rng.integers(0, 5, c)]),
    }), f"{out}/customer.parquet")
    s = n["supplier"]
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(s, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(s)]),
        "s_nationkey": pa.array(rng.integers(0, 25, s).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, s), 2)),
    }), f"{out}/supplier.parquet")
    p = n["part"]
    _, cols = _part(rng, p, rng.integers(1, 26, p))
    _write(pa.table(cols), f"{out}/part.parquet")
    o = n["orders"]
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(o, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, c, o)),
        "o_orderstatus": pa.array([("F", "O", "P")[i] for i in rng.integers(0, 3, o)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500_000.0, o), 2)),
        "o_orderdate": _ts(rng.integers(_day("1995-01-01"), _day("2001-08-02"), o)),
        "o_orderpriority": pa.array([PRIORITIES[i] for i in rng.integers(0, 5, o)]),
    }), f"{out}/orders.parquet")
    li = n["lineitem"]
    _write(_lineitem(rng, li, o, rng.integers(0, p, li), s,
                     rng.integers(_day("1995-01-02"), _day("2001-11-05"), li)), f"{out}/lineitem.parquet")
    e = n["events"]
    start_us = _day("2024-01-01") * US_PER_DAY
    ts = np.sort(rng.integers(start_us, start_us + 30 * US_PER_DAY, e))
    _write(pa.table({
        "event_id": pa.array(np.arange(e, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, e)),
        "event_type": pa.array([EVENT_TYPES[i] for i in rng.integers(0, 5, e)]),
        "value": pa.array(np.round(rng.exponential(50.0, e), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]),
    }), f"{out}/events.parquet")
    d = n["documents"]
    texts = []
    for i in range(d):
        r = rng.random()
        if i > 10 and r < 0.05:  # near-duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.052:  # exact duplicate
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(VOCAB[w] for w in rng.integers(0, len(VOCAB), int(rng.integers(8, 100)))))
    _write(pa.table({
        "doc_id": pa.array(np.arange(d, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[i] for i in rng.choice(5, d, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(d)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }), f"{out}/documents.parquet")
    m = n["embeddings"]
    v = rng.standard_normal((m, EMB_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    _write(pa.table({
        "vec_id": pa.array(np.arange(m, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, m).astype(np.int32)),
    }), f"{out}/embeddings.parquet")
    return {"rows": dict(n)}


# ---------------------------------------------------------------- forecast

FORECAST_CUT = "2001-06-01"  # the l_shipdate cut every forecast query applies
FORECAST_PROFILES = 100      # p_brand profiles (the sf corpora have 25)
FORECAST_SHORT_SHARE = 0.15  # profiles launched at most five weeks before the cut
FORECAST_LINEITEM_ROWS = 200_000
FORECAST_PARTS = 10_000
FORECAST_ROW_GROUPS = 16     # at least 2 x cores on hosts up to 8 cores


def gen_forecast(seed, out):
    """lineitem + part for the forecast refresh.

    Long-history profiles sell from 2000-06-05 until after the cut; short
    ones launch on a Monday 1..5 weeks before the cut's week, so they have
    at most five weekly points and are dropped by every model's history
    filter after their group is formed.
    """
    rng = np.random.Generator(np.random.PCG64(seed))
    profiles, parts, lineitem_rows = FORECAST_PROFILES, FORECAST_PARTS, FORECAST_LINEITEM_ROWS
    brands = np.arange(1, profiles + 1)
    n_short = int(round(profiles * FORECAST_SHORT_SHARE))
    short = set(rng.choice(brands, n_short, replace=False).tolist())
    part_brand = rng.integers(1, profiles + 1, parts)
    part_brand[:profiles] = brands  # every profile owns at least one part
    keys, cols = _part(rng, parts, part_brand)
    _write(pa.table(cols), f"{out}/part.parquet")

    cut = _day(FORECAST_CUT)
    cut_week = cut - ((dt.date.fromisoformat(FORECAST_CUT).weekday()))  # Monday of the cut's week
    launch = {b: cut_week - 7 * int(rng.integers(0, 5)) for b in short}
    li_part = rng.integers(0, parts, lineitem_rows)
    li_part[:parts] = keys  # every part sells at least once
    lo, hi = _day("2000-06-05"), _day("2001-11-05")
    ship = rng.integers(lo, hi, lineitem_rows)
    for b, day0 in launch.items():
        sel = part_brand[li_part] == b
        ship[sel] = rng.integers(day0, hi, int(sel.sum()))
    _write(_lineitem(rng, lineitem_rows, 60_000, li_part, 1000, ship), f"{out}/lineitem.parquet",
           row_groups=FORECAST_ROW_GROUPS)
    sold_before_cut = {int(b) for b in np.unique(part_brand[li_part[ship < cut]])}
    return {
        "rows": {"lineitem": lineitem_rows, "part": parts},
        "profiles": profiles,
        "short_profiles": sorted(int(b) for b in short),
        # groups forecast_arima sees before the HAVING filter drops short ones
        "profile_groups": len(sold_before_cut),
        "row_groups_lineitem": FORECAST_ROW_GROUPS,
    }


# ---------------------------------------------------------------- nightly

DEVICES = ["reg1", "reg2", "d1", "d2"]
BAGS = [("8oz bag", 0.5, 900), ("12oz bag", 0.75, 1250), ("2lb bag", 2.0, 2800), ("5lb bag", 5.0, 6200)]
ORIGINS = ["Brazil", "Colombia", "Ethiopia", "Kenya", "Mexico", "Peru", "Guatemala", "Sumatra"]
PROCESSES = ["washed", "natural", "honey"]
MODIFIERS = ["grind", "gift wrap", "espresso grind", "coarse"]
LOCAL_OFFSET_H = 7  # the ETLs' fixed UTC-7 shift
BACKFILL_START = "2018-07-01"
BACKFILL_DAYS = 365
NIGHTLY_WINDOWS = 16
# The repository has no traffic figures (the reference publishes none,
# SURVEY.md section 6). Its one sample of a source pull is the fixtures/
# extraction, so every nightly day carries exactly that pull: 8 Square
# payments, 4 Shopify orders and 3 QuickBooks invoices against 2 customers,
# 4 coffee profiles (the last one retired) and 4 item variants.
PER_DAY = {"square": 8, "shopify": 4, "qb": 3}
NIGHTLY_PROFILES = 4
NIGHTLY_VARIANTS = 4
NIGHTLY_CUSTOMERS = 2


def _dims(rng):
    """items.csv / coffee_profiles.csv text, shaped like fixtures/: the last
    profile is retired and sells nothing, every other one owns at least one
    variant. Bag weights are quarter-pound multiples (as in
    fixtures/items.csv), so weight x quantity sums are exact in binary
    floating point in any order."""
    prof = ["profile_id,profile_name,roast_level,active,single_origin,c1_origin,c1_process,c1_percent,"
            "c2_origin,c2_process,c2_percent,c3_origin,c3_process,c3_percent"]
    for pid in range(1, NIGHTLY_PROFILES + 1):
        active = 0 if pid == NIGHTLY_PROFILES else 1
        o = rng.choice(len(ORIGINS), 2, replace=False)
        single = int(rng.random() < 0.4)
        if single:
            blend = f"{ORIGINS[o[0]]},{PROCESSES[rng.integers(0, 3)]},100.0,,,,,,"
        else:
            pct = int(rng.integers(3, 8)) * 10
            blend = (f"{ORIGINS[o[0]]},{PROCESSES[rng.integers(0, 3)]},{pct}.0,"
                     f"{ORIGINS[o[1]]},{PROCESSES[rng.integers(0, 3)]},{100 - pct}.0,,,")
        roast = ("light", "medium", "dark")[rng.integers(0, 3)]
        prof.append(f"{pid},Profile {pid:02d},{roast},{active},{single},{blend}")
    items = ["product_name,variant_name,zolo_id,square_id,quickbooks_id,shopify_id,category_name,form,weight,profile_id"]
    catalog = []
    active = np.arange(1, NIGHTLY_PROFILES)
    extra = rng.choice(active, NIGHTLY_VARIANTS - len(active))  # profiles with a second variant
    for pid in active:
        for b in rng.choice(len(BAGS), 1 + int((extra == pid).sum()), replace=False):
            bag, weight, cents = BAGS[int(b)]
            zid = len(catalog) + 1
            form = "ground" if rng.random() < 0.25 else "whole bean"
            items.append(f"Coffee {pid:02d},{bag},{zid},sq-{100 + zid},qb-{200 + zid},{9000 + zid},"
                         f"coffee,{form},{weight},{pid}")
            catalog.append((zid, bag, cents))
    return "\n".join(prof) + "\n", "\n".join(items) + "\n", catalog


def _customers(rng):
    cities = [("San Francisco", "94111"), ("Danville", "94526"), ("Alameda", "94501"), ("San Rafael", "94901")]
    lines = []
    for i in range(NIGHTLY_CUSTOMERS):
        city, zipc = cities[int(rng.integers(0, len(cities)))]
        phone = None if rng.random() < 0.2 else {"FreeFormNumber": f"415-555-{1000 + i:04d}"}
        lines.append({"Id": f"c{100 + i}", "CompanyName": f"Cafe {i:03d}", "PrimaryPhone": phone,
                      "ShipAddr": {"Line1": f"{i + 1} Main St", "City": city, "CountrySubDivisionCode": "CA",
                                   "PostalCode": zipc},
                      "MetaData": {"CreateTime": f"2017-{1 + i % 12:02d}-{1 + i % 28:02d}T10:00:00Z"}})
    return lines


def _iso(t):
    return t.strftime("%Y-%m-%dT%H:%M:%SZ")


def _day_payloads(rng, day, catalog, n_customers, counters):
    """One local day's payloads for the three sources. Line counts per
    payload span those of fixtures/: 1-2 Square itemizations, 1-2 Shopify
    line items, 1-3 QuickBooks lines."""
    sq, sh, qb = [], [], []
    base = dt.datetime.combine(day, dt.time()) + dt.timedelta(hours=LOCAL_OFFSET_H)  # local midnight in UTC
    for _ in range(PER_DAY["square"]):
        counters["square"] += 1
        lines = []
        for _ in range(int(rng.integers(1, 3))):
            zid, bag, cents = catalog[int(rng.integers(0, len(catalog)))]
            sku = f"sq-{100 + zid}" if rng.random() > 0.02 else "sq-999"  # unknown SKU: dropped by the join
            qty = int(rng.integers(1, 5))
            r = rng.random()
            mods = None if r < 0.3 else ([] if r < 0.6 else
                                         [{"name": MODIFIERS[int(k)]} for k in rng.integers(0, 4, int(rng.integers(1, 3)))])
            lines.append({"quantity": float(qty), "item_variation_name": bag,
                          "item_detail": {"item_variation_id": sku}, "total_money": {"amount": cents * qty},
                          "modifiers": mods})
        total = sum(line["total_money"]["amount"] for line in lines)
        tender = None if rng.random() < 0.1 else [
            {"tendered_money": {"amount": total + 100 * int(rng.integers(0, 20))}, "change_back_money": {"amount": 0}}]
        if tender:
            tender[0]["change_back_money"]["amount"] = tender[0]["tendered_money"]["amount"] - total
        t = base + dt.timedelta(seconds=int(rng.integers(6 * 3600, 18 * 3600)))
        sq.append({"id": f"p{counters['square']}", "created_at": _iso(t),
                   "device": {"name": DEVICES[int(rng.integers(0, len(DEVICES)))]},
                   "itemizations": lines, "tender": tender})
    for _ in range(PER_DAY["shopify"]):
        counters["shopify"] += 1
        items = []
        for _ in range(int(rng.integers(1, 3))):
            zid, _, cents = catalog[int(rng.integers(0, len(catalog)))]
            items.append({"quantity": str(int(rng.integers(1, 5))), "variant_id": 9000 + zid,
                          "price": f"{cents / 100 + 2:.2f}"})
        ship = [] if rng.random() < 0.3 else [{"price": f"{int(rng.integers(0, 12))}.{int(rng.integers(0, 4)) * 25:02d}"}]
        t = base + dt.timedelta(seconds=int(rng.integers(0, 86_400)))
        sh.append({"id": 100_000 + counters["shopify"], "created_at": _iso(t), "line_items": items,
                   "shipping_lines": ship})
    for _ in range(PER_DAY["qb"]):
        counters["qb"] += 1
        lines = []
        for k in range(int(rng.integers(1, 4))):
            zid, _, cents = catalog[int(rng.integers(0, len(catalog)))]
            lines.append({"Id": str(k + 1), "SalesItemLineDetail": {
                "ItemRef": {"value": f"qb-{200 + zid}"}, "Qty": float(rng.integers(2, 20)),
                "UnitPrice": round(cents / 100 * 0.8, 2)}})
        if rng.random() < 0.2:  # subtotal line without an Id: filtered by the ETL
            lines.append({"SalesItemLineDetail": {"ItemRef": {"value": "qb-999"}, "Qty": 1.0, "UnitPrice": 1.0}})
        qb.append({"DocNumber": f"inv-{counters['qb']}", "TxnDate": day.isoformat(),
                   "CustomerRef": {"value": f"c{100 + int(rng.integers(0, n_customers))}"}, "Line": lines})
    return sq, sh, qb


def _dump_jsonl(path, rows):
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r, separators=(",", ":")) + "\n")


def gen_nightly(seed, out):
    """backfill/ (a year) and w000/, w001/, ... (one local day each)."""
    rng = np.random.Generator(np.random.PCG64(seed))
    prof_csv, items_csv, catalog = _dims(rng)
    customers = _customers(rng)
    counters = {"square": 0, "shopify": 0, "qb": 0}
    start = dt.date.fromisoformat(BACKFILL_START)

    def emit(name, days):
        d = f"{out}/{name}"
        os.makedirs(d, exist_ok=True)
        acc = ([], [], [])
        for day in days:
            for a, rows in zip(acc, _day_payloads(rng, day, catalog, len(customers), counters)):
                a.extend(rows)
        _dump_jsonl(f"{d}/square_payments.json", acc[0])
        _dump_jsonl(f"{d}/shopify_orders.json", acc[1])
        _dump_jsonl(f"{d}/qb_invoices.json", acc[2])
        _dump_jsonl(f"{d}/qb_customers.json", customers)
        with open(f"{d}/items.csv", "w") as f:
            f.write(items_csv)
        with open(f"{d}/coffee_profiles.csv", "w") as f:
            f.write(prof_csv)
        return {"dir": name, "square": len(acc[0]), "shopify": len(acc[1]), "qb": len(acc[2]),
                "first_day": days[0].isoformat(), "last_day": days[-1].isoformat()}

    parts = [emit("backfill", [start + dt.timedelta(days=i) for i in range(BACKFILL_DAYS)])]
    for w in range(NIGHTLY_WINDOWS):
        parts.append(emit(f"w{w:03d}", [start + dt.timedelta(days=BACKFILL_DAYS + w)]))
    rows = {k: sum(p[k] for p in parts) for k in ("square", "shopify", "qb")}
    return {"backfill": parts[0], "windows": parts[1:], "rows": rows}


# ---------------------------------------------------------------- entry

GENERATORS = {"nightly_load": gen_nightly, "forecast_weekly": gen_forecast, "headline_mix": gen_headline}


def _tree_digest(root):
    h = hashlib.sha256()
    for dirpath, dirnames, files in sorted(os.walk(root)):
        dirnames.sort()
        for name in sorted(files):
            if name == "manifest.json":
                continue
            p = os.path.join(dirpath, name)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def generate(workload, seed, out):
    """Writes the workload's inputs into `out` (reused when already there)
    and returns the manifest: sizes, counts and a digest of every byte."""
    key = {"workload": workload, "seed": seed, "version": GEN_VERSION}
    mpath = os.path.join(out, "manifest.json")
    if os.path.exists(mpath):
        with open(mpath) as f:
            m = json.load(f)
        if m.get("key") == key:
            return m
    tmp = out + ".tmp"
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
    os.makedirs(tmp)
    info = GENERATORS[workload](seed, tmp)
    size = sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(tmp) for f in fs)
    m = {"key": key, "info": info, "bytes": size, "sha256": _tree_digest(tmp)}
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(m, f, indent=1, sort_keys=True)
    if os.path.exists(out):
        shutil.rmtree(out)
    os.rename(tmp, out)
    return m


if __name__ == "__main__":
    w, s, o = sys.argv[1], int(sys.argv[2]), sys.argv[3]
    print(json.dumps(generate(w, s, o), indent=1)[:2000])
