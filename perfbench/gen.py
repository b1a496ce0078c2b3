"""Seeded input generators for the benchmark. Same seed, same bytes.

Three input sets, all written under a directory the caller owns:

- ``star``: the engine's star schema (region, nation, customer, supplier,
  part, orders, lineitem, events) with the column types and the uniform
  value distributions of the engine's sf fixtures, scaled by ``sf``.
- ``corpus``: documents and embeddings from ``tools/gen_soak.py``'s own
  generators, driven by the benchmark's seed.
- ``listings``: raw all-string CSVs for the four ETL platforms, in the raw
  column vocabularies of ``graft.etl.PlatformSpecs``, with dedup-key
  repeats and missing required fields planted at fixed rates. The
  generator returns the exact per-platform row counts the pipeline must
  load.
"""
import csv
import os
import random
import sys
from concurrent.futures import ProcessPoolExecutor

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(os.path.dirname(HERE), "tools"))
sys.dont_write_bytecode = True
import gen_soak  # noqa: E402  (the repo's corpus generator, used as-is)

# ---------------------------------------------------------------- star schema

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DAY_US = 86_400_000_000


def _days(start, n_days, size, rng):
    """Timestamps at midnight, uniform over n_days from start (µs)."""
    base = np.datetime64(start, "us").astype(np.int64)
    return pa.array(base + rng.integers(0, n_days, size) * DAY_US,
                    pa.timestamp("us"))


def _money(lo, hi, size, rng):
    return np.round(rng.uniform(lo, hi, size), 2)


def gen_star(out, sf, seed):
    """Write the eight star-schema tables for scale factor ``sf``."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = int(15_000 * sf)
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(-999.99, 9999.99, n_cust, rng),
            "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]}),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(-999.99, 9999.99, n_supp, rng)}),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [f"{ADJECTIVES[a]} {NOUNS[b]}" for a, b in
                       zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)}),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(1000.0, 500000.0, n_ord, rng),
            "o_orderdate": _days("1995-01-01", 2400, n_ord, rng),
            "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]}),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(900.0, 105000.0, n_line, rng),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)],
            "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_line)],
            "l_shipdate": _days("1995-01-02", 2499, n_line, rng)}),
    }
    ts = np.sort(rng.integers(0, 30 * DAY_US, n_ev)) + \
        np.datetime64("2024-01-01", "us").astype(np.int64)
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    os.makedirs(out, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


def gen_corpus(out, n_docs, n_embs, seed):
    """documents + embeddings via gen_soak's generators, seeded here."""
    rng = random.Random(seed)
    docs = gen_soak.gen_documents(n_docs, rng)
    embs = gen_soak.gen_embeddings(n_embs, rng)
    os.makedirs(out, exist_ok=True)
    pq.write_table(docs, os.path.join(out, "documents.parquet"))
    pq.write_table(embs, os.path.join(out, "embeddings.parquet"))
    return {"documents": docs.num_rows, "embeddings": embs.num_rows}


# ------------------------------------------------------------- ETL listings

# Raw column vocabularies, per platform, as PlatformSpecs reads them.
DOMCLICK_COLS = [
    "Object ID", "Price", "Price per sqm", "Mortgage Rate", "Address",
    "Address ID", "Area", "Rooms", "Floor", "Description", "Published Date",
    "Updated Date", "Seller ID", "Seller Name Hash", "Company Name",
    "Company ID", "Property Type", "Category", "House Floors", "Deal Type",
    "Discount Status", "Discount Value", "Placement Paid", "Big Card",
    "Pin Color", "Longitude", "Latitude", "Subway Distances", "Subway Names",
    "Photos URLs", "Monthly Payment", "Advance Payment", "Auction Status"]
YANDEX_COLS = [
    "url_offer_yand", "price_offer", "square_total_offer", "address_offer",
    "rooms_offer", "floor_offer", "description_offer", "date_offer",
    "type_offer", "floors_house", "longitude", "latitude", "metro_name",
    "metro_transp", "time_to_metro", "photo_list_offer", "seller",
    "height_offer", "square_rooms_offer", "previous_price_offer"]
AVITO_COLS = [
    "url_offer", "id_offer", "price_offer", "square_total_offer",
    "address_offer", "rooms_offer", "floor_offer", "description_offer",
    "date_offer", "type_offer", "sdelka_offer", "floors_house", "latitude",
    "longitude", "metro_name1", "metro_name2", "metro_name3",
    "distance_to_metro1", "distance_to_metro2", "distance_to_metro3",
    "photo_list_offer", "developer_offer", "seller", "height_offer",
    "square_rooms_offer", "renovation_offer", "built_year_offer",
    "type_house_offer"]
CIAN_COLS = [
    "Object ID", "listing_url", "Price", "Price per sqm", "Address", "Area",
    "Rooms", "Floor", "Description", "Published Date", "Updated Date",
    "Property Type", "Category", "Deal Type", "Longitude", "Latitude",
    "seller_type", "flat_type", "height", "built_year_offer"]

PLATFORMS = {  # name -> (raw columns, dedup key, required raw columns)
    "domclick": (DOMCLICK_COLS, None, ["Object ID", "Price", "Area", "Rooms", "Address"]),
    "yandex": (YANDEX_COLS, "url_offer_yand",
               ["price_offer", "square_total_offer", "rooms_offer", "address_offer"]),
    "avito": (AVITO_COLS, "url_offer",
              ["price_offer", "square_total_offer", "rooms_offer", "address_offer"]),
    "cian": (CIAN_COLS, None, ["Object ID"]),
}
DUP_RATE = 0.05      # share of rows that repeat an earlier row's dedup key
MISSING_RATE = 0.03  # share of rows with one required field blanked

WORDS = ["квартира", "светлая", "ремонт", "метро", "парк", "балкон",
         "кухня", "вид", "новый", "дом", "тихий", "центр"]
STREETS = ["Тверская", "Арбат", "Ленина", "Мира", "Садовая", "Гагарина"]
METROS = ["Арбатская", "Киевская", "Сокол", "Динамо", "Парк Культуры"]


def _listing(rng, platform, i):
    """One raw row (dict of strings) for `platform`, listing number i."""
    area = round(rng.uniform(18, 160), 1)
    price = rng.randrange(2_000_000, 60_000_000, 1000)
    rooms = rng.randint(1, 5)
    floor = rng.randint(1, 25)
    date = f"2024-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d} " \
           f"{rng.randint(0, 23):02d}:{rng.randint(0, 59):02d}:{rng.randint(0, 59):02d}"
    addr = f"ул. {rng.choice(STREETS)}, {rng.randint(1, 200)}"
    desc = " ".join(rng.choice(WORDS) for _ in range(rng.randint(5, 30)))
    lon, lat = f"{rng.uniform(37.3, 37.9):.6f}", f"{rng.uniform(55.5, 55.95):.6f}"
    photos = "[" + ", ".join(f"'/p/{i}_{k}.jpg'" for k in range(rng.randint(0, 4))) + "]"
    metro = rng.choice(METROS)
    if platform == "domclick":
        return {
            "Object ID": str(i), "Price": str(price),
            "Price per sqm": f"{price / area:.2f}", "Mortgage Rate": "5.5",
            "Address": addr, "Address ID": str(rng.randrange(100_000)),
            "Area": str(area), "Rooms": str(rooms), "Floor": str(floor),
            "Description": desc, "Published Date": date, "Updated Date": date,
            "Seller ID": str(rng.randrange(50_000)),
            "Seller Name Hash": f"{rng.getrandbits(64):016x}",
            "Company Name": f"company {rng.randrange(300)}",
            "Company ID": "" if rng.random() < 0.3 else str(rng.randrange(300)),
            "Property Type": rng.choice(["flat", "house", "room"]),
            "Category": "living", "House Floors": str(rng.randint(floor, 30)),
            "Deal Type": "sale", "Discount Status": rng.choice(["None", "Active"]),
            "Discount Value": str(rng.randrange(0, 200_000, 1000)),
            "Placement Paid": rng.choice(["True", "False"]),
            "Big Card": rng.choice(["True", "False"]),
            "Pin Color": str(rng.randint(0, 3)), "Longitude": lon,
            "Latitude": lat,
            "Subway Distances": f"[{rng.uniform(100, 3000):.1f}, {rng.uniform(100, 3000):.1f}]",
            "Subway Names": f"['{metro}']", "Photos URLs": photos,
            "Monthly Payment": str(price // 200), "Advance Payment": "0",
            "Auction Status": "0"}
    if platform == "yandex":
        return {
            "url_offer_yand": f"//realty.yandex.ru/offer/{i}/",
            "price_offer": str(price), "square_total_offer": str(area),
            "address_offer": addr, "rooms_offer": str(rooms),
            "floor_offer": str(floor), "description_offer": desc,
            "date_offer": date, "type_offer": rng.choice(["NEW_FLAT", "SECONDARY"]),
            "floors_house": str(rng.randint(floor, 30)),
            "longitude": lon, "latitude": lat, "metro_name": metro,
            "metro_transp": rng.choice(["ON_FOOT", "ON_TRANSPORT"]),
            "time_to_metro": str(rng.randint(1, 30)), "photo_list_offer": photos,
            "seller": rng.choice(["agent", "owner", "developer"]),
            "height_offer": "2.7", "square_rooms_offer": str(round(area * 0.6, 1)),
            "previous_price_offer": str(price + rng.randrange(0, 500_000, 1000))}
    if platform == "avito":
        return {
            "url_offer": f"https://avito.ru/item/{i}", "id_offer": str(i),
            "price_offer": str(price), "square_total_offer": str(area),
            "address_offer": addr, "rooms_offer": str(rooms),
            "floor_offer": str(floor), "description_offer": desc,
            "date_offer": date, "type_offer": rng.choice(["Flat", "House"]),
            "sdelka_offer": "sale", "floors_house": str(rng.randint(floor, 30)),
            "latitude": lat, "longitude": lon, "metro_name1": metro,
            "metro_name2": "", "metro_name3": rng.choice(METROS),
            "distance_to_metro1": f"{rng.uniform(100, 3000):.1f}",
            "distance_to_metro2": "", "distance_to_metro3": "bad",
            "photo_list_offer": photos,
            "developer_offer": rng.choice(["developer", ""]),
            "seller": rng.choice(["owner", "agent"]), "height_offer": "2.7",
            "square_rooms_offer": str(round(area * 0.6, 1)),
            "renovation_offer": rng.choice(["euro", "cosmetic", ""]),
            "built_year_offer": str(rng.randint(1950, 2024)),
            "type_house_offer": rng.choice(["brick", "panel", "monolith"])}
    return {  # cian: near-canonical pretty names
        "Object ID": str(i), "listing_url": f"https://cian.ru/sale/flat/{i}/",
        "Price": str(price), "Price per sqm": f"{price / area:.2f}",
        "Address": addr, "Area": str(area), "Rooms": str(rooms),
        "Floor": str(floor), "Description": desc, "Published Date": date,
        "Updated Date": date, "Property Type": "flat", "Category": "living",
        "Deal Type": "sale", "Longitude": lon, "Latitude": lat,
        "seller_type": rng.choice(["AGENT", "OWNER", "DEVELOPER"]),
        "flat_type": rng.choice(["SECONDARY", "NEW_FLAT"]), "height": "2.7",
        "built_year_offer": str(rng.randint(1950, 2024))}


def _platform_csv(out, p_idx, platform, rows_per_platform, seed):
    """Write one platform's CSV; return (raw rows, expected loaded rows)."""
    cols, key, required = PLATFORMS[platform]
    rng = random.Random(seed * 1009 + p_idx)
    rows = []
    for i in range(rows_per_platform):
        if key is not None and rows and rng.random() < DUP_RATE:
            row = dict(rows[rng.randrange(len(rows))])  # dedup-key repeat
            row["description_offer"] = "repeat"
        else:
            row = _listing(rng, platform, i)
        if rng.random() < MISSING_RATE:
            row = dict(row)
            row[rng.choice(required)] = ""
        rows.append(row)
    seen, kept = set(), 0
    for row in rows:
        if key is not None:
            if row[key] in seen:
                continue
            seen.add(row[key])
        kept += all(row[c] != "" for c in required)
    with open(os.path.join(out, f"{platform}.csv"), "w", newline="",
              encoding="utf-8") as f:
        w = csv.DictWriter(f, fieldnames=cols, lineterminator="\n")
        w.writeheader()
        w.writerows(rows)
    return len(rows), kept


def gen_listings(out, rows_per_platform, seed):
    """Write `{platform}.csv` for the four platforms, one process each;
    return the expected per-platform loaded row counts (keep-first dedup,
    then required-field drop, in file order — the pipeline's A22/A23
    semantics)."""
    os.makedirs(out, exist_ok=True)
    names = sorted(PLATFORMS)
    with ProcessPoolExecutor(max_workers=len(names)) as pool:
        done = list(pool.map(_platform_csv, [out] * len(names), range(len(names)),
                             names, [rows_per_platform] * len(names),
                             [seed] * len(names)))
    return {"expected": {p: kept for p, (_, kept) in zip(names, done)},
            "raw_rows": {p: raw for p, (raw, _) in zip(names, done)}}
