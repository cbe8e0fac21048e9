"""Seeded input generator owned by the benchmark.

Everything the engine reads during a benchmark run is written here from one
integer seed: the same seed gives byte-identical files, another seed gives
different ones. Nothing is imported from the package or its tests, so the
inputs stay fixed while the program under test changes.

Three families of inputs:

- ``write_listing_dir``: the reference ELT's raw layer — monthly listing
  CSVs in its 74-column positional shape (comma prices, NULL tokens,
  duplicate ``(id, file)`` rows, out-of-month scrapes, quoted fields with
  commas and quotes), census G01/G02, LGA mesh blocks and SSC suburbs. It
  returns what the ELT must produce from them (fact rows, price checksum).
- ``write_tpch_dir``: TPC-H-shaped parquet tables (the ten tables the
  operator queries read) at a chosen row scale, one row group per file.
- ``TxlogModel``: the base table and the Zipf-keyed upsert / sliver-delete
  stream of the lakehouse workload, and a Python model of the table that
  every read is checked against.
"""

from __future__ import annotations

import csv
import datetime as dt
import os

import numpy as np

N_LISTING_COLS = 74

# fixed file mtime: bench.py's lineage digest hashes (name, size, mtime_ns),
# so pinning mtime makes that digest a function of the seed alone
FIXED_MTIME = 1_600_000_000

# LGA names the warehouse CASE-ladder fallbacks resolve to (so the ladder's
# targets exist as dimension rows), then synthetic ones
_NAMED_LGAS = (
    "Sydney", "Waverley", "Northern Beaches", "Mosman", "Inner West",
    "Randwick", "Bayside", "Hornsby", "Central Coast", "Georges River",
    "Parramatta", "Canterbury-Bankstown", "Willoughby", "Blacktown",
    "Strathfield", "The Hills Shire",
)
# neighbourhood strings that miss the location join and take a ladder branch
_LADDER_SUBURBS = (
    "Balmoral Beach", "Kings Cross", "Manly Beach", "悉尼", "Toongabbie East",
    "Rockdale City", "Bondi Junction Sydney", "Nowhere Special",
)
_PROPERTY_TYPES = ("Apartment", "House", "Townhouse", "Condominium", "Loft", "Villa")
_ROOM_TYPES = ("Entire home/apt", "Private room", "Shared room", "Hotel room")
_NULL_TOKENS = ("\\N", "NULL", "NUL", "")
_WORDS = (
    "sunny", "quiet", "spacious", "cosy", "modern", "beach", "harbour", "view",
    "close", "to", "the", "city", "park", "station", "family", "friendly",
)


def pin_mtime(path: str) -> None:
    os.utime(path, (FIXED_MTIME, FIXED_MTIME))


def _write_csv(path: str, header: list[str], rows: list[list[str]]) -> int:
    with open(path, "w", newline="", encoding="utf-8") as fh:
        w = csv.writer(fh, quoting=csv.QUOTE_MINIMAL, lineterminator="\n")
        w.writerow(header)
        w.writerows(rows)
    pin_mtime(path)
    return os.path.getsize(path)


# --------------------------------------------------------------------- ELT


class ListingUniverse:
    """The static world a listing month is drawn from: LGAs, suburbs, mesh
    blocks, and a pool of listings with fixed host/location attributes."""

    # the reference's ~130 NSW LGAs and ~4.5k suburbs (BASELINE.md)
    def __init__(self, seed: int, n_listings: int, n_lgas: int = 130, n_suburbs: int = 4500):
        rng = np.random.default_rng([seed, 1])
        self.seed = seed
        names = list(_NAMED_LGAS) + [f"Council{j:03d}" for j in range(n_lgas - len(_NAMED_LGAS))]
        self.lgas = [(str(10001 + j), name) for j, name in enumerate(names[:n_lgas])]
        self.suburbs = [f"Suburb{i:03d}" for i in range(n_suburbs)]
        # mesh blocks: each suburb spans 1-3 blocks, mostly in one LGA
        self.mesh = []  # (mb_code, lga_code, lga_name, suburb, area)
        mb = 0
        for s in self.suburbs:
            home = int(rng.integers(len(self.lgas)))
            for _ in range(int(rng.integers(1, 4))):
                lga = home if rng.random() < 0.8 else int(rng.integers(len(self.lgas)))
                code, name = self.lgas[lga]
                self.mesh.append((f"MB{mb:05d}", code, name, s, int(rng.integers(1, 500))))
                mb += 1
        n = n_listings
        self.ids = np.arange(1, n + 1) * 7 + 1000
        self.host = rng.integers(1, max(2, n // 3), n)
        nb_pick = rng.integers(0, n_suburbs, n)
        ladder = rng.random(n) < 0.04
        self.neighbourhood = [
            _LADDER_SUBURBS[i % len(_LADDER_SUBURBS)] if lad else f"{self.suburbs[j]}, Sydney"
            for i, (j, lad) in enumerate(zip(nb_pick, ladder))
        ]
        host_pick = rng.integers(0, n_suburbs, n)
        self.host_location = [f"{self.suburbs[j]}, New South Wales" for j in host_pick]
        self.property_type = rng.integers(0, len(_PROPERTY_TYPES), n)
        self.room_type = rng.integers(0, len(_ROOM_TYPES), n)
        self.accommodates = rng.integers(1, 9, n)
        self.superhost = rng.random(n) < 0.2
        self.base_price = rng.integers(40, 900, n)
        self.host_count = rng.integers(1, 6, n)


def _listing_rows(u: ListingUniverse, year: int, month: int, rng) -> tuple[list[list[str]], int, int]:
    """Rows of one monthly file plus the (fact rows, price cents) the ELT
    must keep from it."""
    n = len(u.ids)
    present = np.flatnonzero(rng.random(n) < 0.9)
    # every draw up front, as Python floats: per-row numpy indexing is slow
    draws = rng.random((len(present), 8)).tolist()
    word_draws = rng.integers(0, len(_WORDS), (len(present), 12)).tolist()
    days = dt.date(year + (month == 12), month % 12 + 1, 1) - dt.date(year, month, 1)
    rows: list[list[str]] = []
    kept = 0
    cents = 0
    for i, r, wd in zip(present.tolist(), draws, word_draws):
        out_of_month = r[0] < 0.02
        comma_price = r[1] < 0.02
        null_host = r[2] < 0.01
        day = 1 + int(r[3] * days.days)
        scraped = dt.date(year - 1, 1, 1) if out_of_month else dt.date(year, month, day)
        price = int(u.base_price[i]) + int(r[4] * 50)
        if comma_price:
            price_txt = f"${price + 1000:,}.00"  # TRY_CAST -> NULL -> dropped
        else:
            price_txt = f"${price}.00"
        avail = int(r[5] * 31)
        token = _NULL_TOKENS[int(r[6] * 4)]
        row = ["x"] * N_LISTING_COLS
        row[0] = str(u.ids[i])
        row[1] = f"https://www.airbnb.com/rooms/{u.ids[i]}"
        row[2] = f"{year}{month:02d}01000000"
        row[3] = scraped.isoformat()
        row[4] = f"Listing {u.ids[i]}"
        words = " ".join(_WORDS[w] for w in wd)
        row[5] = f'A {words}, "{_WORDS[int(r[7] * len(_WORDS))]}" place'
        row[6] = token if r[7] < 0.3 else f"Near {u.neighbourhood[i]}"
        row[8] = token if null_host else str(u.host[i])
        row[10] = f"Host{u.host[i]}"
        row[12] = u.host_location[i] if r[7] > 0.05 else token
        row[17] = "t" if u.superhost[i] else "f"
        row[21] = str(u.host_count[i])
        row[26] = u.neighbourhood[i] if r[6] > 0.03 else token
        row[27] = u.neighbourhood[i].split(",")[0] if r[6] > 0.05 else token
        row[31] = _PROPERTY_TYPES[u.property_type[i]] if r[5] > 0.02 else "\\N"
        row[32] = _ROOM_TYPES[u.room_type[i]]
        row[33] = str(u.accommodates[i])
        row[38] = '["Wifi", "Kitchen", "Heating"]'
        row[39] = price_txt
        row[49] = "t" if r[5] < 0.85 else "f"
        row[50] = str(avail)
        for pos in range(60, 67):
            row[pos] = str(80 + int(r[pos - 60] * 20)) if r[7] > 0.1 else token
        for pos in range(69, 73):
            row[pos] = str(int(u.host_count[i]) if pos == 69 else int(r[pos - 69] * 3))
        row[73] = f"{r[4] * 4:.2f}"
        rows.append(row)
        if not (comma_price or null_host or out_of_month):
            kept += 1
            cents += price * 100
        if r[0] > 0.99:  # exact duplicate (id, file): staging keeps one
            rows.append(list(row))
    return rows, kept, cents


def write_census_and_location(u: ListingUniverse, root: str) -> int:
    """Census G01/G02, LGA and SSC files; returns bytes written."""
    rng = np.random.default_rng([u.seed, 2])
    total = 0
    g01 = []
    for code, _name in u.lgas + [("19999", "G01 only")]:
        vals = rng.integers(10, 5000, 70)
        row = [str(v) for v in vals]
        row[0] = f"LGA{code}"
        row[3] = str(int(vals[3]) * 20)
        g01.append(row)
    total += _write_csv(os.path.join(root, "census_G01_NSW.csv"), [f"g{i}" for i in range(1, 71)], g01)
    g02 = []
    for code, _name in u.lgas + [("18888", "G02 only")]:
        g02.append(
            [f"LGA{code}", str(int(rng.integers(25, 55))), str(int(rng.integers(1000, 4000)))]
            + ["0"] * 5
            + [f"{rng.uniform(1.5, 3.5):.1f}"]
        )
    total += _write_csv(os.path.join(root, "census_G02_NSW.csv"), [f"h{i}" for i in range(1, 10)], g02)
    total += _write_csv(
        os.path.join(root, "LGA_2016_NSW.csv"),
        ["mb", "lga_code", "lga_name"],
        [[mb, code, f"{name} (C)"] for mb, code, name, _s, _a in u.mesh],
    )
    total += _write_csv(
        os.path.join(root, "SSC_2016_NSW.csv"),
        ["mb", "x", "ssc_name", "y", "z", "area"],
        [[mb, "x", f"{s} (NSW)", "y", "z", str(a)] for mb, _c, _n, s, a in u.mesh],
    )
    return total


def write_listing_month(u: ListingUniverse, root: str, year: int, month: int) -> dict:
    """One ``MM_YYYY_listings.csv`` file; returns its expected fact effect."""
    rng = np.random.default_rng([u.seed, 3, year, month])
    rows, kept, cents = _listing_rows(u, year, month, rng)
    size = _write_csv(
        os.path.join(root, f"{month:02d}_{year}_listings.csv"),
        [f"col{i}" for i in range(1, N_LISTING_COLS + 1)],
        rows,
    )
    return {"raw_rows": len(rows), "fact_rows": kept, "price_cents": cents, "bytes": size}


def write_listing_dir(seed: int, root: str, n_listings: int, months: int, append_root: str) -> dict:
    """The ELT inputs: ``months`` monthly files (from 2020-01) plus the
    static census/location files under ``root``, and the following month
    alone (with the location files it needs) under ``append_root``."""
    u = ListingUniverse(seed, n_listings)
    os.makedirs(root, exist_ok=True)
    os.makedirs(append_root, exist_ok=True)
    static_bytes = write_census_and_location(u, root)
    base = {"raw_rows": 0, "fact_rows": 0, "price_cents": 0, "bytes": static_bytes}
    for m in range(months):
        got = write_listing_month(u, root, 2020 + m // 12, m % 12 + 1)
        for k in base:
            base[k] += got[k]
    write_census_and_location(u, append_root)
    nxt = write_listing_month(u, append_root, 2020 + months // 12, months % 12 + 1)
    return {"base": base, "append": nxt, "append_glob": "*listings*.csv"}


# -------------------------------------------------------------------- TPC-H

_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
_LANG_WORDS = {
    "en": ("the", "a", "of", "and", "is", "to", "in"),
    "fr": ("le", "la", "les", "et", "est", "une"),
    "de": ("der", "die", "das", "und", "ist", "ein"),
    "es": ("el", "los", "las", "y", "es", "una"),
}
_DOC_WORDS = (
    "spark", "query", "table", "hash", "join", "sort", "scan", "value", "key",
    "group", "window", "stream", "batch", "column", "line", "part", "order",
    "filter", "merge", "agg", "fast", "slow", "small", "big", "vector",
)


def _ts(days_from: str, offsets_s) -> np.ndarray:
    return np.datetime64(days_from, "us") + (np.asarray(offsets_s) * 1_000_000).astype("timedelta64[us]")


def write_tpch_dir(seed: int, root: str, n_orders: int) -> dict[str, int]:
    """The ten operator-query tables at ``n_orders`` orders (~4 lineitems
    each; sf0.1 is 150k orders). Returns rows per table."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 4])
    os.makedirs(root, exist_ok=True)
    n_cust = max(100, n_orders // 10)
    n_part = max(100, n_orders * 2 // 15)
    n_supp = max(10, n_orders // 150)
    n_events = max(1000, n_orders * 2 // 3)
    n_docs = max(200, n_orders // 30)
    n_vecs = max(100, n_orders // 75)
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    tables["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    tables["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
    })
    tables["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{_DOC_WORDS[i % 25]} {_DOC_WORDS[(i * 7) % 25]}" for i in range(n_part)],
        "p_brand": [f"Brand#{i % 25 + 1}" for i in range(n_part)],
        "p_type": np.array(("LARGE", "ECONOMY", "STANDARD", "SMALL", "PROMO"))[rng.integers(0, 5, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + np.arange(n_part) % 1000 * 0.1, 2),
    })
    o_date = _ts("1995-01-01", rng.integers(0, 2404, n_orders) * 86400)
    tables["orders"] = pa.table({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders),
        "o_orderstatus": np.array(("O", "F", "P"))[rng.integers(0, 3, n_orders)],
        "o_totalprice": np.round(rng.uniform(900, 450000, n_orders), 2),
        "o_orderdate": pa.array(o_date, pa.timestamp("us")),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_orders)],
    })
    lines = rng.integers(1, 8, n_orders)
    n_li = int(lines.sum())
    l_order = np.repeat(np.arange(n_orders, dtype=np.int64), lines)
    l_num = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    ship = np.repeat(o_date, lines) + (rng.integers(1, 122, n_li) * 86_400_000_000).astype("timedelta64[us]")
    tables["lineitem"] = pa.table({
        "l_orderkey": l_order,
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": l_num,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) * 0.01, 2),
        "l_returnflag": np.array(("A", "N", "R"))[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(("O", "F"))[rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(ship, pa.timestamp("us")),
    })
    ev_off = np.sort(rng.uniform(0, 30 * 86400, n_events))
    tables["events"] = pa.table({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": pa.array(_ts("2024-01-01", ev_off), pa.timestamp("us")),
        "user_id": rng.integers(0, max(10, n_events // 66), n_events),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_events)],
        "value": np.round(rng.uniform(0, 200, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    langs = np.array(("en", "en", "en", "zh", "de", "fr", "es"))[rng.integers(0, 7, n_docs)]
    texts = []
    for i, lang in enumerate(langs):
        vocab = _DOC_WORDS + _LANG_WORDS.get(lang, ())
        words = [vocab[j] for j in rng.integers(0, len(vocab), int(rng.integers(10, 60)))]
        if lang == "zh":
            words.append("数据")
        texts.append(" ".join(words) + f" {i}")
    # a few exact copies so exact dedup removes something
    for i in range(0, n_docs, 97):
        texts[i] = texts[(i + 13) % n_docs]
    tables["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 10}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    emb = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(emb.ravel()), 64).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
    })
    out = {}
    for name, t in tables.items():
        path = os.path.join(root, f"{name}.parquet")
        pq.write_table(t, path, row_group_size=max(1, t.num_rows))
        pin_mtime(path)
        out[name] = t.num_rows
    return out


# ----------------------------------------------------------------- txlog


def zipf_ranks(rng, n: int, k: int, s: float = 1.3) -> np.ndarray:
    """``k`` ranks in ``0..n-1`` with P(rank r) ~ 1/(r+1)^s."""
    w = 1.0 / np.arange(1, n + 1) ** s
    cdf = np.cumsum(w / w.sum())
    return np.minimum(np.searchsorted(cdf, rng.random(k)), n - 1)


class TxlogModel:
    """Python model of the lakehouse table: ``{id: value}``. Every write
    applied to the engine is applied here too; reads are checked against
    ``expect()``. Keys are listing ids; updates fall on the most recent
    ``hot_share`` of the ids, the newest most often (Zipf over recency), so
    an upsert batch touches only the table's newest id-ranged files."""

    def __init__(self, seed: int, n_rows: int, hot_share: float = 0.25):
        self.rng = np.random.default_rng([seed, 5])
        vals = self.rng.integers(0, 1_000_000, n_rows)
        self.rows = dict(zip(range(n_rows), (int(v) for v in vals)))
        self.next_id = n_rows
        self.hot = max(1, int(n_rows * hot_share))

    def base_arrays(self) -> tuple[np.ndarray, np.ndarray]:
        ids = np.fromiter(self.rows.keys(), dtype=np.int64, count=len(self.rows))
        vals = np.fromiter(self.rows.values(), dtype=np.int64, count=len(self.rows))
        return ids, vals

    def upsert_batch(self, n: int, insert_share: float = 0.1) -> list[tuple[int, int]]:
        """Mostly updates of recent ids (an id deleted earlier comes back as
        an insert, as MERGE does), plus fresh ids; one row per key."""
        n_new = max(1, int(n * insert_share))
        ranks = zipf_ranks(self.rng, min(self.hot, self.next_id), n - n_new)
        keys = sorted({self.next_id - 1 - int(r) for r in ranks})
        keys += range(self.next_id, self.next_id + n_new)
        self.next_id += n_new
        vals = self.rng.integers(0, 1_000_000, len(keys))
        batch = [(k, int(v)) for k, v in zip(keys, vals)]
        self.rows.update(batch)
        return batch

    def delete_range(self, width: int) -> tuple[int, int, int]:
        """A sliver ``id BETWEEN lo AND hi`` delete; returns (lo, hi, rows
        deleted)."""
        lo = int(self.rng.integers(0, max(1, self.next_id - width)))
        hi = lo + width - 1
        gone = sum(self.rows.pop(k, None) is not None for k in range(lo, hi + 1))
        return lo, hi, gone

    def expect(self) -> tuple[int, int, int]:
        return len(self.rows), sum(self.rows), sum(self.rows.values())


def bytes_under(root: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total
