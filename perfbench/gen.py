"""Seeded input generators for the benchmark.

Everything the program under test reads is written here, from the
``--seed`` argument alone: the same seed gives byte-identical files.

- ``EtlFeed``: a history target table, then dirty NYPD-shaped JSON
  Lines, one file per week, with the ground truth each ``run_etl`` call
  must reproduce (rows inserted, target size, watermark).
- ``write_tables``: the TPC-H-like star schema plus the ``events`` and
  ``documents`` tables the registry queries read, as Parquet.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = dt.date(1970, 1, 1)
HISTORY_START = dt.date(2023, 1, 1)
HISTORY_DAYS = 364

BOROS = ["B", "K", "M", "Q", "S", "X", "", "brooklyn"]
LAWCATS = ["F", "M", "V", "I", "f", "", "NONE", "9"]
SEXES = ["M", "F", "u", "", "X"]
OFFENSES = ["assault 3", "petit larceny", "dangerous drugs", "", "robbery", "nan"]
BAD_DATES = ["not-a-date", "2024-13-45", "31/12/2023", "junk", "2023-02-30"]


class EtlFeed:
    """A seeded target plus weekly batches, with their ground truth.

    A weekly file holds, shuffled together:

    - rows re-sent from earlier weeks, dated behind the watermark
      (the incremental filter drops them);
    - ``new_rows`` fresh keys dated in the week past the watermark, a
      few of them sent twice (the merge keeps one);
    - known keys re-sent with a newer date (they pass the watermark
      filter and the merge's anti-join drops them);
    - blank keys and unparseable dates (the clean stage drops them);
    - ISO, ISO-timestamp and epoch-millis dates, garbage numerics,
      UPPERCASE field names and the extra ``lon_lat`` field.
    """

    def __init__(self, seed: int, history_rows: int, week_rows: int, new_rows: int):
        self.rng = random.Random(seed)
        self.history_rows = history_rows
        self.week_rows = week_rows
        self.new_rows = new_rows
        self.known_keys: list[str] = []
        self.known_days: list[int] = []
        self.hwm_day = 0  # days since epoch of the target's newest date
        self.next_key = 0
        self.week = 0

    # -- row builders -------------------------------------------------
    def _fresh_key(self, prefix: str = "K") -> str:
        self.next_key += 1
        return f"{prefix}{self.next_key:09d}"

    def _date(self, day: int) -> object:
        r = self.rng.random()
        iso = (EPOCH + dt.timedelta(days=day)).isoformat()
        if r < 0.7:
            return iso
        if r < 0.8:
            return iso + "T00:00:00.000"
        millis = day * 86_400_000 + self.rng.randrange(86_400_000)
        return millis if r < 0.9 else str(millis)

    def _row(self, key: object, date: object) -> dict:
        rnd = self.rng
        row = {
            "arrest_key": key,
            "arrest_date": date,
            "pd_cd": str(rnd.randrange(100, 999)),
            "pd_desc": rnd.choice(["Assault", "LARCENY,PETIT", "", "drug possession"]),
            "ky_cd": str(rnd.randrange(100, 999)) if rnd.random() < 0.95 else None,
            "ofns_desc": rnd.choice(OFFENSES),
            "law_code": f"PL {rnd.randrange(1000000, 9999999)}",
            "law_cat_cd": rnd.choice(LAWCATS),
            "arrest_boro": rnd.choice(BOROS),
            "arrest_precinct": str(rnd.randrange(1, 124)) if rnd.random() < 0.9 else "garbage",
            "jurisdiction_code": rnd.choice(["0", "1", "2", "72", None]),
            "age_group": rnd.choice(["<18", "18-24", "25-44", "45-64", "65+", None]),
            "perp_sex": rnd.choice(SEXES),
            "perp_race": rnd.choice(["black", "WHITE", "White Hispanic", None]),
            "x_coord_cd": str(rnd.randrange(900000, 1100000)),
            "y_coord_cd": str(rnd.randrange(120000, 280000)),
            "latitude": f"40.{rnd.randrange(500000, 900000)}" if rnd.random() < 0.9 else "junk",
            "longitude": f"-73.{rnd.randrange(700000, 999999)}" if rnd.random() < 0.9 else "",
            "lon_lat": {"type": "Point", "coordinates": [-73.9, 40.7]},
        }
        if rnd.random() < 0.1:
            row = {k.upper(): v for k, v in row.items()}
        return row

    def _write(self, path: str, rows: list[dict]) -> int:
        self.rng.shuffle(rows)
        with open(path, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        return len(rows)

    def _new_keys(self, n: int, first_day: int, last_day: int) -> tuple[list[dict], int]:
        """``n`` fresh valid keys dated in [first_day, last_day], the
        newest on ``last_day``; about 3% are sent twice."""
        rows = []
        for i in range(n):
            key = self._fresh_key()
            day = last_day if i == 0 else self.rng.randint(first_day, last_day)
            rows.append(self._row(key, self._date(day)))
            if self.rng.random() < 0.03:
                rows.append(self._row(key, self._date(self.rng.randint(first_day, last_day))))
            self.known_keys.append(key)
            self.known_days.append(day)
        return rows, n

    def _dirt(self, n: int, first_day: int, last_day: int) -> list[dict]:
        """Rows the clean stage must drop: blank keys, bad dates."""
        rows = []
        for _ in range(n):
            day = self.rng.randint(first_day, last_day)
            if self.rng.random() < 0.5:
                rows.append(self._row(self.rng.choice(["", "  ", None, "\t"]), self._date(day)))
            else:
                rows.append(self._row(self._fresh_key("J"), self.rng.choice(BAD_DATES)))
        return rows

    # -- files ----------------------------------------------------------
    def write_history(self, target: str, files: int = 4) -> dict:
        """Seed the target table directly as Parquet, in the cleaned
        form ``run_etl`` writes, and return its ground truth."""
        first = (HISTORY_START - EPOCH).days
        last = first + HISTORY_DAYS
        n = self.history_rows
        keys = [self._fresh_key() for _ in range(n)]
        days = [last] + [self.rng.randint(first, last) for _ in range(n - 1)]
        self.known_keys += keys
        self.known_days += days
        rng = np.random.default_rng(self.rng.getrandbits(63))
        cols = {
            "arrest_key": pa.array(keys, pa.string()),
            "arrest_date": pa.array(days, pa.int32()).cast(pa.date32()),
            "pd_cd": _pick(rng, ["101", "109", "339", "511", "UNKNOWN"], n),
            "pd_desc": _pick(rng, ["ASSAULT", "LARCENY,PETIT", "UNKNOWN"], n),
            "ky_cd": _pick(rng, ["104", "341", "235", "UNKNOWN"], n),
            "ofns_desc": _pick(rng, ["ASSAULT 3", "PETIT LARCENY", "DANGEROUS DRUGS", "UNKNOWN"], n),
            "law_code": _pick(rng, ["PL 1200500", "PL 1552500", "UNKNOWN"], n),
            "law_cat_cd": _pick(rng, ["F", "M", "V", "I", "U"], n),
            "arrest_boro": _pick(rng, ["BRONX", "BROOKLYN", "MANHATTAN", "QUEENS", "STATEN ISLAND", "X"], n),
            "arrest_precinct": pa.array(rng.integers(-1, 124, n), pa.int32()),
            "jurisdiction_code": _pick(rng, ["0", "1", "2", "72", "UNKNOWN"], n),
            "age_group": _pick(rng, ["<18", "18-24", "25-44", "45-64", "65+"], n),
            "perp_sex": _pick(rng, ["M", "F", "U"], n),
            "perp_race": _pick(rng, ["BLACK", "WHITE", "WHITE HISPANIC", "UNKNOWN"], n),
            "x_coord_cd": pa.array(rng.integers(900000, 1100000, n).astype(str), pa.string()),
            "y_coord_cd": pa.array(rng.integers(120000, 280000, n).astype(str), pa.string()),
            "latitude": np.round(rng.uniform(40.5, 40.9, n), 6),
            "longitude": np.round(rng.uniform(-74.25, -73.7, n), 6),
        }
        table = pa.table(cols)
        os.makedirs(target)
        step = -(-n // files)
        for i in range(files):
            pq.write_table(table.slice(i * step, step), os.path.join(target, f"part-{i:05d}-history.snappy.parquet"))
        self.hwm_day = last
        return self._truth(n, n)

    def write_week(self, path: str) -> dict:
        """The next weekly file; returns its ground truth."""
        first, last = self.hwm_day + 1, self.hwm_day + 7
        rows, inserted = self._new_keys(self.new_rows, first, last)
        known = len(self.known_keys) - inserted
        rows += self._dirt(self.week_rows // 50, first, last)
        for _ in range(self.week_rows // 50):  # known key, newer date
            i = self.rng.randrange(known)
            rows.append(self._row(self.known_keys[i], self._date(self.rng.randint(first, last))))
        while len(rows) < self.week_rows:  # re-sent, behind the watermark
            i = self.rng.randrange(known)
            rows.append(self._row(self.known_keys[i], self._date(self.known_days[i])))
        n = self._write(path, rows)
        self.hwm_day = last
        self.week += 1
        return self._truth(n, inserted)

    def _truth(self, rows: int, inserted: int) -> dict:
        return {
            "rows": rows,
            "inserted": inserted,
            "target_rows": len(self.known_keys),
            "watermark": (EPOCH + dt.timedelta(days=self.hwm_day)).isoformat(),
        }


# ---------------------------------------------------------------------------
# Query tables
# ---------------------------------------------------------------------------

TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events", "documents")
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
COLORS = ["red", "blue", "green", "small", "large", "shiny", "black", "white"]
NOUNS = ["widget", "bolt", "ring", "gear", "nut", "panel", "spring", "valve"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch spark "
    "line sort window order data column join small customer query big stream "
    "filter group vector"
).split()
LANGS = ["en", "es", "fr", "de", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)], pa.string())


def _days(start: dt.date, offsets: np.ndarray) -> pa.Array:
    base = np.datetime64(start.isoformat(), "us")
    return pa.array(base + offsets.astype("timedelta64[D]").astype("timedelta64[us]"), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Word-salad documents; about a tenth are near copies of an
    earlier one (one or two words changed), so the near-duplicate
    operators find real pairs."""
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.1:
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(1, 3))):
                words[int(rng.integers(0, len(words)))] = WORDS[int(rng.integers(0, len(WORDS)))]
        else:
            words = [WORDS[j] for j in rng.integers(0, len(WORDS), int(rng.integers(20, 80)))]
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(np.asarray(LANGS, dtype=object)[rng.choice(len(LANGS), n, p=LANG_P)], pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def make_tables(seed: int, sf: float, docs: int) -> dict[str, pa.Table]:
    """The tables at scale factor ``sf`` (lineitem has about 6M x sf
    rows) with ``docs`` documents."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = max(int(150_000 * sf), 50), max(int(10_000 * sf), 10)
    n_part, n_ord = max(int(200_000 * sf), 100), max(int(1_500_000 * sf), 500)
    n_events = max(int(1_000_000 * sf), 1000)
    n_users = max(int(15_000 * sf), 50)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [f"{COLORS[i % 8]} {NOUNS[(i // 8) % 8]}" for i in rng.integers(0, 64, n_part)],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": _pick(rng, PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
        }
    )
    order_days = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000, 500000, n_ord),
            "o_orderdate": _days(dt.date(1995, 1, 1), order_days),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }
    )
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    okey = np.repeat(np.arange(n_ord), lines)
    lineno = np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    qty = rng.integers(1, 51, n_li).astype(float)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(okey, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(lineno, pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 2000, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100,
            "l_tax": rng.integers(0, 9, n_li) / 100,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
            "l_linestatus": _pick(rng, ["F", "O"], n_li),
            "l_shipdate": _days(dt.date(1995, 1, 1), np.repeat(order_days, lines) + rng.integers(1, 122, n_li)),
        }
    )
    ts_us = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_events))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_events), pa.int64()),
            "ts": pa.array(np.datetime64("2024-01-01", "us") + ts_us.astype("timedelta64[us]"), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
            "event_type": _pick(rng, EVENT_TYPES, n_events),
            "value": _money(rng, 0.01, 500, n_events),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }
    )
    t["documents"] = _documents(rng, docs)
    return t


def write_tables(out_dir: str, seed: int, sf: float, docs: int) -> dict[str, int]:
    """Write every table as ``<out_dir>/<name>.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in make_tables(seed, sf, docs).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
