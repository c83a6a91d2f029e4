"""Seeded input generators for the benchmark.

Two kinds of input, both pure functions of their seed:

- ``write_panel``: the TPC-H-like star schema plus the ``events``,
  ``documents`` and ``embeddings`` tables that ``__spark_entry__.queries()``
  reads, with the same column names, Arrow types and value distributions as
  the reference test tables. The panel tables always use ``PANEL_SEED``:
  the panels' ``--seed`` only orders the ops, so the pinned result digests
  stay valid.
- ``EpidemicGenerator``: heterogeneous CSV/JSON epidemic directories shaped
  like the F-in-1..F-in-7 fixtures (synonym headers, a file with no country
  column, snapshot files with no date, rows before 2019, null dates and
  duplicate (region, date) rows): one backfill directory plus a series of
  daily batches, each adding one day and revising the previous week. It
  keeps the ground truth the warehouse must end up holding.
"""

from __future__ import annotations

import csv
import datetime as dt
import json
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PANEL_SEED = 42

#: rows per table at scale factor 1 (the reference tables scale linearly)
ROWS_SF1 = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
}

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "zh", "es", "de", "fr"]
_LANG_P = [0.436, 0.15, 0.146, 0.14, 0.128]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def _rows(name: str, sf: float) -> int:
    n = int(ROWS_SF1[name] * sf)
    return max(n, 500) if name == "embeddings" else max(n, 1)


def _days(start: str, offsets: np.ndarray) -> pa.Array:
    """Day offsets from ``start`` as a ``timestamp[us]`` column."""
    d = np.datetime64(start, "D") + offsets.astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def panel_tables(sf: float) -> dict[str, pa.Table]:
    """All ten reference tables at scale factor ``sf``."""
    rng = np.random.default_rng(PANEL_SEED)
    n = {t: _rows(t, sf) for t in ROWS_SF1}
    nat = 25
    out: dict[str, pa.Table] = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(nat), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(nat)],
            "n_regionkey": pa.array([i % 5 for i in range(nat)], pa.int32()),
        }),
    }
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n["customer"]), pa.int64()),
        "c_name": _names("Customer", n["customer"]),
        "c_nationkey": pa.array(rng.integers(0, nat, n["customer"]), pa.int32()),
        "c_acctbal": _money(rng, -1000, 10000, n["customer"]),
        "c_mktsegment": rng.choice(_SEGMENTS, n["customer"]),
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n["supplier"]), pa.int64()),
        "s_name": _names("Supplier", n["supplier"]),
        "s_nationkey": pa.array(rng.integers(0, nat, n["supplier"]), pa.int32()),
        "s_acctbal": _money(rng, -1000, 10000, n["supplier"]),
    })
    pk = np.arange(n["part"])
    names = [f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN]
    out["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": rng.choice(names, n["part"]),
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n["part"])],
        "p_type": rng.choice(_PART_TYPES, n["part"]),
        "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
        "p_retailprice": 900.0 + (pk % 1000) / 10.0,
    })
    no = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], no), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": _money(rng, 1000, 500000, no),
        "o_orderdate": _days("1995-01-01", rng.integers(0, 2405, no)),
        "o_orderpriority": rng.choice(_PRIORITIES, no),
    })
    nl = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n["part"], nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype("float64"),
        "l_extendedprice": _money(rng, 900, 105000, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": _days("1995-01-02", rng.integers(0, 2499, nl)),
    })
    ne = n["events"]
    month_us = 30 * 86_400 * 1_000_000
    ts = np.datetime64("2024-01-01", "us") + np.sort(
        rng.integers(0, month_us, ne)
    ).astype("timedelta64[us]")
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(ts),
        "user_id": pa.array(rng.integers(0, max(n["customer"] // 10, 1), ne), pa.int64()),
        "event_type": rng.choice(_EVENT_TYPES, ne),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    out["documents"] = _documents(rng, n["documents"])
    emb = rng.standard_normal((n["embeddings"], 64)).astype("float32")
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n["embeddings"]), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n["embeddings"]), pa.int32()),
    })
    return out


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Bag-of-words documents; about 3% are near-duplicates of an earlier
    document (one word swapped for ``dup``) so the dedup operators have
    clusters to find."""
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < 0.03:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = "dup"
        else:
            words = list(rng.choice(_VOCAB, 100))
        limit = int(rng.integers(44, 580))
        texts.append(" ".join(words)[:limit].rstrip())
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": rng.choice(_LANGS, n, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def write_panel(directory: str, sf: float) -> dict[str, int]:
    """Write the panel tables as ``<directory>/<name>.parquet``; returns
    the row count per table."""
    os.makedirs(directory, exist_ok=True)
    counts = {}
    for name, table in panel_tables(sf).items():
        pq.write_table(table, os.path.join(directory, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts


# ---------------------------------------------------------------------------
# epidemic directories


@dataclass
class Bilan:
    """The counters ``warehouse_directory_to_parquet`` must report."""

    files_seen: int = 0
    processed: int = 0
    ignored: int = 0

    def as_dict(self) -> dict[str, int]:
        return {"files_seen": self.files_seen, "processed": self.processed,
                "ignored": self.ignored}


#: the first backfill day
START = "2020-01-01"


@dataclass
class EpidemicGenerator:
    """Writes the backfill and daily-batch directories and records the
    ground truth: ``truth[(disease, country, iso_date)] = deaths`` as last
    written, over keys the warehouse keeps (country present, date on or
    after ``MIN_DATE``).

    Each day has the fixtures' rows: F-in-4 has 49,068 rows = 261 regions
    x 188 days, F-in-5 33,666 rows (about 179 locations) and F-in-6 113,781
    rows (about 605 entities) over the same days, so a daily batch is
    fixture-sized. The backfill holds ``BACKFILL_DAYS`` = 90 of those 188
    days, which keeps one run near a minute on 4 cores.
    """

    seed: int
    truth: dict[tuple[str, str, str], int | None] = field(default_factory=dict)

    COUNTRIES = 261
    MPOX_COUNTRIES = 179
    TERRITORIES = 605
    BACKFILL_DAYS = 90
    MIN_DATE = "2019-01-01"

    def __post_init__(self) -> None:
        self.rng = np.random.default_rng(self.seed)
        names = [f"Country{i:03d}" for i in range(self.COUNTRIES)]
        # covid countries; monkeypox splits into countries reported with
        # deaths (OWID-style JSON) and territories reported by the 3-column
        # daily file, which has no deaths column at all
        self.covid = names
        self.mpox = names[: self.MPOX_COUNTRIES]
        self.mpox_counts_only = [f"Territory{i:03d}" for i in range(self.TERRITORIES)]
        self.geo = {n: (round(float(self.rng.uniform(-60, 60)), 4),
                        round(float(self.rng.uniform(-170, 170)), 4)) for n in names}
        # cumulative series per (disease, country): level and daily growth
        self.level = {}
        for d, pool in (("COVID-19", self.covid), ("Monkeypox", self.mpox)):
            for n in pool:
                self.level[(d, n)] = (int(self.rng.integers(0, 500)),
                                      int(self.rng.integers(1, 40)))
        self.version = 0

    def _date(self, day: int) -> str:
        return (dt.date.fromisoformat(START) + dt.timedelta(days=day)).isoformat()

    def _deaths(self, disease: str, country: str, day: int) -> int:
        """Cumulative deaths as reported in the current revision: every
        revision raises the recent values, so a re-sent day always
        carries a new value."""
        base, rate = self.level[(disease, country)]
        return base + rate * (day + 1) + 3 * self.version

    def _record(self, disease: str, country: str | None, date: str | None,
                deaths: int | None) -> None:
        if country is None or date is None or date < self.MIN_DATE:
            return
        self.truth[(disease, country, date)] = deaths

    # -- file writers -------------------------------------------------------

    @staticmethod
    def _csv(path: str, header: list[str], rows: list[list]) -> None:
        with open(path, "w", newline="") as f:
            w = csv.writer(f)
            w.writerow(header)
            for r in rows:
                w.writerow(["" if v is None else v for v in r])

    @staticmethod
    def _json(path: str, rows: list[dict]) -> None:
        with open(path, "w") as f:
            json.dump(rows, f)

    def _covid_panel(self, path: str, days: list[int], extra: bool) -> None:
        """F-in-4 shape: Province/State + Country/Region + Lat/Long panel."""
        rows = []
        for day in days:
            date = self._date(day)
            for n in self.covid:
                deaths = self._deaths("COVID-19", n, day)
                confirmed = deaths * 20 + day
                lat, lon = self.geo[n]
                row = [None, n, lat, lon, date, confirmed, deaths,
                       confirmed // 2, confirmed - deaths - confirmed // 2, "WHO"]
                rows.append(row)
                self._record("COVID-19", n, date, deaths)
        if extra:
            # pre-2019 rows and null dates: both must be dropped
            for n in self.covid[:3]:
                rows.append([None, n, 0.0, 0.0, "2018-12-30", 5, 1, 0, 4, "WHO"])
                rows.append([None, n, 0.0, 0.0, None, 5, 1, 0, 4, "WHO"])
        # exact duplicate (region, date) rows: keep-last must collapse them
        rows.extend(rows[: max(len(rows) // 20, 1)])
        self._csv(path, ["Province/State", "Country/Region", "Lat", "Long", "Date",
                         "Confirmed", "Deaths", "Recovered", "Active", "WHO Region"],
                  rows)

    def _mpox_owid(self, path: str, days: list[int]) -> None:
        """F-in-5 shape: OWID-style JSON with location/total_cases/..."""
        rows = []
        for day in days:
            date = self._date(day)
            for n in self.mpox:
                deaths = self._deaths("Monkeypox", n, day)
                rows.append({
                    "location": n, "iso_code": n[-3:], "date": date,
                    "total_cases": float(deaths * 7), "total_deaths": float(deaths),
                    "new_cases": 0.0, "new_deaths": 0.0,
                    "new_cases_smoothed": None, "new_cases_per_million": 0.5,
                })
                self._record("Monkeypox", n, date, deaths)
        self._json(path, rows)

    def _mpox_counts(self, path: str, days: list[int]) -> None:
        """F-in-6 shape: Entity/Day/Daily cases, no deaths column."""
        rows = []
        for day in days:
            date = self._date(day)
            for n in self.mpox_counts_only:
                rows.append([n, date, float(self.rng.integers(0, 9))])
                self._record("Monkeypox", n, date, None)
        self._csv(path, ["Entity", "Day", "Daily cases"], rows)

    def _day_wise(self, path: str, days: list[int]) -> None:
        """F-in-2 shape: global daily series without a country column."""
        rows = [[self._date(d), 100 + d, 3 + d, 50, 47, 4, 1] for d in days]
        self._csv(path, ["Date", "Confirmed", "Deaths", "Recovered", "Active",
                         "New cases", "New deaths"], rows)

    def _snapshots(self, directory: str) -> None:
        """F-in-1/F-in-3/F-in-7 shapes: per-country snapshots with no date,
        so every row is dropped; they exercise the synonym and quoting
        paths only."""
        self._csv(os.path.join(directory, "covid_country_wise_latest.csv"),
                  ["Country/Region", "Confirmed", "Deaths", "Recovered", "Active",
                   "New cases", "New deaths", "Deaths / 100 Cases", "WHO Region"],
                  [[n, 1000, 10, 500, 490, 5, 0, 1.0, "WHO"] for n in self.covid])
        self._csv(os.path.join(directory, "covid_global.csv"),
                  ["country", "continent", "total_confirmed", "total_deaths",
                   "total_cases_per_1m_population", "population"],
                  [[n, "Somewhere", 1000, 10.0, 3, 1_000_000] for n in self.covid])
        self._csv(os.path.join(directory, "covid_worldometer_data.csv"),
                  ["Country/Region", "Population", "TotalCases", "NewCases",
                   "TotalDeaths", "Serious,Critical", "Tot Cases/1M pop"],
                  [[n, 1_000_000, 1000, "", 10.0, "", 1.0] for n in self.covid])

    # -- directories --------------------------------------------------------

    def write_backfill(self, directory: str) -> Bilan:
        """The initial load: every file shape, ``BACKFILL_DAYS`` days."""
        os.makedirs(directory, exist_ok=True)
        days = list(range(self.BACKFILL_DAYS))
        self._covid_panel(os.path.join(directory, "covid_global_3.csv"), days, True)
        self._mpox_owid(os.path.join(directory, "monkeypox_report.json"), days)
        self._mpox_counts(os.path.join(directory, "monkeypox_report_2.csv"), days)
        self._day_wise(os.path.join(directory, "covid_day_wise.csv"), days)
        self._snapshots(directory)
        # 7 files; only covid_day_wise has no country column
        return Bilan(files_seen=7, processed=6, ignored=1)

    def write_batch(self, directory: str, k: int) -> tuple[Bilan, int]:
        """Daily batch ``k`` (0-based): the new day plus a revision of the
        seven days before it. Returns the bilan and the number of distinct
        warehouse keys the batch upserts."""
        os.makedirs(directory, exist_ok=True)
        self.version += 1
        new_day = self.BACKFILL_DAYS + k
        days = list(range(new_day - 7, new_day + 1))
        self._covid_panel(os.path.join(directory, f"covid_daily_{k:03d}.csv"), days, False)
        self._mpox_owid(os.path.join(directory, f"monkeypox_daily_{k:03d}.json"), days)
        self._day_wise(os.path.join(directory, f"covid_day_wise_{k:03d}.csv"), days)
        return Bilan(files_seen=3, processed=2, ignored=1), len(days) * (
            len(self.covid) + len(self.mpox)
        )
