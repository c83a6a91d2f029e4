"""The generators' inputs and ground truth on a tiny seed.

The warehouse truth is recomputed here from the files the generator wrote,
by an independent reader that replays them in load order and keeps the
last-written value per key.
"""

import csv
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402

COUNTRY_HEADERS = {"Country/Region", "country", "location", "Entity"}
DISEASES = {"covid": "COVID-19", "monkeypox": "Monkeypox"}


def _rows(path):
    if path.endswith(".json"):
        with open(path) as f:
            return json.load(f)
    with open(path, newline="") as f:
        return list(csv.DictReader(f))


def _replay(directories):
    """(disease, country, date) -> deaths, last written wins; plus the
    (files, files with a country column) count per directory."""
    truth, bilans = {}, []
    for d in directories:
        names = sorted(os.listdir(d))
        with_country = 0
        for name in names:
            rows = _rows(os.path.join(d, name))
            header = set(rows[0]) if rows else set()
            country_col = next(iter(header & COUNTRY_HEADERS), None)
            date_col = next(iter(header & {"Date", "date", "Day"}), None)
            deaths_col = next(iter(header & {"Deaths", "total_deaths"}), None)
            if country_col is None:
                continue
            with_country += 1
            disease = next(v for k, v in DISEASES.items() if k in name)
            for r in rows:
                date = r.get(date_col) if date_col else None
                if not date or date < "2019-01-01" or not r[country_col]:
                    continue
                deaths = r.get(deaths_col) if deaths_col else None
                truth[(disease, r[country_col], date)] = (
                    int(float(deaths)) if deaths not in (None, "") else None
                )
        bilans.append((len(names), with_country))
    return truth, bilans


G = gen.EpidemicGenerator
DAYS = G.BACKFILL_DAYS


def test_epidemic_truth_matches_the_files(tmp_path):
    g = G(seed=7)
    dirs = [str(tmp_path / "backfill")]
    bilans = [g.write_backfill(dirs[0])]
    keys = []
    for k in range(2):
        dirs.append(str(tmp_path / f"batch{k}"))
        bilan, n = g.write_batch(dirs[-1], k)
        bilans.append(bilan)
        keys.append(n)
    truth, seen = _replay(dirs)
    assert g.truth == truth
    assert [(b.files_seen, b.processed) for b in bilans] == seen
    assert all(b.files_seen == b.processed + b.ignored for b in bilans)
    # covid and monkeypox countries over the backfill days plus the two new
    # ones (batch k revises days k+1..k+8); counts-only territories over
    # the backfill days
    with_deaths = G.COUNTRIES + G.MPOX_COUNTRIES
    assert len(truth) == with_deaths * (DAYS + 2) + G.TERRITORIES * DAYS
    assert keys == [8 * with_deaths, 8 * with_deaths]


def test_epidemic_inputs_hold_the_rows_the_warehouse_must_drop(tmp_path):
    g = G(seed=7)
    g.write_backfill(str(tmp_path))
    rows = _rows(str(tmp_path / "covid_global_3.csv"))
    dates = [r["Date"] for r in rows]
    assert "" in dates and "2018-12-30" in dates
    keyed = [(r["Country/Region"], r["Date"]) for r in rows]
    assert len(keyed) > len(set(keyed))  # duplicate (region, date) rows
    assert not any(d < "2019-01-01" for _, _, d in g.truth)


def test_revisions_change_the_last_written_value(tmp_path):
    g = G(seed=7)
    g.write_backfill(str(tmp_path / "b"))
    key = ("COVID-19", "Country000", g._date(DAYS - 2))
    first = g.truth[key]
    g.write_batch(str(tmp_path / "k0"), 0)
    assert g.truth[key] != first


def test_epidemic_generator_is_a_function_of_its_seed(tmp_path):
    a = G(seed=3)
    b = G(seed=3)
    a.write_backfill(str(tmp_path / "a"))
    b.write_backfill(str(tmp_path / "b"))
    assert a.truth == b.truth
    for name in os.listdir(tmp_path / "a"):
        assert (tmp_path / "a" / name).read_bytes() == (tmp_path / "b" / name).read_bytes()


def test_rows_per_day_are_the_fixtures():
    fixture_days = 188
    assert G.COUNTRIES * fixture_days == 49_068  # F-in-4
    assert abs(G.MPOX_COUNTRIES * fixture_days - 33_666) < fixture_days  # F-in-5
    assert abs(G.TERRITORIES * fixture_days - 113_781) < fixture_days  # F-in-6
    assert 8 <= DAYS <= fixture_days  # a batch revises the seven days before it


def test_panel_tables_are_deterministic_and_typed_like_the_reference():
    a = gen.panel_tables(0.001)
    b = gen.panel_tables(0.001)
    assert all(a[t].equals(b[t]) for t in a)
    assert a["lineitem"].num_rows == 6000 and a["embeddings"].num_rows == 500
    assert str(a["lineitem"].schema.field("l_shipdate").type) == "timestamp[us]"
    assert a["embeddings"].schema.field("embedding").type == gen.pa.list_(gen.pa.float32())
    assert str(a["nation"].schema.field("n_nationkey").type) == "int32"
    docs = a["documents"].to_pydict()
    assert docs["n_chars"] == [len(t) for t in docs["text"]]
