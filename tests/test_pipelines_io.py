"""End-to-end pipelines (EP1/EP2/EP3 equivalents) + I/O roundtrips."""

from __future__ import annotations

import os

from etl_oms_spark.plans.pipelines import (
    long_format_pipeline,
    pivot_report,
    star_schema_pipeline,
)
from etl_oms_spark.sources.readers import read_csv, read_json, scan_dataset_directory
from etl_oms_spark.sources.writers import upsert_sql, write_csv, write_json


def _wide_csv(tmp_path) -> str:
    p = tmp_path / "covid_test.csv"
    p.write_text(
        "Country/Region,Date,TotalCases,TotalDeaths\n"
        "France,2020-03-01,100,5\n"
        "France,2020-03-02,150,7\n"
        "France,bad-date,160,8\n"
        "Germany,2020-03-01,80,2\n"
    )
    return str(p)


def test_long_format_pipeline(spark, tmp_path):
    df = read_csv(spark, _wide_csv(tmp_path))
    out = long_format_pipeline(df, "COVID-19")
    rows = out.collect()
    assert set(out.columns) == {"country", "date", "pandemic", "indicator", "value", "unit"}
    # bad-date row dropped; derived new_cases present (confirmed all non-null,
    # new_cases absent → completed as NULL → derived)
    fr = {
        (r["indicator"], r["date"].day): r["value"]
        for r in rows
        if r["country"] == "France"
    }
    assert fr[("confirmed", 1)] == 100.0
    assert fr[("new_cases", 2)] == 50.0  # lag diff
    assert fr[("new_cases", 1)] == 0.0  # first row → 0
    assert all(r["pandemic"] == "COVID-19" for r in rows)


def test_pivot_report_roundtrip(spark, tmp_path):
    df = read_csv(spark, _wide_csv(tmp_path))
    long = long_format_pipeline(df, "COVID-19")
    wide = pivot_report(long)
    fr = {r["date"].day: r for r in wide.collect() if r["country"] == "France"}
    assert fr[2]["confirmed"] == 150.0
    assert fr[2]["recovered"] == 0.0  # fillna(0) parity (ETL_OMS_V2.py:36)


def test_star_schema_pipeline(spark, tmp_path):
    df = read_csv(spark, _wide_csv(tmp_path))
    tables = star_schema_pipeline(df, "COVID-19")
    pays = {r["country"]: r["id_pays"] for r in tables["Pays"].collect()}
    assert pays == {"France": 1, "Germany": 2}
    fact = tables["Statistique"].collect()
    assert len(fact) == 3
    assert tables["Maladie"].first()["nom_maladie"] == "COVID-19"


def _warehouse(spark, target: str) -> dict:
    """{(disease, country, day): (nouveau_cas, nouveau_mort, total_cas)}"""
    fact = spark.read.parquet(target)
    maladie = spark.read.parquet(target + "__dims/maladie")
    region = spark.read.parquet(target + "__dims/region")
    rows = fact.join(maladie, "id_maladie").join(region, "id_region").collect()
    return {
        (r["nom_maladie"], r["nom_region"], r["date"].day):
            (r["nouveau_cas"], r["nouveau_mort"], r["total_cas"])
        for r in rows
    }


def test_warehouse_measure_types_survive_mixed_directories(spark, tmp_path):
    """An integer-only CSV directory then an OWID-style JSON directory (its
    totals are doubles) upserted into one warehouse: the partition they
    share is rewritten, and the table must stay readable with one type
    per measure."""
    from etl_oms_spark.plans.pipelines import warehouse_directory_to_parquet

    csv_dir, json_dir = tmp_path / "csv", tmp_path / "json"
    csv_dir.mkdir()
    json_dir.mkdir()
    (csv_dir / "covid_daily.csv").write_text(
        "Country/Region,Date,Confirmed,Deaths\n"
        "France,2020-03-01,100,5\n"
        "France,2020-03-02,150,7\n"
    )
    (json_dir / "monkeypox_owid.json").write_text(
        '[{"location": "France", "date": "2020-03-02", "total_cases": 12.0,'
        ' "total_deaths": 1.0, "new_cases": 3.0, "new_deaths": 1.0}]'
    )
    target = str(tmp_path / "warehouse")
    warehouse_directory_to_parquet(spark, str(csv_dir), target)
    warehouse_directory_to_parquet(spark, str(json_dir), target)

    assert _warehouse(spark, target) == {
        ("COVID-19", "France", 1): (0.0, 0.0, 100.0),
        ("COVID-19", "France", 2): (50.0, 2.0, 150.0),
        ("Monkeypox", "France", 2): (3.0, 1.0, 12.0),
    }
    measures = ["nouveau_mort", "nouveau_cas", "total_mort", "total_cas"]
    assert {c: t for c, t in spark.read.parquet(target).dtypes if c in measures} == {
        c: "double" for c in measures
    }


def test_warehouse_one_plan_for_every_disease(spark, tmp_path):
    """EP3 builds one plan whatever the number of diseases, and still scopes
    the all-zero guard per disease: covid's reported dailies stay, the
    zero-reporting diseases get lag-derived ones."""
    from etl_oms_spark.plans.pipelines import warehouse_directory_to_parquet
    from etl_oms_spark.util import plan_stats

    header = "Country/Region,Date,Confirmed,Deaths,New cases,New deaths\n"
    files = {
        "covid.csv": ("COVID-19", [(100, 10, 7, 1), (150, 12, 8, 2), (180, 15, 9, 3)]),
        "monkeypox.csv": ("Monkeypox", [(10, 1, 0, 0), (12, 2, 0, 0), (15, 4, 0, 0)]),
        "ebola.csv": ("Ebola", [(1, 0, 0, 0), (4, 1, 0, 0), (9, 3, 0, 0)]),
    }
    derived = {
        "COVID-19": [(7.0, 1.0), (8.0, 2.0), (9.0, 3.0)],  # as reported
        "Monkeypox": [(0.0, 0.0), (2.0, 1.0), (3.0, 2.0)],
        "Ebola": [(0.0, 0.0), (3.0, 1.0), (5.0, 2.0)],
    }
    exchanges = []
    for n in (1, 2, 3):
        directory = tmp_path / f"in{n}"
        directory.mkdir()
        want = {}
        for name, (disease, rows) in list(files.items())[:n]:
            (directory / name).write_text(header + "".join(
                f"France,2020-03-0{day + 1},{c},{d},{nc},{nd}\n"
                for day, (c, d, nc, nd) in enumerate(rows)
            ))
            for day, ((c, _d, _nc, _nd), (cas, mort)) in enumerate(zip(rows, derived[disease])):
                want[(disease, "France", day + 1)] = (cas, mort, float(c))
        target = str(tmp_path / f"warehouse{n}")
        updates, _ = warehouse_directory_to_parquet(spark, str(directory), target)
        assert _warehouse(spark, target) == want
        exchanges.append(plan_stats(updates)["exchanges"])
    assert exchanges[0] == exchanges[1] == exchanges[2], exchanges


def test_csv_json_roundtrip(spark, tmp_path):
    df = read_csv(spark, _wide_csv(tmp_path))
    cpath, jpath = str(tmp_path / "out_csv"), str(tmp_path / "out_json")
    write_csv(df, cpath, single_file=True)
    write_json(df, jpath, single_file=True)
    assert read_csv(spark, cpath).count() == 4
    assert spark.read.json(jpath).count() == 4


def test_scan_dataset_directory(spark, tmp_path):
    _wide_csv(tmp_path)
    (tmp_path / "notes.txt").write_text("ignored")
    (tmp_path / "mp.json").write_text('[{"location": "France", "date": "2020-01-01"}]')
    frames = scan_dataset_directory(spark, str(tmp_path))
    assert len(frames) == 2  # txt filtered out (case-insensitive ext filter)
    names = {os.path.basename(p) for p in frames}
    assert names == {"covid_test.csv", "mp.json"}
    json_df = frames[str(tmp_path / "mp.json")]
    assert json_df.first()["_source_file"] == "mp.json"


def test_upsert_sql_shape():
    sql = upsert_sql("statistique", "tmp_stat", ["id_region", "date"], ["total_mort"])
    assert "ON CONFLICT (id_region, date) DO UPDATE" in sql
    assert "total_mort = EXCLUDED.total_mort" in sql


def test_catalog_sql_surface(spark, sf_dir):
    from etl_oms_spark.catalog import register_dataset, sql

    names = register_dataset(spark, sf_dir)
    assert "lineitem" in names and "events" in names
    out = sql(
        spark,
        """
        SELECT l_returnflag, COUNT(*) AS n
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
        """,
    )
    rows = out.collect()
    assert [r["l_returnflag"] for r in rows] == ["A", "N", "R"]
    # events view has a proper timestamp despite the nanos source
    ts_type = sql(spark, "SELECT ts FROM events LIMIT 1").schema["ts"].dataType.simpleString()
    assert ts_type == "timestamp"


def test_read_write_any_roundtrip(spark, tmp_path):
    from etl_oms_spark.sources.readers import read_any

    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", 2.5)], "id long, s string, v double"
    )
    for fmt in ("csv", "json", "parquet", "orc"):
        path = str(tmp_path / f"rt_{fmt}")
        df.write.options(header=True).format(fmt).save(path)
        back = read_any(spark, path, fmt=fmt)
        rows = sorted((r["id"], r["s"], r["v"]) for r in back.collect())
        assert rows == [(1, "a", 1.5), (2, "b", 2.5)], fmt
    # partitioned columnar layout prunes by partition column
    ppath = str(tmp_path / "rt_part")
    df.write.partitionBy("s").orc(ppath)
    pruned = read_any(spark, ppath, fmt="orc").filter("s = 'a'")
    assert pruned.count() == 1


def test_curate_single_frame_matches_two_frame(spark):
    """split-column pipeline must produce identical membership to the
    two-frame train_test_split form."""
    from pyspark.sql import functions as F

    from etl_oms_spark.plans.training_pipeline import (
        curate_documents,
        curate_documents_with_split,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    train, test = curate_documents(docs, min_tokens=10, test_rate=0.2)
    single = curate_documents_with_split(docs, min_tokens=10, test_rate=0.2)
    want_train = {r["doc_id"] for r in train.select("doc_id").collect()}
    want_test = {r["doc_id"] for r in test.select("doc_id").collect()}
    got_train = {r["doc_id"] for r in
                 single.filter(F.col("split") == "train").select("doc_id").collect()}
    got_test = {r["doc_id"] for r in
                single.filter(F.col("split") == "test").select("doc_id").collect()}
    assert got_train == want_train and got_test == want_test


def test_write_json_records_byte_parity(spark, tmp_path):
    """write_json_records must produce the reference's exact byte layout:
    one JSON array, compact separators, ISO dates
    (to_json(orient='records', date_format='iso'))."""
    import datetime

    import pandas as pd

    from etl_oms_spark.sources.writers import write_json_records

    df = spark.createDataFrame(
        [(1, "France", datetime.date(2020, 1, 5), 3.5),
         (2, "Germany", datetime.date(2020, 1, 6), None)],
        "id int, pays string, date date, taux double",
    )
    out = str(tmp_path / "stat.json")
    write_json_records(df, out)
    expected = str(tmp_path / "expected.json")
    pd.DataFrame(
        {"id": pd.array([1, 2], dtype="int32"),
         "pays": ["France", "Germany"],
         "date": pd.to_datetime(["2020-01-05", "2020-01-06"]),
         "taux": [3.5, None]}
    ).to_json(expected, orient="records", date_format="iso")
    got = open(out, "rb").read()
    assert got == open(expected, "rb").read()
    assert got.startswith(b"[{") and got.endswith(b"}]")  # one array, not lines


def test_write_json_records_row_count_gate(spark, tmp_path):
    """The driver-side collect is gated: above max_rows the call must
    fail fast with a pointer to the distributed write_json path, and
    must NOT write the file (VERDICT r05: an unguarded toPandas() lets
    a 100 GB caller OOM the driver)."""
    import pytest

    from etl_oms_spark.sources.writers import write_json_records

    df = spark.range(10).selectExpr("id", "CAST(id AS STRING) AS s")
    out = str(tmp_path / "big.json")
    with pytest.raises(ValueError, match="write_json"):
        write_json_records(df, out, max_rows=5)
    assert not (tmp_path / "big.json").exists()
    write_json_records(df, out, max_rows=10)  # at the limit is allowed
    assert (tmp_path / "big.json").exists()


def test_empty_frames_have_no_partitions(spark, tmp_path):
    """First-run empties (dims, local_rows([])) must not spawn Python-
    worker tasks: zero partitions, the declared schema, typed columns."""
    from pyspark.sql import types as T

    from etl_oms_spark.plans.pipelines import load_or_init_dims
    from etl_oms_spark.util import empty_frame, local_rows

    df = empty_frame(spark, "a INT, b ARRAY<STRING>")
    assert df.rdd.getNumPartitions() == 0
    assert df.schema == T.StructType.fromDDL("a INT, b ARRAY<STRING>")
    assert df.count() == 0
    assert local_rows(spark, [], "x LONG").rdd.getNumPartitions() == 0

    pays, maladie = load_or_init_dims(spark, str(tmp_path / "no_dims"))
    assert pays.schema == T.StructType.fromDDL("country STRING, id_pays INT")
    assert maladie.schema == T.StructType.fromDDL("id_maladie INT, nom_maladie STRING")
    assert pays.rdd.getNumPartitions() == maladie.rdd.getNumPartitions() == 0
    assert pays.count() == maladie.count() == 0
