"""Deterministic sampling / splitting invariants."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_oms_spark.operators.sampling import stratified_sample, train_test_split


def _docs(spark):
    return spark.range(0, 2000).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 3).cast("string").alias("lang"),
    )


def test_split_disjoint_exhaustive_stable(spark):
    df = _docs(spark)
    train, test = train_test_split(df, test_rate=0.2, key_col="doc_id")
    n_train, n_test = train.count(), test.count()
    assert n_train + n_test == 2000
    assert 300 < n_test < 500  # ~20% with hash noise
    assert train.join(test, "doc_id").count() == 0  # disjoint
    # stability: same membership after repartitioning
    train2, _ = train_test_split(df.repartition(13), test_rate=0.2, key_col="doc_id")
    assert train2.exceptAll(train).count() == 0
    # different salt → different split
    train3, _ = train_test_split(df, test_rate=0.2, key_col="doc_id", salt="other")
    assert train3.exceptAll(train).count() > 0


def test_stratified_sample(spark):
    df = _docs(spark)
    out = stratified_sample(
        df, strata_col="lang", rates={"0": 1.0, "1": 0.1}, key_col="doc_id"
    )
    counts = {r["lang"]: r["count"] for r in out.groupBy("lang").count().collect()}
    assert counts["0"] == 667  # rate 1.0 keeps everything
    assert 30 < counts.get("1", 0) < 130  # ~10%
    assert "2" not in counts  # default rate 0 drops the stratum


def test_stratified_sample_md5_portable(spark):
    """method='md5' strata decisions are hash-stable, partitioning-
    independent, and reproducible in DuckDB (the domain-mixing audit
    path)."""
    import duckdb

    df = _docs(spark)
    out = stratified_sample(
        df, strata_col="lang", rates={"0": 1.0, "1": 0.2}, key_col="doc_id",
        method="md5",
    )
    kept = sorted(r["doc_id"] for r in out.select("doc_id").collect())
    out2 = stratified_sample(
        df.repartition(7), strata_col="lang", rates={"0": 1.0, "1": 0.2},
        key_col="doc_id", method="md5",
    )
    assert kept == sorted(r["doc_id"] for r in out2.select("doc_id").collect())

    con = duckdb.connect()
    oracle = sorted(
        r[0] for r in con.execute("""
            SELECT i FROM range(2000) t(i)
            WHERE CAST('0x' || substring(md5('strata|' || CAST(i AS VARCHAR)), 1, 15)
                  AS BIGINT) % 1000000
                  < CASE CAST(i % 3 AS VARCHAR) WHEN '0' THEN 1000000
                         WHEN '1' THEN 200000 ELSE 0 END
        """).fetchall()
    )
    assert kept == oracle


def test_curate_documents_end_to_end(spark, sf_dir):
    from etl_oms_spark.plans.training_pipeline import curate_documents

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    train, test = curate_documents(
        docs, min_tokens=20, near_dup_threshold=0.7, test_rate=0.1
    )
    n_train, n_test = train.count(), test.count()
    assert n_train > 0 and n_test > 0
    assert n_train + n_test <= docs.count()  # filters + dedup only remove
    # annotation columns present
    for c in ("lang_pred", "quality", "ws_tokens", "fingerprint"):
        assert c in train.columns
    # deterministic: re-running yields identical membership
    train2, _ = curate_documents(
        docs, min_tokens=20, near_dup_threshold=0.7, test_rate=0.1
    )
    assert train2.select("doc_id").exceptAll(train.select("doc_id")).count() == 0


def test_md5_split_portable_and_disjoint(spark):
    """The md5 bucket method gives disjoint/exhaustive splits AND is
    reproducible outside Spark: DuckDB recomputes identical membership."""
    import duckdb
    import pytest

    from etl_oms_spark.operators.sampling import train_test_split

    df = spark.range(0, 500).withColumnRenamed("id", "doc_id")
    train, test = train_test_split(df, test_rate=0.3, key_col="doc_id", method="md5")
    train_ids = {r["doc_id"] for r in train.collect()}
    test_ids = {r["doc_id"] for r in test.collect()}
    assert train_ids.isdisjoint(test_ids)
    assert len(train_ids) + len(test_ids) == 500

    con = duckdb.connect()
    oracle_test = {
        r[0] for r in con.execute("""
            SELECT i FROM range(500) t(i)
            WHERE CAST('0x' || substring(md5('split|' || CAST(i AS VARCHAR)), 1, 15)
                  AS BIGINT) % 1000000 < 300000
        """).fetchall()
    }
    assert oracle_test == test_ids

    with pytest.raises(ValueError):
        train_test_split(df, method="nope")


def test_curate_documents_md5_partitioning_invariant(spark, sf_dir):
    """hash_method='md5' routes near-dedup AND split through portable
    hashes: identical membership on any physical partitioning."""
    from etl_oms_spark.plans.training_pipeline import curate_documents

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    tr1, te1 = curate_documents(
        docs, min_tokens=20, near_dup_threshold=0.7, hash_method="md5"
    )
    tr2, te2 = curate_documents(
        docs.repartition(13), min_tokens=20, near_dup_threshold=0.7,
        hash_method="md5",
    )
    ids = lambda df: sorted(r["doc_id"] for r in df.select("doc_id").collect())  # noqa: E731
    assert ids(tr1) == ids(tr2)
    assert ids(te1) == ids(te2)
    assert set(ids(tr1)).isdisjoint(ids(te1))


def test_mix_plan_budget_and_rates(spark):
    from etl_oms_spark.operators.sampling import mix_plan

    rows = [
        (i, "web", "w " * 50) for i in range(10)          # 500 tokens
    ] + [
        (100 + i, "books", "b " * 100) for i in range(2)  # 200 tokens
    ] + [
        (200, "code", "c " * 30)                          # 30 tokens
    ]
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    plan = {
        r.source: r
        for r in mix_plan(
            df, {"web": 0.5, "books": 0.5}, budget_tokens=600
        ).collect()
    }
    web, books, code = plan["web"], plan["books"], plan["code"]
    assert (web.n_docs, web.n_tokens) == (10, 500)
    assert web.desired_tokens == 300 and web.planned_tokens == 300
    assert abs(web.rate - 0.6) < 1e-12 and not web.oversubscribed
    # books wants 300 but only 200 exist -> capped, flagged
    assert books.desired_tokens == 300 and books.planned_tokens == 200
    assert books.rate == 1.0 and books.oversubscribed
    # code has no target entry -> rate 0
    assert code.desired_tokens == 0 and code.rate == 0.0


def test_apply_mix_plan_deterministic_and_monotonic(spark):
    from pyspark.sql import functions as F

    from etl_oms_spark.operators.sampling import apply_mix_plan

    docs = spark.createDataFrame(
        [(i, "a", "w " * 10) for i in range(200)]
        + [(i, "b", "w " * 10) for i in range(200, 400)],
        "doc_id LONG, source STRING, text STRING",
    )

    def plan(rate_a, rate_b):
        # planned/n_tokens pairs that reduce to the requested rates
        return spark.createDataFrame(
            [("a", int(rate_a * 1000), 1000), ("b", int(rate_b * 1000), 1000)],
            "source STRING, planned_tokens LONG, n_tokens LONG",
        )

    half = apply_mix_plan(docs, plan(0.5, 0.1))
    kept1 = {r["doc_id"] for r in half.collect()}
    kept2 = {r["doc_id"] for r in apply_mix_plan(docs.repartition(7), plan(0.5, 0.1)).collect()}
    assert kept1 == kept2  # partitioning-independent

    fuller = {r["doc_id"] for r in apply_mix_plan(docs, plan(0.8, 0.2)).collect()}
    assert kept1 <= fuller  # higher rate strictly grows the kept set

    by_src = {r["source"]: r["n"] for r in half.groupBy("source").agg(F.count("*").alias("n")).collect()}
    # md5 buckets are uniform-ish: 0.5 of 200 ≈ 100, 0.1 of 200 ≈ 20
    assert 70 <= by_src.get("a", 0) <= 130
    assert 5 <= by_src.get("b", 0) <= 40


def test_weighted_sample_topk_bias_and_determinism(spark):
    from etl_oms_spark.operators.sampling import weighted_sample_topk

    # heavy rows weight 100, light rows weight 1
    rows = [(i, 100 if i < 50 else 1) for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id LONG, w LONG")
    out = weighted_sample_topk(df, "w", k=50)
    kept = [r["doc_id"] for r in out.collect()]
    assert len(kept) == 50
    heavy = sum(1 for i in kept if i < 50)
    # 50 heavy rows carry 100/1 weight each vs 450 light: expect the
    # sample dominated by heavy rows (prob ∝ weight)
    assert heavy >= 35
    # deterministic under repartitioning
    kept2 = [r["doc_id"] for r in weighted_sample_topk(df.repartition(9), "w", k=50).collect()]
    assert sorted(kept) == sorted(kept2)
    # zero/negative weights excluded
    dfz = spark.createDataFrame([(1, 0), (2, 5)], "doc_id LONG, w LONG")
    assert [r["doc_id"] for r in weighted_sample_topk(dfz, "w", k=5).collect()] == [2]


def test_pack_sequences_unsharded_warns(spark):
    """shard_col=None (explicit opt-in) is a single-partition window —
    it must warn; the sharded paths, INCLUDING the zero-config default
    (auto-shard, VERDICT r11 item 5), must stay silent."""
    import warnings

    from etl_oms_spark.operators.sampling import pack_sequences

    df = spark.createDataFrame(
        [(1, 100, 0), (2, 100, 0)], "doc_id LONG, n_tokens LONG, shard INT"
    )
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        pack_sequences(
            df, "n_tokens", budget=128, order_col="doc_id", shard_col=None
        )
    assert any("single-partition" in str(w.message) for w in caught)

    for kw in ({}, {"shard_col": "shard"}):
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            pack_sequences(
                df, "n_tokens", budget=128, order_col="doc_id", **kw
            )
        assert not caught, kw


def test_pack_sequences_default_is_sharded_window(spark):
    """The DEFAULT path must never plan a single-partition window: the
    window is partitioned by the derived pack_shard, the shard is a pure
    function of order_col (partitioning-invariant), and per-shard packing
    matches a hand replay of the cumulative-sum rule."""
    import hashlib

    from etl_oms_spark.operators.sampling import pack_sequences

    rows = [(i, 10 * (i % 7 + 1)) for i in range(64)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    out = pack_sequences(df, "n_tokens", budget=64, num_shards=4)
    plan = out._jdf.queryExecution().executedPlan().toString().lower()
    assert "window" in plan
    # the window spec must lead with the derived shard as its PARTITION
    # clause — a global window would print windowspecdefinition(doc_id…
    assert "windowspecdefinition(pack_shard" in plan
    got = {
        r["doc_id"]: (r["pack_shard"], r["seq_id"]) for r in out.collect()
    }
    # replay: shard = md5('pack|doc_id') 15-hex-prefix mod 4; per shard,
    # cumsum in doc_id order, seq = floor(start/64)
    shards: dict[int, list[int]] = {}
    for i, _ in rows:
        h = hashlib.md5(f"pack|{i}".encode()).hexdigest()
        shards.setdefault(int(h[:15], 16) % 4, []).append(i)
    for shard, ids in shards.items():
        cum = 0
        for i in sorted(ids):
            tok = 10 * (i % 7 + 1)
            assert got[i] == (shard, cum // 64), i
            cum += tok
    # repartitioning must not change the packing
    got2 = {
        r["doc_id"]: (r["pack_shard"], r["seq_id"])
        for r in pack_sequences(
            df.repartition(13), "n_tokens", budget=64, num_shards=4
        ).collect()
    }
    assert got2 == got
