"""Plan-shape pins for the round-11 operators: the properties that keep
each one 100 TB-safe must survive refactors (the test_round10b_plans
practice). Pins assert on the OPTIMIZED/EXECUTED plan, not timings."""

from __future__ import annotations

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString().lower()


def test_gt1_single_word_rollup_then_domain_joins(spark):
    """gt1's only corpus-sized stage is the word rollup; the N_{r+1}
    lookup and the tot/n1 attachments must be broadcast over the tiny
    count histogram — no SortMergeJoin anywhere."""
    import __spark_entry__ as entry_mod

    plan = _plan(entry_mod.gt1_good_turing(spark, SF_DIR))
    # the checkpointed histogram truncates lineage: downstream reads
    # the existing RDD, the corpus scan happens ONCE inside it
    # (pre-barrier this plan carried FOUR parquet scans)
    assert plan.count("scan parquet") <= 1
    assert "existingrdd" in plan or plan.count("scan parquet") == 1
    assert "sortmergejoin" not in plan
    assert "broadcast" in plan


def test_sr1_rank_maps_broadcast_no_smj(spark):
    """sr1's doubled-rank maps are value-domain-sized and must BROADCAST
    back to the JOINT histogram; the corpus is scanned exactly ONCE
    (VERDICT r11 item 4 — the joint (sq, nt) rollup behind a
    lazy-checkpoint barrier replaced the former three column-pruned
    corpus passes; marginals, rank windows, and the count-weighted
    Pearson rollup all run on the domain-sized frame)."""
    import __spark_entry__ as entry_mod

    plan = _plan(entry_mod.sr1_spearman_quality_length(spark, SF_DIR))
    assert "sortmergejoin" not in plan
    assert "broadcasthashjoin" in plan
    # one corpus scan inside the barrier; everything downstream reads
    # the checkpointed RDD
    assert plan.count("scan parquet") <= 1
    assert "existingrdd" in plan or plan.count("scan parquet") == 1


def test_cusum1_windows_over_day_domain_only(spark):
    """cusum1 must collapse the corpus to the day rollup BEFORE any
    window: no join at all, and the one corpus aggregation feeds
    day-domain windows."""
    import __spark_entry__ as entry_mod

    plan = _plan(entry_mod.cusum1_event_changepoint(spark, SF_DIR))
    assert "sortmergejoin" not in plan
    assert "cartesianproduct" not in plan
    # the checkpointed day rollup truncates lineage below the windows
    assert plan.count("scan parquet") <= 1
    assert "existingrdd" in plan or plan.count("scan parquet") == 1


def test_cf1_threshold_broadcasts_to_test_side(spark):
    """cf1's threshold frame is one row and must broadcast to the
    test-half aggregate — never a shuffle join keyed on the corpus."""
    import __spark_entry__ as entry_mod

    plan = _plan(entry_mod.cf1_conformal_coverage(spark, SF_DIR))
    assert "sortmergejoin" not in plan


def test_ot1_and_qq1_windows_run_on_histogram(spark):
    """ot1/qq1 share _quality_label_hist: one corpus scan collapsing to
    the score histogram, windows and decile probes strictly after."""
    import __spark_entry__ as entry_mod

    for fn in (
        entry_mod.ot1_wasserstein_quality,
        entry_mod.qq1_quality_deciles,
    ):
        plan = _plan(fn(spark, SF_DIR))
        # _quality_label_hist is checkpoint-barriered: one corpus scan
        # inside the barrier, histogram-sized frames after it
        assert plan.count("scan parquet") <= 1, fn.__name__
        assert "existingrdd" in plan or plan.count("scan parquet") == 1, fn.__name__
        assert "sortmergejoin" not in plan, fn.__name__


def test_eta1_is_one_scan_no_join(spark):
    """eta1 is two nested aggregations over one scan — any join in the
    plan means the source-domain frame leaked back to the corpus."""
    import __spark_entry__ as entry_mod

    plan = _plan(entry_mod.eta1_quality_by_source(spark, SF_DIR))
    assert plan.count("scan parquet") == 1
    assert "join" not in plan
