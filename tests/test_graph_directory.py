"""Connected-components dedup closure + EP3 directory run with bilan."""

from __future__ import annotations

import random

import pytest

from etl_oms_spark.operators import graph
from etl_oms_spark.operators.graph import (
    connected_components,
    dedup_clusters,
    transitive_minhash_dedup,
)
from etl_oms_spark.plans.pipelines import run_directory_etl


def test_connected_components_chain(spark):
    # chain 1-2-3, pair 10-11, singleton edge 20-20
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 20)], "id_a long, id_b long"
    )
    out = {r["id"]: r["component"] for r in connected_components(edges).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20}


def test_connected_components_long_chain_pointer_jumping(spark, monkeypatch):
    # a 200-hop chain (depth >> the default round budget) converges
    # WITHOUT the non-convergence warning: the small-star rounds add
    # pointer-jump shortcut edges, so the remaining chain contracts
    # O(log diameter) — measured 12 rounds for a 200-hop path (14 at
    # 1000, 16 at 5000), inside the default 20 — where direct-neighbor
    # propagation alone would need 200 rounds
    import warnings

    monkeypatch.setattr(graph, "_LOCAL_EDGES", 0)  # the distributed rounds
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], "id_a long, id_b long"
    )
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        out = connected_components(edges)
        comps = {r["component"] for r in out.collect()}
    assert comps == {0}
    assert not any(issubclass(w.category, RuntimeWarning) for w in caught)


# clique 1-2-3-4, clique 10-11-12, chain 20-21-22-23, pair 30-31
_CLIQUES_CHAIN_PAIR = (
    [(a, b) for a in (1, 2, 3, 4) for b in (1, 2, 3, 4) if a < b]
    + [(10, 11), (11, 12), (10, 12)]
    + [(20, 21), (21, 22), (22, 23), (30, 31)]
)


def test_connected_components_star_early_exit_labels(spark, monkeypatch):
    # the structural early exit (disjoint-star detection after a
    # small-star round, gated on a stable edge count) must leave labels
    # identical to plain fixpoint iteration: mix near-cliques (the dup
    # graph shape that triggers it) with a chain and verify both the
    # min-labels and that convergence is reached without the warning
    import warnings

    monkeypatch.setattr(graph, "_LOCAL_EDGES", 0)  # the distributed rounds
    edges = spark.createDataFrame(_CLIQUES_CHAIN_PAIR, "id_a long, id_b long")
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        out = {
            r["id"]: r["component"]
            for r in connected_components(edges).collect()
        }
    expect = {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10}
    expect.update({20: 20, 21: 20, 22: 20, 23: 20, 30: 30, 31: 30})
    assert out == expect
    assert not any(issubclass(w.category, RuntimeWarning) for w in caught)


def test_connected_components_warns_on_non_convergence(spark, monkeypatch):
    import warnings

    monkeypatch.setattr(graph, "_LOCAL_EDGES", 0)  # the distributed rounds
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "id_a long, id_b long"
    )
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        connected_components(edges, max_iterations=1)
    assert any("fixed point" in str(w.message) for w in caught)


def _reference_components(rows):
    """(id -> min id of its component) by plain Python union-find; a null
    endpoint is never an edge and adds one None -> None entry."""
    parent = {}

    def root(x):
        while parent[x] != x:
            x = parent[x]
        return x

    for a, b in rows:
        for x in (a, b):
            if x is not None:
                parent.setdefault(x, x)
        if a is not None and b is not None:
            ra, rb = root(a), root(b)
            parent[max(ra, rb)] = min(ra, rb)
    out = {x: root(x) for x in parent}
    if any(None in r for r in rows):
        out[None] = None
    return out


_rnd = random.Random(8)
_perm = list(range(3000))
_rnd.shuffle(_perm)
# (rows, id type)
_CC_FIXTURES = {
    # a 200-hop chain, every hop listed in both orientations
    "chain": ([(i, i + 1) for i in range(200)]
              + [(i + 1, i) for i in range(200)], "long"),
    # one component of 3000 shuffled ids: a random tree plus 3000 edges
    "giant": ([(_perm[i], _perm[_rnd.randrange(i)]) for i in range(1, 3000)]
              + [(_perm[_rnd.randrange(3000)], _perm[_rnd.randrange(3000)])
                 for _ in range(3000)], "long"),
    "self_loops": ([(1, 1), (2, 2), (7, 7)], "int"),
    "empty": ([], "long"),
    "duplicates_int": ([(1, 2), (2, 1), (1, 2), (3, 4), (4, 3), (4, 3),
                        (4, 5), (5, 4)], "int"),
    "duplicates_long": ([(1, 2), (2, 1), (1, 2), (3, 4), (4, 3), (4, 3),
                         (4, 5), (5, 4)], "long"),
    "null_endpoint_int": ([(1, None), (2, 3), (5, 5)], "int"),
    "null_endpoint_long": ([(1, None), (2, 3), (5, 5)], "long"),
}


@pytest.mark.parametrize("name", sorted(_CC_FIXTURES))
def test_connected_components_driver_finish_parity(spark, monkeypatch, name):
    # the distributed rounds (bound 0) and the driver finish (default
    # bound) return the same rows and schema, and match a Python reference
    rows, id_type = _CC_FIXTURES[name]
    edges = spark.createDataFrame(rows, f"id_a {id_type}, id_b {id_type}")
    results = []
    for bound in (0, graph._LOCAL_EDGES):
        monkeypatch.setattr(graph, "_LOCAL_EDGES", bound)
        out = connected_components(edges)
        got = sorted(out.collect(), key=lambda r: (r["id"] is None, r["id"]))
        results.append((out.schema, got))
    assert results[0] == results[1]
    spark_type = {"int": "int", "long": "bigint"}[id_type]
    assert results[0][0].simpleString() == (
        f"struct<id:{spark_type},component:{spark_type}>"
    )
    assert {r["id"]: r["component"] for r in results[0][1]} == (
        _reference_components(rows)
    )


def test_connected_components_small_input_job_budget(spark):
    # a small input is checkpointed once and collected once; no star
    # round, signature job or emptiness probe runs (the rounds took 37
    # jobs on this input)
    edges = spark.createDataFrame(
        _CLIQUES_CHAIN_PAIR + [(40, 40)], "id_a long, id_b long"
    )
    sc = spark.sparkContext
    sc.setJobGroup("cc-job-budget", "connected_components job budget")
    try:
        rows = connected_components(edges).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
    assert len(rows) == 14
    assert len(sc.statusTracker().getJobIdsForGroup("cc-job-budget")) <= 4


def test_dedup_clusters_transitive(spark):
    # a~b, b~c but a!~c: transitive closure puts all three in one cluster
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    out = {r["doc_id"]: r["canonical_id"] for r in dedup_clusters(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1}


def test_transitive_minhash_dedup(spark):
    base = " ".join(f"w{i}" for i in range(40))
    docs = [
        (1, base),
        (2, base + " extra"),          # ~a
        (3, base + " extra more"),     # ~b (and transitively ~a)
        (4, " ".join(f"z{i}" for i in range(40))),  # unrelated
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    cache = spark._jsparkSession.sharedState().cacheManager()
    before = cache.cachedData().size()
    kept = sorted(r["doc_id"] for r in transitive_minhash_dedup(df, threshold=0.5).collect())
    assert kept == [1, 4]  # whole 1-2-3 cluster collapses to min id
    # the signatures it caches are released once the clusters exist
    assert cache.cachedData().size() == before


def test_run_directory_etl_bilan(spark, tmp_path):
    (tmp_path / "covid_a.csv").write_text(
        "Country/Region,Date,TotalCases\nFrance,2020-01-05,10\n"
    )
    (tmp_path / "dates_only.csv").write_text("Date,Confirmed\n2020-01-01,5\n")  # no country → ignored
    (tmp_path / "old_monkeypox.csv").write_text(
        "Entity,Day,Daily cases\nSpain,2018-05-01,3\nSpain,2022-05-01,4\n"
    )
    (tmp_path / "readme.txt").write_text("not data")
    df, bilan = run_directory_etl(spark, str(tmp_path))
    assert bilan == {"files_seen": 3, "processed": 2, "ignored": 1}
    rows = df.collect()
    # pre-2019 Spain row filtered; France + 2022 Spain remain
    assert {(r["country"], r["pandemic"]) for r in rows} == {
        ("France", "COVID-19"),
        ("Spain", "Monkeypox"),
    }
    assert all(r["_source_file"] for r in rows)


def test_triangle_count_hand_case(spark):
    from etl_oms_spark.operators.graph import triangle_count

    # 4-clique on {1,2,3,4} (4 triangles) + pendant edge 4-5 (none)
    edges = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)] + [(4, 5)]
    df = spark.createDataFrame(edges, "id_a LONG, id_b LONG")
    got = {r["id"]: r["n_triangles"] for r in triangle_count(df).collect()}
    assert got[-1] == 4                      # C(4,3)
    assert got[1] == got[2] == got[3] == 3   # each node in 3 of 4 triangles
    assert got[4] == 3
    assert 5 not in got                      # pendant joins no triangle
    # duplicate / reversed edges must not inflate counts
    noisy = spark.createDataFrame(edges + [(2, 1), (1, 2)], "id_a LONG, id_b LONG")
    got2 = {r["id"]: r["n_triangles"] for r in triangle_count(noisy).collect()}
    assert got2 == got


def test_pagerank_quantized_properties(spark):
    from etl_oms_spark.operators.graph import pagerank_quantized

    # star: center 0 linked to 1..5 -> center outranks leaves; leaves equal
    edges = [(0, i) for i in range(1, 6)]
    df = spark.createDataFrame(edges, "id_a LONG, id_b LONG")
    got = {r["id"]: r["pr_q"] for r in pagerank_quantized(df).collect()}
    leaves = {got[i] for i in range(1, 6)}
    assert len(leaves) == 1          # symmetry -> identical quantized ranks
    assert got[0] > got[1]
    # partitioning invariance: quantized arithmetic is order-free
    got2 = {r["id"]: r["pr_q"]
            for r in pagerank_quantized(df.repartition(5)).collect()}
    assert got2 == got


def test_label_propagation_spreads_and_pins_seeds(spark):
    from etl_oms_spark.operators.graph import label_propagation

    # chain 1-2-3-4-5; seed 1='a', 5='b'. After 3 rounds: 2 takes a,
    # 4 takes b, 3 sees both -> tie -> lexicographically smallest 'a'.
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "id_a LONG, id_b LONG"
    )
    seeds = spark.createDataFrame([(1, "a"), (5, "b")], "id LONG, label STRING")
    got = {r["id"]: r["label"] for r in label_propagation(edges, seeds).collect()}
    assert got[1] == "a" and got[5] == "b"      # seeds pinned
    assert got[2] == "a" and got[4] == "b"      # frontier expansion
    assert got[3] == "a"                        # deterministic tie-break
    # partitioning invariance
    got2 = {r["id"]: r["label"]
            for r in label_propagation(edges.repartition(3), seeds).collect()}
    assert got2 == got
