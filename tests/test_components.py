"""``operators.dedup.connected_components``: labels equal a union-find
reference on graphs spread over several partitions, one call stays within
its Spark job and pin budget, and a call that runs out of rounds raises.
One ``dedup_keepers`` call over a corpus with planted near-copies stays
within its job and pin budget too."""

from __future__ import annotations

import random

import pytest


N_PARTS = 4


def _edges_frame(spark, edges):
    """(doc_a, doc_b) rows in the given order, cut into ``N_PARTS``
    contiguous partitions (a local relation is scanned in one slice per
    core of the ``local[4]`` test session)."""
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    assert df.rdd.getNumPartitions() == N_PARTS
    return df


def _random_ids(rng, n, offset):
    return [offset + i for i in rng.sample(range(10 * n), n)]


def _graphs(rng):
    """name → edge list over disjoint id ranges, so one call labels all."""
    graphs = {}
    # a long chain in random id order: its edges land in every partition,
    # so no partition sees more than short fragments of it
    ids = _random_ids(rng, 200, 0)
    graphs["chain"] = list(zip(ids, ids[1:]))
    # stars whose centers connect only through leaf-to-leaf bridges: the
    # minimum travels leaf → center → leaf → leaf → center … over many hops
    ids = _random_ids(rng, 12 * 41, 10_000)
    chain_of_stars = []
    for k in range(12):
        center, leaves = ids[41 * k], ids[41 * k + 1: 41 * (k + 1)]
        chain_of_stars += [(center, leaf) for leaf in leaves]
        if k:
            chain_of_stars.append((ids[41 * k - 1], leaves[0]))
    graphs["chain_of_stars"] = chain_of_stars
    # duplicate, reversed and self-loop edges, and a node with only a loop
    ids = _random_ids(rng, 60, 20_000)
    messy = [tuple(rng.sample(ids, 2)) for _ in range(45)]
    messy += messy[:10] + [(b, a) for a, b in messy[10:20]]
    messy += [(i, i) for i in ids[:5]] + [(29_999, 29_999)]
    graphs["dup_reversed_self_loops"] = messy
    # ids above 2^32 and near 2^62
    for name, offset in (("ids_above_2_32", 5 << 32), ("ids_near_2_62", (1 << 62) - 10_000)):
        ids = _random_ids(rng, 100, offset)
        graphs[name] = [tuple(rng.sample(ids, 2)) for _ in range(80)]
    # a 5,000-leaf star whose center is its largest id
    graphs["star_5000"] = [(40_000 + 5_000, 40_000 + i) for i in range(5_000)]
    for s in range(3):
        ids = _random_ids(rng, 200, 100_000 * (s + 1) + 50_000)
        graphs[f"random_{s}"] = [tuple(rng.sample(ids, 2)) for _ in range(150)]
    return graphs


def test_connected_components_equal_union_find(spark):
    from htep_spark.driver_queries import _min_label_components
    from htep_spark.operators.dedup import connected_components

    rng = random.Random(20261018)
    graphs = _graphs(rng)
    edges = [e for g in graphs.values() for e in g]
    rng.shuffle(edges)
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(_edges_frame(spark, edges)).collect()
    }
    for name, g in graphs.items():
        want = _min_label_components(g)
        assert {n: got.get(n) for n in want} == want, name
    assert len(got) == len({n for e in edges for n in e})


def test_connected_components_raises_when_rounds_run_out(spark):
    """A random-id chain over every partition needs several rounds; with
    one allowed, the call raises instead of returning unconverged labels."""
    from htep_spark.operators.dedup import connected_components

    ids = _random_ids(random.Random(20261019), 200, 0)
    pairs = _edges_frame(spark, list(zip(ids, ids[1:])))
    with pytest.raises(RuntimeError, match="did not converge in 1 rounds"):
        connected_components(pairs, max_iterations=1)


def _fixed_graph(spark):
    """400 five-node clusters (a path plus a chord), each cluster's edges
    inside one of the four partitions: the shape of a dedup graph."""
    edges = []
    for c in range(400):
        n = [c * 7 + k for k in (3, 0, 4, 1, 2)]
        edges += [(n[0], n[1]), (n[1], n[2]), (n[2], n[3]), (n[3], n[4]), (n[4], n[0])]
    return _edges_frame(spark, edges)


def test_connected_components_job_and_pin_budget(spark):
    from htep_spark.operators.dedup import connected_components

    sc = spark.sparkContext
    pairs = _fixed_graph(spark)
    pinned = set(sc._jsc.getPersistentRDDs().keySet().toArray())
    group = "test-connected-components-budget"
    sc.setJobGroup(group, group)
    try:
        labels = connected_components(pairs).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert {r["cluster_id"] for r in labels} == {c * 7 for c in range(400)}
    assert len(labels) == 2_000
    assert len(jobs) <= 12, len(jobs)
    new_pins = set(sc._jsc.getPersistentRDDs().keySet().toArray()) - pinned
    assert len(new_pins) <= 1, new_pins


def _dup_corpus(spark):
    """(doc_id, text) rows: 1,000 twenty-word documents, every fourth with
    two near-copies (one word replaced), ids shuffled over the partitions."""
    rng = random.Random(301)
    vocab = [f"w{i}" for i in range(500)]
    rows = []
    for i in range(1_000):
        words = rng.choices(vocab, k=20)
        rows.append(" ".join(words))
        if i % 4 == 0:
            for _ in range(2):
                copy = list(words)
                copy[rng.randrange(20)] = rng.choice(vocab)
                rows.append(" ".join(copy))
    ids = _random_ids(rng, len(rows), 0)
    return spark.createDataFrame(list(zip(ids, rows)), "doc_id long, text string")


def test_dedup_keepers_job_and_pin_budget(spark):
    from htep_spark.operators.dedup import dedup_keepers

    sc = spark.sparkContext
    docs = _dup_corpus(spark)
    pinned = set(sc._jsc.getPersistentRDDs().keySet().toArray())
    group = "test-dedup-keepers-budget"
    sc.setJobGroup(group, group)
    try:
        rows = dedup_keepers(docs, "doc_id", "text").collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(rows) == 1_500
    assert sum(r["keep"] for r in rows) < 1_500
    assert len(jobs) <= 26, len(jobs)
    new_pins = set(sc._jsc.getPersistentRDDs().keySet().toArray()) - pinned
    assert len(new_pins) <= 1, new_pins
