"""Connected components (large-star/small-star) tests.

Pinned here: agreement with a union-find ground truth on random graphs and
dense planted clusters, a long chain that closes in O(log n) rounds
regardless of its diameter, star/path/cycle shapes, and the honest
RuntimeError when ``max_iter`` is too small.
"""

from __future__ import annotations

import random

import pytest

from moira_spark.operators.components import connected_components


@pytest.fixture(autouse=True)
def _tiny_shuffle(spark):
    # Iterative algorithms pay per-round fixed costs per shuffle partition;
    # these graphs have <100 edges, so 2 partitions keeps rounds fast while
    # still exercising multi-partition merges.
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    yield
    spark.conf.set("spark.sql.shuffle.partitions", old)


def _labels(spark, edges, **kw):
    df = spark.createDataFrame(edges, "src long, dst long")
    out = {r.id: r.comp for r in connected_components(df, **kw).collect()}
    spark.catalog.clearCache()
    return out


def _truth(edges):
    # union-find ground truth
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def test_long_chain_closes(spark):
    # Path of diameter 30: the star rounds converge in O(log n) rounds
    # regardless of the diameter, well inside 8.
    chain = [(i, i + 1) for i in range(30)]
    random.Random(7).shuffle(chain)
    got = _labels(spark, chain, max_iter=8)
    assert got == {i: 0 for i in range(31)}


@pytest.mark.parametrize("seed", [1, 2])
def test_bigstar_matches_union_find_on_random_graphs(spark, seed):
    rng = random.Random(seed)
    n = 60
    edges = [
        (rng.randrange(n), rng.randrange(n)) for _ in range(50)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    got = _labels(spark, edges)
    assert got == _truth(edges)


def test_dense_clusters_match_union_find(spark):
    # The dedup shape: dense planted clusters.
    clusters = [[1, 2, 3, 4], [10, 11, 12], [20, 21]]
    edges = [
        (a, b) for c in clusters for a in c for b in c if a < b
    ]
    assert _labels(spark, edges) == _truth(edges)


def test_chain_needs_multiple_rounds(spark):
    """A path 1-2-3-4-5 plus a separate pair: the labels must be the
    component min, not just the one-hop neighbor min."""
    edges = [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)]
    got = _labels(spark, edges)
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10}


def test_nonconvergence_raises(spark):
    # The path 1-2-3 is not a flat star forest, so zero allowed rounds
    # must raise rather than return truncated components.
    df = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df, max_iter=0)
    spark.catalog.clearCache()


def test_bigstar_star_cycle_and_selfloop(spark):
    edges = (
        [(0, i) for i in range(1, 8)]  # star rooted at 0
        + [(100, 101), (101, 102), (102, 100)]  # 3-cycle
        + [(200, 200)]  # self-loop only: singleton
    )
    got = _labels(spark, edges)
    want = {i: 0 for i in range(8)}
    want.update({100: 100, 101: 100, 102: 100, 200: 200})
    assert got == want


def test_free_checkpoint_releases_blocks(spark):
    """The bounded-storage claim in _free_checkpoint's docstring, exercised:
    unpersisting via the LogicalRDD leaf must actually remove the
    checkpointed blocks from executor storage (the previous
    queryExecution().toRdd() approach no-op'd silently)."""
    import pyspark.sql.functions as F

    from moira_spark.operators.components import _free_checkpoint

    def cached_ids():
        infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return {i.id() for i in infos}

    before = cached_ids()
    df = (
        spark.range(0, 50_000)
        .withColumn("x", F.col("id") * 7)
        .localCheckpoint(eager=True)
    )
    after_ckpt = cached_ids()
    new_ids = after_ckpt - before
    assert new_ids, "localCheckpoint cached nothing? test premise broken"
    _free_checkpoint(df)
    after_free = cached_ids()
    assert not (new_ids & after_free), (
        f"checkpoint blocks {new_ids & after_free} still cached after "
        "_free_checkpoint"
    )
