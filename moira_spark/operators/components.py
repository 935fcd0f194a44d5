"""Connected components over candidate-pair edges (dedup cluster closure).

Near-dup pair generators (Jaccard join, MinHash/SimHash banding,
embedding LSH) emit PAIRS; an actual dedup pass needs CLUSTERS — if A~B
and B~C, keeping "one of each pair" would keep two of {A,B,C}.  This
operator closes pairs into components, labelling each node with the min
id it can reach, using the alternating large-star / small-star rounds of
Kiveris et al., "Connected Components in MapReduce and Beyond" (SoCC
2014), expressed entirely in DataFrame ops.

Rounds needed are O(log n), INDEPENDENT of graph diameter, so dense
near-dup clusters (diameter 1-3) and long chains (transitive fuzzy
matches, follow-your-nose entity resolution) both close in a few rounds.
Each round is a groupBy-min plus a co-partitioned join — no
collect_list, so a hot node never materializes its whole neighborhood in
one task.  The driver-side loop touches only one scalar aggregate per
round (the flat-star-forest test) — no row data ever reaches the driver.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel


def _free_checkpoint(df: DataFrame) -> None:
    """Best-effort eager release of a localCheckpoint'ed frame's blocks.

    localCheckpoint persists its RDD directly (not via the CacheManager, so
    DataFrame.unpersist() is a no-op for it) and the ContextCleaner only
    frees the blocks after the Python proxy is garbage collected — an
    unbounded wait on a long iteration.  Releasing the underlying RDD keeps
    executor storage bounded at ~2 edge-table copies per loop.

    The CACHED RDD is the one inside the plan's LogicalRDD leaf —
    ``queryExecution().toRdd()`` builds a NEW physical RDD on every call
    (measured: different id, unpersist there is a silent no-op), so this
    walks the analyzed plan's leaves instead.  Actual block release is
    pinned by tests/test_components.py::test_free_checkpoint_releases_blocks.
    Wrapped in try/except: if the internal API moves, the fallback is simply
    the GC path, never a wrong result."""
    try:
        leaves = df._jdf.queryExecution().analyzed().collectLeaves()
        for i in range(leaves.size()):
            leaf = leaves.apply(i)
            if leaf.getClass().getSimpleName() == "LogicalRDD":
                leaf.rdd().unpersist(False)
    except Exception:
        pass


def _star_round(edges: DataFrame, large: bool) -> DataFrame:
    """One large-star or small-star round (Kiveris et al. SoCC 2014).

    large-star(u): m = min(N(u) + {u}); rewire every neighbor v > u to m.
    small-star(u): over edges directed high->low (u > v): m = min(N-(u));
                   rewire u and every smaller neighbor to m.

    Both are expressed as groupBy-min + join on the SAME key (no
    collect_list): the min-aggregate and the join co-partition, so a round
    costs one shuffle of the edge list plus a map-side rewire.
    """
    if large:
        sym = edges.union(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        mins = sym.groupBy("src").agg(
            F.least(F.min("dst"), F.first("src")).alias("m")
        )
        out = (
            sym.join(mins, "src")
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        )
    else:
        dird = edges.select(
            F.greatest("src", "dst").alias("src"),
            F.least("src", "dst").alias("dst"),
        ).filter(F.col("src") != F.col("dst"))
        mins = dird.groupBy("src").agg(F.min("dst").alias("m"))
        rewired = dird.join(mins, "src")
        out = rewired.select(
            F.col("dst").alias("src"), F.col("m").alias("dst")
        ).union(rewired.select("src", F.col("m").alias("dst")))
    return out.filter(F.col("src") != F.col("dst")).distinct()


def _is_star_forest(edges: DataFrame) -> bool:
    """True iff a high->low oriented edge frame is a FLAT star forest —
    every src appears exactly once and no node is both a child and a
    root.  That is precisely the large/small-star fixpoint: the rounds
    preserve the graph's connected components (the Kiveris et al.
    invariant), so a flat forest's stars ARE the components, rooted at
    their min id (root < every child by orientation).  Checking the
    structure directly needs no confirmation round to observe that
    nothing changed, and cannot false-positive the way a checksum of
    consecutive rounds could.  One scalar aggregate (no groupBy exchange;
    the distinct-counts partial-aggregate map-side), driver sees 4
    numbers."""
    row = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col("src").alias("id"), F.lit(1).alias("s")),
                    F.struct(F.col("dst").alias("id"), F.lit(0).alias("s")),
                )
            ).alias("e")
        )
        .agg(
            F.sum(F.col("e.s")).alias("n_edges"),
            F.count_distinct(
                F.when(F.col("e.s") == 1, F.col("e.id"))
            ).alias("n_src"),
            F.count_distinct(
                F.when(F.col("e.s") == 0, F.col("e.id"))
            ).alias("n_dst"),
            F.count_distinct(F.col("e.id")).alias("n_ids"),
        )
        .collect()[0]
    )
    n_edges = int(row["n_edges"] or 0)
    return (
        n_edges == int(row["n_src"] or 0)
        and int(row["n_src"] or 0) + int(row["n_dst"] or 0)
        == int(row["n_ids"] or 0)
    )


def connected_components(
    edges: DataFrame, src: str = "src", dst: str = "dst", max_iter: int = 50
) -> DataFrame:
    """(src, dst) undirected edges -> (id, comp), comp = min id reachable —
    in O(log n) alternating large-star/small-star rounds, independent of
    graph diameter (Kiveris et al., SoCC 2014).

    The returned frame is persisted (MEMORY_AND_DISK); callers may release
    it with .unpersist() / clearCache(), or leave it to the ContextCleaner.

    Convergence is detected STRUCTURALLY: a high->low edge set that is a
    flat star forest — every src exactly once, no node both child and
    root — IS the fixpoint (star rounds preserve components, so flat
    stars = components rooted at their min).  One scalar aggregate per
    round reaches the driver, never row data, and an already-converged
    input costs zero rounds.  Raises RuntimeError if the fixpoint is not
    reached in ``max_iter`` rounds rather than silently truncating
    components; the default is a safety net two orders above the log2
    bound for any realistic graph.
    """
    # Materialize the caller's edge plan ONCE.  `nodes` is consumed only
    # by the final labels join, and deriving it straight from `edges` meant
    # the ENTIRE upstream pair-generation plan (for corpus_split_leakage,
    # the full Jaccard shingle self-join) executed a second time at the end
    # of the closure.  One localCheckpoint of the raw projected edges feeds
    # both `nodes` and round 0.  Its blocks must outlive the returned
    # (lazily persisted) labels frame, so they are left to the
    # ContextCleaner.
    ebase = edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst")
    ).localCheckpoint(eager=True)
    nodes = (
        ebase.select(F.col("src").alias("id"))
        .union(ebase.select(F.col("dst").alias("id")))
        .distinct()
    )
    # localCheckpoint, not persist: each star round references the previous
    # round's frame TWICE (the symmetrizing union), so without truncating
    # the logical plan the tree doubles every round and Catalyst re-plans an
    # exponentially growing graph (observed as minutes of pure planning by
    # round ~8).  localCheckpoint materializes the rows AND cuts lineage to
    # a LogicalRDD; on a real cluster with executor-loss concerns, set a
    # checkpoint dir and use reliable .checkpoint() instead — same shape.
    # Initial edges are canonicalized high->low — the orientation the star
    # rounds themselves converge to.  Edges are undirected (the large star
    # symmetrizes, the small star re-orients), so this changes no
    # component; it lets an input that is already star-shaped pass the
    # flat-forest test before any round runs.
    cur = (
        ebase.select(
            F.greatest("src", "dst").alias("src"),
            F.least("src", "dst").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # The flat-forest test runs BEFORE round 1 too: pair generators whose
    # components are all simple pairs hand the loop an already-converged
    # forest, and the closure then costs one scalar aggregate, zero star
    # rounds.
    for _ in range(max_iter + 1):
        if _is_star_forest(cur):
            # Fixpoint: edges form stars (child -> root, root = component
            # min); roots and isolated nodes label themselves via the
            # left join.
            labels = nodes.join(
                cur.select(F.col("src").alias("id"), F.col("dst").alias("comp")),
                "id",
                "left",
            ).select(
                "id", F.coalesce(F.col("comp"), F.col("id")).alias("comp")
            )
            return labels.persist(StorageLevel.MEMORY_AND_DISK)
        after_large = _star_round(cur, large=True)
        prev = cur
        cur = _star_round(after_large, large=False).localCheckpoint(eager=True)
        _free_checkpoint(prev)  # cur is materialized; prev blocks done
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds"
    )
