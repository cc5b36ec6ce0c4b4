"""Distributed connected components (hash-to-min label propagation).

The canonical finisher of every near-dup pipeline: candidate PAIRS
(MinHash/LSH/SimHash output) must collapse into duplicate CLUSTERS
with one keeper per cluster. Union-find is driver-bound; the
distributed formulation is iterative min-label propagation over the
symmetrized edge list — each round one join + one aggregation, labels
strictly non-increasing, converges in O(diameter) rounds (components
of near-dup graphs are shallow). Lineage is truncated per round with
localCheckpoint, the same discipline as ops/knn.py's ring loop.

At 10¹² rows: edges and labels are both shuffled on the same key per
round; no driver-side state beyond the per-round convergence count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# propagation rounds before giving up; with pointer jumping the
# round count is O(log diameter) — 2-16 on the suite's near-dup graphs
MAX_ROUNDS = 25


class ComponentsNotConverged(RuntimeError):
    """Labels still changed in the last allowed round."""


def connected_components(
    edges: DataFrame, src: str = "doc_a", dst: str = "doc_b"
) -> DataFrame:
    """→ (id, component) where component = min id reachable from id
    (including itself). Vertices are everything mentioned in edges.
    Raises ComponentsNotConverged after MAX_ROUNDS rounds that still
    change a label."""
    e = edges.select(
        F.col(src).alias("u"), F.col(dst).alias("v")
    )
    # self-loops fold the vertex's OWN label into the neighbor-min
    # aggregation, so each round is join+groupBy — the former
    # labels⨝nbr left join (one exchange per round) is gone. They are
    # generated IN THE SAME single pass over the edge list (4-way
    # explode + one distinct): building them from a separate
    # vertex-distinct would give the labels table a second full
    # lineage over the caller's (often expensive) pair-generation
    # subtree — measured as a whole extra LSH/IVF pass in d10/e06.
    quad = e.select(
        F.explode(
            F.array(
                F.struct(F.col("u").alias("u"), F.col("v").alias("v")),
                F.struct(F.col("v").alias("u"), F.col("u").alias("v")),
                F.struct(F.col("u").alias("u"), F.col("u").alias("v")),
                F.struct(F.col("v").alias("u"), F.col("v").alias("v")),
            )
        ).alias("s")
    ).select("s.u", "s.v")
    # lazy: the first round's own action materializes it (reused from
    # the checkpoint thereafter) — eager would spend an extra job
    # before any propagation work
    sym = quad.distinct().localCheckpoint(eager=False)
    # vertex set = the self-loop rows of the CHECKPOINTED table: a
    # cheap filter over the materialized sym, no second distinct and
    # no re-run of the edge lineage
    labels = (
        sym.where(F.col("u") == F.col("v"))
        .select(F.col("u").alias("id"), F.col("u").alias("component"))
        .localCheckpoint(eager=False)
    )
    prev_sum = None
    for _ in range(MAX_ROUNDS):
        # (1) min label over N(u) ∪ {u} (hash-to-min; the self-loop
        # carries u's current label, so no separate keep-own-label join)
        stepped = (
            sym.join(labels, sym.v == labels.id)
            .groupBy("u")
            .agg(F.min("component").alias("component"))
            .withColumnRenamed("u", "id")
        )
        # (2) pointer jumping: component ← component's component —
        # plain hash-to-min needs O(diameter) rounds (a 30-vertex
        # chain defeats 25 iterations); with per-round path
        # compression convergence is O(log diameter)
        lut = stepped.select(
            F.col("id").alias("__lid"), F.col("component").alias("__lcomp")
        )
        # lazy checkpoint: the convergence aggregate below is the
        # action that materializes it — one job per round instead of
        # two (an eager checkpoint ran its own job before the check)
        jumped = (
            stepped.join(lut, stepped.component == F.col("__lid"), "left")
            .select(
                "id",
                F.least(
                    F.col("component"), F.coalesce("__lcomp", F.col("component"))
                ).alias("component"),
            )
            .localCheckpoint(eager=False)
        )
        # labels are elementwise non-increasing round over round, so
        # an unchanged SUM ⟺ no label changed — one tiny aggregate
        # replaces the old per-round jumped⨝labels compare join.
        # decimal(38,0) keeps the sum exact for 64-bit id spaces
        # (a long sum would hit ANSI overflow at hash-id scale); the
        # empty graph sums to NULL, coalesced so it converges too
        cur_sum = jumped.agg(
            F.coalesce(
                F.sum(F.col("component").cast("decimal(38,0)")),
                F.lit(0).cast("decimal(38,0)"),
            ).alias("s")
        ).first()["s"]
        labels = jumped
        if prev_sum is not None and cur_sum == prev_sum:
            return labels
        prev_sum = cur_sum
    raise ComponentsNotConverged(
        f"labels still changing after {MAX_ROUNDS} rounds"
    )


def dup_clusters(
    pairs: DataFrame, src: str = "doc_a", dst: str = "doc_b"
) -> DataFrame:
    """Near-dup pairs → per-document cluster assignment with keeper
    semantics: (doc_id, component=keeper_doc_id, is_keeper)."""
    cc = connected_components(pairs, src, dst)
    return cc.select(
        F.col("id").alias("doc_id"),
        F.col("component").alias("keeper_doc_id"),
        (F.col("id") == F.col("component")).alias("is_keeper"),
    )
