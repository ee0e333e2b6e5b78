"""Connected components via alternating large-star / small-star contraction.

The min-label-propagation form (``queries/dedup.py::dedup_clusters``) needs
O(component diameter) join rounds — fine for near-dup families (near-cliques,
diameter ~2), pathological on long chains: a 10^6-node path would need 10^6
rounds.  The alternating-star algorithm (Kiveris, Lattanzi, Mirrokni,
Rastogi, Vassilvitskii, "Connected Components in MapReduce and Beyond",
SoCC'14) converges in O(log^2 n) rounds regardless of diameter, which is why
it is the web-scale form.  Reference parity: the reference framework has no
graph operators at all — this extends the dedup pipeline's clustering stage
(SURVEY.md north-star ops) with the bounded-rounds variant the round-4
verdict asked for.

One round:

- **large-star**: every node ``u`` connects each STRICTLY LARGER neighbor to
  ``m = min(N(u) ∪ {u})``.  Emitted edges (v, m) always satisfy v > m, so the
  output is naturally stored in the oriented (hi, lo) form.
- **small-star**: on the oriented list (u > v), every node ``u`` connects its
  smaller neighbors AND ITSELF to ``m = min(N_<(u))``; self-loops (m, m) drop.

Both phases are one groupBy + one join over the edge list — pure shuffle-
native DataFrame ops, no driver-side graph state.  At 100 TB the edge list is
the only shuffled payload and it monotonically contracts toward the final
star set (one edge per non-root node).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from map_reduce485_spark.queries._util import (
    cache_scoped,
    checkpoint_scoped,
    release,
)


def star_components(
    pairs: DataFrame,
    src: str = "a_id",
    dst: str = "b_id",
    max_rounds: int = 16,
) -> tuple[DataFrame, int]:
    """Label every node in the undirected graph ``pairs`` with its component
    minimum.  Returns ``(labels, rounds)`` where labels has columns
    ``(id, label)`` covering every node incident to at least one pair, and
    ``rounds`` is the number of large+small rounds until the edge-set
    fixpoint (the convergence witness the property tests pin).
    """
    # Canonical oriented edge set: (hi, lo), hi > lo, distinct.  Self-pairs
    # in the input carry no component information and are dropped.
    edges = cache_scoped(
        pairs.select(
            F.greatest(F.col(src), F.col(dst)).alias("hi"),
            F.least(F.col(src), F.col(dst)).alias("lo"),
        )
        .filter(F.col("hi") != F.col("lo"))
        .distinct()
    )
    # pin true stats before planning the star rounds: `pairs` usually
    # arrives from a similarity join whose Catalyst row estimate is a
    # blind post-filter guess; un-materialized, that guess flows into
    # every round's join and the planner may try to BROADCAST a
    # multi-million-row edge list (observed as an 8.3 GiB build abort at
    # the 100x smoke).  Materialized, the InMemoryRelation reports its
    # real size and each round picks broadcast/shuffle correctly.
    edges.count()
    nodes = (
        pairs.select(F.col(src).alias("id"))
        .unionAll(pairs.select(F.col(dst).alias("id")))
        .distinct()
    )

    rounds = 0
    for _ in range(max_rounds):
        rounds += 1
        # symmetric neighborhoods for the large-star phase
        sym = edges.select(F.col("hi").alias("u"), F.col("lo").alias("v")).unionAll(
            edges.select(F.col("lo").alias("u"), F.col("hi").alias("v"))
        )
        m_large = sym.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        large = (
            sym.join(m_large, "u")
            .filter(F.col("v") > F.col("u"))
            # v > u >= m  ⇒ already oriented (hi=v, lo=m)
            .select(F.col("v").alias("hi"), F.col("m").alias("lo"))
            .filter(F.col("hi") != F.col("lo"))
            .distinct()
        )
        # small-star on the oriented output: neighbors of u are all < u
        m_small = large.groupBy(F.col("hi").alias("u")).agg(F.min("lo").alias("m"))
        # Lineage MUST be truncated every round: the round's plan references
        # the previous round's frame ~8x (sym is edges x2; large joins sym
        # with an agg of sym; stepped joins large with an agg of large), so
        # an un-truncated logical tree grows 8^rounds — Catalyst analysis
        # hangs long before any task runs (cache does not help; cached-plan
        # substitution happens after analysis).  checkpoint_scoped
        # materializes the round's edge list and makes it the new leaf.
        stepped = checkpoint_scoped(
            large.join(m_small, large.hi == F.col("u"))
            .select(
                # (v, m) for each smaller neighbor v, plus (u, m) for u itself
                F.explode(
                    F.array(
                        F.struct(F.col("lo").alias("hi"), F.col("m").alias("lo")),
                        F.struct(F.col("u").alias("hi"), F.col("m").alias("lo")),
                    )
                ).alias("e")
            )
            .select("e.hi", "e.lo")
            .filter(F.col("hi") != F.col("lo"))
            .distinct()
        )
        # fixpoint test: both sets are distinct, so equal counts plus an
        # empty one-way difference prove set equality (2 actions on cached
        # frames — the convergence check never rescans the raw pairs).
        same = (
            stepped.count() == edges.count()
            and stepped.subtract(edges).limit(1).count() == 0
        )
        # the previous generation is fully consumed — free its storage now
        release(edges)
        edges = stepped
        if same:
            break

    # At the fixpoint every component is a star rooted at its minimum: each
    # non-root node has edges only to the root, roots appear only as `lo`.
    leaf = edges.groupBy(F.col("hi").alias("id")).agg(F.min("lo").alias("lbl"))
    labels = nodes.join(leaf, "id", "left").select(
        "id", F.coalesce(F.col("lbl"), F.col("id")).alias("label")
    )
    return labels, rounds
