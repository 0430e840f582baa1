"""Semi-supervised label propagation over a document similarity graph.

Curation pipelines rarely have labels (quality grade, topic, license
class) for more than a sliver of the corpus — but near-duplicate /
shared-content relations carry the label signal outward: a page that
shares rare n-grams with labeled spam is spam-shaped. This module runs
the classic synchronous label-propagation scheme (Zhu & Ghahramani 2002;
Raghavan et al. 2007 for the community form) made fully deterministic:

- seeds keep their label forever (clamped),
- in round r, every still-unlabeled node adopts the majority label among
  its neighbors labeled in rounds < r — ties broken by (count DESC,
  label ASC), so the trajectory is a pure function of the graph,
- synchronous rounds: round r reads ONLY the round r-1 label relation,
  never its own partial output, which is what makes the result
  partitioning-invariant (asynchronous LPA famously is not).

Graph construction (``rare_shingle_edges``) is the dedup suite's blocked
self-join: two documents are adjacent when they share a rare word
n-gram (document frequency in [2, df_cap]). The df cap bounds every
block to <= df_cap rows, so the pair explosion is O(df_cap^2) per
shingle BY CONSTRUCTION — the same skew discipline as
operators/dedup.py's prefix filtering (no hot shingle can melt a task).

Scale shape per round: one hash join edges x labels on src (both sides
shuffle-partitioned by the join key), one map-side-combined count
aggregate keyed (dst, label), one window argmax over per-node label
counts (partitioned by node — never a global sort), one anti join to
drop already-labeled nodes. Rounds are bounded and each round ends in
localCheckpoint, so the plan never nests (the pagerank.py idiom).

No reference counterpart (thymeflow's graph inference is IFP equality,
enrichers/ifp.py); this extends the curation suite's graph family next
to operators/pagerank.py and operators/kcore.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def rare_shingle_edges(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 4,
    df_cap: int = 4,
) -> DataFrame:
    """Directed edge relation (src, dst), both orientations, connecting
    documents that share >= 1 word n-gram with document frequency in
    [2, df_cap]."""
    from .cachereg import pin
    from .dedup import word_shingles

    sh = pin(word_shingles(docs, id_col, text_col, n))
    rare = (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .filter((F.col("df") >= 2) & (F.col("df") <= df_cap))
        .select("shingle")
    )
    blocked = pin(sh.join(rare, "shingle"))
    a = blocked.select("shingle", F.col(id_col).alias("src"))
    b = blocked.select("shingle", F.col(id_col).alias("dst"))
    return pin(
        a.join(b, "shingle")
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
    )


def propagate_labels(
    edges: DataFrame, seeds: DataFrame, rounds: int
) -> DataFrame:
    """Synchronous majority-vote label propagation.

    ``edges``: (src, dst) with both orientations present.
    ``seeds``: (id, label) — clamped, never re-labeled.
    Returns (id, label, round) for every node labeled within ``rounds``
    rounds (round 0 = seed).
    """
    if rounds < 0:
        raise ValueError("rounds must be >= 0")
    labels = (
        seeds.select("id", "label")
        .withColumn("round", F.lit(0))
        .localCheckpoint(eager=True)
    )
    # Frontier discipline: a node still unlabeled entering round r has no
    # neighbor labeled BEFORE round r-1 (any node with >= 1 labeled
    # neighbor at r-2 was labeled at r-1 — votes always elect a winner),
    # so joining edges against only the PREVIOUS round's new labels
    # computes the identical vote relation for every anti-join survivor
    # at O(frontier) instead of O(all-labeled) join volume per round.
    frontier = labels
    w = Window.partitionBy("id").orderBy(F.desc("c"), F.asc("label"))
    # session partitions, not 1: the ~10^5-row vote join + window is real per-row work
    for r in range(1, rounds + 1):
        votes = (
            edges.join(
                frontier.select(F.col("id").alias("src"), "label"), "src"
            )
            .groupBy(F.col("dst").alias("id"), "label")
            .agg(F.count("*").alias("c"))
        )
        new = (
            votes.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("id", "label")
            .join(labels.select("id"), "id", "left_anti")
            .withColumn("round", F.lit(r))
            .localCheckpoint(eager=True)
        )
        # labels stays a LAZY union of already-checkpointed pieces: every
        # leg is a materialized RDD, so re-reading the union costs a scan,
        # while the former labels.union(new).localCheckpoint(eager=True)
        # re-wrote the ENTIRE label set as one extra blocking job per
        # round (guide §1.2 — count the jobs).
        labels = labels.union(new)
        frontier = new
    return labels
