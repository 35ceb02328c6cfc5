"""Connected components over a dup-pair edge list (near-dup clustering).

The dedup family (SURVEY.md §2.10) produces candidate *pairs* —
``minhash_lsh_candidates``, ``simhash_dup_pairs``, ``ngram_jaccard_pairs``.
Turning pairs into keep/drop decisions needs the transitive closure: if A~B
and B~C are near-dups, {A, B, C} is ONE cluster with one survivor, even
though A and C never shared an LSH bucket. The reference has no analog (its
only dedup is whole-row ``.distinct()``,
/root/reference/TransformTaxiTrips.py:42); this operator completes the
pipeline from candidate pairs to a canonical-document decision.

Algorithm: iterative min-label propagation. Every node starts labeled with
its own id; each round, a node takes the minimum of its label and its
neighbors' labels. Labels are monotonically non-increasing, so the SUM of
all labels strictly decreases until the fixpoint — one cheap scalar action
per round decides convergence without a change-count join. The sum is
taken in DECIMAL(38,0): 60-bit hash-derived node ids (the norm for a real
corpus) overflow a signed-64 sum at ~8 nodes, which under ANSI mode would
throw and with ANSI off could in principle wrap around to a false
fixpoint.

Scale properties (100 TB corpus):

- The input is the *dup-pair graph*, which is orders of magnitude smaller
  than the corpus (LSH emits only same-bucket pairs). The corpus itself is
  never shuffled here.
- Each round is two shuffles on the node id (join + min-groupBy), both
  keyed the same way, and AQE coalesces the tiny post-filter volumes.
- Rounds are bounded by the cluster *diameter*, not cluster size; dup
  clusters are shallow (most are pairs/triangles), so convergence is
  typically 2-4 rounds. ``MAX_ROUNDS`` caps pathological chains.
- ``localCheckpoint`` truncates the lineage each round — without it the
  plan doubles per iteration and the job graph explodes by round ~15.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: propagation rounds before :func:`connected_components` gives up
MAX_ROUNDS = 50


def connected_components(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Label every node of the undirected graph ``edges`` with the minimum
    node id reachable from it (= a canonical cluster id).

    Returns a DataFrame ``(node BIGINT, comp BIGINT)`` with one row per
    distinct node appearing in ``edges``. Nodes in no edge are absent (a
    doc with no dup candidate is trivially its own cluster).

    If the fixpoint is not reached within ``MAX_ROUNDS`` rounds (component
    diameter > MAX_ROUNDS), partially-propagated labels are WRONG, so it
    raises rather than return them.
    """
    e = edges.select(
        F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v")
    )
    sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v"))).distinct()
    sym = sym.localCheckpoint()

    # round 0 folded into initialization: comp = min(self, direct neighbors)
    labels = (
        sym.groupBy("u")
        .agg(F.min("v").alias("mv"))
        .select(F.col("u").alias("node"), F.least("u", "mv").alias("comp"))
        .localCheckpoint()
    )
    _label_sum = F.sum(F.col("comp").cast("decimal(38,0)"))
    prev = labels.agg(_label_sum).first()[0]

    for _ in range(MAX_ROUNDS):
        # propagate: each node offers its label to every neighbor
        offers = sym.join(labels, sym.u == labels.node).select(
            F.col("v").alias("node"), F.col("comp")
        )
        labels = (
            labels.union(offers)
            .groupBy("node")
            .agg(F.min("comp").alias("comp"))
            .localCheckpoint()
        )
        cur = labels.agg(_label_sum).first()[0]
        if cur == prev:  # labels only decrease; equal sum ⟺ fixpoint
            return labels
        prev = cur
    raise RuntimeError(
        f"connected_components did not converge within {MAX_ROUNDS} rounds;"
        " labels are partially propagated (component diameter exceeds the"
        " round cap)"
    )
