"""Connected components over candidate-duplicate pair graphs — the
clustering stage of the near-dup pipeline (LSH pairs -> duplicate
clusters -> one canonical keeper per cluster).

Reference capability: elasticsearch-hadoop has no graph operator; this is
part of the driver-mandated LLM-pipeline dedup extension (SURVEY.md §2.C
extensions).  The pair stage (operators/dedup.py minhash_lsh_pairs) finds
EDGES; real corpora need the transitive closure — A~B, B~C means A,B,C are
one duplicate cluster even when A~C never collided in a band.

Algorithm: iterative minimum-label propagation accelerated with pointer
jumping (path doubling), run to the exact fixpoint.  The seed is
lbl(u) = min(u, min over neighbours w of w); each round is
    lbl'(u) = min over w in N(u) ∪ {lbl(u)} of lbl(w)
Every label is a node id no larger than its own node's id, so
lbl(lbl(u)) <= lbl(u): the jump edge (u, lbl(u)) carries both the pointer
jump and the "keep my label" term.  A round is therefore one label lookup
over (both-way edges ∪ jump edges) and one groupBy(u)-min, shuffling only
narrow (node, label) rows; no cross product anywhere.  The lookup is a
join done inside one shuffle: each node's own (node, label) row is
unioned into the lookup rows and a window over the looked-up id spreads
the label to the rows that ask for it.  A real equi-join shuffles both of
its sides as separate Spark jobs (and AQE adds a broadcast job when it
demotes a small one), so a round would be five jobs; this way it is three
— the shuffle on the looked-up id, the shuffle on u, and the checkpoint.
Plain neighbour propagation moves a component's minimum one hop per round
(O(diameter) rounds); the jump doubles the covered radius each round
(r -> 2r + 1), so convergence takes O(log diameter) rounds — the same
doubling idea as the large-star/small-star algorithm (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14), kept in the
min-label formulation so the fixpoint provably equals the recursive-CTE
transitive-closure minimum the DuckDB oracle computes.  Measured on the
corpus fixture's 10-node chains: 4 rounds (+1 confirm) with the jump, 10
(+1) without — and every round is a few Spark jobs, so rounds are the
cost driver at every scale.

Scale notes (100 TB):
- State per round is |V| (node, label) rows + the both-way edge list —
  both tiny relative to the corpus (only docs that collided in a band).
  The window buffers one looked-up id's rows at a time and spills, so a
  hub node (boilerplate shared by many docs) costs disk, not memory.
  The edge list is built from one scan of ``pairs`` (each pair explodes
  into its two orientations) and checkpointed once; duplicate edges cannot
  change a min, so it is never deduplicated.
- Convergence costs no action of its own: the round's labels frame
  carries an ``observe()`` counting the nodes whose label dropped, and the
  count is read from the round's eager checkpoint job.  Labels only ever
  decrease and are bounded below by the component minimum, so the loop
  ends; a round that lowers no label is the fixpoint (each node's label
  is then at most every neighbour's label, so labels are constant on a
  component and equal its minimum, whose label is itself).  A count, not
  a sum of labels, so hash-derived 60-bit node ids cannot overflow it.
- localCheckpoint truncates the loop-grown lineage so round k's plan does
  not replay rounds 1..k-1 (classic iterative-Spark pitfall).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F


def connected_components(pairs: DataFrame, src: str, dst: str) -> DataFrame:
    """Return (node, cluster_id) for every node appearing in ``pairs``,
    where cluster_id = min node id reachable through the pair graph.

    ``pairs`` is an undirected edge list of non-null node ids (one row per
    edge, either orientation; duplicates and self-loops allowed).  Runs
    min-label propagation to the exact fixpoint, so the result equals the
    true transitive-closure minimum — the DuckDB recursive-CTE oracle can
    replay it exactly.
    """
    edges = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col(src).alias("u"), F.col(dst).alias("v")),
                F.struct(F.col(dst).alias("u"), F.col(src).alias("v")),
            )
        ).alias("e")
    ).select("e.u", "e.v").localCheckpoint(eager=False)
    labels = (
        edges.groupBy("u")
        .agg(F.least(F.col("u"), F.min("v")).alias("lbl"))
        .localCheckpoint(eager=False)
    )
    while True:
        # Rows keyed by v: each edge (u, v) and each jump (u, lbl(u)) asks
        # for v's label on behalf of u, and the jump also carries u's label
        # as `old`; v's own row (u null) answers with vlbl = lbl(v), which
        # the window spreads over its key.
        lookups = edges.unionByName(
            labels.select("u", F.col("lbl").alias("v"), F.col("lbl").alias("old")),
            allowMissingColumns=True,
        ).unionByName(
            labels.select(F.col("u").alias("v"), F.col("lbl").alias("vlbl")),
            allowMissingColumns=True,
        )
        dropped = Observation()
        labels = (
            lookups.withColumn("vlbl", F.max("vlbl").over(Window.partitionBy("v")))
            .filter(F.col("u").isNotNull())
            .groupBy("u")
            .agg(F.min("vlbl").alias("lbl"), F.max("old").alias("old"))
            .observe(dropped, F.count_if(F.col("lbl") < F.col("old")).alias("n"))
            .select("u", "lbl")
            .localCheckpoint(eager=True)
        )
        if dropped.get["n"] == 0:
            return labels.select(F.col("u").alias("node"), F.col("lbl").alias("cluster_id"))


def duplicate_clusters(pairs: DataFrame, src: str, dst: str) -> DataFrame:
    """Cluster the pair graph and annotate membership: returns one row per
    clustered node with (node, cluster_id, cluster_size, is_canonical);
    canonical = the minimum node id of the cluster (so cluster_id itself).
    The downstream dedup action is `filter(~is_canonical)` -> drop list."""
    cc = connected_components(pairs, src, dst)
    w = Window.partitionBy("cluster_id")
    return (
        cc.withColumn("cluster_size", F.count(F.lit(1)).over(w).cast("bigint"))
        .withColumn("is_canonical", F.col("node") == F.col("cluster_id"))
    )
