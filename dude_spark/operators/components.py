"""Connected components over a pair/edge DataFrame.

Alternating large-star / small-star iterative self-joins (Kiveris et
al., "Connected Components in MapReduce and Beyond", SOCC'14) — the
standard shuffle-based CC that converges in O(log n) rounds without
GraphX/RDDs, expressed purely as DataFrame aggregations + joins so
Catalyst/AQE manage the physical plan.

This replaces DuDe's transitive grouping-by-identical-hash
(/root/reference/internal/processing/hashing.go:321-382) for the
near-dup detectors, where duplicate relations are pairwise and
transitivity must be computed.  The final label is the component's
minimum image_id — a deterministic representative, deliberately fixing
the reference's nondeterministic map-iteration representative choice
(hashing.go:370, comment "smallest name?").

Scale notes: every round is two shuffles (groupBy min + join) with
map-side partial aggregation; `localCheckpoint` each round truncates
the lineage so plans don't grow; convergence is detected via a cheap
count+hash aggregate.  Labels are the ids themselves — the pipeline
feeds this operator DENSE LONG iids (operators/ids.py dictionary
encoding, round-3), so every round shuffles 8-byte keys; the operator
itself is type-agnostic and the min-label semantics survive encoding
because the mapping is order-preserving.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.types import StructField, StructType

from ..session import local_frame


def _large_star(edges: DataFrame) -> DataFrame:
    """For each node u: connect strictly-larger neighbors to
    min(Γ(u) ∪ {u})."""
    und = edges.select(F.col("a").alias("u"), F.col("b").alias("v")).unionByName(
        edges.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    mins = und.groupBy("u").agg(
        F.least(F.min("v"), F.first("u")).alias("m")
    )
    return (
        und.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("a"), F.col("m").alias("b"))
        .where(F.col("a") != F.col("b"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Point each edge from larger to smaller; for each node u connect
    all smaller neighbors (and u itself) to the minimum neighbor."""
    directed = edges.select(
        F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v")
    )
    mins = directed.groupBy("u").agg(F.min("v").alias("m"))
    nbr = (
        directed.join(mins, "u")
        .select(F.col("v").alias("a"), F.col("m").alias("b"))
    )
    self_edge = mins.select(F.col("u").alias("a"), F.col("m").alias("b"))
    return (
        nbr.unionByName(self_edge)
        .where(F.col("a") != F.col("b"))
        .distinct()
    )


def _fingerprint(edges: DataFrame) -> tuple[int, int]:
    row = edges.agg(
        F.count("*").alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64("a", "b")), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def _driver_components(edges: DataFrame) -> DataFrame:
    """Small-graph fast path: union-find on the driver over a BOUNDED
    collected edge list.  Exists because the distributed star rounds
    are 5–8 Spark jobs of fixed scheduling latency — a flat ~8 s tail
    in the measured 600k pipeline (BENCH.md round-3) that dominates
    nothing but the Amdahl serial floor when the verified edge set is
    tiny (dedup edges ≈ O(dups), orders of magnitude below the input).
    The caller guarantees the bound; at data scale the distributed
    rounds run instead."""
    spark = edges.sparkSession
    out_schema = StructType(
        [
            StructField("image_id", edges.schema["a"].dataType),
            StructField("cluster_id", edges.schema["b"].dataType),
        ]
    )
    pdf = edges.toPandas()
    if pdf.empty:
        return local_frame(spark, [], out_schema)
    codes, uniques = pd.factorize(pd.concat([pdf["a"], pdf["b"]]), sort=False)
    m = len(pdf)
    parent = list(range(len(uniques)))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]  # path halving
            x = parent[x]
        return x

    for u, v in zip(codes[:m].tolist(), codes[m:].tolist()):
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[rv] = ru
    roots = [find(i) for i in range(len(uniques))]
    # component label = min NODE VALUE, not min factorize index
    # (factorize orders by appearance) — same contract as the star
    # rounds: cluster_id = min(image_id) over the component
    nodes = pd.Series(uniques)
    rep = nodes.groupby(roots).transform("min")
    out = pd.DataFrame({"image_id": nodes, "cluster_id": rep})
    return local_frame(spark, out, out_schema)


# Bounded decision for the driver fast path: ≤ cap LONG-keyed edges
# collect to ~tens of MB (2 × 8 B per edge plus pandas overhead) and
# union-find in well under the latency of ONE star round's jobs.  Same
# adaptivity precedent as candidates.py's eager over-cap probe — a
# tiny action picks the plan the data deserves.  String-keyed edges
# are ~an order of magnitude heavier per row on the driver (Python
# string objects), so the cap shrinks 8× for them (see
# connected_components).
DRIVER_EDGE_CAP = 2_000_000


def connected_components(
    pairs: DataFrame,
    max_iterations: int = 30,
    checkpoint: bool = True,
    driver_cap: int = DRIVER_EDGE_CAP,
) -> DataFrame:
    """pairs(a, b) → assignments(image_id, cluster_id).

    cluster_id = min(image_id) over the component.  Only nodes that
    appear in at least one pair are returned (singletons are dropped,
    ≅ hashing.go:366-368).

    Adaptive: a count probe routes edge sets of ≤ ``driver_cap``
    distinct edges through driver union-find
    (:func:`_driver_components` — removes the star rounds' flat
    multi-job tail), everything larger through the distributed
    large-star/small-star rounds.  ``driver_cap=0`` forces the
    distributed path (the equivalence test does).  A plain count, not
    ``limit(cap+1).count()``: the distinct() below must consume all
    its input regardless, so a limit early-exits nothing and its
    GlobalLimit would funnel up to cap+1 rows PER partition through
    one task — count is map-side combinable (one combined row per
    partition to the driver).
    """
    edges = pairs.select("a", "b").where(F.col("a") != F.col("b")).distinct()
    if driver_cap:
        # the cap budgets driver MEMORY, and string node ids cost ~8×
        # a long per collected edge — scale the count cap by key type
        # so a 2M-edge string-keyed graph doesn't toPandas hundreds of
        # MB onto a small driver
        a_type = pairs.schema["a"].dataType
        if not isinstance(a_type, (T.LongType, T.IntegerType, T.ShortType)):
            driver_cap = max(1, driver_cap // 8)
        if checkpoint:
            # pin so the probe's materialization is reused by whichever
            # path runs (toPandas, or round 1 of the star loop)
            edges = edges.localCheckpoint(eager=False)
        if edges.count() <= driver_cap:
            return _driver_components(edges)
    prev = None
    for _ in range(max_iterations):
        edges = _small_star(_large_star(edges))
        if checkpoint:
            # lazy checkpoint: the fingerprint action below materializes
            # it, so each round costs ONE driver job (checkpoint + conv
            # check fused), not two — the CC loop is part of the
            # pipeline's serial floor (round-1 VERDICT #8)
            edges = edges.localCheckpoint(eager=False)
        fp = _fingerprint(edges)
        if fp == prev:
            break
        prev = fp
    else:
        raise RuntimeError("connected components did not converge")

    # converged edge set is a star forest: every node points at its root
    members = edges.select(
        F.col("a").alias("image_id"), F.col("b").alias("cluster_id")
    )
    roots = edges.select(F.col("b").alias("image_id")).distinct().withColumn(
        "cluster_id", F.col("image_id")
    )
    return members.unionByName(roots).distinct()
