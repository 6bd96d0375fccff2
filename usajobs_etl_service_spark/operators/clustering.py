"""Duplicate-cluster resolution: connected components over near-dup
pairs, so "A~B, B~C" collapses to one cluster and a dedup pipeline can
keep exactly one canonical doc per cluster.

Algorithm: alternating large-star / small-star rounds (Kiveris et al.,
"Connected Components in MapReduce and Beyond", public paper). Each
round rewires every node toward the minimum id in its neighborhood:

- large-star: for each node u with neighborhood N(u), m = min(N(u) u
  {u}); every strictly-larger neighbor v > u is re-attached as (v, m).
- small-star: orient every edge large->small, m = min of the smaller
  neighbors; re-attach u and all its smaller neighbors to m.

Components converge to stars centered on their minimum id in
O(log diameter) rounds — the previous min-label propagation needed a
round per hop of the component's diameter, which made deep duplicate
chains (transcription chains, quoting cascades) the most expensive
query in the suite. Every round is two window-min passes shuffled on
node id (no joins), with parallelism adapted to the live edge count;
nothing reaches the driver except an O(1) convergence fingerprint
(edge count + xor-hash).

Each distributed round MATERIALIZES its (geometrically shrinking)
edge set to parquet and reads it back — the Pregel-style superstep
shape. That truncates lineage (without it the plan tree grows ~3x per
round: re-deriving the upstream LSH pair generation each round was a
measured 5x slowdown, and the analyzer cost explodes exponentially),
and it is the RIGHT 100 TB posture: ``localCheckpoint`` blocks — the
previous implementation — are non-recoverable on executor loss (a
documented Spark caveat; one lost executor fails the whole job on a
real cluster) and could only be freed by reaching into private
``_jdf.queryExecution()`` API. Parquet supersteps survive executor
loss, cost sequential columnar IO on an edge set that collapses
geometrically, and are cleaned up deterministically (each round's
files are deleted once the next round has consumed them).
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType
from pyspark.storagelevel import StorageLevel

from usajobs_etl_service_spark.operators.superstep import from_numpy, to_numpy


def _large_star(nbrs: DataFrame, p: int) -> DataFrame:
    """One large-star pass over a symmetric (u, v) neighbor list: attach
    every neighbor v > u to m = min(N(u) u {u}). An explicit
    repartition(p, u) feeds the window min, which reuses that
    partitioning — ONE shuffle, sized to the live edge count (the edge
    set collapses geometrically across rounds, and checkpoint
    boundaries stop AQE from coalescing for us). Output duplicates are
    absorbed by the small-star pass's dedup."""
    from pyspark.sql import Window

    w = Window.partitionBy("u")
    return (
        nbrs.repartition(p, "u")
        .withColumn("m", F.least(F.col("u"), F.min("v").over(w)))
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("a"), F.col("m").alias("b"))
    )


def _small_star(edges: DataFrame, p: int) -> DataFrame:
    """One small-star pass: orient each edge large->small, then attach
    the node and all its smaller neighbors to the smallest of them.
    Window min + a two-way explode emits both the neighbor rewires
    (v, m) and the node's own attachment (u, m) in a single pass; the
    final dedup rides a repartition(p, a, b) so it adds no
    conf-sized shuffle."""
    from pyspark.sql import Window

    directed = edges.select(
        F.greatest(F.col("a"), F.col("b")).alias("u"), F.least(F.col("a"), F.col("b")).alias("v")
    ).filter(F.col("u") != F.col("v"))
    w = Window.partitionBy("u")
    m = F.min("v").over(w)  # m < u always
    return (
        directed.repartition(p, "u")
        .withColumn("m", m)
        .select(
            F.explode(
                F.array(
                    F.struct(F.col("v").alias("a"), F.col("m").alias("b")),
                    F.struct(F.col("u").alias("a"), F.col("m").alias("b")),
                )
            ).alias("p")
        )
        .select("p.a", "p.b")
        .filter(F.col("a") != F.col("b"))
        .repartition(p, "a", "b")
        .dropDuplicates(["a", "b"])
    )


def _driver_union_find(spark, a: np.ndarray, b: np.ndarray) -> DataFrame:
    """Union-by-min over an ALREADY-TRANSFERRED edge list — the finish
    for graphs whose MEASURED edge count fits trivially in driver
    memory (a few MB of id pairs), where per-round Spark fixed costs
    exceed the total work. Takes the caller's numpy columns, not a
    DataFrame: the path-decision probe already holds every edge, so
    re-scanning (the r6 shape: two ``toLocalIterator`` passes = one
    sequential mini-job PER PARTITION, the measured bulk of q64's local
    regression) would pay Spark round-trips for data the driver owns.
    The node set is derived from the edges for the same reason.

    Vectorized: each round hooks, for every edge, the larger of its two
    roots under the smaller, then compresses every path to its root
    (pointer jumping). A parent is always a smaller node of the same
    component, so at the fixpoint (no edge joins two roots) every
    component hangs off its minimum id."""
    nodes, idx = np.unique(np.concatenate([a, b]), return_inverse=True)
    ia, ib = idx[: len(a)], idx[len(a) :]
    root = np.arange(len(nodes))
    while True:
        ra, rb = root[ia], root[ib]
        nxt = root.copy()
        np.minimum.at(nxt, np.maximum(ra, rb), np.minimum(ra, rb))
        while not np.array_equal(nxt[nxt], nxt):
            nxt = nxt[nxt]
        if np.array_equal(nxt, root):
            break
        root = nxt
    schema = StructType([StructField("doc_id", LongType()), StructField("cluster_id", LongType())])
    return from_numpy(spark, schema, [nodes, nodes[root]])


def connected_components(
    pairs: DataFrame,
    *,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 20,
    return_rounds: bool = False,
    small_graph_edges: int = 500_000,
    checkpoint_dir: str | None = None,
) -> DataFrame | tuple[DataFrame, int]:
    """Resolve undirected edges into components: returns ``(doc_id,
    cluster_id)`` with ``cluster_id`` = the component's minimum doc_id.
    Every node appearing in any pair is returned (including both ends
    of each edge). Raises if not converged in ``max_iterations``
    alternating large-star/small-star rounds (O(log diameter) rounds
    suffice, so the default is generous). ``return_rounds=True`` also
    returns the number of rounds taken (for convergence tests; 0 means
    the measured edge count was <= ``small_graph_edges`` and the
    components were resolved by driver-side union-find instead of
    distributed rounds — set ``small_graph_edges=0`` to force the
    distributed path).

    The distributed path materializes each round's edges under
    ``checkpoint_dir`` (default: a fresh temp dir, removed at process
    exit; on a cluster pass a shared-FS path). Intermediate rounds are
    deleted as soon as the next round has consumed them; the CONVERGED
    round's files — O(live nodes) ids, the graph's smallest artifact —
    back the returned (lazy) labels DataFrame and are kept until exit."""
    spark = pairs.sparkSession
    edges = (
        pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        # materialize once (lazily — the fingerprint job triggers it): the
        # pair generation upstream (LSH banding / blocked cosine joins) is
        # the expensive part and every consumer reads it — never re-derive
        # it. persist (public API, freed below), not localCheckpoint: the
        # initial edge set is read only until round 1 lands on parquet.
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # remember every node up front: star rewiring keeps components
    # connected but the final edge list names roots only on the b side
    all_nodes = (
        edges.select(F.col("a").alias("id")).union(edges.select(F.col("b").alias("id"))).distinct()
    )

    def fingerprint(e: DataFrame) -> tuple[int, int, int]:
        # bit_xor, not sum: order-independent and overflow-free under
        # ANSI. Two independently-seeded hash lanes: convergence is
        # detected by fingerprint equality between rounds, so a
        # collision (different edge sets, same fingerprint) would stop
        # early and emit wrong labels with no error — (count, h1, h2)
        # puts that at ~2^-128 per round instead of ~2^-64.
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.bit_xor(F.xxhash64(F.col("a"), F.col("b"))), F.lit(0)).alias("h1"),
            F.coalesce(F.bit_xor(F.xxhash64(F.lit(0x9E3779B9), F.col("a"), F.col("b"))), F.lit(0)).alias("h2"),
        ).collect()[0]
        return int(row["n"]), int(row["h1"]), int(row["h2"])

    # adapt parallelism to the live edge count each round (~50k edges per
    # task, capped at the cluster's parallelism): tiny graphs run
    # single-task rounds instead of conf-sized shuffles, huge graphs fan
    # out fully — the fingerprint already hands us the count for free
    max_p = pairs.sparkSession.sparkContext.defaultParallelism

    def clamp(n: int) -> int:
        return max(1, min(max_p, n // 50_000 + 1))

    prev = None

    # Small-graph finish: below the threshold the per-round fixed costs
    # (plan analysis, codegen, materialization, driver action — ~1s/round
    # regardless of data size) dwarf the actual work, so transfer once and
    # union-find on the driver. The threshold is measured, not guessed —
    # and the MEASUREMENT IS THE TRANSFER (r7): one limit(threshold+1)
    # job both decides the path and, when it fits, already holds every
    # edge for the union-find, replacing r6's fingerprint job + two
    # per-partition toLocalIterator passes (the profiled q64 regression)
    # with a single action. A 100 TB near-dup graph overflows the limit
    # and stays on the distributed star rounds below. This mirrors
    # Spark's own posture of finishing small sides locally (broadcast
    # joins).
    if small_graph_edges > 0:
        a, b = to_numpy(edges.select("a", "b").limit(small_graph_edges + 1))
        if len(a) <= small_graph_edges:
            labels = _driver_union_find(spark, a, b)
            edges.unpersist()  # labels is driver-built — no lineage on edges
            return (labels, 0) if return_rounds else labels
        del a, b

    n0 = fingerprint(edges)[0]  # also materializes the persisted edges
    p = clamp(n0)

    # Distributed path: superstep materialization. Pin the node list to
    # parquet NOW (one extra small job) so freeing the initial edge set
    # can never orphan all_nodes' lineage; every subsequent round writes
    # its edges and reads them back — lineage stays one round deep with
    # no private-API block management, and a lost executor recomputes
    # from files instead of failing the job (localCheckpoint's caveat).
    base = checkpoint_dir or tempfile.mkdtemp(prefix="cc_rounds_")
    if checkpoint_dir:
        os.makedirs(base, exist_ok=True)
    else:
        atexit.register(shutil.rmtree, base, ignore_errors=True)
    from usajobs_etl_service_spark.operators.superstep import write_read

    _FP = [
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64(F.col("a"), F.col("b"))), F.lit(0)).alias("h1"),
        F.coalesce(
            F.bit_xor(F.xxhash64(F.lit(0x9E3779B9), F.col("a"), F.col("b"))), F.lit(0)
        ).alias("h2"),
    ]
    nodes_path = os.path.join(base, "nodes")
    all_nodes, _ = write_read(all_nodes, nodes_path)
    prev_path: str | None = None
    for rounds in range(1, max_iterations + 1):
        # symmetric neighbor list: every undirected edge seen from both ends
        nbrs = edges.select(F.col("a").alias("u"), F.col("b").alias("v")).union(
            edges.select(F.col("b").alias("u"), F.col("a").alias("v"))
        )
        out_path = os.path.join(base, f"r{rounds}")
        # the round fingerprint (count + 2 hash lanes) is observed by
        # the materializing write itself — fingerprint() as a second
        # job over the written parquet is gone (optimization round 12)
        edges_back, m = write_read(
            _small_star(_large_star(nbrs, p), p), out_path, metrics=_FP
        )
        if rounds == 1:
            edges.unpersist()  # round 1 is on parquet; the initial set is dead
        elif prev_path is not None:
            shutil.rmtree(prev_path, ignore_errors=True)  # consumed by the write above
        prev_path = out_path
        edges = edges_back
        cur = (int(m["n"]), int(m["h1"]), int(m["h2"]))
        p = clamp(cur[0])
        if cur == prev:
            labels = (
                all_nodes.join(edges.withColumnRenamed("a", "id"), "id", "left")
                .select(F.col("id").alias("doc_id"), F.coalesce(F.col("b"), F.col("id")).alias("cluster_id"))
            )
            # the final round's parquet backs `labels` (lazy) — kept
            # until process exit / caller-owned checkpoint_dir cleanup
            if return_rounds:
                return labels, rounds
            return labels
        prev = cur
    raise RuntimeError(f"connected_components did not converge in {max_iterations} iterations")


def canonical_docs(pairs: DataFrame, docs: DataFrame, *, id_col: str = "doc_id") -> DataFrame:
    """Dedup by cluster: keep each component's minimum-id doc plus every
    doc in no component — the keep-one-per-duplicate-group step."""
    comp = connected_components(pairs)
    drop = comp.filter(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
    return docs.join(drop, docs[id_col] == drop["doc_id"], "left_anti")
