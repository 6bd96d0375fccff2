"""PageRank over an edge table (Page/Brin 1998; fixed-iteration power
method), and its text-analysis application TextRank (Mihalcea & Tarau
2004): rank terms by centrality in the term co-occurrence graph —
keyword extraction without labels or models.

Second member of the iterative-algorithm family next to connected
components (operators/clustering.py). PageRank's superstep is cheaper
than CC's: each iteration is one edge-to-rank equi-join + one (dst)
sum aggregate + a left join back to the node list — all hash
partitions on node keys; nothing reaches the driver. With a FIXED
small iteration count the lineage stays bounded, so no superstep
materialization is needed; for long convergence runs at 100 TB, apply
clustering.py's parquet-superstep pattern every few rounds (same
argument: lineage truncation + executor-loss recovery).

Determinism: the damping constants are evaluated with the same IEEE
float expression shape the DuckDB oracle uses ((1 - d)/n, d * sum),
summation runs at double precision, and display rounding happens once
at the end — the q62 cross-engine float contract.
"""

from __future__ import annotations

import numpy as np
from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from usajobs_etl_service_spark.operators.superstep import from_numpy, to_numpy


def pagerank(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    n_iter: int = 3,
) -> DataFrame:
    """(node, pr) after ``n_iter`` power-method steps from the uniform
    start, dangling-free graphs only (every node must have >= 1
    out-edge — symmetrized co-occurrence graphs satisfy this by
    construction; assert upstream otherwise).

    pr_{i+1}(v) = (1 - d)/N + d * sum_{u -> v} pr_i(u) / outdeg(u)

    Scale shape per iteration: edges join the (node, pr) table on the
    src key and the degree table on the same key (open node vocabulary:
    no broadcast hints, AQE decides), one (dst) sum, one left join back
    to the node list so sink-only receivers keep their teleport mass.
    N is a broadcast scalar."""
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("t"))
    nodes = e.select(F.col("s").alias("node")).distinct()
    nn = nodes.agg(F.count(F.lit(1)).cast("double").alias("n"))
    deg = e.groupBy("s").agg(F.count(F.lit(1)).cast("double").alias("d"))
    pr = nodes.crossJoin(F.broadcast(nn)).select(
        "node", (F.lit(1.0) / F.col("n")).alias("pr")
    )
    for _ in range(n_iter):
        contrib = (
            e.join(pr.withColumnRenamed("node", "s"), "s")
            .join(deg, "s")
            .groupBy("t")
            .agg(F.sum(F.col("pr") / F.col("d")).alias("c"))
        )
        pr = (
            nodes.crossJoin(F.broadcast(nn))
            .join(contrib.withColumnRenamed("t", "node"), "node", "left")
            .select(
                "node",
                (
                    (F.lit(1.0) - F.lit(damping)) / F.col("n")
                    + F.lit(damping) * F.coalesce(F.col("c"), F.lit(0.0))
                ).alias("pr"),
            )
        )
    return pr


def textrank_terms(
    docs: DataFrame,
    *,
    text_col: str = "text",
    min_cooccur: int = 10,
    damping: float = 0.85,
    n_iter: int = 3,
    top_k: int = 20,
) -> DataFrame:
    """TextRank keyword extraction: PageRank over the symmetrized
    adjacent-token co-occurrence graph (edges = distinct adjacent
    bigrams occurring >= min_cooccur times, both directions). Bigram
    extraction reuses the expression-only zip-against-tail shape
    (retrieval.pmi_collocations); ranking rounds before ordering for
    cross-engine ties."""
    from pyspark.sql import Window

    from usajobs_etl_service_spark.functions.text import tokens_ws

    toks = docs.select(tokens_ws(F.lower(F.col(text_col))).alias("ts"))
    bigrams = (
        toks.select(
            F.explode(
                F.arrays_zip(
                    F.slice(F.col("ts"), 1, F.greatest(F.size("ts") - 1, F.lit(0))).alias("a"),
                    F.slice(F.col("ts"), 2, F.greatest(F.size("ts") - 1, F.lit(0))).alias("b"),
                )
            ).alias("bg")
        )
        .select(F.col("bg.a").alias("a"), F.col("bg.b").alias("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .filter(F.col("c_ab") >= min_cooccur)
    )
    edges = (
        bigrams.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .unionByName(bigrams.select(F.col("b").alias("src"), F.col("a").alias("dst")))
        .distinct()
    )
    pr = pagerank(edges, damping=damping, n_iter=n_iter)
    ranked = pr.select(F.col("node").alias("term"), F.round("pr", 6).alias("pr"))
    w = Window.orderBy(F.col("pr").desc(), F.col("term").asc())
    return (
        ranked.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select("rank", "term", "pr")
    )


# Default edge budget for the exact-census auto gate: above this the
# O(m^1.5) wedge expansion is ~9e10 candidate ops — the regime where
# the DOULION estimate is the only answer that RETURNS. 20M edges is
# far above every test SF (sf0.1 co-purchase graph is ~1e5 edges) so
# the pinned exact-regime oracles (q170/q171) never flip.
AUTO_EDGE_BUDGET = 20_000_000

# Variance floor for the auto-picked thinning probability: DOULION is
# unbiased at any p, but the triangle estimator's variance grows as
# ~1/p^3 — below 5% the estimate is noise for most graphs.
_AUTO_MIN_SAMPLE_P = 0.05



def _resolve_sample_p(e: DataFrame, sample_p, edge_budget: int) -> float:
    """The census auto gate (round-10 VERDICT #2 — mirror of the
    reference's clamp-at-the-source posture, reference etl.py:193):
    an explicit ``sample_p`` always wins; otherwise ONE exact count of
    the distinct edge set decides — at or under budget -> exact census
    (p=1.0); over -> thin to ~budget edges (p = budget/m, floored at
    the variance floor, rounded to 4 so a SQL oracle can replay the
    literal). Both callers persist ``e`` BEFORE calling, so this count
    doubles as the cache materialization the census itself needs (it
    references the edge set ~6 times) — the gate costs ZERO extra
    passes over the data (round-11 ADVICE: the old
    limit-through-Distinct probe was not bounded and the over-budget
    path deduped three times).

    The auto gate runs one count job at DataFrame-construction time
    (the plan shape depends on the verdict, so it cannot be deferred
    into the plan itself); pass an explicit ``sample_p`` or
    ``edge_budget=0`` when construction must stay job-free (plan-only
    tooling does exactly that)."""
    if sample_p is not None:
        if not 0.0 < float(sample_p) <= 1.0:
            raise ValueError(f"sample_p must be in (0, 1], got {sample_p}")
        return float(sample_p)
    if not edge_budget or edge_budget <= 0:
        return 1.0
    m = e.count()
    if m <= edge_budget:
        return 1.0
    return max(_AUTO_MIN_SAMPLE_P, round(edge_budget / m, 4))


def _edge_sample_filter(e: DataFrame, sample_p: float, seed: int) -> DataFrame:
    """Deterministic DOULION-style edge thinning: keep an edge iff its
    md5-hash fraction (sampling.sample_key over the 'u|v' render — the
    q67/q94 engine-reproducible recipe) is below ``sample_p``. Hash
    thinning, not rand(): the same edge gets the same verdict on every
    run, engine, and retry (rand() re-draws on task retry — the
    SPARK-38388 hazard class), and a SQL oracle replays the exact
    sample."""
    from usajobs_etl_service_spark.operators.sampling import sample_key

    key = F.concat_ws("|", F.col("u").cast("string"), F.col("v").cast("string"))
    return e.filter(sample_key(key, seed=seed) < F.lit(float(sample_p)))


def triangle_stats(
    edges: DataFrame,
    *,
    u: str = "u",
    v: str = "v",
    sample_p: float | None = None,
    sample_seed: int = 42,
    edge_budget: int = AUTO_EDGE_BUDGET,
) -> DataFrame:
    """Exact global triangle census of an undirected graph — one row:
    (n_nodes, n_edges, n_wedges, n_triangles, transitivity). Input is
    the id-ordered distinct edge set (u < v, no self-loops); wedges =
    sum over nodes of C(degree, 2), transitivity = 3*triangles/wedges
    (Newman's global clustering coefficient).

    Scale posture (the Suri-Vassilvitskii / Cohen MapReduce triangle
    recipe): edges are ORIENTED from the lower-(degree, id) endpoint
    to the higher one, so every node's out-degree is O(sqrt(m)) and
    the out-neighbor-pair expansion — the only superlinear step — is
    bounded by O(m^1.5) total regardless of hub skew; an id-only
    orientation would explode on a low-id hub (a celebrity node
    produces C(deg, 2) wedges). Each candidate closing pair is checked
    against the id-ordered edge set with one hash semi-join. Degrees
    attach via two hash joins on node keys (the degree table is
    node-sized — NOT broadcast, deliberately, for open-vocabulary
    graphs); every exchange hashes on a node or pair key. The
    triangle count is orientation-independent, so a plain id-ordered
    SQL oracle checks it exactly.

    ``sample_p < 1`` switches to the DOULION estimator (Tsourakakis,
    Kang, Miller, Faloutsos, KDD 2009): the census runs on a
    deterministically p-thinned edge set — cost drops ~p^1.5 on the
    superlinear wedge step — and the counts are unbiased-scaled back
    (edges by 1/p, wedges by 1/p^2, triangles by 1/p^3, rounded to
    long; transitivity = 3*t/w/p on the thinned integers). This is the
    only further lever once the exact census is at its structural
    minimum: at a true 100x graph the exact count is inherently heavy.
    ``n_nodes`` stays the UNSCALED count of nodes incident to a kept
    edge (node counts have no clean 1/p estimator). The thinning is
    md5-hash deterministic, so a SQL oracle replays the estimate
    exactly.

    ``sample_p=None`` (default) engages the AUTO GATE: one bounded
    probe flips the census to the DOULION path when the distinct edge
    set exceeds ``edge_budget`` (p sized so the thinned set is
    ~budget edges), exact below it — so a caller at a true 100x graph
    gets an answer instead of an O(m^1.5) stall, and the test-SF
    exact regime is bit-unchanged. Pass ``sample_p=1.0`` to force
    exact at any size, an explicit fraction to force the estimator,
    or ``edge_budget=0`` to disable the gate.
    """
    # the distinct edge set is referenced many times below (degree
    # aggregate, two degree-attach joins, the closing semi-join, the
    # edge count) — persist it so ONE dedup pass serves them all; the
    # persist is a lazy marking (no job) and the auto-gate count, when
    # it runs, doubles as the cache materialization. Left cached
    # (LRU-evictable, MEMORY_AND_DISK): the result is a lazy 1-row
    # frame, so there is no post-action point to unpersist at — and
    # sibling censuses over the same edge derivation share the entry.
    e = (
        edges.select(F.col(u).alias("u"), F.col(v).alias("v"))
        .filter(F.col("u") < F.col("v"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    sample_p = _resolve_sample_p(e, sample_p, edge_budget)
    if sample_p != 1.0:
        # the thinned set is referenced as often as e itself, and the
        # md5 thinning predicate is the expensive part of each scan —
        # persist so it evaluates once
        e = _edge_sample_filter(e, sample_p, sample_seed).persist(
            StorageLevel.MEMORY_AND_DISK
        )
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    ed = (
        e.join(deg.select(F.col("node").alias("u"), F.col("d").alias("du")), "u")
        .join(deg.select(F.col("node").alias("v"), F.col("d").alias("dv")), "v")
    )
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oe = ed.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("s"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("t"),
    )
    # Forward counting (Latapy 2008 / Schank-Wagner edge-iterator):
    # instead of EXPANDING every out-neighbor pair into a candidate
    # row and semi-joining O(m^1.5) wedges back against the edge set
    # (measured 41M candidate rows vs 1.2M edges on the sf0.1
    # co-purchase graph — the shuffle was ~70% of the census), build
    # the out-adjacency list once and count each oriented edge's
    # closing triangles as |N+(s) ∩ N+(t)| with one columnar
    # array_intersect. Same orientation, so the per-node array is
    # O(sqrt(m)) elements (hub-safe) and each triangle is counted
    # exactly once, at the edge between its two lower-ordered
    # corners. Shuffle volume is O(m) rows (adjacency groupBy + two
    # node-keyed joins that AQE broadcasts when the node table is
    # small), never the wedge expansion.
    adj = oe.groupBy("s").agg(F.collect_list("t").alias("__ns"))
    a_s = adj.select("s", F.col("__ns").alias("__ns_s"))
    a_t = adj.select(F.col("s").alias("t"), F.col("__ns").alias("__ns_t"))
    tri = (
        oe.join(a_s, "s")
        .join(a_t, "t", "left")
        .select(
            F.when(F.col("__ns_t").isNull(), F.lit(0))
            .otherwise(F.size(F.array_intersect("__ns_s", "__ns_t")))
            .alias("__c")
        )
        .agg(F.coalesce(F.sum("__c"), F.lit(0)).cast("long").alias("n_triangles"))
    )
    counts = e.agg(F.count(F.lit(1)).alias("n_edges"))
    nodes = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("long").alias("n_wedges"),
    )
    joined = nodes.crossJoin(F.broadcast(counts)).crossJoin(F.broadcast(tri))
    if sample_p == 1.0:
        return joined.select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.round(
                F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges"), 6
            ).alias("transitivity"),
        )
    p = F.lit(float(sample_p))
    return joined.select(
        "n_nodes",
        F.round(F.col("n_edges") / p, 0).cast("long").alias("n_edges"),
        F.round(F.col("n_wedges") / (p * p), 0).cast("long").alias("n_wedges"),
        F.round(F.col("n_triangles") / (p * p * p), 0).cast("long").alias("n_triangles"),
        # = 3*(t/p^3)/(w/p^2), computed on the thinned integers in one
        # fixed op order so any engine reproduces the double exactly
        F.round(
            F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges") / p, 6
        ).alias("transitivity"),
    )


def degree_assortativity(
    edges: DataFrame,
    *,
    u: str = "u",
    v: str = "v",
    sample_p: float | None = None,
    sample_seed: int = 42,
    edge_budget: int = AUTO_EDGE_BUDGET,
) -> DataFrame:
    """Newman (2002) degree assortativity of an undirected graph —
    one row (n_edges, assortativity): the Pearson correlation of
    endpoint degrees over the symmetrized edge list.

    Cross-engine exactness by construction: the five correlation
    moments (n, sum dx, sum dx*dy, sum dx^2 and the symmetric
    y-terms) are INTEGER sums of integer degrees — exact as longs in
    any summation order — and the Pearson formula is then ONE float
    expression over identical integers, so any two engines produce
    the identical double. Engine corr() is deliberately avoided: its
    streaming-moment float accumulation is summation-order-dependent.
    Long arithmetic holds to ~1e9 directed edges with ~1e5 max
    degree; past that, lift the moments to decimal(38,0).
    Shuffles: edge distinct, one degree aggregate, two degree-attach
    hash joins (degree table node-sized, not broadcast), one scalar
    aggregate.

    ``sample_p < 1``: the correlation is computed on a DOULION-style
    deterministically p-thinned edge set (same md5 recipe as
    ``triangle_stats``) — Pearson correlation is scale-invariant, and
    uniform edge thinning scales every node's degree by ~p, so the
    sampled coefficient estimates the full one without any rescaling;
    ``n_edges`` reports the 1/p-scaled estimate (rounded) so the row
    stays comparable with the exact run.

    ``sample_p=None`` (default) engages the same bounded-probe auto
    gate as :func:`triangle_stats` (exact at or under ``edge_budget``
    distinct edges, DOULION-thinned above); explicit ``sample_p``
    always wins, ``edge_budget=0`` disables the gate."""
    # the distinct edge set is referenced many times below (degree
    # aggregate, two degree-attach joins, the closing semi-join, the
    # edge count) — persist it so ONE dedup pass serves them all; the
    # persist is a lazy marking (no job) and the auto-gate count, when
    # it runs, doubles as the cache materialization. Left cached
    # (LRU-evictable, MEMORY_AND_DISK): the result is a lazy 1-row
    # frame, so there is no post-action point to unpersist at — and
    # sibling censuses over the same edge derivation share the entry.
    e = (
        edges.select(F.col(u).alias("u"), F.col(v).alias("v"))
        .filter(F.col("u") < F.col("v"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    sample_p = _resolve_sample_p(e, sample_p, edge_budget)
    if sample_p != 1.0:
        # the thinned set is referenced as often as e itself, and the
        # md5 thinning predicate is the expensive part of each scan —
        # persist so it evaluates once
        e = _edge_sample_filter(e, sample_p, sample_seed).persist(
            StorageLevel.MEMORY_AND_DISK
        )
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    j = (
        sym.join(deg.select(F.col("node").alias("u"), F.col("d").alias("dx")), "u")
        .join(deg.select(F.col("node").alias("v"), F.col("d").alias("dy")), "v")
    )
    s = j.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("dx").alias("sx"),
        F.sum("dy").alias("sy"),
        F.sum(F.col("dx") * F.col("dy")).alias("sxy"),
        F.sum(F.col("dx") * F.col("dx")).alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    varx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    vary = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    n_edges_out = (F.col("n") / 2).cast("long")
    if sample_p != 1.0:
        n_edges_out = F.round(
            F.col("n") / F.lit(2.0) / F.lit(float(sample_p)), 0
        ).cast("long")
    return s.select(
        n_edges_out.alias("n_edges"),
        F.round(num / F.sqrt(varx * vary), 6).alias("assortativity"),
    )


def common_neighbor_links(
    edges: DataFrame,
    *,
    u: str = "u",
    v: str = "v",
    top_k: int = 50,
) -> DataFrame:
    """Link prediction by common-neighbor count (the integer-exact
    member of the Liben-Nowell/Kleinberg score family — Adamic-Adar's
    1/log weights would float-sum in engine-dependent order): the
    top-``top_k`` NON-adjacent pairs ranked by shared neighbors,
    (count DESC, u, v)-ordered so the cut is a total order.

    Wedges expand center-by-center from the symmetrized adjacency
    (sum over nodes of C(degree, 2) rows); bound the input graph
    (subgraph, hub cap, or q170's degree orientation) before calling
    on an open-vocabulary graph. One (pair) aggregate; existing links
    removed with a left_anti hash join."""
    e = edges.select(F.col(u).alias("u"), F.col(v).alias("v")).filter(F.col("u") < F.col("v")).distinct()
    sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    n1 = sym.select(F.col("u").alias("z"), F.col("v").alias("a"))
    n2 = sym.select(F.col("u").alias("z"), F.col("v").alias("b"))
    wedges = (
        n1.join(n2, "z")
        .filter(F.col("a") < F.col("b"))
        .groupBy(F.col("a").alias("u"), F.col("b").alias("v"))
        .agg(F.count(F.lit(1)).alias("common_neighbors"))
    )
    return (
        wedges.join(e, ["u", "v"], "left_anti")
        .orderBy(F.col("common_neighbors").desc(), "u", "v")
        .limit(top_k)
    )


def kcore_membership(
    edges: DataFrame,
    *,
    k: int = 3,
    rounds: int = 6,
    u: str = "u",
    v: str = "v",
    small_graph_edges: int = 500_000,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Bounded-round k-core peel (Seidman 1983 cores; the distributed
    peel is the Montresor/De Pellegrini/Miorandi one-hop iteration):
    repeatedly delete every node whose degree in the SURVIVING
    subgraph is < ``k``, ``rounds`` times, and return the survivors as
    (node, core_degree) with their within-subgraph degree. With enough
    rounds to converge this is exactly the k-core; the FIXED round
    count is the contract (the same bounded-iteration semantics as
    :func:`pagerank` and q105's TextRank), so a round-for-round
    unrolled SQL oracle checks it exactly even short of convergence.
    A round that deletes nothing is a fixpoint — every later round is
    an identity — so the loop early-exits on a stable edge count
    (any deleted node had degree >= 1, so node loss always shows in
    the edge count) and the early-exited result equals the full
    ``rounds``-round result.

    Third member of the iterative-graph family (connected components,
    PageRank). Each round is: one symmetrized degree aggregate (hash
    on node), two semi-joins of the edge list against the surviving
    node set (hash on each endpoint) — nothing proportional to
    anything but the live edge count, which only shrinks. Each round
    MATERIALIZES survivors via the parquet-superstep pattern
    (clustering.py's argument: a round references its predecessor
    three times, so lazy lineage would triple per round — 3^rounds
    plan copies — and parquet supersteps are executor-loss-safe where
    localCheckpoint is not); the per-round count() that drives
    early-exit rides on the same materialized files.

    Small-graph finish (clustering.py's measured posture, same
    threshold): below ``small_graph_edges`` the per-round fixed costs
    (plan analysis, parquet round-trip, driver action) dwarf the work.
    The gate persists the distinct edge set and routes on ONE exact
    count — a pass the distributed path needs anyway to seed round 0,
    and the small path's Arrow transfer then reads straight from cache, so
    the gate costs ZERO extra passes at any size (round-11 ADVICE
    class: the old ``limit(threshold+1).collect()`` probe ran the full
    dedup shuffle AND shipped threshold+1 rows to the driver just to
    discard them on big graphs). The cache is released before return
    on both paths. The finish moves the edges in one Arrow transfer
    and peels with numpy (``superstep.to_numpy``/``from_numpy``).
    ``small_graph_edges=0`` forces the distributed path (tests do).
    """
    import atexit
    import os
    import shutil
    import tempfile

    if k < 1 or rounds < 1:
        raise ValueError("k and rounds must be >= 1")
    spark = edges.sparkSession

    e = (
        edges.select(F.col(u).alias("u"), F.col(v).alias("v"))
        .filter(F.col("u") < F.col("v"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    if small_graph_edges > 0:
        if e.count() <= small_graph_edges:
            a, b = to_numpy(e)
            e.unpersist()
            for _ in range(rounds):
                nodes, deg = np.unique(np.concatenate([a, b]), return_counts=True)
                drop = nodes[deg < k]
                if drop.size == 0:
                    break
                live = ~(np.isin(a, drop) | np.isin(b, drop))
                a, b = a[live], b[live]
            nodes, deg = np.unique(np.concatenate([a, b]), return_counts=True)
            from pyspark.sql.types import LongType, StructField, StructType

            schema = StructType(
                [
                    StructField("node", e.schema["u"].dataType, True),
                    StructField("core_degree", LongType(), False),
                ]
            )
            return from_numpy(spark, schema, [nodes, deg])

    base = checkpoint_dir or tempfile.mkdtemp(prefix="kcore_rounds_")
    if checkpoint_dir:
        os.makedirs(base, exist_ok=True)
    else:
        atexit.register(shutil.rmtree, base, ignore_errors=True)

    from usajobs_etl_service_spark.operators.superstep import write_read

    _N = [F.count(F.lit(1)).alias("n")]
    path0 = os.path.join(base, "r0")
    e_back, sig = write_read(e, path0, metrics=_N)
    e.unpersist()
    e = e_back
    n_edges = sig["n"]
    prev_path = path0

    for r in range(1, rounds + 1):
        deg = (
            e.select(F.col("u").alias("node"))
            .unionAll(e.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        keep = deg.filter(F.col("d") >= k).select("node")
        survived = (
            e.join(keep.withColumnRenamed("node", "u"), "u", "left_semi")
            .join(keep.withColumnRenamed("node", "v"), "v", "left_semi")
            .select("u", "v")
        )
        out_path = os.path.join(base, f"r{r}")
        e, msig = write_read(survived, out_path, metrics=_N)
        n_new = msig["n"]
        shutil.rmtree(prev_path, ignore_errors=True)
        prev_path = out_path
        if n_new == n_edges:  # fixpoint: every remaining round is an identity
            break
        n_edges = n_new

    # the final round's parquet backs the result (lazy) — kept until
    # process exit / caller-owned checkpoint_dir cleanup
    return (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("core_degree"))
    )


def hits_scores(
    edges: DataFrame,
    *,
    n_iter: int = 3,
    top_k: int = 20,
    src: str = "s",
    dst: str = "t",
) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg 1999) on a directed edge
    list, fixed ``n_iter`` mutual-reinforcement rounds: a_i(t) =
    sum_{(s,t)} h_{i-1}(s), h_i(s) = sum_{(s,t)} a_i(t). Returns the
    top-``top_k`` rows per side in long form (kind, node, score,
    score_norm, rank).

    Determinism trick (the q171 integer-moments move): h_0 = 1 and NO
    per-iteration normalization, so every iterate is an INTEGER sum of
    integers — exact in any summation order, hence hash-identical
    cross-engine, where the textbook's per-round L2/max normalization
    would compound float-sum order noise through every iteration.
    Unnormalized iterates are proportional to normalized ones, so
    ranks are identical; ``score_norm`` divides by the side's max ONCE
    at display (one exactly-rounded division of exact integers).
    Magnitudes grow like (d_src*d_dst)^n_iter — bounded by ~1e10 for
    this graph family at n_iter=3, far from long overflow; for deep
    iteration switch to per-round max-norm and accept the q105 float
    contract.

    Per iteration: one hash equi-join edge->score + one (node) sum
    aggregate per side — node-keyed exchanges only, the
    :func:`pagerank` superstep shape. Fixed small n_iter keeps the
    lazy lineage bounded (each iterate is referenced once by the next
    level); the edge list is persisted — it is read by every round.

    EAGER execution note: this function materializes its (<= 2*top_k
    row) result at CALL time so the three persisted frames can be
    released before returning (no session-lifetime cache pin); the
    returned DataFrame is a local re-wrap, not a lazy plan. top_k is
    therefore bounded — an unvalidated large top_k would be an
    unbounded driver collect."""
    from pyspark.storagelevel import StorageLevel

    if n_iter < 1:
        raise ValueError("n_iter must be >= 1")
    if not 1 <= top_k <= 100_000:
        raise ValueError(f"top_k must be in [1, 100000], got {top_k}")
    e = (
        edges.select(F.col(src).alias("s"), F.col(dst).alias("t"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    h = e.select("s").distinct().select("s", F.lit(1).cast("long").alias("h"))
    for _ in range(n_iter):
        a = (
            e.join(h, "s")
            .groupBy("t")
            .agg(F.sum("h").alias("a"))
        )
        h = (
            e.join(a, "t")
            .groupBy("s")
            .agg(F.sum("a").alias("h"))
        )
    # the output references each final iterate twice (max + top-k) and
    # h's lineage CONTAINS a's — unpersisted, the whole n_iter join
    # chain executed 4x (measured 6.3 s for q178 at sf0.1; ~1.7 s with
    # the iterates persisted). Same discipline as the edge persist.
    a = a.persist(StorageLevel.MEMORY_AND_DISK)
    h = h.persist(StorageLevel.MEMORY_AND_DISK)
    from pyspark.sql import Window

    def side(df: DataFrame, node_col: str, score_col: str, kind: str) -> DataFrame:
        mx = df.agg(F.max(score_col).alias("mx"))
        w = Window.orderBy(F.col(score_col).desc(), F.col(node_col).asc())
        return (
            df.orderBy(F.col(score_col).desc(), F.col(node_col).asc())
            .limit(top_k)
            .withColumn("rank", F.row_number().over(w))
            .crossJoin(F.broadcast(mx))
            .select(
                F.lit(kind).alias("kind"),
                F.col(node_col).alias("node"),
                F.col(score_col).alias("score"),
                F.round(F.col(score_col) / F.col("mx"), 6).alias("score_norm"),
                "rank",
            )
        )

    lazy = side(h, "s", "h", "hub").unionByName(side(a, "t", "a", "authority"))
    # bounded finish (<= 2*top_k rows — the mmr_rerank sanctioned-
    # collect posture): materialize the report, then RELEASE the three
    # persisted frames. Returning the lazy union instead would pin
    # e/a/h in the cache for the session lifetime with no handle for
    # the caller to unpersist (round-8 review finding).
    rows = lazy.collect()
    schema = lazy.schema
    for frame in (a, h, e):
        frame.unpersist()
    return e.sparkSession.createDataFrame(rows, schema)


def khop_distances(
    edges: DataFrame,
    seeds: DataFrame,
    *,
    max_hops: int = 3,
    u: str = "u",
    v: str = "v",
    small_graph_edges: int = 500_000,
) -> DataFrame:
    """Bounded multi-source BFS over an undirected edge table: every
    node reachable from a seed within ``max_hops`` hops, with its
    minimum hop distance — ``(node, dist)``. The k-hop neighborhood /
    "blast radius" primitive (impact analysis, recall expansion,
    contamination spread over a similarity graph), and exactly the
    bounded Bellman-Ford iterate, so a ``max_hops``-round unrolled SQL
    oracle checks it round-for-round (the q105/q174 bounded-iteration
    contract).

    Fourth member of the iterative-graph family (connected components,
    PageRank, k-core). Frontier supersteps: round r joins the CURRENT
    FRONTIER (nodes first reached at r-1 — never the whole visited
    set) against the symmetrized edges, anti-joins the visited set,
    and the survivors become round r's frontier at dist r. An empty
    frontier is a fixpoint: every later round is an identity, so the
    loop early-exits with the full-``max_hops`` result. Per round:
    one frontier⋈edges hash join + one anti-join + a distinct — all
    keyed on node ids; cost tracks the frontier's edge boundary, not
    the graph. Each round's NEW frontier materializes via parquet
    (clustering.py:134's lineage/executor-loss argument) — only the
    frontier, never the whole visited set, which stays a flat union
    of the per-round parquet scans; the static symmetrized edge set
    is persisted across rounds and released before return (the
    returned frame is parquet-backed, so the unpersist is safe).

    Small-graph finish (the kcore_membership posture, same
    threshold): the gate persists the distinct edge set and routes on
    ONE exact count — a pass the distributed path needs anyway for
    the symmetrized edge cache, and the small path's Arrow transfer then
    reads straight from cache, so the gate costs ZERO extra passes at
    any size. The cache is released before return on both paths.
    The finish moves the edges in one Arrow transfer and runs the BFS
    as numpy frontier steps (``superstep.to_numpy``/``from_numpy``);
    its ``node`` type is the distributed path's.
    ``small_graph_edges=0`` forces the distributed path (tests do).
    ``seeds``' first column is the seed node set; seeds absent from
    the graph still report dist 0 (a seed is trivially reachable), and
    null seeds are dropped (a null names no node).
    """
    import atexit
    import os
    import shutil
    import tempfile

    if max_hops < 0:
        raise ValueError(f"max_hops must be >= 0, got {max_hops}")
    spark = edges.sparkSession
    seed_col = seeds.columns[0]
    s = seeds.select(F.col(seed_col).alias("node")).dropna().distinct()

    e = (
        edges.select(F.col(u).alias("u"), F.col(v).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    if small_graph_edges > 0:
        # size gate BEFORE any driver transfer: the count materializes
        # the cache every later step reads (the old probe ran limit
        # through the Distinct — the full dedup shuffle, ~2.3 s wasted
        # on the sf0.1 co-purchase graph — and the small path then
        # deduped AGAIN for the collect)
        if e.count() <= small_graph_edges:
            eu, ev = to_numpy(e)
            e.unpersist()
            src, dst = np.concatenate([eu, ev]), np.concatenate([ev, eu])
            (seen,) = to_numpy(s)
            nodes, dists = [seen], [np.zeros(len(seen), np.int32)]
            frontier = seen
            for d in range(1, max_hops + 1):
                reached = np.unique(dst[np.isin(src, frontier)])
                reached = np.setdiff1d(reached, seen, assume_unique=True)
                if reached.size == 0:
                    break
                nodes.append(reached)
                dists.append(np.full(len(reached), d, np.int32))
                seen = np.union1d(seen, reached)
                frontier = reached
            # the distributed path's node type: the seed and edge
            # types as its union widens them
            node_type = s.unionByName(e.select(F.col("u").alias("node"))).schema["node"].dataType
            from pyspark.sql.types import IntegerType, StructField, StructType

            schema = StructType(
                [StructField("node", node_type, True), StructField("dist", IntegerType(), True)]
            )
            return from_numpy(spark, schema, [np.concatenate(nodes), np.concatenate(dists)])

    base = tempfile.mkdtemp(prefix="khop_rounds_")
    atexit.register(shutil.rmtree, base, ignore_errors=True)

    # the static edge set is read every round straight from the
    # persisted distinct cache (two cache scans + a union — no
    # parquet round-trip, no re-derivation)
    sym = e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))

    from usajobs_etl_service_spark.operators.superstep import write_read

    visited, _ = write_read(
        s.select("node", F.lit(0).alias("dist")), os.path.join(base, "v0")
    )
    frontier = visited.select("node")

    for d in range(1, max_hops + 1):
        reached = (
            frontier.join(sym, frontier["node"] == sym["u"])
            .select(F.col("v").alias("node"))
            .distinct()
            .join(visited, "node", "left_anti")
            .select("node", F.lit(d).alias("dist"))
        )
        # materialize ONLY the new frontier (small) — visited stays a
        # flat union of the per-round parquet scans, so its lineage
        # never grows past one union per hop and never references sym;
        # the frontier size is observed by the write job itself
        out_path = os.path.join(base, f"v{d}")
        reached, sig = write_read(
            reached, out_path, metrics=[F.count(F.lit(1)).alias("n")]
        )
        if sig["n"] == 0:  # empty frontier: fixpoint
            break
        visited = visited.unionByName(reached)
        frontier = reached.select("node")

    e.unpersist()
    return visited


def label_propagation(
    edges: DataFrame,
    *,
    rounds: int = 3,
    u: str = "u",
    v: str = "v",
) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007) with a
    DETERMINISTIC vote: every node starts labeled with its own id;
    each round it adopts the most frequent label among its neighbors,
    ties broken by the smallest label; isolated nodes (and nodes whose
    neighbors vanished) keep their label. The FIXED round count is the
    contract (the q105/q174/q199 bounded-iteration pattern) so a
    round-unrolled SQL oracle checks it exactly — classic LPA breaks
    ties randomly and is unreproducible; the lexicographic tiebreak is
    what makes community detection hash-checkable.

    Fifth iterative-graph member (CC, PageRank, k-core, k-hop BFS).
    Per round: one labels⋈edges hash join + one (node, label) count
    aggregate + one deterministic argmax window + one left join back —
    all keyed on node ids. Rounds materialize via the parquet-superstep
    pattern (clustering.py:134's lineage/executor-loss argument).
    Returns ``(node, label)``.
    """
    import atexit
    import os
    import shutil
    import tempfile

    from pyspark.sql import Window

    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    spark = edges.sparkSession
    base = tempfile.mkdtemp(prefix="lpa_rounds_")
    atexit.register(shutil.rmtree, base, ignore_errors=True)

    e = (
        edges.select(F.col(u).alias("u"), F.col(v).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    from usajobs_etl_service_spark.operators.superstep import write_read

    # static edge set: one parquet materialization read by every round
    # (an unmaterialized persist would compute the distinct TWICE in
    # round 1 — both union branches scan the cold cache in one job;
    # khop avoids that only because its size gate counts e first)
    sym = e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    sym, _ = write_read(sym, os.path.join(base, "edges"))

    labels = (
        sym.select(F.col("u").alias("node")).distinct().select("node", F.col("node").alias("label"))
    )
    labels, _ = write_read(labels, os.path.join(base, "l0"))

    w = Window.partitionBy("node").orderBy(F.desc("c"), F.asc("label"))
    for r in range(1, rounds + 1):
        votes = (
            sym.join(labels.withColumnRenamed("node", "v"), "v")
            .select(F.col("u").alias("node"), "label")
            .groupBy("node", "label")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        winner = (
            votes.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select("node", F.col("label").alias("__new"))
        )
        nxt = (
            labels.join(winner, "node", "left")
            .select("node", F.coalesce("__new", "label").alias("label"))
        )
        out_path = os.path.join(base, f"l{r}")
        labels, _ = write_read(nxt, out_path)
    return labels


def sssp_bounded(
    edges: DataFrame,
    seeds: DataFrame,
    *,
    rounds: int = 3,
    u: str = "u",
    v: str = "v",
    w: str = "w",
) -> DataFrame:
    """Bounded-round multi-source shortest paths over an undirected
    WEIGHTED edge table — ``rounds`` synchronous Bellman-Ford
    relaxations, so the result is EXACTLY "the cheapest path using at
    most ``rounds`` edges" (well-defined for any weight sign; with
    non-negative weights it converges to true shortest paths once
    ``rounds`` reaches the hop diameter).  The weighted generalization
    of :func:`khop_distances` (unit weights reduce to hop counts) and
    the sixth iterative-graph member; like the others it is
    round-unrollable, so a ``rounds``-deep SQL oracle checks it
    relaxation-for-relaxation.

    Per round: one frontier-free dist⋈edges hash join (every settled
    node relaxes — Bellman-Ford's guarantee needs no frontier
    bookkeeping) + one min-combine keyed on node.  Supersteps
    materialize via parquet (clustering.py:134's lineage argument);
    min-only-decreases means (count, sum(dist)) is a complete
    change detector, so an unchanged round early-exits provably equal
    to the full unroll.  Integer weights keep every distance exact in
    any engine.  Seeds (first column of ``seeds``) start at distance
    0; unreachable-within-``rounds`` nodes are absent.
    """
    import atexit
    import os
    import shutil
    import tempfile

    if rounds < 0:
        raise ValueError(f"rounds must be >= 0, got {rounds}")
    spark = edges.sparkSession
    seed_col = seeds.columns[0]

    e = (
        edges.select(
            F.col(u).alias("u"), F.col(v).alias("v"), F.col(w).alias("w")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    base = tempfile.mkdtemp(prefix="sssp_rounds_")
    atexit.register(shutil.rmtree, base, ignore_errors=True)

    # static edge set: one parquet materialization read by every round
    # (an unmaterialized persist computes the distinct twice in round 1
    # — both union branches scan the cold cache in one job; measured
    # slower than the single write)
    sym = e.unionAll(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"), F.col("w"))
    )
    from usajobs_etl_service_spark.operators.superstep import write_read

    _SIG = [
        F.count(F.lit(1)).alias("c"),
        F.coalesce(F.sum("dist"), F.lit(0)).alias("s"),
    ]
    sym, _ = write_read(sym, os.path.join(base, "edges"))

    dist = (
        seeds.select(F.col(seed_col).alias("node"))
        .distinct()
        .select("node", F.lit(0).cast("long").alias("dist"))
    )
    dist, sig = write_read(dist, os.path.join(base, "d0"), metrics=_SIG)

    for r in range(1, rounds + 1):
        relaxed = (
            dist.join(sym, dist["node"] == sym["u"])
            .select(F.col("v").alias("node"), (dist["dist"] + sym["w"]).alias("dist"))
        )
        nxt = (
            dist.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
        )
        out_path = os.path.join(base, f"d{r}")
        dist, new_sig = write_read(nxt, out_path, metrics=_SIG)
        # min only ever decreases and nodes only get added, so an
        # unchanged (count, sum) means a fixpoint: every later round
        # is an identity
        if (new_sig["c"], new_sig["s"]) == (sig["c"], sig["s"]):
            break
        sig = new_sig

    return dist
