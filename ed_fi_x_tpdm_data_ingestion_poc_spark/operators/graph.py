"""Connected components over near-duplicate pair sets: pairs -> clusters.

A dedup pipeline doesn't end at pairs — transitive near-dups (a~b, b~c)
must collapse into ONE cluster with one survivor. That's connected
components on the pair graph, and connected_components is the one
operator every caller uses. Two paths, chosen by a bounded size probe
(queries.size_gate):

* at most _UNION_FIND_EDGE_CAP edges (every near-dup graph the fixtures
  produce): union-find in ONE Python task, as a plan — the edges are
  grouped onto one key and solved by applyInPandas, so building the
  result runs no Spark job and any diameter costs one pass;
* above the cap: large-star/small-star contraction (Kiveris et al.,
  "Connected Components in MapReduce and Beyond", SoCC'14), O(log n)
  rounds of groupBy + join whatever the diameter, lineage truncated
  per round (localCheckpoint), the driver reading one two-scalar
  fingerprint aggregate per round — no edge is collected.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Largest edge set solved by the single-task union-find; it holds the
# edges and one parent entry per node in one Python worker.
_UNION_FIND_EDGE_CAP = 100_000
# Star contraction needs O(log n) rounds, so a graph that reaches this
# cap points at a bug, not at a big input.
_STAR_MAX_ROUNDS = 32
# core_numbers raises after this many h-steps (qz178's oracle iterates
# exactly this many); it chains _CORE_STEPS_PER_JOB of them into one job.
CORE_MAX_STEPS = 40
_CORE_STEPS_PER_JOB = 2


def connected_components(
    pairs: DataFrame,
    *,
    a_col: str = "ida",
    b_col: str = "idb",
) -> DataFrame:
    """(node, cluster) for every node in the pair graph; cluster = the
    minimum node id reachable from the node (deterministic, engine-
    independent — the DuckDB oracle recomputes it with a recursive CTE).

    pairs: undirected edges (each pair listed once, either orientation,
    duplicates and self-edges allowed; a node seen only in self-edges is
    not in the graph)."""
    from ..queries import size_gate

    edges = pairs.select(
        F.col(a_col).alias("src"), F.col(b_col).alias("dst")
    ).filter(F.col("src") != F.col("dst"))
    if size_gate(edges, _UNION_FIND_EDGE_CAP, gate="connected_components"):
        return _union_find(edges)
    return _star_contraction(edges)


def _union_find(edges: DataFrame) -> DataFrame:
    """Union-find over every edge in one task: union by min id and path
    compression, so each root IS its component's minimum id."""
    id_type = edges.schema["src"].dataType
    schema = T.StructType(
        [T.StructField("node", id_type), T.StructField("cluster", id_type)]
    )

    def solve(pdf):
        import pandas as pd

        parent = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        for a, b in zip(pdf["src"].tolist(), pdf["dst"].tolist()):
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        nodes = list(parent)
        return pd.DataFrame(
            {"node": nodes, "cluster": [find(n) for n in nodes]}
        )

    return (
        edges.withColumn("__g", F.lit(0))
        .groupBy("__g")
        .applyInPandas(solve, schema)
    )


def _edge_fingerprint(edges: DataFrame):
    """Order-insensitive fingerprint of an edge set: (count, decimal sum of
    per-edge hashes). Star rounds are monotone contractions, so an equal
    fingerprint across a round means the edge set is fixed — one cheap
    two-column aggregate per round, nothing collected but two scalars."""
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")).alias("h"),
    ).first()
    return (row["n"], row["h"])


def _star_contraction(raw: DataFrame) -> DataFrame:
    """Large-star/small-star alternation over (src, dst) edges without
    self-edges. Invariant carried between rounds: `edges` is a set of
    (src, dst) with dst < src (every edge points from the larger id to a
    smaller one). At the fixed point the edge set is a union of stars —
    every non-root node points directly at its component's minimum id."""
    # All nodes that must appear in the output (star contraction drops
    # isolated roots from the edge list).
    nodes = (
        raw.select(F.col("src").alias("node"))
        .unionAll(raw.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    # canonicalize: larger -> smaller
    edges = (
        raw.select(
            F.greatest("src", "dst").alias("src"),
            F.least("src", "dst").alias("dst"),
        )
        .distinct()
        .localCheckpoint()
    )

    prev = _edge_fingerprint(edges)
    for _ in range(_STAR_MAX_ROUNDS):
        # -- large-star: for each node u (over the SYMMETRIZED adjacency),
        # m(u) = min(N(u) ∪ {u}); connect every strictly-larger neighbor
        # v > u directly to m(u). Long chains halve here.
        sym = edges.unionAll(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        m = sym.groupBy("src").agg(
            F.min(F.least("src", "dst")).alias("m")
        )
        edges = (
            sym.join(m, "src")
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
            .localCheckpoint()
        )
        # -- small-star: every edge now points large -> small, so per node
        # u, m(u) = min over its smaller neighbors; rewire each smaller
        # neighbor v (and u itself) to m(u). Stars flatten here.
        m2 = edges.groupBy("src").agg(F.min("dst").alias("m"))
        rewired = edges.join(m2, "src").select(
            F.col("dst").alias("src"), F.col("m").alias("dst")
        )
        own = m2.select(F.col("src"), F.col("m").alias("dst"))
        edges = (
            rewired.unionAll(own)
            .filter(F.col("src") != F.col("dst"))
            .select(
                F.greatest("src", "dst").alias("src"),
                F.least("src", "dst").alias("dst"),
            )
            .distinct()
            .localCheckpoint()
        )
        cur = _edge_fingerprint(edges)
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(
            f"star contraction did not converge in {_STAR_MAX_ROUNDS} rounds"
        )
    # Fixed point: edges = (node, root) stars. Roots (and any node whose
    # whole component collapsed into it) label themselves.
    return nodes.join(
        edges.select(F.col("src").alias("node"), F.col("dst").alias("root")),
        "node",
        "left",
    ).select(
        F.col("node"), F.coalesce("root", "node").alias("cluster")
    )


def dup_clusters(
    pairs: DataFrame,
    *,
    a_col: str = "ida",
    b_col: str = "idb",
) -> DataFrame:
    """Cluster assignment + survivorship from a near-dup pair set:
    (node, cluster, keep) where keep=1 iff node == cluster (the min-id
    member is the canonical survivor, matching exact_dedup's convention)."""
    cc = connected_components(pairs, a_col=a_col, b_col=b_col)
    return cc.withColumn(
        "keep", (F.col("node") == F.col("cluster")).cast("int")
    )


def orient_edges(und: DataFrame) -> DataFrame:
    """Orient an undirected, deduplicated edge list (u, v) from the
    lower-(degree, id) endpoint to the higher: output (s, t).

    This is THE skew guard for wedge-generating algorithms
    (Suri-Vassilvitskii, WWW'11): after orientation every node's
    out-degree is O(sqrt(m)) no matter how skewed the raw degrees are,
    so wedge work is bounded by O(m^1.5) total and a celebrity node of
    degree 10^6 generates no wedges unless both neighbors have even
    higher degree. The degree table is node-sized and broadcast under
    the broadcast_if_small guard (falls back to a shuffle join if the
    node set is corpus-scale)."""
    from ..queries import broadcast_if_small

    deg = (
        und.select(F.col("u").alias("node"))
        .unionByName(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    da = broadcast_if_small(deg.persist())
    low_first = (F.col("da.d") < F.col("db.d")) | (
        (F.col("da.d") == F.col("db.d")) & (F.col("u") < F.col("v"))
    )
    return (
        und.join(da.alias("da"), F.col("u") == F.col("da.node"))
        .join(da.alias("db"), F.col("v") == F.col("db.node"))
        .select(
            F.when(low_first, F.col("u")).otherwise(F.col("v")).alias("s"),
            F.when(low_first, F.col("v")).otherwise(F.col("u")).alias("t"),
        )
    )


def oriented_edges(canon: DataFrame) -> DataFrame:
    """The edge set triangle counting consumes: CANONICAL undirected
    edges (u < v, each edge once — what er_q's copurchase_und and
    triangle_count's canonicalization give) oriented by (degree, id) via
    orient_edges. Eager: it feeds three plan branches (both wedge sides
    and the closing join), so localCheckpoint runs orientation once AND
    the three branches embed a one-line ExistingRDD scan instead of
    re-printing the full orientation lineage (a persist here nested the
    edge-artifact's InMemoryRelation under every branch — qz150's r17
    plan dump was 10k lines; guide §3.3 plan truncation). Build it once
    per input and reuse it across counts."""
    return orient_edges(canon).localCheckpoint()


def oriented_triangle_count(ori: DataFrame) -> DataFrame:
    """One row (n_edges, n_tri) from an oriented_edges() set: self-join
    oriented edges on their source to form each wedge exactly once at
    its lowest-(degree, id) apex, then close wedges against the oriented
    edge set with an (s, t)-keyed hash join. Every triangle is counted
    exactly once (its apex is unique). A pure plan: no job runs until
    it is executed."""
    e1, e2, e3 = ori.alias("e1"), ori.alias("e2"), ori.alias("e3")
    wedges = e1.join(
        e2,
        (F.col("e2.s") == F.col("e1.s")) & (F.col("e1.t") < F.col("e2.t")),
    ).select(F.col("e1.t").alias("w1"), F.col("e2.t").alias("w2"))
    tri = wedges.join(
        e3, (F.col("e3.s") == F.col("w1")) & (F.col("e3.t") == F.col("w2"))
    )
    # orientation maps each canonical edge to exactly one oriented row
    n_edges = ori.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    n_tri = tri.agg(F.count(F.lit(1)).cast("bigint").alias("n_tri"))
    return n_edges.crossJoin(n_tri)


def triangle_count(und: DataFrame) -> DataFrame:
    """Global triangle count of an undirected graph given as a (u, v)
    edge DataFrame (u != v; orientation and duplicates of the input rows
    are irrelevant): one row (n_edges, n_tri). The edges are
    canonicalized + deduplicated here, then oriented. The caller should
    persist `und` if it is expensive to recompute — the edge set feeds
    the degree pass and the orientation."""
    canon = und.select(
        F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
    ).distinct()
    return oriented_triangle_count(oriented_edges(canon))


def core_numbers(und: DataFrame) -> DataFrame:
    """(node, coreness) for every node of an undirected (u, v) edge
    DataFrame — coreness(v) = the largest k such that v belongs to the
    k-core (the maximal subgraph with minimum degree >= k), the
    degeneracy ordering behind bot/spam subgraph detection and graph
    sampling.

    Algorithm: the distributed h-index fixpoint (Lu et al. 2016, "The
    H-index of a network node and its relation to degree and
    coreness"): c_0(v) = deg(v); each step replaces c(v) with the
    H-index of its neighbors' current values (the largest h such that
    >= h neighbors have c >= h). The sequence is pointwise
    non-increasing and converges exactly to the core numbers — no
    sequential peel, no global priority queue, so it parallelizes as
    steps of join + per-node window + aggregate (H per node =
    max over its neighbor rows of min(rank_desc, value), ranks within
    a degree-bounded group). The classic O(m) peel is inherently
    sequential; this trades it for O(steps) shuffles, steps =
    empirically ~log-ish in practice (5/9/19 at sf0.001/0.01/0.1 on
    the co-purchase graph).

    Round-12 engineering (all measured at sf0.1, 19-step fixpoint):
    * adaptive shuffle sizing — the per-step exchanges are sized to the
      EDGE COUNT (~100k rows/partition, floor 2, cap 4x default
      parallelism), not the session's static shuffle.partitions: an
      iterative fixpoint pays the per-task scheduling floor `steps x
      partitions` times, so 64-wide stages over a 264k-row graph were
      pure overhead (14.9 -> 11.5 s);
    * multi-step jobs — `_CORE_STEPS_PER_JOB` h-steps are chained into ONE
      materialized plan between localCheckpoints, halving the number
      of driver round-trips; the convergence probe rides the SAME job
      as a Dataset.observe metric instead of a separate agg action
      (11.5 -> 10.6 s). Values are pointwise non-increasing under
      every h-step, so an unchanged decimal(38) total across a whole
      block certifies the fixpoint exactly as it did per-step. Two
      alternatives measured SLOWER here and were rejected: a changed-
      node frontier with coalescing merge (28 s — two extra joins +
      an action per step swamp the shrinking-input win at this job-
      floor-bound scale) and a collect_list/array-H formulation whose
      exchange-free plan loses to ObjectHashAggregate overhead (12-15
      s) and is hub-unsafe besides.

    Same engineering as connected_components' star contraction: lineage
    truncated per block (localCheckpoint) so analysis cost stays flat."""
    import math

    from pyspark.sql import Observation, Window

    e = und.select(F.col("u").alias("src"), F.col("v").alias("dst")).filter(
        F.col("src") != F.col("dst")
    )
    sym = e.unionAll(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    spark = und.sparkSession
    # persist BEFORE the sizing count: the caller's edge lineage can be an
    # expensive self-join, and an un-persisted count would recompute it
    # for the repartition below (the broadcast_if_small double-build
    # pitfall, round-11)
    sym0 = sym.persist()
    m2 = sym0.count()
    npart = max(
        2,
        min(
            spark.sparkContext.defaultParallelism * 4,
            math.ceil(m2 / 100_000),
        ),
    )
    sym = sym0.repartition(npart, "dst").persist()
    sym.count()
    sym0.unpersist()

    c = (
        sym.groupBy(F.col("dst").alias("node"))
        .agg(F.count(F.lit(1)).alias("val"))
        .localCheckpoint()
    )

    def hstep(cur: DataFrame) -> DataFrame:
        nb = (
            sym.join(cur, sym.dst == cur.node)
            .select(sym.src.alias("node"), "val")
            .repartition(npart, "node")
        )
        rn = F.row_number().over(
            Window.partitionBy("node").orderBy(F.col("val").desc())
        )
        return (
            nb.select("node", F.least(rn, F.col("val")).alias("mv"))
            .groupBy("node")
            .agg(F.max("mv").alias("val"))
        )

    prev = c.agg(F.sum(F.col("val").cast("decimal(38,0)"))).first()[0]
    steps = 0
    converged = False
    while steps < CORE_MAX_STEPS:
        obs = Observation(f"core_h_{steps}")
        x = c
        for _ in range(_CORE_STEPS_PER_JOB):
            x = hstep(x)
        c = x.observe(
            obs, F.sum(F.col("val").cast("decimal(38,0)")).alias("tot")
        ).localCheckpoint()
        steps += _CORE_STEPS_PER_JOB
        cur = obs.get["tot"]
        if cur == prev:
            converged = True
            break
        prev = cur
    if not converged:
        raise RuntimeError(f"core_numbers did not converge in {CORE_MAX_STEPS} steps")
    sym.unpersist()
    return c.select("node", F.col("val").alias("coreness"))
