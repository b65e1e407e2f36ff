"""Round-10 entity-resolution / graph-structure surface: blocked fuzzy
record linkage and co-purchase triangle counting — each a (Spark plan,
DuckDB twin) pair whose VALUES hash-check cross-engine.

No reference analog (the Java connector matches records only by exact
primary key and walks no graphs); brief-mandated large-scale pipeline
operators, built on the artifact conventions of the earlier rounds."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..tables import table
from . import built, memo, query

# ---------------------------------------------------------------------------
# q149 — record linkage: corrupt, block, score, resolve, audit
# ---------------------------------------------------------------------------

# Deterministic corruption of 'Customer#DDDDDDDDD' (the Febrl-style
# synthetic-ER construction: corrupt a copy, then measure how well
# linkage recovers the known true mapping): every 3rd customer's name
# gets digits 3-4 transposed (chars 12/13), and every 6th additionally
# drops char 15. The LAST 3 characters are untouched by both edits, so
# right(name, 3) is a valid block key on both sides.
_T1 = (
    "concat(substring(c_name, 1, 11), substring(c_name, 13, 1), "
    "substring(c_name, 12, 1), substring(c_name, 14))"
)
_DEL = "concat(substring(t1, 1, 14), substring(t1, 16))"
_LINK_DIST = 3
# (dist, cid) lexicographic order == this numeric encoding while
# cid < 1e12 — gives DuckDB the same total order min_by resolves with
_ENC = 1_000_000_000_000


@query(
    "qz149_record_linkage",
    oracle=f"""
    WITH dirty0 AS (
      SELECT c_custkey AS did, c_mktsegment AS segment, {_T1} AS t1
      FROM customer WHERE c_custkey % 3 = 0),
    dirty AS (
      SELECT did, segment,
             CASE WHEN did % 2 = 0 THEN {_DEL} ELSE t1 END AS dnm
      FROM dirty0),
    clean AS (SELECT c_custkey AS cid, c_name AS cnm,
                     right(c_name, 3) AS blk FROM customer),
    cand AS (SELECT d.did, c.cid, levenshtein(d.dnm, c.cnm) AS dist
             FROM dirty d JOIN clean c ON right(d.dnm, 3) = c.blk),
    best AS (SELECT did, MIN(dist * {_ENC} + cid) AS sc
             FROM cand WHERE dist <= {_LINK_DIST} GROUP BY did),
    m AS (SELECT did, sc % {_ENC} AS cid, sc // {_ENC} AS dist FROM best)
    SELECT d.segment,
           CAST(COUNT(*) AS BIGINT) AS n_dirty,
           CAST(SUM(CASE WHEN m.cid IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_matched,
           CAST(SUM(CASE WHEN m.cid = d.did THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           CAST(COALESCE(SUM(m.dist), 0) AS BIGINT) AS sum_dist
    FROM dirty d LEFT JOIN m ON m.did = d.did
    GROUP BY 1
    """,
    tags=("curation", "linkage", "fuzzy"),
)
def q149(spark: SparkSession, sf: str) -> DataFrame:
    """Record linkage with a known ground truth: corrupt every 3rd
    customer name deterministically (digit transposition, plus a char
    deletion for every 6th), then link the dirty copies back to the
    clean table with operators/linkage.py — block on the untouched
    last-3-chars key, score candidates with JVM levenshtein, resolve
    each dirty record to its (distance, id)-minimal match — and audit
    recovery per market segment (n_matched / n_correct / total edit
    distance).

    Scale shape: candidate generation is an equi-join on the block key
    (never |A|x|B|), oversized blocks are purged via a broadcast
    block-size table (block-key-cardinality-sized), and resolution is
    one min_by aggregate — every stage shuffles once on a key, no
    Python anywhere. The same plan links a billion-row dirty feed
    against a reference entity table; block-key choice, not cluster
    size, is the knob that bounds the quadratic term."""
    from ..operators.linkage import link_best_match

    cust = table(spark, sf, "customer")
    dirty = (
        cust.where(F.col("c_custkey") % 3 == 0)
        .selectExpr(
            "c_custkey AS did", "c_mktsegment AS segment", f"{_T1} AS t1"
        )
        .selectExpr(
            "did",
            "segment",
            f"CASE WHEN did % 2 = 0 THEN {_DEL} ELSE t1 END AS dnm",
        )
        .selectExpr("did", "segment", "dnm", "right(dnm, 3) AS block")
    )
    clean = cust.selectExpr(
        "c_custkey AS cid", "c_name AS cnm", "right(c_name, 3) AS block"
    )
    m = link_best_match(
        dirty, clean, "did", "cid", "dnm", "cnm",
        block_col="block", max_dist=_LINK_DIST,
    )
    return (
        dirty.join(m.select("did", "cid", "dist"), "did", "left")
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n_dirty"),
            F.sum(F.col("cid").isNotNull().cast("long")).alias("n_matched"),
            F.sum((F.col("cid") == F.col("did")).cast("long")).alias(
                "n_correct"
            ),
            F.coalesce(F.sum("dist"), F.lit(0)).cast("bigint").alias(
                "sum_dist"
            ),
        )
    )


# ---------------------------------------------------------------------------
# q150 — co-purchase k-NN graph + degree-oriented triangle count
# ---------------------------------------------------------------------------

_KNN = 10


def _copurchase_und(spark: SparkSession, sf: str) -> DataFrame:
    """Undirected, deduplicated edge list of the co-purchase k-NN graph,
    materialized once per (session, sf) like every heavy artifact (the
    edge set feeds the degree pass, both wedge sides, and the closing
    join — without the persist each branch would recompute the pair
    self-join). localCheckpoint rather than persist (round 18, guide
    §3.3 "materialising an intermediate truncates the plan"): every
    consumer branch of a persist()ed artifact re-prints the artifact's
    FULL build lineage inside its InMemoryRelation, and qz150's three
    self-joined branches nested that recursively — its r17 physical
    plan was 10,096 lines, a driver/planner hazard at scale.
    Truncating the lineage here makes each consumer scan a one-line
    ExistingRDD; same blocks, same rows."""
    from . import built
    from .llm import _artifact

    def build() -> DataFrame:
        li = table(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
        a = li.alias("a")
        b = li.alias("b")
        pair = (
            a.join(
                b,
                (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
                & (F.col("a.l_partkey") < F.col("b.l_partkey")),
            )
            .groupBy(
                F.col("a.l_partkey").alias("u"),
                F.col("b.l_partkey").alias("v"),
            )
            .agg(F.count(F.lit(1)).alias("supp"))
        )
        sym = pair.unionByName(
            pair.select(
                F.col("v").alias("u"), F.col("u").alias("v"), "supp"
            )
        )
        rk = F.row_number().over(
            Window.partitionBy("u").orderBy(F.col("supp").desc(), "v")
        )
        knn = sym.withColumn("rk", rk).where(F.col("rk") <= _KNN)
        und = knn.select(
            F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
        ).distinct()
        return built(und.localCheckpoint())

    return _artifact(spark, sf, "copurchase_und", build)


@query(
    "qz150_triangle_count",
    oracle=f"""
    WITH pair AS MATERIALIZED (
      SELECT a.l_partkey AS u, b.l_partkey AS v, COUNT(*) AS supp
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2),
    knn AS MATERIALIZED (
      SELECT u, v FROM (
        SELECT u, v, ROW_NUMBER() OVER
                 (PARTITION BY u ORDER BY supp DESC, v) AS rk
        FROM (SELECT u, v, supp FROM pair
              UNION ALL SELECT v, u, supp FROM pair))
      WHERE rk <= {_KNN}),
    und AS MATERIALIZED (
      SELECT DISTINCT LEAST(u, v) AS u, GREATEST(u, v) AS v FROM knn),
    deg AS MATERIALIZED (
      SELECT node, COUNT(*) AS d FROM (
        SELECT u AS node FROM und UNION ALL SELECT v AS node FROM und)
      GROUP BY 1),
    ori AS MATERIALIZED (
      SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND e.u < e.v)
                  THEN e.u ELSE e.v END AS s,
             CASE WHEN da.d < db.d OR (da.d = db.d AND e.u < e.v)
                  THEN e.v ELSE e.u END AS t
      FROM und e JOIN deg da ON da.node = e.u
                 JOIN deg db ON db.node = e.v)
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM und) AS n_edges,
           (SELECT CAST(COUNT(*) AS BIGINT)
            FROM ori e1
            JOIN ori e2 ON e2.s = e1.s AND e1.t < e2.t
            JOIN ori e3 ON e3.s = e1.t AND e3.t = e2.t) AS n_tri
    """,
    tags=("graph", "analytics"),
)
def q150(spark: SparkSession, sf: str) -> DataFrame:
    """Triangle count of the co-purchase k-NN graph (each part keeps
    its {_KNN} strongest co-occurrence edges by support, ties by
    neighbor key) — the local-clustering signal behind community
    detection and recommendation diversity audits.

    Plan, in the shape that survives 100x (Suri-Vassilvitskii 2011
    MapReduce triangles): the k-NN cap bounds edges at k*|V| BEFORE any
    quadratic step; each undirected edge is oriented from its
    lower-(degree, id) endpoint so every wedge is generated exactly
    once at its lowest-degree apex — total wedge work is O(m^1.5)
    regardless of skew (a celebrity node of degree 10^6 generates no
    wedges unless both neighbors have even higher degree); the closing
    join is edge-keyed hash join on (s, t). The degree table is
    node-sized and broadcast under the broadcast_if_small guard
    (operators/graph.py::orient_edges); the undirected edge set is a
    persisted artifact because degree, wedge, and closing stages all
    reuse it."""
    from ..operators.graph import triangle_count

    return triangle_count(_copurchase_und(spark, sf))


# ---------------------------------------------------------------------------
# q152 — cross-source near-duplicate contamination matrix
# ---------------------------------------------------------------------------


def _q152_oracle() -> str:
    from .llm import _PAIRS_WITH

    return f"""
    WITH {_PAIRS_WITH}
    SELECT LEAST(da.source, db.source) AS src_a,
           GREATEST(da.source, db.source) AS src_b,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM pairs p
    JOIN documents da ON da.doc_id = p.ida
    JOIN documents db ON db.doc_id = p.idb
    GROUP BY 1, 2
    """


@query(
    "qz152_dup_source_matrix",
    oracle=_q152_oracle(),
    tags=("llm", "dedup", "analytics"),
)
def q152(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-source near-duplicate contamination matrix: for every
    unordered source pair, how many exact 5-gram-Jaccard >= 0.8
    near-dup pairs straddle it (diagonal = within-source redundancy,
    off-diagonal = mirror/scrape overlap BETWEEN feeds — the number
    that tells a curation team which acquisition is paying for content
    it already has).

    Scale shape: reuses the memoized exact-pair artifact (inverted
    shingle-index join, operators/dedup.py — never all-pairs); the
    doc_id -> source attribution is two equi-joins against a projected
    two-column side (AQE broadcasts it at dimension scale); the final
    aggregate is sources^2-sized with map-side combine. No new corpus
    scan: pairs are built once per session and every dedup-family
    query shares them."""
    from .llm import _exact_pairs

    src = table(spark, sf, "documents").select("doc_id", "source")
    p = _exact_pairs(spark, sf).select("ida", "idb")
    a = src.select(
        F.col("doc_id").alias("ida"), F.col("source").alias("sa")
    )
    b = src.select(
        F.col("doc_id").alias("idb"), F.col("source").alias("sb")
    )
    return (
        p.join(a, "ida")
        .join(b, "idb")
        .groupBy(
            F.least("sa", "sb").alias("src_a"),
            F.greatest("sa", "sb").alias("src_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


# ---------------------------------------------------------------------------
# q159 — source vocabulary overlap matrix (exact pairwise Jaccard)
# ---------------------------------------------------------------------------


@query(
    "qz159_vocab_overlap",
    oracle="""
    WITH v AS (SELECT DISTINCT source, tok
               FROM (SELECT source, unnest(string_split(text, ' ')) AS tok
                     FROM documents)
               WHERE tok <> ''),
         sz AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n
                FROM v GROUP BY source),
         p AS (SELECT a.source AS src_a, b.source AS src_b,
                      CAST(COUNT(*) AS BIGINT) AS inter
               FROM v a JOIN v b ON a.tok = b.tok AND a.source < b.source
               GROUP BY 1, 2)
    SELECT p.src_a, p.src_b, p.inter,
           ROUND(CAST(p.inter AS DOUBLE) / (sa.n + sb.n - p.inter), 6)
             AS jaccard
    FROM p
    JOIN sz sa ON sa.source = p.src_a
    JOIN sz sb ON sb.source = p.src_b
    """,
    tags=("llm", "analytics", "dedup"),
)
def q159(spark: SparkSession, sf: str) -> DataFrame:
    """Pairwise vocabulary Jaccard between sources — the lexical
    complement of q152's near-dup contamination matrix: two feeds with
    near-identical vocabularies but few shared documents are register
    twins (one may be redundant for diversity), while a low-overlap
    source genuinely widens the corpus distribution.

    Scale shape: the corpus collapses to DISTINCT (source, token) in
    one map-side-combined aggregate (vocab x sources bounded, corpus-
    size independent); the self-join runs on that reduced table keyed
    by token — a hot token shared by every source contributes at most
    sources^2 pairs, so the join output is |vocab| * sources^2 worst
    case, never corpus-sized. Per-source vocabulary sizes broadcast
    back onto the sources^2-row pair table."""
    def _vocab() -> DataFrame:
        toks = table(spark, sf, "documents").select(
            "source", F.explode(F.split("text", " ")).alias("tok")
        )
        return built(toks.where(F.col("tok") != "").distinct().persist())

    # materialize-once: three consumers (both join sides + sizes) would
    # otherwise each re-scan the corpus; the persisted table is
    # vocab x sources rows, corpus-size independent
    v = memo(spark, ("source_vocab", sf), _vocab, label="source_vocab")
    sz = v.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a = v.select(F.col("source").alias("src_a"), "tok")
    b = v.select(F.col("source").alias("src_b"), "tok")
    p = (
        a.join(b, "tok")
        .where(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = F.broadcast(sz.select(F.col("source").alias("src_a"), F.col("n").alias("na")))
    sb = F.broadcast(sz.select(F.col("source").alias("src_b"), F.col("n").alias("nb")))
    return (
        p.join(sa, "src_a")
        .join(sb, "src_b")
        .select(
            "src_a",
            "src_b",
            "inter",
            F.round(
                F.col("inter").cast("double")
                / (F.col("na") + F.col("nb") - F.col("inter")),
                6,
            ).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# q178 — coreness (k-core decomposition) of the co-purchase graph
# ---------------------------------------------------------------------------

_CORE_CAP = 40  # oracle recursion cap; Spark raises if fixpoint needs more


@query(
    "qz178_coreness",
    oracle=f"""
    WITH RECURSIVE li AS MATERIALIZED (
      SELECT l_orderkey, l_partkey FROM lineitem WHERE l_partkey % 3 = 0),
    und AS MATERIALIZED (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
    sym AS MATERIALIZED (
      SELECT u, v FROM und UNION ALL SELECT v AS u, u AS v FROM und),
    c(iter, node, val) AS (
      SELECT 0, u, COUNT(*) FROM sym GROUP BY u
      UNION ALL
      SELECT iter + 1, node, MAX(mv) FROM (
        SELECT c.iter, s.u AS node,
               LEAST(ROW_NUMBER() OVER (PARTITION BY c.iter, s.u
                                        ORDER BY c.val DESC),
                     c.val) AS mv
        FROM sym s JOIN c ON c.node = s.v) t
      WHERE iter < {_CORE_CAP}
      GROUP BY iter, node)
    SELECT CAST(node AS BIGINT) AS node,
           CAST(val AS BIGINT) AS coreness
    FROM c WHERE iter = {_CORE_CAP}
    """,
    tags=("graph", "analytics"),
)
def q178(spark: SparkSession, sf: str) -> DataFrame:
    """Coreness (k-core decomposition) of the co-purchase graph — the
    degeneracy layer number behind bot-ring and spam-subgraph
    detection (dense cores of accounts all touching the same items)
    and degeneracy-ordered graph algorithms. Computed with the
    distributed h-index fixpoint (operators/graph.py::core_numbers):
    c_0 = degree, then rounds of 'replace c(v) with the H-index of
    neighbors' c' — pointwise non-increasing, exact at the fixpoint,
    all rounds join + degree-bounded window + aggregate (the
    sequential peel needs a global priority queue; this shape scales
    as O(rounds) shuffles instead).

    The oracle runs the SAME h-index iteration as a recursive CTE
    (window inside the recursive term, capped at {_CORE_CAP}
    iterations; the Spark side RAISES if it has not reached the
    fixpoint by then, so a cap short of convergence can never
    silently pass). Values, not just a flag: the full (node,
    coreness) table hash-checks — coreness spans 17-22 / 16-28 /
    10-27 at sf0.001/0.01/0.1, so the check is non-degenerate.

    Graph: co-purchase over the deterministic third of parts
    (l_partkey % 3 == 0) with NO k-NN cap — per-order item count
    bounds pair fan-out (~21 pairs/order in TPC-H-shaped data), so the
    edge set grows linearly with orders and the uncapped graph is
    scale-safe by construction; the restriction keeps the iterative
    build proportionate in the bench.

    The converged table is a materialize-once artifact (the
    dup_cluster_map precedent: production writes it per snapshot;
    re-running an iterative fixpoint per evaluation would charge every
    bench run the build)."""
    from ..operators.graph import core_numbers
    from .llm import _artifact

    def build() -> DataFrame:
        from . import built

        li = (
            table(spark, sf, "lineitem")
            .where(F.col("l_partkey") % 3 == 0)
            .select("l_orderkey", "l_partkey")
        )
        a, b = li.alias("a"), li.alias("b")
        und = (
            a.join(
                b,
                (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
                & (F.col("a.l_partkey") < F.col("b.l_partkey")),
            )
            .select(
                F.col("a.l_partkey").alias("u"),
                F.col("b.l_partkey").alias("v"),
            )
            .distinct()
        )
        return built(
            core_numbers(und, max_iter=_CORE_CAP).persist()
        )

    core = _artifact(spark, sf, "coreness", build)
    return core.select(
        F.col("node").cast("bigint").alias("node"),
        F.col("coreness").cast("bigint").alias("coreness"),
    )
