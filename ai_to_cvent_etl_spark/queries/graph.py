"""Iterative graph analytics (r3): G1 PageRank.

The customer–supplier trade graph: an undirected edge (customer c, supplier
s) for every distinct pair that traded (orders ⋈ lineitem). Three
synchronized power-iteration rounds of PageRank (d = 0.85) over the
edge-induced node set.

Cross-engine determinism: per-iteration neighbor contributions pr/deg are
quantized with floor(x * 1e12) and summed as DECIMAL — exact, associative,
order-insensitive — then the new rank is rebuilt in double with the
identical IEEE expression on both engines. floor() is exactly defined on
doubles everywhere (round() is not), so three chained iterations stay
bit-identical between Spark and DuckDB with NO rounding of the output.

Scale shape: each iteration is one join (edges ⋈ ranks, both partitioned by
the join key) + one keyed aggregation — the canonical Pregel-style
message-passing round expressed relationally. The edge list and degree
table are localCheckpoint'ed once (lineage truncation, same device as D5
connected components); per-round driver traffic is zero (no collect — the
scalar node count rides along as a broadcast 1-row crossJoin). At 100 TB
the edge checkpoint goes to reliable storage and iterations shuffle
edge-partition-locally; rounds are log-free and restartable."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ai_to_cvent_etl_spark.io import load_table
from ai_to_cvent_etl_spark.registry import register
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql.types import DecimalType

_DAMP = 0.85
_ROUNDS = 3

# Checkpointed undirected trade-graph edges (customer c* <-> supplier s*)
# memoized per (Spark app, dataset): shared by G1 PageRank and G10 label
# propagation, each of which otherwise pays the orders><lineitem distinct
# build. Staleness contract identical to graph._EDGE_CACHE (below) /
# operators/kmeans._MODEL_CACHE: fixtures are immutable per process.
#
# Cluster-scale caveat (ADVICE r3): localCheckpoint truncates lineage, so a
# checkpointed block lost with its executor (dynamic allocation, preemption)
# is UNRECOVERABLE — G1/G10 would fail instead of recomputing. On a real
# cluster swap localCheckpoint for either `df.checkpoint()` against a
# reliable (HDFS/S3) checkpoint dir, or `df.persist(DISK_AND_MEMORY)` +
# a materializing count, both of which keep lineage or durable copies.
# local[32] has a single immortal executor, so the fast path is safe here.
_TRADE_EDGE_CACHE: dict = {}
# Two entries per (app, sf_dir) — string edges and int edges — and
# suites/stress runs touch up to 4 SF dirs per app, so a small cap would
# thrash (evict + recompute checkpointed edge lists on every alternation
# between two dirs; ADVICE r7). 12 covers 6 dirs.
_TRADE_EDGE_CACHE_MAX = 12


def _memo(cache: dict, key: tuple, build, max_entries: int = 0) -> DataFrame:
    """``cache[key]``, built by ``build()`` on a miss. ``key[0]`` is the
    Spark application id: on insert, entries of other apps are evicted so
    checkpointed blocks of retired SparkSessions don't stay pinned in
    executor storage for the process lifetime; with ``max_entries`` the
    oldest entries are evicted down to the cap."""
    hit = cache.get(key)
    if hit is not None:
        return hit
    df = build()
    for k in [k for k in cache if k[0] != key[0]]:
        del cache[k]
    while max_entries and len(cache) >= max_entries:
        del cache[next(iter(cache))]
    cache[key] = df
    return df


def trade_graph_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected (src, dst) string-node edges of the customer-supplier
    trade graph, localCheckpoint-truncated and memoized per app+dataset."""

    def build() -> DataFrame:
        orders = load_table(spark, sf_dir, "orders")
        li = load_table(spark, sf_dir, "lineitem")
        e = (
            orders.join(li, orders.o_orderkey == li.l_orderkey)
            .select(
                F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("a"),
                F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("b"),
            )
            .distinct()
        )
        return (
            e.select(F.col("a").alias("src"), F.col("b").alias("dst"))
            .unionByName(e.select(F.col("b").alias("src"), F.col("a").alias("dst")))
            .localCheckpoint(eager=False)
        )

    key = (spark.sparkContext.applicationId, sf_dir)
    return _memo(_TRADE_EDGE_CACHE, key, build, _TRADE_EDGE_CACHE_MAX)


# --- r7: BIGINT node ids for the iterative keys -------------------------
#
# The r6 sf10 stress sweep measured q_graph_pagerank at 26.3x and
# q_graph_label_prop at 15.4x warm for 10x data (STRESS_SF10.json): both
# iterate 3 join+agg rounds over the undirected edge list, and with STRING
# node ids every round shuffles (and hashes, and GC-churns) variable-length
# 'c123…'/'s45…' UTF8Strings.  The fix is to iterate on 8-byte BIGINT ids
# and map back to the contract's string ids only at output.
#
# The encoding must let numeric MIN reproduce the oracle's VARCHAR MIN
# (label propagation's reduce is a lexicographic min over node-id strings),
# so it is ORDER-PRESERVING: enc('c'||digits) < enc('s'||digits') iff the
# strings compare < byte-wise.  Digits are coded base-11 LEFT-ALIGNED in a
# 12-slot field (digit d -> d+1, pad -> 0), which makes numeric order equal
# dictionary order over variable-length digit strings ('1' < '10' < '2'),
# and the 's' prefix adds 11^12 — max value 2*11^12 ≈ 6.3e12 << 2^63.
# Property verified in tests/test_graph_int_ids.py over random + adversarial
# key sets.  Keys wider than 12 digits would break the encoding; guarded by
# the generator contract (TPC-H keys ≤ 12 digits through sf ~10^6).
_LEX11_S_OFFSET = 11**12  # 3_138_428_376_721


def _lex11_expr(key_sql: str, is_supplier: bool) -> str:
    """SQL expression: order-preserving BIGINT code of 'c{key}'/'s{key}'.

    PURE INTEGER ARITHMETIC — a CASE on the digit count L selecting a
    closed-form base-11 polynomial Σ_j ((k div 10^j) % 10 + 1)·11^j scaled
    by 11^(12-L). The first r7 formulation used
    aggregate(sequence(1,12), …substring…) — a higher-order function that
    Spark interprets OUTSIDE whole-stage codegen at ~150 µs/row (measured:
    170 s for the sf0.1 edge projection, 40× the whole pre-rewrite query).
    This form is plain int ops inside codegen: ~ns/row.
    """
    off = f"{_LEX11_S_OFFSET} + " if is_supplier else ""
    k = f"cast({key_sql} as bigint)"
    branches = []
    for length in range(1, 13):
        acc = " + ".join(
            f"(({k} div {10 ** j}) % 10 + 1) * {11 ** j}"
            for j in range(length)
        )
        scale = 11 ** (12 - length)
        branches.append(
            f"when {k} < {10 ** length} then ({acc}) * {scale}"
        )
    return f"{off}(case " + " ".join(branches) + " else null end)"


def _lex11_decode_expr(code_sql: str) -> str:
    """SQL expression: exact inverse of _lex11_expr — BIGINT code back to
    the contract's 'c{key}'/'s{key}' string, row-locally.

    Why this exists (r8): the first r7 shape decoded through an (id, node)
    dimension join, which re-derived _trade_pairs — a
    SECOND full orders⋈lineitem join+distinct per query (measured ~14 s of
    a 21 s sf1 pagerank under the full-cost protocol). The encoding is
    injective pure-integer arithmetic, so the inverse is too: digit count
    L = 12 - (trailing base-11 zeros), digit j = (w div 11^(j+12-L)) % 11
    - 1. A CASE ladder from L=1 down stays inside whole-stage codegen and
    replaces an O(|E|)-scan + |V|-row shuffle join with O(|V|) row-local
    int ops. Round-trip property-tested in tests/test_graph_int_ids.py.
    """
    c = f"cast({code_sql} as bigint)"
    w = f"({c} % {_LEX11_S_OFFSET})"
    branches = []
    for length in range(1, 13):
        t = 12 - length
        digits = " + ".join(
            f"((({w} div {11 ** (j + t)}) % 11) - 1) * {10 ** j}"
            for j in range(length)
        )
        if length < 12:
            branches.append(f"when {w} % {11 ** t} = 0 then ({digits})")
        else:
            branches.append(f"else ({digits})")
    k = "(case " + " ".join(branches) + " end)"
    return (
        f"concat(case when {c} >= {_LEX11_S_OFFSET} then 's' else 'c' end, "
        f"cast({k} as string))"
    )


def _trade_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (o_custkey, l_suppkey) trading pairs — shared edge seed."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select("o_custkey", "l_suppkey")
        .distinct()
    )


def trade_graph_edges_int(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected (src, dst) BIGINT-id edges of the trade graph.

    Same graph as trade_graph_edges but with lex11-encoded 8-byte node ids,
    so the per-round join+agg shuffles of G1/G10 move fixed-width longs
    instead of strings.  localCheckpoint (MEMORY_AND_DISK) + memoized per
    app+dataset, like the string variant.
    """

    def build() -> DataFrame:
        e = _trade_pairs(spark, sf_dir).select(
            F.expr(_lex11_expr("o_custkey", False)).alias("a"),
            F.expr(_lex11_expr("l_suppkey", True)).alias("b"),
        )
        return (
            e.select(F.col("a").alias("src"), F.col("b").alias("dst"))
            .unionByName(e.select(F.col("b").alias("src"), F.col("a").alias("dst")))
            .localCheckpoint(eager=False)
        )

    key = (spark.sparkContext.applicationId, sf_dir, "int")
    return _memo(_TRADE_EDGE_CACHE, key, build, _TRADE_EDGE_CACHE_MAX)

_IT_DUCK = """
        c{i} AS (
            SELECT u.dst AS node,
                   SUM(CAST(floor(p.pr / d.deg * CAST(1e12 AS DOUBLE))
                            AS DECIMAL(38,0))) AS s
            FROM und u
            JOIN p{j} p ON u.src = p.node
            JOIN deg d ON u.src = d.src
            GROUP BY u.dst
        ),
        p{i} AS (
            SELECT c{i}.node,
                   CAST(0.15 AS DOUBLE) / n.n
                   + CAST(0.85 AS DOUBLE)
                     * (CAST(s AS DOUBLE) / CAST(1e12 AS DOUBLE)) AS pr
            FROM c{i} CROSS JOIN n
        )"""


@register(
    "q_graph_pagerank",
    oracle=(
        """
        WITH e AS (
            SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS a,
                            's' || CAST(l_suppkey AS VARCHAR) AS b
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        ),
        und AS (
            SELECT a AS src, b AS dst FROM e
            UNION ALL
            SELECT b AS src, a AS dst FROM e
        ),
        deg AS (
            SELECT src, CAST(COUNT(*) AS DOUBLE) AS deg FROM und GROUP BY src
        ),
        n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM deg),
        p0 AS (
            SELECT src AS node, CAST(1.0 AS DOUBLE) / n.n AS pr
            FROM deg CROSS JOIN n
        ),"""
        + ",".join(_IT_DUCK.format(i=i, j=i - 1) for i in range(1, _ROUNDS + 1))
        + f"""
        SELECT node, pr FROM p{_ROUNDS}
    """
    ),
    section="G1",
    doc="PageRank (3 power iterations, d=0.85) over the undirected "
    "customer–supplier trade graph: per-round contributions quantized "
    "floor(pr/deg * 1e12) and DECIMAL-summed (exact under any "
    "partitioning), rank rebuilt with the identical IEEE double expression "
    "— three chained iterations stay bit-identical cross-engine, output "
    "needs no rounding. Relational Pregel round: join + keyed agg per "
    "iteration, checkpointed edge list, zero per-round driver traffic. "
    "r7: rounds iterate on 8-byte lex11 BIGINT node ids (strings decoded "
    "back by one |V|-row join at output) — fixed-width shuffle keys for "
    "the third-decade scale path.",
)
def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r7: iterate on BIGINT lex11 node ids (8-byte shuffle keys instead of
    # variable-length strings — the measured sf10 super-linearity was
    # string hash/GC churn in the 3 join+agg rounds, STRESS_SF10.json
    # r6: 26.3x warm at 10x data); decode ids -> 'c…'/'s…' strings with one
    # |V|-row join at output, so the result (and its oracle hash) is
    # unchanged.
    und = trade_graph_edges_int(spark, sf_dir)
    deg = (
        und.groupBy("src")
        .agg(F.count(F.lit(1)).cast("double").alias("deg"))
        .localCheckpoint(eager=False)
    )
    n = deg.agg(F.count(F.lit(1)).cast("double").alias("n"))
    pr = (
        deg.select(F.col("src").alias("node"))
        .crossJoin(F.broadcast(n))
        .select("node", (F.lit(1.0).cast("double") / F.col("n")).alias("pr"))
    )
    for _ in range(_ROUNDS):
        prd = pr.join(deg, pr.node == deg.src).select(
            F.col("src"),
            F.expr(
                "cast(floor(pr / deg * cast(1e12 as double)) as decimal(38,0))"
            ).alias("q"),
        )
        contrib = (
            und.join(prd, "src").groupBy("dst").agg(F.sum("q").alias("s"))
        )
        pr = (
            contrib.crossJoin(F.broadcast(n))
            .select(
                F.col("dst").alias("node"),
                (
                    F.lit(0.15).cast("double") / F.col("n")
                    + F.lit(0.85).cast("double")
                    * (F.col("s").cast("double") / F.lit(1e12).cast("double"))
                ).alias("pr"),
            )
        )
    # r8: row-local inverse decode instead of the nodes-dim join (which
    # cost a second orders⋈lineitem scan per query — see _lex11_decode_expr)
    return pr.select(
        F.expr(_lex11_decode_expr("node")).alias("node"), "pr"
    )


@register(
    "q_graph_degree_dist",
    oracle="""
        WITH e AS (
            SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS a,
                            's' || CAST(l_suppkey AS VARCHAR) AS b
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        ),
        und AS (
            SELECT a AS src FROM e UNION ALL SELECT b FROM e
        ),
        deg AS (
            SELECT src, CAST(COUNT(*) AS BIGINT) AS degree
            FROM und GROUP BY src
        )
        SELECT degree,
               CAST(COUNT(*) AS BIGINT) AS n_nodes,
               CAST(substr(src, 1, 1) = 'c' AS BOOLEAN) AS is_customer
        FROM deg
        GROUP BY degree, substr(src, 1, 1) = 'c'
    """,
    section="G3",
    doc="Degree distribution of the customer-supplier trade graph, split "
    "by node class — the skew diagnostic every graph job runs FIRST (it "
    "is how you decide whether G2-style rank sparsification or salting "
    "is needed before an expensive traversal). Two keyed aggregations "
    "(degree per node, nodes per degree), both map-side combinable; the "
    "second aggregates |V| rows down to the handful of distinct degrees.",
)
def q_graph_degree_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    e = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("a"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("b"),
        )
        .distinct()
    )
    und = e.select(F.col("a").alias("src")).unionByName(
        e.select(F.col("b").alias("src"))
    )
    deg = und.groupBy("src").agg(F.count(F.lit(1)).alias("degree"))
    return (
        deg.groupBy(
            "degree",
            (F.substring("src", 1, 1) == "c").alias("is_customer"),
        )
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .select("degree", "n_nodes", "is_customer")
    )


# ==== from analytics_r3b ===========================================

_TOP_PARTNERS = 8

_EDGE_CTES = f"""
        ps AS MATERIALIZED (
            SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
        ),
        pairs AS MATERIALIZED (
            SELECT a.l_suppkey AS s1, b.l_suppkey AS s2,
                   CAST(COUNT(*) AS BIGINT) AS cnt
            FROM ps a JOIN ps b
              ON a.l_partkey = b.l_partkey AND a.l_suppkey < b.l_suppkey
            GROUP BY 1, 2
        ),
        dir AS MATERIALIZED (
            SELECT s1 AS src, s2 AS dst, cnt FROM pairs
            UNION ALL
            SELECT s2 AS src, s1 AS dst, cnt FROM pairs
        ),
        top5 AS MATERIALIZED (
            SELECT src, dst FROM (
                SELECT src, dst,
                       row_number() OVER (
                           PARTITION BY src ORDER BY cnt DESC, dst
                       ) AS rn
                FROM dir
            ) WHERE rn <= {_TOP_PARTNERS}
        ),
        edges AS MATERIALIZED (
            SELECT a.src AS lo, a.dst AS hi
            FROM top5 a JOIN top5 b ON a.src = b.dst AND a.dst = b.src
            WHERE a.src < a.dst
        )"""

# Checkpointed edge lists memoized per (Spark app, dataset): the graph is
# shared by G2/G4/G5/G6, and rebuilding it costs a lineitem self-join each
# time. Staleness contract (same as operators/kmeans.py _MODEL_CACHE): the
# cache assumes the parquet under sf_dir is immutable for the process
# lifetime — true for the read-only /root/testdata fixtures; call
# _EDGE_CACHE.clear() if a dataset is ever rewritten in-process. Entries of
# retired Spark apps are evicted on insert (_memo).
_EDGE_CACHE: dict = {}

def _mutual_affinity_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual top-k trade-affinity supplier edges as (lo, hi), lo < hi —
    the shared sparsified graph under G2 (triangles), G4 (link
    prediction), G5 (k-core) and G6 (BFS). Degree <= _TOP_PARTNERS by
    construction. The result is localCheckpoint-truncated and memoized
    per (Spark app, dataset) so the four graph queries build it once."""

    def build() -> DataFrame:
        li = load_table(spark, sf_dir, "lineitem")
        ps = li.select("l_partkey", "l_suppkey").distinct()
        a = ps.select(
            F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("s1")
        )
        b = ps.select(
            F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("s2")
        )
        pairs = (
            a.join(b, (a.pk == b.pk) & (F.col("s1") < F.col("s2")))
            .groupBy("s1", "s2")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        direct = pairs.select(
            F.col("s1").alias("src"), F.col("s2").alias("dst"), "cnt"
        ).unionByName(
            pairs.select(F.col("s2").alias("src"), F.col("s1").alias("dst"), "cnt")
        )
        rn = F.row_number().over(
            Window.partitionBy("src").orderBy(F.desc("cnt"), F.asc("dst"))
        )
        top5 = (
            direct.withColumn("rn", rn)
            .filter(F.col("rn") <= _TOP_PARTNERS)
            .select("src", "dst")
        )
        rev = top5.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        return (
            top5.intersect(rev)
            .filter(F.col("src") < F.col("dst"))
            .select(F.col("src").alias("lo"), F.col("dst").alias("hi"))
            .localCheckpoint(eager=False)
        )

    key = (spark.sparkContext.applicationId, sf_dir)
    return _memo(_EDGE_CACHE, key, build)

_LP_MIN_SCORE = 2

@register(
    "q_graph_triangles",
    oracle=f"""
        WITH {_EDGE_CTES},
        tri AS (
            SELECT e1.lo AS a, e1.hi AS b, e2.hi AS c
            FROM edges e1
            JOIN edges e2 ON e2.lo = e1.hi
            JOIN edges e3 ON e3.lo = e1.lo AND e3.hi = e2.hi
        )
        SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
        FROM (
            SELECT a AS node FROM tri
            UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri
        )
        GROUP BY node
    """,
    section="G2",
    doc="Per-node triangle counts over the mutual top-8 trade-affinity "
    "supplier graph (edge iff each supplier ranks the other in its top-8 "
    "co-supply partners by shared-part count, full tie-break). The raw "
    "co-supply relation is complete at sf0.1 (499,500 pairs), so the "
    "rank/limit sparsification is the point: degree <= 8 by construction "
    "bounds the wedge join to <= 64 candidates per node at any scale — "
    "the standard defense against power-law hubs in distributed triangle "
    "counting. All-integer, fully tie-broken => exact.",
)
def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _mutual_affinity_edges(spark, sf_dir)
    e1 = edges.select(F.col("lo").alias("a"), F.col("hi").alias("b"))
    e2 = edges.select(F.col("lo").alias("b2"), F.col("hi").alias("c"))
    e3 = edges.select(F.col("lo").alias("a3"), F.col("hi").alias("c3"))
    tri = (
        e1.join(e2, F.col("b") == F.col("b2"))
        .join(
            e3,
            (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3")),
        )
        .select("a", "b", "c")
    )
    nodes = (
        tri.select(F.col("a").alias("node"))
        .unionByName(tri.select(F.col("b").alias("node")))
        .unionByName(tri.select(F.col("c").alias("node")))
    )
    return nodes.groupBy("node").agg(
        F.count(F.lit(1)).alias("n_triangles")
    )

@register(
    "q_graph_link_predict",
    oracle=f"""
        WITH {_EDGE_CTES},
        adj AS (
            SELECT lo AS x, hi AS n FROM edges
            UNION ALL
            SELECT hi AS x, lo AS n FROM edges
        ),
        wedge AS (
            SELECT a.x AS u, b.x AS v, CAST(COUNT(*) AS BIGINT) AS score
            FROM adj a JOIN adj b ON a.n = b.n AND a.x < b.x
            GROUP BY a.x, b.x
        )
        SELECT w.u, w.v, w.score
        FROM wedge w
        LEFT JOIN edges e ON e.lo = w.u AND e.hi = w.v
        WHERE e.lo IS NULL AND w.score >= {_LP_MIN_SCORE}
    """,
    section="G4",
    doc="Common-neighbor link prediction over the mutual top-8 affinity "
    "graph: for each NON-adjacent supplier pair, the number of shared "
    "neighbors (>= 2) — the classic recommendation score (all-integer: "
    "Adamic-Adar's 1/ln(deg) weighting is deliberately avoided because "
    "libm ln() is not bit-identical across JVM and C). The wedge join "
    "inherits G2's degree bound (<= 8), so candidate pairs per node are "
    "bounded at any scale; one keyed agg + one anti-join.",
)
def q_graph_link_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _mutual_affinity_edges(spark, sf_dir).localCheckpoint(eager=False)
    adj = edges.select(F.col("lo").alias("x"), F.col("hi").alias("n")).unionByName(
        edges.select(F.col("hi").alias("x"), F.col("lo").alias("n"))
    )
    a = adj.select(F.col("x").alias("u"), "n")
    b = adj.select(F.col("x").alias("v"), F.col("n").alias("n2"))
    wedge = (
        a.join(b, (F.col("n") == F.col("n2")) & (F.col("u") < F.col("v")))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("score"))
    )
    return (
        wedge.join(
            edges,
            (wedge.u == edges.lo) & (wedge.v == edges.hi),
            "left_anti",
        )
        .filter(F.col("score") >= _LP_MIN_SCORE)
        .select("u", "v", "score")
    )

# ==== from analytics_r3c ===========================================

_KCORE_K = 3

_KCORE_ROUNDS = 3

def _kcore_oracle() -> str:
    from ai_to_cvent_etl_spark.queries.graph import _EDGE_CTES

    # AS MATERIALIZED is load-bearing: DuckDB inlines plain CTEs per
    # reference, and each peel round references the previous round ~5
    # times — without materialization the (join-heavy) edge CTEs are
    # re-evaluated 5^rounds times and the oracle runs for minutes at
    # sf0.1 instead of seconds.
    ctes = [
        f"WITH {_EDGE_CTES}",
        "e0 AS MATERIALIZED (SELECT lo, hi FROM edges)",
    ]
    for r in range(_KCORE_ROUNDS):
        ctes.append(
            f"""
        d{r} AS MATERIALIZED (
            SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
                SELECT lo AS node FROM e{r}
                UNION ALL SELECT hi FROM e{r}
            ) GROUP BY node
        ),
        a{r} AS MATERIALIZED (SELECT node FROM d{r} WHERE deg >= {_KCORE_K}),
        e{r + 1} AS MATERIALIZED (
            SELECT e.lo, e.hi FROM e{r} e
            JOIN a{r} x ON e.lo = x.node
            JOIN a{r} y ON e.hi = y.node
        )"""
        )
    r = _KCORE_ROUNDS
    final = f"""
        SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
            SELECT lo AS node FROM e{r}
            UNION ALL SELECT hi FROM e{r}
        ) GROUP BY node
    """
    return ",\n".join(ctes) + final

@register(
    "q_graph_kcore",
    oracle=_kcore_oracle(),
    section="G5",
    doc=f"Bounded k-core peeling (k={_KCORE_K}, {_KCORE_ROUNDS} rounds) "
    "over the mutual top-8 trade-affinity supplier graph shared with "
    "G2/G4: each round drops nodes of degree < k and their incident "
    "edges — the standard dense-community extraction / graph-cleaning "
    "pass. Rounds are FIXED (not run-to-fixpoint) so the oracle is "
    "expressible as chained CTEs and the Spark plan has a static depth; "
    "each round is one keyed degree aggregation + two semi-joins on the "
    "degree-bounded (<= 8 per node) edge list. All-integer — exact.",
)
def q_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_to_cvent_etl_spark.queries.graph import (
        _mutual_affinity_edges,
    )

    # Each peel round references the previous round's edge list ~5 times
    # (degree union + two semi-joins), so without lineage truncation the
    # logical plan grows 5^rounds copies of the (already join-heavy)
    # mutual-edges plan — localCheckpoint bounds the plan at every round
    # (same device as G1 PageRank / D5 connected components). The shared
    # edge list arrives already checkpointed+memoized from
    # _mutual_affinity_edges; each round re-truncates its own output.
    edges = _mutual_affinity_edges(spark, sf_dir)

    def degrees(e: DataFrame) -> DataFrame:
        nodes = e.select(F.col("lo").alias("node")).unionByName(
            e.select(F.col("hi").alias("node"))
        )
        return nodes.groupBy("node").agg(F.count(F.lit(1)).alias("deg"))

    for _ in range(_KCORE_ROUNDS):
        alive = degrees(edges).where(F.col("deg") >= _KCORE_K).select("node")
        edges = (
            edges.join(
                alive.select(F.col("node").alias("lo")), "lo", "left_semi"
            )
            .join(alive.select(F.col("node").alias("hi")), "hi", "left_semi")
            .select("lo", "hi")
            .localCheckpoint(eager=False)
        )
    return degrees(edges)

# ==== from analytics_r3d ===========================================

_BFS_HOPS = 3

_BFS_SEED_MOD = 7

def _bfs_oracle() -> str:
    from ai_to_cvent_etl_spark.queries.graph import _EDGE_CTES

    # AS MATERIALIZED: DuckDB inlines plain CTEs per reference; adj is
    # referenced once per hop, so without it the join-heavy edge CTEs
    # would be re-evaluated every round (G5's lesson).
    parts = [
        f"WITH {_EDGE_CTES}",
        """
        adj AS MATERIALIZED (
            SELECT lo AS src, hi AS dst FROM edges
            UNION ALL SELECT hi, lo FROM edges
        ),
        v0 AS MATERIALIZED (
            SELECT s_suppkey AS node FROM supplier
            WHERE s_suppkey % {mod} = 0
        )""".format(mod=_BFS_SEED_MOD),
    ]
    prev = "v0"
    for r in range(1, _BFS_HOPS + 1):
        parts.append(
            f"""
        v{r} AS MATERIALIZED (
            SELECT DISTINCT adj.dst AS node
            FROM adj JOIN {prev} ON adj.src = {prev}.node
        )"""
        )
        prev = f"v{r}"
    union = " UNION ALL ".join(
        f"SELECT node, {r} AS d FROM v{r}" for r in range(_BFS_HOPS + 1)
    )
    parts.append(
        f"""
        lv AS ({union})"""
    )
    return (
        ",".join(parts)
        + """
        SELECT node, CAST(MIN(d) AS INTEGER) AS dist
        FROM lv GROUP BY node
    """
    )

@register(
    "q_graph_bfs_khop",
    oracle=_bfs_oracle(),
    section="G6",
    doc=f"{_BFS_HOPS}-hop BFS distances from a seed set (every "
    f"{_BFS_SEED_MOD}th supplier) over the mutual top-8 trade-affinity "
    "graph shared with G2/G4/G5 — the reachability / blast-radius "
    "primitive. Fixed rounds keep the oracle expressible as chained CTEs "
    "and the Spark plan depth static; each round joins the frontier to "
    "the degree-bounded adjacency (<= 8 per node) and takes a keyed min; "
    "lineage is localCheckpoint-truncated per round (G1/G5's device). "
    "All-integer — exact.",
)
def q_graph_bfs_khop(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_to_cvent_etl_spark.queries.graph import (
        _mutual_affinity_edges,
    )

    sup = load_table(spark, sf_dir, "supplier")
    edges = _mutual_affinity_edges(spark, sf_dir)
    adj = edges.select(
        F.col("lo").alias("src"), F.col("hi").alias("dst")
    ).unionByName(edges.select(F.col("hi").alias("src"), F.col("lo").alias("dst")))
    seeds = sup.where(F.col("s_suppkey") % _BFS_SEED_MOD == 0).select(
        F.col("s_suppkey").alias("node")
    )
    levels = seeds.select("node", F.lit(0).alias("d"))
    frontier = seeds
    for r in range(1, _BFS_HOPS + 1):
        frontier = (
            adj.join(
                frontier.select(F.col("node").alias("src")), "src", "left_semi"
            )
            .select(F.col("dst").alias("node"))
            .distinct()
            .localCheckpoint(eager=False)
        )
        levels = levels.unionByName(frontier.select("node", F.lit(r).alias("d")))
    return levels.groupBy("node").agg(F.min("d").cast("int").alias("dist"))

# ==== from analytics_r3g ===========================================

def _edge_jaccard_oracle() -> str:
    from ai_to_cvent_etl_spark.queries.graph import _EDGE_CTES

    return f"""
        WITH {_EDGE_CTES},
        adj AS MATERIALIZED (
            SELECT lo AS a, hi AS b FROM edges
            UNION ALL SELECT hi, lo FROM edges
        ),
        deg AS MATERIALIZED (
            SELECT a AS node, CAST(COUNT(*) AS BIGINT) AS d
            FROM adj GROUP BY a
        ),
        common AS MATERIALIZED (
            SELECT e.lo, e.hi, CAST(COUNT(*) AS BIGINT) AS c
            FROM edges e
            JOIN adj x ON x.a = e.lo
            JOIN adj y ON y.a = e.hi AND y.b = x.b
            GROUP BY e.lo, e.hi
        )
        SELECT e.lo, e.hi,
               COALESCE(c.c, 0) AS n_common,
               da.d AS deg_lo, db.d AS deg_hi,
               CAST(COALESCE(c.c, 0) AS DOUBLE)
                   / (da.d + db.d - COALESCE(c.c, 0)) AS edge_jaccard
        FROM edges e
        JOIN deg da ON da.node = e.lo
        JOIN deg db ON db.node = e.hi
        LEFT JOIN common c ON c.lo = e.lo AND c.hi = e.hi
    """

@register(
    "q_graph_edge_jaccard",
    oracle=_edge_jaccard_oracle(),
    section="G7",
    doc="Neighborhood-Jaccard scoring of EXISTING edges (embeddedness): "
    "|N(a) n N(b)| / |N(a) u N(b)| per edge of the shared mutual top-8 "
    "graph — the tie-strength / graph-denoising metric (low-embeddedness "
    "edges are bridges or noise; G4 scores non-edges, this scores "
    "edges). The wedge join inherits the degree-<=8 bound (<= 64 "
    "candidates per node); integer counts + one IEEE division — exact. "
    "Oracle CTEs MATERIALIZED (G5's lesson).",
)
def q_graph_edge_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_to_cvent_etl_spark.queries.graph import (
        _mutual_affinity_edges,
    )

    edges = _mutual_affinity_edges(spark, sf_dir)
    adj = edges.select(F.col("lo").alias("a"), F.col("hi").alias("b")).unionByName(
        edges.select(F.col("hi").alias("a"), F.col("lo").alias("b"))
    )
    deg = adj.groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).alias("d")
    )
    x = adj.select(F.col("a").alias("lo"), F.col("b").alias("nb1"))
    y = adj.select(F.col("a").alias("hi2"), F.col("b").alias("nb2"))
    common = (
        edges.join(x, "lo")
        .join(
            y,
            (F.col("hi") == F.col("hi2")) & (F.col("nb1") == F.col("nb2")),
        )
        .groupBy("lo", "hi")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    da = deg.select(F.col("node").alias("lo"), F.col("d").alias("deg_lo"))
    db = deg.select(F.col("node").alias("hi"), F.col("d").alias("deg_hi"))
    j = (
        edges.join(da, "lo")
        .join(db, "hi")
        .join(common, ["lo", "hi"], "left")
        .select(
            "lo",
            "hi",
            F.coalesce(F.col("c"), F.lit(0)).alias("n_common"),
            "deg_lo",
            "deg_hi",
        )
    )
    return j.select(
        "*",
        (
            F.col("n_common").cast("double")
            / (F.col("deg_lo") + F.col("deg_hi") - F.col("n_common"))
        ).alias("edge_jaccard"),
    )

# ==== from analytics_r3i ===========================================

def _clustering_oracle() -> str:
    from ai_to_cvent_etl_spark.queries.graph import _EDGE_CTES

    return f"""
        WITH {_EDGE_CTES},
        adj AS MATERIALIZED (
            SELECT lo AS a, hi AS b FROM edges
            UNION ALL SELECT hi, lo FROM edges
        ),
        deg AS MATERIALIZED (
            SELECT a AS node, CAST(COUNT(*) AS BIGINT) AS d
            FROM adj GROUP BY a
        ),
        tri AS MATERIALIZED (
            SELECT e1.lo AS a, e1.hi AS b, e2.hi AS c
            FROM edges e1
            JOIN edges e2 ON e2.lo = e1.hi
            JOIN edges e3 ON e3.lo = e1.lo AND e3.hi = e2.hi
        ),
        tcount AS MATERIALIZED (
            SELECT node, CAST(COUNT(*) AS BIGINT) AS n_tri FROM (
                SELECT a AS node FROM tri
                UNION ALL SELECT b FROM tri
                UNION ALL SELECT c FROM tri
            ) GROUP BY node
        )
        SELECT deg.node, deg.d AS degree,
               COALESCE(tcount.n_tri, 0) AS n_triangles,
               CASE WHEN deg.d >= 2
                    THEN CAST(2 * COALESCE(tcount.n_tri, 0) AS DOUBLE)
                         / (deg.d * (deg.d - 1))
               END AS clustering_coeff
        FROM deg LEFT JOIN tcount ON deg.node = tcount.node
    """

@register(
    "q_graph_clustering_coeff",
    oracle=_clustering_oracle(),
    section="G8",
    doc="Per-node local clustering coefficient 2T/(d(d-1)) over the "
    "shared mutual top-8 graph — how tightly each supplier's partners "
    "trade among themselves (community density; composes G2's triangle "
    "count with G3's degrees). Inherits the degree-8 wedge bound; "
    "integer counts + one IEEE division; degree<2 nodes yield NULL on "
    "both engines. Oracle CTEs MATERIALIZED (G5's lesson).",
)
def q_graph_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_to_cvent_etl_spark.queries.graph import (
        _mutual_affinity_edges,
    )

    edges = _mutual_affinity_edges(spark, sf_dir)
    adj = edges.select(F.col("lo").alias("a"), F.col("hi").alias("b")).unionByName(
        edges.select(F.col("hi").alias("a"), F.col("lo").alias("b"))
    )
    deg = adj.groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).alias("degree")
    )
    e1 = edges.select(F.col("lo").alias("a"), F.col("hi").alias("b"))
    e2 = edges.select(F.col("lo").alias("b2"), F.col("hi").alias("c"))
    e3 = edges.select(F.col("lo").alias("a3"), F.col("hi").alias("c3"))
    tri = (
        e1.join(e2, F.col("b") == F.col("b2"))
        .join(e3, (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3")))
        .select("a", "b", "c")
    )
    tcount = (
        tri.select(F.col("a").alias("node"))
        .unionByName(tri.select(F.col("b").alias("node")))
        .unionByName(tri.select(F.col("c").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_tri"))
    )
    j = deg.join(tcount, "node", "left").select(
        "node",
        "degree",
        F.coalesce(F.col("n_tri"), F.lit(0)).alias("n_triangles"),
    )
    return j.select(
        "*",
        F.when(
            F.col("degree") >= 2,
            (2 * F.col("n_triangles")).cast("double")
            / (F.col("degree") * (F.col("degree") - 1)),
        ).alias("clustering_coeff"),
    ).select("node", "degree", "n_triangles", "clustering_coeff")

# ==== from analytics_r3j ===========================================

def _assortativity_oracle() -> str:
    from ai_to_cvent_etl_spark.queries.graph import _EDGE_CTES

    return f"""
        WITH {_EDGE_CTES},
        adj AS MATERIALIZED (
            SELECT lo AS a, hi AS b FROM edges
            UNION ALL SELECT hi, lo FROM edges
        ),
        deg AS MATERIALIZED (
            SELECT a AS node, CAST(COUNT(*) AS BIGINT) AS d
            FROM adj GROUP BY a
        ),
        ed AS MATERIALIZED (
            SELECT da.d AS dx, db.d AS dy
            FROM adj j
            JOIN deg da ON da.node = j.a
            JOIN deg db ON db.node = j.b
        ),
        m AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(dx) AS BIGINT) AS sx,
                   CAST(SUM(dy) AS BIGINT) AS sy,
                   CAST(SUM(dx * dy) AS BIGINT) AS sxy,
                   CAST(SUM(dx * dx) AS BIGINT) AS sxx,
                   CAST(SUM(dy * dy) AS BIGINT) AS syy
            FROM ed
        )
        SELECT n,
               (CAST(n AS DOUBLE) * sxy
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / (sqrt(CAST(n AS DOUBLE) * sxx
                       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                  * sqrt(CAST(n AS DOUBLE) * syy
                         - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
                   AS assortativity
        FROM m
    """

@register(
    "q_graph_assortativity",
    oracle=_assortativity_oracle(),
    section="G9",
    doc="Degree assortativity of the shared trade graph: Pearson "
    "correlation of endpoint degrees over the DIRECTED edge incidence "
    "(both orientations — the standard Newman formulation), telling "
    "whether well-connected suppliers trade with each other or with the "
    "periphery. Uses A26's exact-integer-moment Pearson device; degrees "
    "are <= 8 by the shared bound so every sum is tiny BIGINT. One "
    "bounded moment aggregation; a 1-row output.",
)
def q_graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_to_cvent_etl_spark.queries.graph import (
        _mutual_affinity_edges,
    )

    edges = _mutual_affinity_edges(spark, sf_dir)
    adj = edges.select(F.col("lo").alias("a"), F.col("hi").alias("b")).unionByName(
        edges.select(F.col("hi").alias("a"), F.col("lo").alias("b"))
    )
    deg = adj.groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).alias("d")
    )
    da = deg.select(F.col("node").alias("a"), F.col("d").alias("dx"))
    db = deg.select(F.col("node").alias("b"), F.col("d").alias("dy"))
    ed = adj.join(da, "a").join(db, "b").select("dx", "dy")
    m = ed.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("dx").alias("sx"),
        F.sum("dy").alias("sy"),
        F.sum(F.col("dx") * F.col("dy")).alias("sxy"),
        F.sum(F.col("dx") * F.col("dx")).alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).alias("syy"),
    )
    nd = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    return m.select(
        "n",
        (
            (nd * F.col("sxy") - sx * sy)
            / (
                F.sqrt(nd * F.col("sxx") - sx * sx)
                * F.sqrt(nd * F.col("syy") - sy * sy)
            )
        ).alias("assortativity"),
    )

# ==== from analytics_r3l ===========================================

_LP_ROUNDS = 3

_LP_IT_DUCK = """
        l{i} AS (
            SELECT l.node,
                   least(l.label, min(nl.label)) AS label
            FROM l{j} l
            JOIN und u ON u.dst = l.node
            JOIN l{j} nl ON nl.node = u.src
            GROUP BY l.node, l.label
        )"""

@register(
    "q_graph_label_prop",
    oracle=(
        """
        WITH e AS (
            SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS a,
                            's' || CAST(l_suppkey AS VARCHAR) AS b
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        ),
        und AS (
            SELECT a AS src, b AS dst FROM e
            UNION ALL
            SELECT b AS src, a AS dst FROM e
        ),
        l0 AS (
            SELECT DISTINCT dst AS node, dst AS label FROM und
        ),"""
        + ",".join(
            _LP_IT_DUCK.format(i=i, j=i - 1) for i in range(1, _LP_ROUNDS + 1)
        )
        + f"""
        SELECT label AS community,
               CAST(COUNT(*) AS BIGINT) AS n_nodes
        FROM l{_LP_ROUNDS}
        GROUP BY label
    """
    ),
    section="G10",
    doc="Community detection by three SYNCHRONOUS min-label-propagation "
    "rounds over the customer–supplier trade graph (same edge builder as "
    "G1 PageRank): every node adopts the minimum of its own label and "
    "its neighbors' previous-round labels, then communities are the "
    "surviving labels with their sizes. Labels are node-id strings and "
    "min is lexicographic VARCHAR order — identical on both engines "
    "(probed), so the whole query is float-free. Per round: one "
    "edges⋈labels join co-keyed on node + one min-reduce — the Pregel "
    "message-passing shape; at 100 TB the edge list checkpoints once "
    "and all rounds reuse its partitioning. r7: rounds run on 8-byte "
    "lex11 BIGINT ids whose numeric order equals the strings' VARCHAR "
    "order (order-preserving encoding, property-tested), decoded back "
    "at output — identical result, fixed-width shuffle keys.",
)
def q_graph_label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r7: iterate on BIGINT lex11 node ids. The lex11 encoding is
    # ORDER-PRESERVING vs the oracle's byte-wise VARCHAR comparison
    # (tests/test_graph_int_ids.py), so numeric min over ids IS the
    # lexicographic min over 'c…'/'s…' strings and the propagated labels
    # decode to exactly the oracle's community representatives.
    from ai_to_cvent_etl_spark.queries.graph import trade_graph_edges_int

    und = trade_graph_edges_int(spark, sf_dir)
    labels = und.select(F.col("dst").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    for _ in range(_LP_ROUNDS):
        nbr = (
            und.join(labels.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min("label").alias("nbr_label"))
        )
        labels = (
            labels.join(nbr, "node")
            .select(
                "node", F.least("label", F.col("nbr_label")).alias("label")
            )
        )
    comm = labels.groupBy(F.col("label").alias("cid")).agg(
        F.count("*").alias("n_nodes")
    )
    # r8: row-local inverse decode instead of the nodes-dim join (see
    # _lex11_decode_expr — the dim cost a second orders⋈lineitem scan)
    return comm.select(
        F.expr(_lex11_decode_expr("cid")).alias("community"), "n_nodes"
    )

# ==== from analytics_r3v ===========================================

_HITS_ROUNDS = 2

_QS_DUCK = "CAST(SUM(CAST(floor(({x}) * 1e12) AS DECIMAL(38,0))) AS DOUBLE) / 1e12"

_HITS_IT_DUCK = """
        a{i}raw AS (
            SELECT e.s AS node, {qa} AS v
            FROM e JOIN h{j} h ON h.node = e.c GROUP BY e.s
        ),
        a{i}n AS (SELECT sqrt({qn}) AS nrm FROM a{i}raw),
        a{i} AS (SELECT node, v / nrm AS v FROM a{i}raw CROSS JOIN a{i}n),
        h{i}raw AS (
            SELECT e.c AS node, {qh} AS v
            FROM e JOIN a{i} a ON a.node = e.s GROUP BY e.c
        ),
        h{i}n AS (SELECT sqrt({qn2}) AS nrm FROM h{i}raw),
        h{i} AS (SELECT node, v / nrm AS v FROM h{i}raw CROSS JOIN h{i}n)""".format(
    i="{i}",
    j="{j}",
    qa=_QS_DUCK.format(x="h.v"),
    qh=_QS_DUCK.format(x="a.v"),
    qn=_QS_DUCK.format(x="v * v"),
    qn2=_QS_DUCK.format(x="v * v"),
)

@register(
    "q_graph_hits",
    oracle=(
        """
        WITH e AS (
            SELECT DISTINCT o_custkey AS c, l_suppkey AS s
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        ),
        h0 AS (
            SELECT DISTINCT c AS node, CAST(1.0 AS DOUBLE) AS v FROM e
        ),"""
        + ",".join(
            _HITS_IT_DUCK.format(i=i, j=i - 1)
            for i in range(1, _HITS_ROUNDS + 1)
        )
        + f"""
        SELECT node AS suppkey, ROUND(v, 6) AS authority
        FROM a{_HITS_ROUNDS}
    """
    ),
    section="G11",
    doc="HITS hubs & authorities on the DIRECTED customer→supplier "
    "trade graph (customers are hubs, suppliers authorities): "
    f"{_HITS_ROUNDS} synchronized rounds of authority = Aᵀ·hub and "
    "hub = A·authority, each L2-normalized — every reduction and norm "
    "through the floor(x·1e12) DECIMAL quantization (G1's device), so "
    "rounds are bit-identical cross-engine; supplier authority scores "
    "out, rounded 6dp. The bipartite companion to G1 PageRank: "
    "PageRank ranks by random-surfer mass, HITS separates 'buys "
    "broadly' from 'supplies the important buyers'. Pregel shape: one "
    "edges⋈scores join + keyed reduce per side per round.",
)
def q_graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    e = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    # HITS alternates join keys every half-round (edges join scores on c,
    # then on s). Checkpoint TWO pre-partitioned copies so each half-round
    # joins an already-co-partitioned edge side instead of re-shuffling the
    # edge list twice per round — the Pregel partition-reuse discipline.
    e_by_c = e.repartition("c").localCheckpoint(eager=False)
    e_by_s = e.repartition("s").localCheckpoint(eager=False)

    def qsum(c):
        return (
            F.sum(F.floor(c * 1e12).cast("decimal(38,0)")).cast("double")
            / 1e12
        )

    h = e.select("c").distinct().select(
        F.col("c").alias("node"), F.lit(1.0).alias("v")
    )
    a = None
    for _ in range(_HITS_ROUNDS):
        araw = (
            e_by_c.join(h.withColumnRenamed("node", "c"), "c")
            .groupBy(F.col("s").alias("node"))
            .agg(qsum(F.col("v")).alias("v"))
        )
        an = araw.agg(F.sqrt(qsum(F.col("v") * F.col("v"))).alias("nrm"))
        a = araw.crossJoin(F.broadcast(an)).select(
            "node", (F.col("v") / F.col("nrm")).alias("v")
        )
        hraw = (
            e_by_s.join(a.withColumnRenamed("node", "s"), "s")
            .groupBy(F.col("c").alias("node"))
            .agg(qsum(F.col("v")).alias("v"))
        )
        hn = hraw.agg(F.sqrt(qsum(F.col("v") * F.col("v"))).alias("nrm"))
        h = hraw.crossJoin(F.broadcast(hn)).select(
            "node", (F.col("v") / F.col("nrm")).alias("v")
        )
    return a.select(
        F.col("node").alias("suppkey"), F.round("v", 6).alias("authority")
    )


# ==== forty-eighth wave (r4) ==================================================


@register(
    "q_graph_modularity",
    oracle=f"""
        WITH {_EDGE_CTES},
        deg AS (
            SELECT node, CAST(COUNT(*) AS BIGINT) AS d
            FROM (SELECT lo AS node FROM edges
                  UNION ALL SELECT hi AS node FROM edges)
            GROUP BY node
        ),
        nd AS (
            SELECT s_nationkey AS nk, CAST(COUNT(*) AS BIGINT) AS n_nodes,
                   CAST(SUM(d) AS BIGINT) AS d_sum
            FROM deg JOIN supplier ON node = s_suppkey
            GROUP BY 1
        ),
        ie AS (
            SELECT sa.s_nationkey AS nk, CAST(COUNT(*) AS BIGINT) AS l_intra
            FROM edges e
            JOIN supplier sa ON e.lo = sa.s_suppkey
            JOIN supplier sb ON e.hi = sb.s_suppkey
            WHERE sa.s_nationkey = sb.s_nationkey
            GROUP BY 1
        ),
        mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m_edges FROM edges)
        SELECT n_name AS nation, n_nodes,
               CAST(COALESCE(l_intra, 0) AS BIGINT) AS l_intra, d_sum, m_edges,
               ROUND((4 * m_edges * COALESCE(l_intra, 0) - d_sum * d_sum)
                     / (4.0 * m_edges * m_edges), 6) AS q_contrib
        FROM nd LEFT JOIN ie USING (nk)
        CROSS JOIN mm
        JOIN nation ON nk = n_nationkey
    """,
    section="G12",
    doc="Newman modularity of the nation partition over the mutual-affinity "
    "supplier graph (G2/G4/G5/G6's shared sparsified edge list): per "
    "community c, Q_c = L_c/m − (d_c/2m)², emitted per nation with the "
    "exact integer ingredients (intra-edge count L_c, degree sum d_c, "
    "m) so Q = Σ Q_c is reconstructible. The whole statistic is computed "
    "as ONE integer numerator (4m·L_c − d_c²; BIGINT — d_sum ≤ 8·|V| by "
    "the top-k sparsification, so the square is ≤ ~1e9 at sf1) over one "
    "exact denominator with a single final double division + ROUND 6 — "
    "no float accumulation anywhere (§5.3 rule 10 by construction). "
    "Scale: the edge build is the memoized shared one; everything after "
    "is two broadcast dimension joins and keyed integer aggs over the "
    "EDGE list (already sparsified to ≤ 8·|V| rows) — map-side "
    "combinable, no payload shuffle, skew-free (≤ 25 communities only "
    "in the final agg, but partial aggregation collapses upstream).",
)
def q_graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _mutual_affinity_edges(spark, sf_dir)
    sup = F.broadcast(
        load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    )
    nat = F.broadcast(
        load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    )
    e2 = (
        edges.join(
            sup.select(
                F.col("s_suppkey").alias("lo"), F.col("s_nationkey").alias("nlo")
            ),
            "lo",
        )
        .join(
            sup.select(
                F.col("s_suppkey").alias("hi"), F.col("s_nationkey").alias("nhi")
            ),
            "hi",
        )
    )
    mm = e2.agg(F.count(F.lit(1)).cast("bigint").alias("m_edges"))
    deg = (
        edges.select(F.col("lo").alias("node"))
        .unionAll(edges.select(F.col("hi").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    nd = (
        deg.join(sup, deg.node == sup.s_suppkey)
        .groupBy(F.col("s_nationkey").alias("nk"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
            F.sum("d").cast("bigint").alias("d_sum"),
        )
    )
    ie = (
        e2.filter(F.col("nlo") == F.col("nhi"))
        .groupBy(F.col("nlo").alias("nk"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("l_intra"))
    )
    return (
        nd.join(ie, "nk", "left")
        .withColumn("l_intra", F.coalesce("l_intra", F.lit(0)).cast("bigint"))
        .crossJoin(F.broadcast(mm))
        .join(nat, F.col("nk") == F.col("n_nationkey"))
        .select(
            F.col("n_name").alias("nation"),
            "n_nodes",
            "l_intra",
            "d_sum",
            "m_edges",
            F.round(
                (
                    4 * F.col("m_edges") * F.col("l_intra")
                    - F.col("d_sum") * F.col("d_sum")
                )
                / (4.0 * F.col("m_edges") * F.col("m_edges")),
                6,
            ).alias("q_contrib"),
        )
    )


_WALK_STEPS = 3


def _walk_oracle() -> str:
    ctes = [
        f"""WITH {_EDGE_CTES},
        dedges AS (
            SELECT lo AS src, hi AS dst FROM edges
            UNION ALL SELECT hi AS src, lo AS dst FROM edges
        ),
        w0 AS (SELECT DISTINCT src AS start, src AS cur FROM dedges)"""
    ]
    prev = "w0"
    cols = []
    for t in range(1, _WALK_STEPS + 1):
        carry = ", ".join(["start"] + cols) if cols else "start"
        ctes.append(
            f"""w{t} AS (
            SELECT {carry},
                   min_by(dst, substr(md5(CAST(cur AS VARCHAR) || ':'
                       || CAST(dst AS VARCHAR) || ':{t}'), 1, 16)) AS n{t}
            FROM {prev} JOIN dedges ON cur = src
            GROUP BY {carry}, cur
        ),
        c{t} AS (SELECT {carry}, n{t}, n{t} AS cur FROM w{t})"""
        )
        cols.append(f"n{t}")
        prev = f"c{t}"
    sel = ", ".join(["start"] + cols)
    return ",\n        ".join(ctes) + f"\n        SELECT {sel} FROM {prev}"


@register(
    "q_graph_random_walk",
    oracle=_walk_oracle(),
    section="G13",
    doc=f"Deterministic 'random' walks over the mutual-affinity supplier "
    f"graph: one {_WALK_STEPS}-step walk per start node, where step t "
    "moves from u to the neighbor v minimizing "
    "md5(u:v:t) — a hash argmin replaces the RNG, making the walk "
    "corpus bit-reproducible (the §5.3 seedless-determinism device) "
    "while still visiting 'uniformly random' neighbors in "
    "distribution across steps. This is the DeepWalk/node2vec CORPUS "
    "GENERATION stage: the emitted (start, n1..n3) sequences are the "
    "sentences a skip-gram embedding trains on — the graph-to-"
    "training-data bridge for an LLM-era pipeline. min_by on the "
    "16-hex-char key (ASCII ordering identical cross-engine; md5 "
    "collisions at 64 bits are negligible and would need identical "
    "u:v:t strings). Scale: each step is ONE equi-join of the "
    "frontier (|V| rows, constant width) against the edge list "
    "followed by a map-side-combinable argmin agg — L steps = L "
    "bounded shuffles, the standard distributed-walk shape; the "
    "frontier never grows (one walk per start; k walks per start "
    "would just widen the key).",
)
def q_graph_random_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _mutual_affinity_edges(spark, sf_dir)
    dedges = edges.select(
        F.col("lo").alias("src"), F.col("hi").alias("dst")
    ).unionAll(edges.select(F.col("hi").alias("src"), F.col("lo").alias("dst")))
    cur = dedges.select(F.col("src").alias("start")).distinct().withColumn(
        "cur", F.col("start")
    )
    cols: list = []
    for t in range(1, _WALK_STEPS + 1):
        h = F.expr(
            f"substr(md5(concat(cast(cur as string), ':', "
            f"cast(dst as string), ':{t}')), 1, 16)"
        )
        carry = ["start"] + cols
        stepped = (
            cur.join(dedges, F.col("cur") == F.col("src"))
            .withColumn("h", h)
            .groupBy(*(carry + ["cur"]))
            .agg(F.expr("min_by(dst, h)").alias(f"n{t}"))
            .drop("cur")
            .withColumn("cur", F.col(f"n{t}"))
        )
        cols.append(f"n{t}")
        cur = stepped
    return cur.select(*(["start"] + cols))


_PPR_ROUNDS = 3
_PPR_SEED_MOD = 5  # seeds = supplier nodes with s_suppkey % 5 == 0


@register(
    "q_graph_ppr",
    oracle=f"""
        WITH e AS (
            SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS a,
                            's' || CAST(l_suppkey AS VARCHAR) AS b
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        ),
        und AS (
            SELECT a AS src, b AS dst FROM e
            UNION ALL SELECT b AS src, a AS dst FROM e
        ),
        deg AS (
            SELECT src, CAST(COUNT(*) AS DOUBLE) AS deg FROM und GROUP BY src
        ),
        seeds AS (
            SELECT DISTINCT 's' || CAST(s_suppkey AS VARCHAR) AS node
            FROM supplier
            WHERE s_suppkey % {_PPR_SEED_MOD} = 0
              AND 's' || CAST(s_suppkey AS VARCHAR) IN (SELECT src FROM deg)
        ),
        ns AS (SELECT CAST(COUNT(*) AS DOUBLE) AS ns FROM seeds),
        p0 AS (
            SELECT node, 1.0 / ns.ns AS pr FROM seeds CROSS JOIN ns
        ),
        {', '.join(
            f'''q{t} AS (
            SELECT und.dst,
                   CAST(SUM(CAST(FLOOR(p{t}.pr / deg.deg * 1e12)
                                 AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s
            FROM p{t} JOIN deg ON p{t}.node = deg.src
            JOIN und ON und.src = p{t}.node
            GROUP BY und.dst
        ),
        p{t + 1} AS (
            SELECT COALESCE(sd.node, q{t}.dst) AS node,
                   COALESCE(CASE WHEN sd.node IS NOT NULL
                                 THEN 0.15 / (SELECT ns FROM ns) END, 0.0)
                   + 0.85 * COALESCE(CAST(q{t}.s AS DOUBLE) / 1e12, 0.0)
                       AS pr
            FROM seeds sd FULL OUTER JOIN q{t} ON sd.node = q{t}.dst
        )'''
            for t in range(_PPR_ROUNDS)
        )}
        SELECT node, ROUND(pr, 9) AS ppr
        FROM p{_PPR_ROUNDS}
        WHERE pr > 1e-9
    """,
    section="G15",
    doc=f"Personalized PageRank from a seed set (every {_PPR_SEED_MOD}th "
    "supplier node): the teleport mass returns to "
    "the SEEDS instead of everywhere, so rank concentrates in the "
    "seeds' neighborhood — the recommendation/expansion variant that "
    "production graph systems actually serve (global G1 ranks "
    "celebrities; PPR answers 'similar to THESE'). Same relational "
    "iteration device as G1: per-round contributions quantized at "
    "1e12 into DECIMAL(38,0) sums (exact, order-free), "
    f"{_PPR_ROUNDS} unrolled rounds, FULL OUTER join of teleport and "
    "propagation terms (a seed with no inbound mass keeps its "
    "teleport share; untouched nodes never materialize — the frontier "
    "GROWS from |S| instead of starting at |V|, which is the PPR "
    "scale win: rounds touch only the expanding neighborhood). "
    "Sub-1e-9 tail pruned for a bounded output.",
)
def q_graph_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    und = trade_graph_edges(spark, sf_dir)
    deg = (
        und.groupBy("src")
        .agg(F.count(F.lit(1)).cast("double").alias("deg"))
        .localCheckpoint(eager=False)
    )
    sup = load_table(spark, sf_dir, "supplier")
    seeds = (
        sup.filter(F.col("s_suppkey") % _PPR_SEED_MOD == 0)
        .select(
            F.concat(F.lit("s"), F.col("s_suppkey").cast("string")).alias(
                "node"
            )
        )
        .join(deg.select(F.col("src").alias("node")), "node", "left_semi")
        .distinct()
    )
    ns = seeds.agg(F.count(F.lit(1)).cast("double").alias("ns"))
    pr = seeds.crossJoin(F.broadcast(ns)).select(
        "node", (F.lit(1.0) / F.col("ns")).alias("pr")
    )
    for _ in range(_PPR_ROUNDS):
        prd = pr.join(deg, pr.node == deg.src).select(
            F.col("src"),
            F.expr(
                "cast(floor(pr / deg * cast(1e12 as double)) as decimal(38,0))"
            ).alias("q"),
        )
        contrib = (
            und.join(prd, "src").groupBy("dst").agg(F.sum("q").alias("s"))
        )
        pr = (
            seeds.withColumn("is_seed", F.lit(True))
            .join(contrib, seeds.node == contrib.dst, "full")
            .crossJoin(F.broadcast(ns))
            .select(
                F.coalesce(F.col("node"), F.col("dst")).alias("node"),
                (
                    F.coalesce(
                        F.when(
                            F.col("is_seed"), F.lit(0.15) / F.col("ns")
                        ),
                        F.lit(0.0),
                    )
                    + F.lit(0.85)
                    * F.coalesce(
                        F.col("s").cast("double") / F.lit(1e12), F.lit(0.0)
                    )
                ).alias("pr"),
            )
        )
    return pr.filter(F.col("pr") > 1e-9).select(
        "node", F.round("pr", 9).alias("ppr")
    )


@register(
    "q_graph_reciprocity",
    oracle="""
        WITH seq AS (
            SELECT l_orderkey,
                   l_partkey AS src,
                   lead(l_partkey) OVER (
                       PARTITION BY l_orderkey
                       ORDER BY l_linenumber, l_partkey
                   ) AS dst
            FROM lineitem
        ),
        edges AS (
            SELECT DISTINCT src, dst FROM seq
            WHERE dst IS NOT NULL AND dst <> src
        ),
        recip AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_reciprocal
            FROM edges e JOIN edges r
              ON e.src = r.dst AND e.dst = r.src
        )
        SELECT t.n_edges, recip.n_reciprocal,
               ROUND(CAST(recip.n_reciprocal AS DOUBLE) / t.n_edges, 4)
                   AS reciprocity
        FROM (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM edges) t
        CROSS JOIN recip
    """,
    section="G16",
    doc="Directed-graph reciprocity over the part-sequence graph: within "
    "each order, consecutive line numbers induce a directed edge "
    "part_i -> part_{i+1}; reciprocity = fraction of distinct directed "
    "edges whose reverse edge also exists — the standard directed-"
    "network symmetry statistic (mutual-link density), complementing "
    "the undirected G-family (triangles, k-core operate on "
    "symmetrized edges). The window ORDER BY is (linenumber, partkey) "
    "— (orderkey, linenumber) alone is NOT unique in the fixture, and "
    "an ambiguous sort would make the edge set run-dependent (§5.3); "
    "adding partkey totalizes the projected part SEQUENCE (remaining "
    "ties are identical parts, which cannot reorder it). Edge "
    "derivation is one per-order window "
    "(orders are small groups, max ~13 lines), dedup is one 16-byte-"
    "key shuffle, and the reverse-edge check is a self-equi-join on "
    "the swapped key — hash-partitioned on (src,dst) vs (dst,src), "
    "both sides shuffle once; no payload moves. At 100 TB the edge "
    "list is a tiny projection of the fact table and the join key is "
    "two ints — this is shuffle-bound on edge count only.",
)
def q_graph_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey").orderBy(
        "l_linenumber", "l_partkey"
    )
    seq = li.select(
        "l_orderkey",
        F.col("l_partkey").alias("src"),
        F.lead("l_partkey").over(w).alias("dst"),
    )
    edges = (
        seq.where(F.col("dst").isNotNull() & (F.col("dst") != F.col("src")))
        .select("src", "dst")
        .distinct()
    )
    rev = edges.select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    )
    n_recip = edges.join(rev, ["src", "dst"]).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_reciprocal")
    )
    n_edges = edges.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_edges")
    )
    return n_edges.crossJoin(n_recip).select(
        "n_edges",
        "n_reciprocal",
        F.round(
            F.col("n_reciprocal").cast("double") / F.col("n_edges"), 4
        ).alias("reciprocity"),
    )


@register(
    "q_graph_harmonic",
    oracle=f"""
        WITH {_EDGE_CTES},
        de AS MATERIALIZED (
            SELECT lo AS src, hi AS dst FROM edges
            UNION ALL SELECT hi AS src, lo AS dst FROM edges
        ),
        d1 AS MATERIALIZED (SELECT DISTINCT src AS a, dst AS b FROM de),
        d2 AS MATERIALIZED (
            SELECT DISTINCT p.a, q.dst AS b
            FROM d1 p JOIN de q ON q.src = p.b
            WHERE q.dst <> p.a
              AND NOT EXISTS (SELECT 1 FROM d1 x
                              WHERE x.a = p.a AND x.b = q.dst)
        ),
        d3 AS MATERIALIZED (
            SELECT DISTINCT p.a, q.dst AS b
            FROM d2 p JOIN de q ON q.src = p.b
            WHERE q.dst <> p.a
              AND NOT EXISTS (SELECT 1 FROM d1 x
                              WHERE x.a = p.a AND x.b = q.dst)
              AND NOT EXISTS (SELECT 1 FROM d2 x
                              WHERE x.a = p.a AND x.b = q.dst)
        ),
        counts AS (
            SELECT a,
                   CAST(SUM(CASE WHEN d = 1 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n1,
                   CAST(SUM(CASE WHEN d = 2 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n2,
                   CAST(SUM(CASE WHEN d = 3 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n3
            FROM (
                SELECT a, b, 1 AS d FROM d1
                UNION ALL SELECT a, b, 2 FROM d2
                UNION ALL SELECT a, b, 3 FROM d3
            )
            GROUP BY a
        )
        SELECT a AS suppkey, n1, n2, n3,
               ROUND((6 * n1 + 3 * n2 + 2 * n3) / 6.0, 4) AS harmonic
        FROM counts
    """,
    section="G17",
    doc="3-hop-bounded harmonic centrality over the mutual trade-"
    "affinity graph: H(a) = sum over reachable b of 1/dist(a,b), "
    "truncated at 3 hops = n1 + n2/2 + n3/3 — the centrality that "
    "stays defined on disconnected graphs (closeness is not), "
    "k-bounded exactly the way a 1000-executor run would bound it "
    "(frontier joins explode past ~4 hops; 3 hops is the standard "
    "ego-network radius). Exactness: the harmonic sum is the exact "
    "rational (6*n1+3*n2+2*n3)/6 — pure integer counts, one final "
    "division. Frontier growth is bounded by construction: mutual-"
    "top-8 degree cap means |3-hop| <= 8+64+512 per node, so the "
    "distance-layer joins are anti-join-pruned frontier expansions "
    "(G6's BFS device generalized to all sources at once), never "
    "an all-pairs product. Three self-joins + one keyed count.",
)
def q_graph_harmonic(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _mutual_affinity_edges(spark, sf_dir)
    de = edges.select(
        F.col("lo").alias("src"), F.col("hi").alias("dst")
    ).unionByName(
        edges.select(F.col("hi").alias("src"), F.col("lo").alias("dst"))
    )
    d1 = de.select(
        F.col("src").alias("a"), F.col("dst").alias("b")
    ).distinct()
    hop = de.select(F.col("src").alias("b"), F.col("dst").alias("nb"))
    d2 = (
        d1.join(hop, "b")
        .where(F.col("nb") != F.col("a"))
        .select("a", F.col("nb").alias("b"))
        .distinct()
        .join(d1, ["a", "b"], "left_anti")
    )
    d3 = (
        d2.join(hop, "b")
        .where(F.col("nb") != F.col("a"))
        .select("a", F.col("nb").alias("b"))
        .distinct()
        .join(d1, ["a", "b"], "left_anti")
        .join(d2, ["a", "b"], "left_anti")
    )
    layered = (
        d1.withColumn("d", F.lit(1))
        .unionByName(d2.withColumn("d", F.lit(2)))
        .unionByName(d3.withColumn("d", F.lit(3)))
    )
    counts = layered.groupBy("a").agg(
        *[
            F.sum(F.when(F.col("d") == k, 1).otherwise(0))
            .cast("bigint")
            .alias(f"n{k}")
            for k in (1, 2, 3)
        ]
    )
    return counts.select(
        F.col("a").alias("suppkey"),
        "n1",
        "n2",
        "n3",
        F.round(
            (6 * F.col("n1") + 3 * F.col("n2") + 2 * F.col("n3")) / 6.0, 4
        ).alias("harmonic"),
    )


_RC_K = 5   # rich-club degree threshold


@register(
    "q_graph_rich_club",
    oracle=f"""
        WITH {_EDGE_CTES},
        deg AS MATERIALIZED (
            SELECT node, CAST(COUNT(*) AS BIGINT) AS d
            FROM (SELECT lo AS node FROM edges
                  UNION ALL SELECT hi AS node FROM edges)
            GROUP BY node
        ),
        rich AS MATERIALIZED (
            SELECT node FROM deg WHERE d > {_RC_K}
        ),
        re AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS e_rich
            FROM edges e
            WHERE EXISTS (SELECT 1 FROM rich r WHERE r.node = e.lo)
              AND EXISTS (SELECT 1 FROM rich r WHERE r.node = e.hi)
        ),
        nr AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rich FROM rich)
        SELECT {_RC_K} AS k, n_rich, e_rich,
               CASE WHEN n_rich >= 2
                    THEN ROUND(2.0 * e_rich / (CAST(n_rich AS DOUBLE)
                                               * (n_rich - 1)), 4)
               END AS phi
        FROM nr CROSS JOIN re
    """,
    section="G18",
    doc="Rich-club coefficient phi(k): edge density among nodes of "
    "degree > 5 in the mutual trade-affinity graph — do the best-"
    "connected suppliers preferentially trade with EACH OTHER "
    "(core-forming market) or fan out to the periphery (hub-and-"
    "spoke)? The structural readout behind interconnection risk and "
    "hub-concentration audits, complementing G9's assortativity "
    "(correlation form) with the density form. Exact integer "
    "edge/degree counts; phi = one rational, NULL-guarded below 2 "
    "rich nodes. Scale: degree table + one semi-join-filtered edge "
    "count over the already-sparsified graph — both bounded by the "
    "top-8 degree cap.",
)
def q_graph_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _mutual_affinity_edges(spark, sf_dir)
    deg = (
        edges.select(F.col("lo").alias("node"))
        .unionByName(edges.select(F.col("hi").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    rich = deg.where(F.col("d") > _RC_K).select("node")
    e_rich = (
        edges.join(
            rich.withColumnRenamed("node", "lo"), "lo", "left_semi"
        )
        .join(rich.withColumnRenamed("node", "hi"), "hi", "left_semi")
        .agg(F.count(F.lit(1)).cast("bigint").alias("e_rich"))
    )
    nr = rich.agg(F.count(F.lit(1)).cast("bigint").alias("n_rich"))
    return nr.crossJoin(e_rich).select(
        F.lit(_RC_K).cast("int").alias("k"),
        "n_rich",
        "e_rich",
        F.when(
            F.col("n_rich") >= 2,
            F.round(
                2.0 * F.col("e_rich")
                / (F.col("n_rich").cast("double") * (F.col("n_rich") - 1)),
                4,
            ),
        ).alias("phi"),
    )


@register(
    "q_graph_scc",
    oracle="""
        WITH flow AS (
            SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
                   CAST(SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2))
                                 * 100 AS BIGINT)) AS BIGINT) AS cents
            FROM orders o
            JOIN lineitem l ON o.o_orderkey = l.l_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            WHERE c.c_nationkey <> s.s_nationkey
            GROUP BY 1, 2
        ),
        tot AS (
            SELECT CAST(SUM(cents) AS BIGINT) AS t,
                   CAST(COUNT(*) AS BIGINT) AS np
            FROM flow
        ),
        e AS (
            SELECT src, dst FROM flow CROSS JOIN tot
            WHERE cents * np > t
        ),
        nodes AS (
            SELECT src AS v FROM e UNION SELECT dst FROM e
        ),
        reach AS (
            WITH RECURSIVE r(src, dst) AS (
                SELECT v, v FROM nodes
                UNION
                SELECT r.src, e.dst FROM r JOIN e ON r.dst = e.src
            ) SELECT src, dst FROM r
        ),
        scc AS (
            SELECT f.src AS v, MIN(f.dst) AS scc_id
            FROM reach f JOIN reach b
              ON f.src = b.dst AND f.dst = b.src
            GROUP BY f.src
        )
        SELECT CAST(scc_id AS BIGINT) AS scc_id,
               CAST(COUNT(*) AS BIGINT) AS scc_size
        FROM scc GROUP BY scc_id
    """,
    section="G19",
    doc="Strongly connected components of the DIRECTED nation-level "
    "trade-flow graph (edge c_nation -> s_nation kept when its exact "
    "cent weight is strictly above the mean pair weight — the "
    "integer comparison cents*n_pairs > total keeps the density "
    "constant across SFs with no float threshold). SCC = the "
    "mutual-reachability quotient no undirected device (D5/G10 "
    "components) can see: a component here is a set of economies "
    "that all buy from each other transitively — cycle structure, "
    "not mere contact. Implementation: 5 unrolled pointer-doubling "
    "closure rounds (paths to 2^5 = 32 > 25 nations) on the "
    "collapsed 25-node edge table; SCC id = MIN over the "
    "forward-AND-backward reachable set (exact integer argmin). "
    "Scale: the fact join collapses to the NATION grain first "
    "(<= 625 edges at any SF); closure rounds touch only that "
    "domain-bounded table — same contract as G17's bounded frontier.",
)
def q_graph_scc(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cu = load_table(spark, sf_dir, "customer")
    su = load_table(spark, sf_dir, "supplier")
    cents = F.expr(
        "cast(cast(l_extendedprice as decimal(18,2)) * 100 as bigint)"
    )
    flow = (
        od.join(li, od.o_orderkey == li.l_orderkey)
        .join(cu, od.o_custkey == cu.c_custkey)
        .join(su, li.l_suppkey == su.s_suppkey)
        .where(F.col("c_nationkey") != F.col("s_nationkey"))
        .groupBy(
            F.col("c_nationkey").alias("src"),
            F.col("s_nationkey").alias("dst"),
        )
        .agg(F.sum(cents).cast("bigint").alias("cents"))
    )
    tot = flow.agg(
        F.sum("cents").cast("bigint").alias("t"),
        F.count(F.lit(1)).cast("bigint").alias("np"),
    )
    e = (
        flow.crossJoin(F.broadcast(tot))
        .where(F.col("cents") * F.col("np") > F.col("t"))
        .select("src", "dst")
    )
    nodes = (
        e.select(F.col("src").alias("v"))
        .unionByName(e.select(F.col("dst").alias("v")))
        .distinct()
    )
    # pointer-doubling closure: r <- r U (r o r), 5 rounds covers 2^5 hops.
    # The nation-grain table is <= 625 rows, so each round runs single-
    # partition; localCheckpoint per round stops the doubled self-reference
    # from exponentiating the plan (the D5/G1 iteration device — without it
    # round k's plan embeds 2^k copies of round 0 and planning, not data,
    # dominates).
    r = (
        nodes.select(F.col("v").alias("src"), F.col("v").alias("dst"))
        .unionByName(e)
        .distinct()
        .coalesce(1)
        .localCheckpoint(eager=True)
    )
    for _ in range(5):
        step = (
            r.alias("a")
            .join(
                r.alias("b"),
                F.col("a.dst") == F.col("b.src"),
            )
            .select(F.col("a.src").alias("src"), F.col("b.dst").alias("dst"))
        )
        r = (
            r.unionByName(step)
            .distinct()
            .coalesce(1)
            .localCheckpoint(eager=True)
        )
    fwd = r
    bwd = r.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    scc = (
        fwd.intersect(bwd)
        .groupBy(F.col("src").alias("v"))
        .agg(F.min("dst").alias("scc_id"))
    )
    return scc.groupBy(
        F.col("scc_id").cast("bigint").alias("scc_id")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("scc_size"))


@register(
    "q_graph_edge_support",
    oracle=f"""
        WITH {_EDGE_CTES},
        tri AS (
            SELECT e1.lo AS a, e1.hi AS b, e2.hi AS c
            FROM edges e1
            JOIN edges e2 ON e2.lo = e1.hi
            JOIN edges e3 ON e3.lo = e1.lo AND e3.hi = e2.hi
        ),
        esup AS (
            SELECT e.lo, e.hi,
                   CAST(COUNT(t.lo) AS BIGINT) AS support
            FROM edges e
            LEFT JOIN (
                SELECT a AS lo, b AS hi FROM tri
                UNION ALL SELECT b, c FROM tri
                UNION ALL SELECT a, c FROM tri
            ) t ON t.lo = e.lo AND t.hi = e.hi
            GROUP BY e.lo, e.hi
        )
        SELECT support,
               CAST(COUNT(*) AS BIGINT) AS n_edges,
               CAST(SUM(CASE WHEN support >= 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS in_3_truss,
               CAST(SUM(CASE WHEN support >= 2 THEN 1 ELSE 0 END)
                    AS BIGINT) AS in_4_truss_candidates
        FROM esup GROUP BY support
    """,
    section="G21",
    doc="Edge triangle-SUPPORT histogram of the mutual top-8 supplier "
    "graph: for every edge, the number of triangles it participates "
    "in, plus per-bucket counts of edges meeting the k-truss entry "
    "thresholds (support >= k-2 for k=3,4) — the cohesion profile "
    "that sits between G2's per-NODE triangle counts and G6's "
    "k-core: node-level counts can't see that a high-triangle node's "
    "edges split into one dense pocket plus bridges, and the support "
    "histogram is what chooses k before a full truss decomposition "
    "(the histogram's first peel round; full peeling iterates the "
    "same support join to a fixpoint — G19's checkpointed-rounds "
    "device when needed). Same bounded wedge join as G2 (degree <= 8 "
    "by construction); each triangle contributes support to its "
    "three edges via the lo<hi-ordered union. All-integer, exact. "
    "Scale: wedge join bounded at 64 candidates/node at any SF.",
)
def q_graph_edge_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _mutual_affinity_edges(spark, sf_dir)
    e1 = edges.select(F.col("lo").alias("a"), F.col("hi").alias("b"))
    e2 = edges.select(F.col("lo").alias("b2"), F.col("hi").alias("c"))
    e3 = edges.select(F.col("lo").alias("a3"), F.col("hi").alias("c3"))
    tri = (
        e1.join(e2, F.col("b") == F.col("b2"))
        .join(
            e3,
            (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3")),
        )
        .select("a", "b", "c")
    )
    tedges = (
        tri.select(F.col("a").alias("tlo"), F.col("b").alias("thi"))
        .unionAll(tri.select(F.col("b").alias("tlo"), F.col("c").alias("thi")))
        .unionAll(tri.select(F.col("a").alias("tlo"), F.col("c").alias("thi")))
    )
    esup = (
        edges.join(
            tedges,
            (F.col("lo") == F.col("tlo")) & (F.col("hi") == F.col("thi")),
            "left",
        )
        .groupBy("lo", "hi")
        .agg(F.count(F.col("tlo")).cast("bigint").alias("support"))
    )
    return esup.groupBy("support").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_edges"),
        F.sum(F.when(F.col("support") >= 1, 1).otherwise(0))
        .cast("bigint")
        .alias("in_3_truss"),
        F.sum(F.when(F.col("support") >= 2, 1).otherwise(0))
        .cast("bigint")
        .alias("in_4_truss_candidates"),
    )


@register(
    "q_graph_avg_neighbor_degree",
    oracle=f"""
        WITH {_EDGE_CTES},
        und AS (
            SELECT lo AS src, hi AS dst FROM edges
            UNION ALL
            SELECT hi, lo FROM edges
        ),
        deg AS (
            SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS d
            FROM und GROUP BY src
        ),
        nbr AS (
            SELECT u.src, d2.d AS nbr_d
            FROM und u JOIN deg d2 ON d2.node = u.dst
        )
        SELECT d.d AS degree,
               CAST(COUNT(DISTINCT d.node) AS BIGINT) AS n_nodes,
               CAST(SUM(n.nbr_d) AS BIGINT) AS sum_nbr_degree,
               ROUND(CAST(SUM(n.nbr_d) AS DOUBLE) / COUNT(*), 4)
                   AS avg_neighbor_degree
        FROM deg d JOIN nbr n ON n.src = d.node
        GROUP BY d.d
    """,
    section="G22",
    doc="Average-neighbor-degree curve of the mutual top-8 supplier "
    "graph: for each degree class, the mean degree of its members' "
    "neighbors — the CURVE whose slope G15's assortativity "
    "coefficient collapses to a scalar (the Lorenz-vs-Gini "
    "pattern): a falling curve (high-degree nodes attached to "
    "low-degree ones) is the disassortative hub-and-spoke shape "
    "that makes degree-targeted interventions effective, and the "
    "curve localizes WHERE the mixing changes, which the scalar "
    "cannot. Degrees and neighbor-degree sums are exact integers "
    "over the symmetrized edge list; one division per degree "
    "class. Scale: two 16-byte-key joins on the degree-bounded "
    "(<= 8) edge list.",
)
def q_graph_avg_neighbor_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _mutual_affinity_edges(spark, sf_dir)
    und = edges.select(
        F.col("lo").alias("src"), F.col("hi").alias("dst")
    ).unionAll(edges.select(F.col("hi").alias("src"), F.col("lo").alias("dst")))
    deg = und.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("d")
    )
    nbr = und.join(
        deg.select(F.col("node").alias("dst"), F.col("d").alias("nbr_d")),
        "dst",
    ).select("src", "nbr_d")
    return (
        deg.join(nbr, deg.node == nbr.src)
        .groupBy(F.col("d").alias("degree"))
        .agg(
            F.countDistinct("node").cast("bigint").alias("n_nodes"),
            F.sum("nbr_d").cast("bigint").alias("sum_nbr_degree"),
            F.round(
                F.sum("nbr_d").cast("double") / F.count(F.lit(1)), 4
            ).alias("avg_neighbor_degree"),
        )
    )


@register(
    "q_graph_spectral_radius",
    oracle=f"""
        WITH {_EDGE_CTES},
        und AS (
            SELECT lo AS src, hi AS dst FROM edges
            UNION ALL
            SELECT hi AS src, lo AS dst FROM edges
        ),
        deg AS (
            SELECT src, CAST(COUNT(*) AS BIGINT) AS d
            FROM und GROUP BY src
        ),
        num AS (
            SELECT CAST(SUM(da.d * db.d) AS BIGINT) AS x1_a_x1
            FROM und u
            JOIN deg da ON u.src = da.src
            JOIN deg db ON u.dst = db.src
        ),
        den AS (
            SELECT CAST(SUM(d * d) AS BIGINT) AS x1_x1,
                   CAST(COUNT(*) AS BIGINT) AS n_nodes,
                   CAST(SUM(d) AS BIGINT) / 2 AS n_edges
            FROM deg
        )
        SELECT den.n_nodes,
               CAST(den.n_edges AS BIGINT) AS n_edges,
               ROUND(CAST(num.x1_a_x1 AS DOUBLE) / den.x1_x1, 6)
                   AS spectral_radius_lb
        FROM num CROSS JOIN den
    """,
    section="G22",
    doc="Spectral-radius lower bound of the supplier affinity graph "
    "via one EXACT power-iteration step: starting from the all-ones "
    "vector, x1 = A*1 is the degree vector and the Rayleigh "
    "quotient x1'Ax1 / x1'x1 = sum over directed edges of d_u*d_v "
    "over sum of d^2 — a provable lower bound on lambda_max that "
    "equals it on regular graphs, and the quantity that governs "
    "gossip/epidemic spread rate and the convergence of every "
    "iterative propagation in the G family. The entire iteration "
    "stays in BIGINT (degrees and their products), so unlike "
    "G?-pagerank's damped float rounds this spectral estimate "
    "needs no quantization device at all — one double division at "
    "render. Scale: degree computation and the edge-keyed "
    "join-agg are the standard two shuffles on the edge list; "
    "state is one long per vertex — the power-iteration shape at "
    "any graph size, and further exact steps would just repeat "
    "the same join-agg with x2 = A*x1.",
)
def q_graph_spectral_radius(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _mutual_affinity_edges(spark, sf_dir)
    und = edges.select(
        F.col("lo").alias("src"), F.col("hi").alias("dst")
    ).unionAll(
        edges.select(F.col("hi").alias("src"), F.col("lo").alias("dst"))
    )
    deg = und.groupBy("src").agg(
        F.count(F.lit(1)).cast("bigint").alias("d")
    )
    da = deg.select(F.col("src").alias("sa"), F.col("d").alias("da"))
    db = deg.select(F.col("src").alias("sb"), F.col("d").alias("db"))
    num = (
        und.join(F.broadcast(da), F.col("src") == F.col("sa"))
        .join(F.broadcast(db), F.col("dst") == F.col("sb"))
        .agg(
            F.sum(F.col("da") * F.col("db"))
            .cast("bigint")
            .alias("x1_a_x1")
        )
    )
    den = deg.agg(
        F.sum(F.col("d") * F.col("d")).cast("bigint").alias("x1_x1"),
        F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
        (F.sum("d") / 2).cast("bigint").alias("n_edges"),
    )
    return num.crossJoin(F.broadcast(den)).select(
        "n_nodes",
        "n_edges",
        F.round(
            F.col("x1_a_x1").cast("double") / F.col("x1_x1"), 6
        ).alias("spectral_radius_lb"),
    )

# ==== wave 131: resource-allocation link prediction ================

# LCM(1..8): every 840/deg is an exact integer on the degree-<=8 graph.
_RA_LCM = 840


@register(
    "q_graph_resource_alloc",
    oracle=f"""
        WITH {_EDGE_CTES},
        adj AS (
            SELECT lo AS x, hi AS n FROM edges
            UNION ALL
            SELECT hi AS x, lo AS n FROM edges
        ),
        deg AS (
            SELECT x AS node, CAST(COUNT(*) AS BIGINT) AS d
            FROM adj GROUP BY x
        ),
        wedge AS (
            SELECT a.x AS u, b.x AS v,
                   SUM(CAST({_RA_LCM} / g.d AS BIGINT)) AS ra840
            FROM adj a
            JOIN adj b ON a.n = b.n AND a.x < b.x
            JOIN deg g ON g.node = a.n
            GROUP BY a.x, b.x
        )
        SELECT w.u, w.v,
               CAST(w.ra840 AS DOUBLE) / {_RA_LCM} AS ra_score
        FROM wedge w
        LEFT JOIN edges e ON e.lo = w.u AND e.hi = w.v
        WHERE e.lo IS NULL
    """,
    section="G12",
    doc="Resource-allocation link prediction (Zhou-Lü-Zhang 2009) over "
    "the mutual top-8 affinity graph: for each non-adjacent pair, "
    "sum(1/deg(z)) over shared neighbors z — the down-weighted-hub "
    "refinement of G4's raw common-neighbor count, and the index that "
    "usually beats Adamic-Adar in recall. Determinism device: G4's doc "
    "notes 1/ln(deg) is off the table (libm ln() differs across "
    f"JVM/C); 1/deg needs no transcendental — deg <= 8 by the graph's "
    f"construction, so each weight is the exact integer {_RA_LCM}/deg "
    f"(LCM(1..8) = {_RA_LCM}) and the score is an int64 sum with ONE "
    "final double division. Scale: the wedge join inherits the degree "
    "bound (<= 64 candidates per node at any corpus size); deg is a "
    "broadcast-sized table keyed by the wedge center; one keyed agg + "
    "one anti-join — same shape as G4.",
)
def q_graph_resource_alloc(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _mutual_affinity_edges(spark, sf_dir).localCheckpoint(eager=False)
    adj = edges.select(F.col("lo").alias("x"), F.col("hi").alias("n")).unionByName(
        edges.select(F.col("hi").alias("x"), F.col("lo").alias("n"))
    )
    deg = adj.groupBy(F.col("x").alias("node")).agg(
        F.count(F.lit(1)).alias("d")
    )
    a = adj.select(F.col("x").alias("u"), "n")
    b = adj.select(F.col("x").alias("v"), F.col("n").alias("n2"))
    wedge = (
        a.join(b, (F.col("n") == F.col("n2")) & (F.col("u") < F.col("v")))
        .join(F.broadcast(deg), F.col("node") == F.col("n"))
        .groupBy("u", "v")
        .agg(
            F.sum(
                (F.lit(_RA_LCM) / F.col("d")).cast("bigint")
            ).alias("ra840")
        )
    )
    return (
        wedge.join(
            edges,
            (wedge.u == edges.lo) & (wedge.v == edges.hi),
            "left_anti",
        )
        .select(
            "u",
            "v",
            (F.col("ra840").cast("double") / F.lit(_RA_LCM)).alias(
                "ra_score"
            ),
        )
    )


# ==== wave 136b: four-cycle census =================================


@register(
    "q_graph_squares",
    oracle=f"""
        WITH {_EDGE_CTES},
        adj AS (
            SELECT lo AS x, hi AS n FROM edges
            UNION ALL
            SELECT hi AS x, lo AS n FROM edges
        ),
        codeg AS (
            SELECT a.x AS u, b.x AS v, CAST(COUNT(*) AS BIGINT) AS cn
            FROM adj a JOIN adj b ON a.n = b.n AND a.x < b.x
            GROUP BY a.x, b.x
        ),
        t AS (
            SELECT CAST(SUM(cn * (cn - 1)) AS BIGINT) AS s4,
                   CAST(SUM(CASE WHEN cn >= 2 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_diag_pairs,
                   CAST(MAX(cn) AS BIGINT) AS max_codeg,
                   CAST(COUNT(*) AS BIGINT) AS n_pairs
            FROM codeg
        )
        SELECT CAST(s4 / 4 AS BIGINT) AS n_squares,
               n_diag_pairs, max_codeg, n_pairs
        FROM t
    """,
    section="G13",
    doc="Four-cycle (square) census of the mutual top-8 affinity graph: "
    "total C4 count via the diagonal identity — every square is seen "
    "exactly twice as an unordered co-degree pair, so n_squares = "
    "sum cn(cn-1)/4 over pairs with cn common neighbors (the sum is "
    "divisible by 4 by construction; all-integer => exact). Squares "
    "are the bipartite-cohesion motif triangles miss (G2 counts odd "
    "cohesion, this counts even — two suppliers sharing two distinct "
    "co-supply partners without trading directly), and max_codeg is "
    "the densest-diagonal readout. Scale: the same degree-bounded "
    "wedge join as G4/G12 (<= 64 candidates per node at any corpus "
    "size), one keyed agg, one scalar rollup — no 4-way join ever "
    "materializes.",
)
def q_graph_squares(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _mutual_affinity_edges(spark, sf_dir).localCheckpoint(eager=False)
    adj = edges.select(F.col("lo").alias("x"), F.col("hi").alias("n")).unionByName(
        edges.select(F.col("hi").alias("x"), F.col("lo").alias("n"))
    )
    a = adj.select(F.col("x").alias("u"), "n")
    b = adj.select(F.col("x").alias("v"), F.col("n").alias("n2"))
    codeg = (
        a.join(b, (F.col("n") == F.col("n2")) & (F.col("u") < F.col("v")))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cn"))
    )
    t = codeg.agg(
        F.sum(F.col("cn") * (F.col("cn") - 1)).cast("bigint").alias("s4"),
        F.sum(F.when(F.col("cn") >= 2, 1).otherwise(0))
        .cast("bigint")
        .alias("n_diag_pairs"),
        F.max("cn").cast("bigint").alias("max_codeg"),
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
    )
    return t.select(
        (F.col("s4") / 4).cast("bigint").alias("n_squares"),
        "n_diag_pairs",
        "max_codeg",
        "n_pairs",
    )


# ==== wave 139b: categorical (attribute) assortativity =============


@register(
    "q_graph_attr_assortativity",
    oracle=f"""
        WITH {_EDGE_CTES},
        attr AS (
            SELECT s_suppkey AS node, CAST(s_nationkey AS BIGINT) AS a
            FROM supplier
        ),
        dir2 AS (
            SELECT x.a AS aa, y.a AS ab FROM edges e
            JOIN attr x ON e.lo = x.node
            JOIN attr y ON e.hi = y.node
            UNION ALL
            SELECT y.a AS aa, x.a AS ab FROM edges e
            JOIN attr x ON e.lo = x.node
            JOIN attr y ON e.hi = y.node
        ),
        m AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS m2,
                   CAST(SUM(CASE WHEN aa = ab THEN 1 ELSE 0 END)
                        AS BIGINT) AS same2
            FROM dir2
        ),
        marg AS (
            SELECT CAST(SUM(c * c) AS BIGINT) AS sq
            FROM (SELECT aa, CAST(COUNT(*) AS BIGINT) AS c
                  FROM dir2 GROUP BY aa)
        )
        SELECT CAST(m.m2 / 2 AS BIGINT) AS n_edges,
               CAST(m.same2 / 2 AS BIGINT) AS n_same_attr,
               ROUND(CAST(m.same2 * m.m2 - marg.sq AS DOUBLE)
                     / CAST(m.m2 * m.m2 - marg.sq AS DOUBLE), 6)
                   AS assortativity
        FROM m CROSS JOIN marg
    """,
    section="G14",
    doc="Categorical attribute assortativity (Newman 2003) of the "
    "mutual top-8 affinity graph by supplier NATION: do suppliers "
    "preferentially partner within their own nation? r = (tr(e) - "
    "sum a_i b_i)/(1 - sum a_i b_i) over the mixing matrix — the "
    "categorical sibling of G9's degree assortativity (a Pearson on "
    "numeric degrees; this mixes classes). Clearing the (2m)^2 "
    "denominators gives the EXACT integer fraction (same2*m2 - S) / "
    "(m2^2 - S) with S = sum of squared directed-endpoint class "
    "counts — one double division total. Scale: the attribute join "
    "broadcasts (supplier dim), counts are map-combinable; nothing "
    "beyond the edge list is ever materialized.",
)
def q_graph_attr_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _mutual_affinity_edges(spark, sf_dir)
    attr = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("node"),
        F.col("s_nationkey").cast("bigint").alias("a"),
    )
    ax = attr.select(F.col("node").alias("lo"), F.col("a").alias("a_lo"))
    ay = attr.select(F.col("node").alias("hi"), F.col("a").alias("a_hi"))
    lab = edges.join(F.broadcast(ax), "lo").join(F.broadcast(ay), "hi")
    dir2 = lab.select(
        F.col("a_lo").alias("aa"), F.col("a_hi").alias("ab")
    ).unionByName(
        lab.select(F.col("a_hi").alias("aa"), F.col("a_lo").alias("ab"))
    )
    m = dir2.agg(
        F.count(F.lit(1)).cast("bigint").alias("m2"),
        F.sum(F.when(F.col("aa") == F.col("ab"), 1).otherwise(0))
        .cast("bigint")
        .alias("same2"),
    )
    marg = (
        dir2.groupBy("aa")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .agg(F.sum(F.col("c") * F.col("c")).cast("bigint").alias("sq"))
    )
    out = m.crossJoin(F.broadcast(marg))
    return out.select(
        (F.col("m2") / 2).cast("bigint").alias("n_edges"),
        (F.col("same2") / 2).cast("bigint").alias("n_same_attr"),
        F.round(
            (F.col("same2") * F.col("m2") - F.col("sq")).cast("double")
            / (F.col("m2") * F.col("m2") - F.col("sq")).cast("double"),
            6,
        ).alias("assortativity"),
    )


# ==== wave 155b: global transitivity ===============================


@register(
    "q_graph_transitivity",
    oracle=f"""
        WITH {_EDGE_CTES},
        adj AS (
            SELECT lo AS x, hi AS n FROM edges
            UNION ALL
            SELECT hi AS x, lo AS n FROM edges
        ),
        deg AS (
            SELECT x AS node, CAST(COUNT(*) AS BIGINT) AS d
            FROM adj GROUP BY x
        ),
        wedges AS (
            SELECT CAST(SUM(d * (d - 1)) AS BIGINT) AS open2 FROM deg
        ),
        tri AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_tri
            FROM edges e1
            JOIN edges e2 ON e1.hi = e2.lo
            JOIN edges e3 ON e1.lo = e3.lo AND e2.hi = e3.hi
        )
        SELECT t.n_tri AS n_triangles,
               CAST(w.open2 / 2 AS BIGINT) AS n_wedges,
               ROUND(CAST(6 * t.n_tri AS DOUBLE) / w.open2, 6)
                   AS transitivity
        FROM tri t CROSS JOIN wedges w
    """,
    section="G15",
    doc="Global transitivity (the graph-level clustering ratio): "
    "3 x triangles / wedges — ONE scalar where G2 reports per-node "
    "triangle counts; the two disagree on skewed graphs (transitivity "
    "weights hubs by their wedge count, the mean local coefficient "
    "does not), which is why both belong in the suite. Triangles come "
    "from the ordered-edge join (lo<hi ordering makes each triangle "
    "match exactly once as lo<mid<hi); wedges are sum d(d-1)/2 from "
    "the degree table — all integer, one final division (6·tri/2·"
    "wedges expressed as 6·tri/open2). Scale: the triangle join "
    "inherits the degree-<=8 bound; degrees are a broadcast-sized "
    "table.",
)
def q_graph_transitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _mutual_affinity_edges(spark, sf_dir).localCheckpoint(eager=False)
    adj = edges.select(F.col("lo").alias("x"), F.col("hi").alias("n")).unionByName(
        edges.select(F.col("hi").alias("x"), F.col("lo").alias("n"))
    )
    deg = adj.groupBy(F.col("x").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("d")
    )
    wedges = deg.agg(
        F.sum(F.col("d") * (F.col("d") - 1)).cast("bigint").alias("open2")
    )
    e1 = edges.select(F.col("lo").alias("a"), F.col("hi").alias("b"))
    e2 = edges.select(F.col("lo").alias("b2"), F.col("hi").alias("c"))
    e3 = edges.select(F.col("lo").alias("a3"), F.col("hi").alias("c3"))
    tri = (
        e1.join(e2, F.col("b") == F.col("b2"))
        .join(
            e3,
            (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3")),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_tri"))
    )
    out = tri.crossJoin(F.broadcast(wedges))
    return out.select(
        F.col("n_tri").alias("n_triangles"),
        (F.col("open2") / 2).cast("bigint").alias("n_wedges"),
        F.round(
            (6 * F.col("n_tri")).cast("double") / F.col("open2"), 6
        ).alias("transitivity"),
    )


# ==== wave 164b: Katz centrality via integer walk counts ============


@register(
    "q_graph_katz",
    oracle="""
        WITH e AS (
            SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS a,
                            's' || CAST(l_suppkey AS VARCHAR) AS b
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        ),
        und AS (
            SELECT a AS src, b AS dst FROM e
            UNION ALL
            SELECT b AS src, a AS dst FROM e
        ),
        v1 AS (
            SELECT dst AS node, CAST(COUNT(*) AS BIGINT) AS w
            FROM und GROUP BY dst
        ),
        v2 AS (
            SELECT u.dst AS node, CAST(SUM(v1.w) AS BIGINT) AS w
            FROM und u JOIN v1 ON u.src = v1.node
            GROUP BY u.dst
        ),
        v3 AS (
            SELECT u.dst AS node, CAST(SUM(v2.w) AS BIGINT) AS w
            FROM und u JOIN v2 ON u.src = v2.node
            GROUP BY u.dst
        )
        SELECT v1.node,
               v1.w AS walks1,
               v2.w AS walks2,
               v3.w AS walks3,
               CAST(256 * v1.w + 16 * v2.w + v3.w AS BIGINT)
                   AS katz_4096
        FROM v1 JOIN v2 ON v1.node = v2.node
                JOIN v3 ON v1.node = v3.node
    """,
    section="G12",
    doc="Katz centrality (3 terms, alpha=1/16) over the undirected "
    "customer-supplier trade graph: the walk-count vectors v_k(i) = "
    "sum_j A(j,i) v_(k-1)(j) are EXACT integers (relational Pregel "
    "rounds: join + keyed agg, like G1 but with no quantization "
    "needed at all), and because alpha is a power of two the "
    "truncated Katz series alpha*v1 + alpha^2*v2 + alpha^3*v3 is "
    "returned as the exact integer numerator katz_4096 = 256*v1 + "
    "16*v2 + v3 over the common denominator 4096 — zero floating "
    "point anywhere. Scale: two edge-vector joins shuffling on node "
    "id; the walk counts stay bounded by deg_max^3 << 2^63; the "
    "checkpointed shared edge list is reused across the graph "
    "family.",
)
def q_graph_katz(spark: SparkSession, sf_dir: str) -> DataFrame:
    und = trade_graph_edges(spark, sf_dir)
    v1 = und.groupBy(F.col("dst").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("w")
    )
    v2 = (
        und.join(v1.withColumnRenamed("node", "src"), "src")
        .groupBy(F.col("dst").alias("node"))
        .agg(F.sum("w").cast("bigint").alias("w"))
    )
    v3 = (
        und.join(v2.withColumnRenamed("node", "src"), "src")
        .groupBy(F.col("dst").alias("node"))
        .agg(F.sum("w").cast("bigint").alias("w"))
    )
    return (
        v1.withColumnRenamed("w", "walks1")
        .join(v2.withColumnRenamed("w", "walks2"), "node")
        .join(v3.withColumnRenamed("w", "walks3"), "node")
        .select(
            "node",
            "walks1",
            "walks2",
            "walks3",
            (
                256 * F.col("walks1")
                + 16 * F.col("walks2")
                + F.col("walks3")
            )
            .cast("bigint")
            .alias("katz_4096"),
        )
    )


# ==== wave 169a: distance-2 betweenness with LCM-integer credits ====


@register(
    "q_graph_betweenness_2hop",
    oracle=f"""
        WITH {_EDGE_CTES},
        und AS (
            SELECT lo AS src, hi AS dst FROM edges
            UNION ALL
            SELECT hi AS src, lo AS dst FROM edges
        ),
        wedges AS (
            SELECT e1.dst AS b, e1.src AS a, e2.dst AS c
            FROM und e1 JOIN und e2
              ON e1.dst = e2.src AND e1.src < e2.dst
        ),
        far AS (
            SELECT w.a, w.b, w.c
            FROM wedges w
            LEFT JOIN edges e ON e.lo = w.a AND e.hi = w.c
            WHERE e.lo IS NULL
        ),
        credited AS (
            SELECT b,
                   840 // COUNT(*) OVER (PARTITION BY a, c) AS credit
            FROM far
        )
        SELECT b AS node,
               CAST(SUM(credit) AS BIGINT) AS stress_840,
               CAST(COUNT(*) AS BIGINT) AS n_wedges
        FROM credited
        GROUP BY b
    """,
    section="G13",
    doc="Betweenness centrality restricted to distance-2 pairs over "
    "the mutual top-8 affinity supplier graph: for every NON-adjacent "
    "pair (a,c) with common neighbors, the shortest paths are exactly "
    "the k common neighbors, so each middle node earns 1/k — scaled "
    "by 840 = LCM(1..8) (degree <= 8 bounds k <= 8 by construction, "
    "the A142 LCM device) the credit 840//k is an EXACT integer and "
    "the whole statistic needs zero floating point. This is the "
    "fraction of betweenness a bounded-diameter sparsified graph "
    "actually exercises, and the wedge join is bounded by deg^2 <= "
    "64 candidates per node — the same hub defense as G2. The "
    "adjacency exclusion is a LEFT-join-null anti pattern on the "
    "(lo, hi) canonical edge. Scale: wedge join + windowed count on "
    "(a,c) + one keyed agg; no all-pairs stage anywhere.",
)
def q_graph_betweenness_2hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _mutual_affinity_edges(spark, sf_dir)
    und = edges.select(
        F.col("lo").alias("src"), F.col("hi").alias("dst")
    ).unionByName(
        edges.select(F.col("hi").alias("src"), F.col("lo").alias("dst"))
    )
    e1 = und.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    e2 = und.select(F.col("src").alias("b2"), F.col("dst").alias("c"))
    wedges = e1.join(
        e2, (F.col("b") == F.col("b2")) & (F.col("a") < F.col("c"))
    ).select("a", "b", "c")
    far = wedges.join(
        edges,
        (wedges.a == edges.lo) & (wedges.c == edges.hi),
        "left_anti",
    )
    wk = Window.partitionBy("a", "c")
    credited = far.select(
        "b",
        (F.lit(840) / F.count(F.lit(1)).over(wk))
        .cast("bigint")
        .alias("credit"),
    )
    return credited.groupBy(F.col("b").alias("node")).agg(
        F.sum("credit").cast("bigint").alias("stress_840"),
        F.count(F.lit(1)).cast("bigint").alias("n_wedges"),
    )


# ==== wave 174b: temporal triadic closure census (G23) ==============

_TTRI_K = 12   # top-k strongest partners per supplier (k=5 graph has no
               # triangles at sf0.01 — the census would gate vacuously)


@register(
    "q_graph_temporal_triangles",
    oracle=f"""
        WITH ps AS MATERIALIZED (
            SELECT l_partkey, l_suppkey,
                   MIN(CAST(l_shipdate AS DATE)) AS md
            FROM lineitem GROUP BY 1, 2
        ),
        pairs AS MATERIALIZED (
            SELECT a.l_suppkey AS s1, b.l_suppkey AS s2,
                   CAST(COUNT(*) AS BIGINT) AS cnt,
                   MIN(GREATEST(a.md, b.md)) AS t
            FROM ps a JOIN ps b
              ON a.l_partkey = b.l_partkey
             AND a.l_suppkey < b.l_suppkey
            GROUP BY 1, 2
        ),
        dir AS (
            SELECT s1 AS src, s2 AS dst, cnt FROM pairs
            UNION ALL
            SELECT s2 AS src, s1 AS dst, cnt FROM pairs
        ),
        topk AS (
            SELECT src, dst FROM (
                SELECT src, dst,
                       row_number() OVER (
                           PARTITION BY src ORDER BY cnt DESC, dst
                       ) AS rn
                FROM dir
            ) WHERE rn <= {_TTRI_K}
        ),
        edges AS MATERIALIZED (
            SELECT a.src AS lo, a.dst AS hi, p.t
            FROM topk a
            JOIN topk b ON a.src = b.dst AND a.dst = b.src
            JOIN pairs p ON p.s1 = a.src AND p.s2 = a.dst
            WHERE a.src < a.dst
        ),
        tri AS (
            SELECT e1.t AS t_ab, e2.t AS t_bc, e3.t AS t_ac
            FROM edges e1
            JOIN edges e2 ON e2.lo = e1.hi
            JOIN edges e3 ON e3.lo = e1.lo AND e3.hi = e2.hi
        ),
        cls AS (
            SELECT CASE
                     WHEN t_ab > t_bc AND t_ab > t_ac THEN 'ab'
                     WHEN t_bc > t_ab AND t_bc > t_ac THEN 'bc'
                     WHEN t_ac > t_ab AND t_ac > t_bc THEN 'ac'
                     ELSE 'tie' END AS closing_edge,
                   CAST(date_diff('day',
                        LEAST(GREATEST(t_ab, t_bc), GREATEST(t_ab, t_ac),
                              GREATEST(t_bc, t_ac)),
                        GREATEST(t_ab, t_bc, t_ac)) AS BIGINT)
                       AS delay_days
            FROM tri
        )
        SELECT closing_edge, CAST(COUNT(*) AS BIGINT) AS n_triangles,
               CAST(SUM(delay_days) AS BIGINT) AS sum_delay_days,
               ROUND(CAST(SUM(delay_days) AS DOUBLE) / COUNT(*), 4)
                   AS avg_close_delay
        FROM cls GROUP BY closing_edge
    """,
    section="G23",
    doc=f"Temporal triadic-closure census on the supplier co-part "
    f"graph (top-{_TTRI_K} strongest partners, mutual edges, each "
    "stamped with the pair's first-trade date = min over shared "
    "parts of the LATER supplier's first shipment): for every "
    "triangle (a<b<c), classify which edge closed it (strict max of "
    "the three dates; equal maxes -> 'tie') and measure the closure "
    "delay (closing date minus the median date). This is the "
    "temporal-motif question behind link-prediction evaluation — "
    "'when two partners share a neighbor, how long until they "
    "trade?' — and the rank-pattern census static triangle counts "
    "(G2) cannot see. Dates are integer days, so every class count "
    "and delay sum is exact int64; the CASE tie-break is total. "
    "Scale: the ps self-join shuffles on partkey (bounded by "
    "suppliers-per-part), the top-k prune caps degree at k so the "
    "triangle enumeration is O(E * k) not O(E^1.5); pairs is "
    "localCheckpoint'ed once and reused by the direction union and "
    "the timestamp re-join.",
)
def q_graph_temporal_triangles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_shipdate").cast("date")).alias("md")
    )
    a = ps.select(
        F.col("l_partkey").alias("pk"),
        F.col("l_suppkey").alias("s1"),
        F.col("md").alias("md1"),
    )
    b = ps.select(
        F.col("l_partkey").alias("pk"),
        F.col("l_suppkey").alias("s2"),
        F.col("md").alias("md2"),
    )
    pairs = (
        a.join(b, ["pk"])
        .where(F.col("s1") < F.col("s2"))
        .groupBy("s1", "s2")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt"),
            F.min(F.greatest("md1", "md2")).alias("t"),
        )
        .localCheckpoint(eager=False)
    )
    dirn = pairs.select(
        F.col("s1").alias("src"), F.col("s2").alias("dst"), "cnt"
    ).unionAll(
        pairs.select(
            F.col("s2").alias("src"), F.col("s1").alias("dst"), "cnt"
        )
    )
    rn = F.row_number().over(
        Window.partitionBy("src").orderBy(F.desc("cnt"), F.asc("dst"))
    )
    topk = (
        dirn.withColumn("rn", rn)
        .where(F.col("rn") <= _TTRI_K)
        .select("src", "dst")
    )
    mutual = (
        topk.alias("fw")
        .join(
            topk.select(
                F.col("dst").alias("src"), F.col("src").alias("dst")
            ).alias("bw"),
            ["src", "dst"],
        )
        .where(F.col("src") < F.col("dst"))
    )
    edges = mutual.join(
        pairs.select(
            F.col("s1").alias("src"), F.col("s2").alias("dst"), "t"
        ),
        ["src", "dst"],
    ).select(F.col("src").alias("lo"), F.col("dst").alias("hi"), "t")
    e1 = edges.select(
        F.col("lo").alias("na"), F.col("hi").alias("nb"),
        F.col("t").alias("t_ab"),
    )
    e2 = edges.select(
        F.col("lo").alias("nb"), F.col("hi").alias("nc"),
        F.col("t").alias("t_bc"),
    )
    e3 = edges.select(
        F.col("lo").alias("na"), F.col("hi").alias("nc"),
        F.col("t").alias("t_ac"),
    )
    tri = e1.join(e2, ["nb"]).join(e3, ["na", "nc"]).select(
        "t_ab", "t_bc", "t_ac"
    )
    closing = (
        F.when(
            (F.col("t_ab") > F.col("t_bc"))
            & (F.col("t_ab") > F.col("t_ac")),
            F.lit("ab"),
        )
        .when(
            (F.col("t_bc") > F.col("t_ab"))
            & (F.col("t_bc") > F.col("t_ac")),
            F.lit("bc"),
        )
        .when(
            (F.col("t_ac") > F.col("t_ab"))
            & (F.col("t_ac") > F.col("t_bc")),
            F.lit("ac"),
        )
        .otherwise(F.lit("tie"))
    )
    mid = F.least(
        F.greatest("t_ab", "t_bc"),
        F.greatest("t_ab", "t_ac"),
        F.greatest("t_bc", "t_ac"),
    )
    cls = tri.select(
        closing.alias("closing_edge"),
        F.datediff(F.greatest("t_ab", "t_bc", "t_ac"), mid)
        .cast("bigint")
        .alias("delay_days"),
    )
    return cls.groupBy("closing_edge").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_triangles"),
        F.sum("delay_days").cast("bigint").alias("sum_delay_days"),
        F.round(
            F.sum("delay_days").cast("double") / F.count(F.lit(1)), 4
        ).alias("avg_close_delay"),
    )


# ==== wave 177b: configuration-model triangle expectation (G24) =====


@register(
    "q_graph_config_triangles",
    oracle=f"""
        WITH {_EDGE_CTES},
        nodes AS (
            SELECT node, CAST(COUNT(*) AS BIGINT) AS d
            FROM (
                SELECT lo AS node FROM edges
                UNION ALL SELECT hi FROM edges
            ) GROUP BY node
        ),
        deg AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
                   CAST(SUM(d) AS BIGINT) AS m2,
                   CAST(SUM(d * (d - 1)) AS BIGINT) AS sdd1
            FROM nodes
        ),
        tri AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS t_actual
            FROM edges e1
            JOIN edges e2 ON e2.lo = e1.hi
            JOIN edges e3 ON e3.lo = e1.lo AND e3.hi = e2.hi
        )
        SELECT d.n_nodes, CAST(d.m2 // 2 AS BIGINT) AS n_edges,
               d.sdd1, t.t_actual,
               ROUND(CAST(d.sdd1 AS DOUBLE) * d.sdd1 * d.sdd1
                     / (6.0 * CAST(d.m2 AS DOUBLE) * d.m2 * d.m2), 6)
                   AS t_expected,
               ROUND(CAST(t.t_actual AS DOUBLE)
                     / (CAST(d.sdd1 AS DOUBLE) * d.sdd1 * d.sdd1
                        / (6.0 * CAST(d.m2 AS DOUBLE) * d.m2 * d.m2)),
                     6) AS closure_ratio
        FROM deg d CROSS JOIN tri t
    """,
    section="G24",
    doc="Triangle count vs its configuration-model expectation on the "
    "mutual top-8 trade-affinity graph: E[T] = (sum d(d-1))^3 / "
    "(6 (sum d)^3), the Newman degree-preserving null — "
    "closure_ratio >> 1 says the observed triangles are genuine "
    "community structure, not an artifact of the degree sequence, "
    "which the raw G2 counts and G16 transitivity cannot "
    "distinguish (a hub-heavy graph closes many triangles by "
    "chance). Both T and the three degree moments are exact int64 "
    "(degree <= 8 by construction), so expectation and ratio are "
    "one pinned double expression. Scale: degree table is one agg "
    "over the edge list, the wedge join is bounded by the top-k "
    "cap, and the null needs NO sampling or rewiring — the "
    "closed form replaces the usual 1000-rewire Monte Carlo.",
)
def q_graph_config_triangles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    edges = _mutual_affinity_edges(spark, sf_dir)
    nodes = (
        edges.select(F.col("lo").alias("node"))
        .unionAll(edges.select(F.col("hi").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    deg = nodes.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
        F.sum("d").cast("bigint").alias("m2"),
        F.sum(F.col("d") * (F.col("d") - 1))
        .cast("bigint")
        .alias("sdd1"),
    )
    e1 = edges.select(F.col("lo").alias("a"), F.col("hi").alias("b"))
    e2 = edges.select(F.col("lo").alias("b"), F.col("hi").alias("c"))
    e3 = edges.select(F.col("lo").alias("a"), F.col("hi").alias("c"))
    tri = (
        e1.join(e2, ["b"])
        .join(e3, ["a", "c"])
        .agg(F.count(F.lit(1)).cast("bigint").alias("t_actual"))
    )
    t_exp = (
        F.col("sdd1").cast("double") * F.col("sdd1") * F.col("sdd1")
        / (
            F.lit(6.0)
            * F.col("m2").cast("double") * F.col("m2") * F.col("m2")
        )
    )
    return deg.crossJoin(F.broadcast(tri)).select(
        "n_nodes",
        (F.col("m2") / 2).cast("bigint").alias("n_edges"),
        "sdd1",
        "t_actual",
        F.round(t_exp, 6).alias("t_expected"),
        F.round(F.col("t_actual").cast("double") / t_exp, 6).alias(
            "closure_ratio"
        ),
    )


# ==== wave 190a: bond percolation profile (G26) =====================

_PERC_MULTS = [1, 2, 4]


@register(
    "q_graph_percolation_profile",
    oracle="""
        WITH flow AS (
            SELECT LEAST(c.c_nationkey, s.s_nationkey) AS lo,
                   GREATEST(c.c_nationkey, s.s_nationkey) AS hi,
                   CAST(SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2))
                                 * 100 AS BIGINT)) AS BIGINT) AS cents
            FROM orders o
            JOIN lineitem l ON o.o_orderkey = l.l_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            WHERE c.c_nationkey <> s.s_nationkey
            GROUP BY 1, 2
        ),
        tot AS (
            SELECT CAST(SUM(cents) AS BIGINT) AS t,
                   CAST(COUNT(*) AS BIGINT) AS np
            FROM flow
        ),
        ks AS (SELECT unnest([1, 2, 4]) AS k),
        kept AS (
            SELECT k.k, f.lo, f.hi
            FROM flow f CROSS JOIN tot CROSS JOIN ks k
            WHERE f.cents * tot.np > k.k * tot.t
        ),
        sym AS (
            SELECT k, lo AS src, hi AS dst FROM kept
            UNION ALL SELECT k, hi, lo FROM kept
        ),
        nodes AS (SELECT DISTINCT k, src AS v FROM sym),
        reach AS (
            WITH RECURSIVE r(k, src, dst) AS (
                SELECT k, v, v FROM nodes
                UNION
                SELECT r.k, r.src, e.dst
                FROM r JOIN sym e ON r.k = e.k AND r.dst = e.src
            ) SELECT k, src, dst FROM r
        ),
        comp AS (
            SELECT k, src AS v, CAST(MIN(dst) AS BIGINT) AS cid
            FROM reach GROUP BY k, src
        ),
        sizes AS (
            SELECT k, cid, CAST(COUNT(*) AS BIGINT) AS sz
            FROM comp GROUP BY k, cid
        )
        SELECT CAST(s.k AS BIGINT) AS k_mult,
               CAST(COUNT(*) AS BIGINT) AS n_components,
               CAST(SUM(sz) AS BIGINT) AS n_nodes,
               CAST(MAX(sz) AS BIGINT) AS giant_size,
               ROUND(CAST(MAX(sz) AS DOUBLE) / SUM(sz), 6)
                   AS giant_frac
        FROM sizes s GROUP BY s.k
    """,
    section="G26",
    doc="Bond percolation profile of the undirected nation trade "
    "graph: keep edges whose exact cent weight exceeds {1, 2, 4}x "
    "the mean pair weight (integer cross-multiplication, no float "
    "threshold), and for each retained graph report component "
    "count, giant-component size and fraction — the percolation "
    "curve that locates the connectivity phase transition: where "
    "giant_frac collapses between multipliers is where the trade "
    "backbone lives, a question single-threshold components (D5, "
    "G19) cannot answer. Closure is exact transitive reachability "
    "on the <= 25-node nation quotient (unrolled pointer-doubling "
    "in Spark, 5 rounds >= diameter; RECURSIVE fixpoint in the "
    "oracle — identical results since both reach closure). Scale: "
    "the fact join collapses to nation grain FIRST (<= 300 "
    "undirected edges at any SF), then all three thresholds share "
    "one tiny frame — the 100 TB cost is the first join, not the "
    "graph algebra.",
)
def q_graph_percolation_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    od = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cu = load_table(spark, sf_dir, "customer")
    su = load_table(spark, sf_dir, "supplier")
    flow = (
        od.join(li, od.o_orderkey == li.l_orderkey)
        .join(cu, od.o_custkey == cu.c_custkey)
        .join(su, li.l_suppkey == su.s_suppkey)
        .where(F.col("c_nationkey") != F.col("s_nationkey"))
        .groupBy(
            F.least("c_nationkey", "s_nationkey").alias("lo"),
            F.greatest("c_nationkey", "s_nationkey").alias("hi"),
        )
        .agg(
            F.expr(
                "CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))"
                " * 100 AS BIGINT)) AS BIGINT)"
            ).alias("cents")
        )
        .localCheckpoint(eager=False)
    )
    tot = flow.agg(
        F.sum("cents").cast("bigint").alias("t"),
        F.count(F.lit(1)).cast("bigint").alias("np"),
    )
    # r9 (VERDICT r8 item 5, guide §2): the three percolation thresholds
    # ran THREE separate 5-round pointer-doubling closures — 15
    # checkpointed round materializations over <=625-row nation-grain
    # frames, all driver-side stage/planning latency. The thresholds now
    # ride as a k column (each edge explodes into the thresholds it
    # survives), so ONE 5-round closure — joins keyed (k, dst=src) —
    # closes all three subgraphs simultaneously, and the per-threshold
    # aggregates collapse into grouped aggregation by k. Identical
    # per-threshold results: the k key partitions every join/distinct
    # exactly as the separate loops did; an emptied threshold simply has
    # no k-group, which is the oracle's GROUP BY semantics directly
    # (the old formulation filtered out its NULL global-agg row to match).
    mults_sql = ",".join(str(k) for k in _PERC_MULTS)
    kept = (
        flow.crossJoin(F.broadcast(tot))
        .selectExpr(f"explode(array({mults_sql})) as k", "lo", "hi",
                    "cents", "np", "t")
        .where(F.col("cents") * F.col("np") > F.col("k") * F.col("t"))
        .select("k", "lo", "hi")
    )
    sym = kept.select(
        "k", F.col("lo").alias("src"), F.col("hi").alias("dst")
    ).unionAll(
        kept.select("k", F.col("hi").alias("src"), F.col("lo").alias("dst"))
    )
    nodes = sym.select("k", F.col("src").alias("v")).distinct()
    # pointer-doubling closure: reach_0 = self + edges; square 5x
    reach = nodes.select(
        "k", F.col("v").alias("src"), F.col("v").alias("dst")
    ).unionAll(sym).distinct()
    for _ in range(5):
        # r9: the checkpointed RDD carries no size stats, so Catalyst
        # planned every squaring join as sort-merge (2 exchanges/round).
        # The closure frame is nation-grain — <= |mults| * 25^2 rows at
        # ANY scale factor (nationkey domain is fixed by schema) — so a
        # broadcast build side is safe by construction; measured
        # 3.74 -> 2.83 s warm, bit-identical output.
        hop = (
            reach.alias("a")
            .join(
                F.broadcast(reach.alias("b")),
                (F.col("a.k") == F.col("b.k"))
                & (F.col("a.dst") == F.col("b.src")),
            )
            .select(
                F.col("a.k").alias("k"),
                F.col("a.src").alias("src"),
                F.col("b.dst").alias("dst"),
            )
        )
        reach = reach.unionAll(hop).distinct().localCheckpoint(
            eager=False
        )
    comp = reach.groupBy("k", "src").agg(
        F.min("dst").cast("bigint").alias("cid")
    )
    sizes = comp.groupBy("k", "cid").agg(
        F.count(F.lit(1)).cast("bigint").alias("sz")
    )
    return sizes.groupBy("k").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_components"),
        F.sum("sz").cast("bigint").alias("n_nodes"),
        F.max("sz").cast("bigint").alias("giant_size"),
        F.round(F.max("sz").cast("double") / F.sum("sz"), 6).alias(
            "giant_frac"
        ),
    ).select(
        F.col("k").cast("bigint").alias("k_mult"),
        "n_components",
        "n_nodes",
        "giant_size",
        "giant_frac",
    )


# ==== wave 192b: snowball sampling bias audit (G27) =================

_SNOW_MOD = 17   # seed set: suppliers with suppkey % 17 == 0


@register(
    "q_graph_snowball_bias",
    oracle=f"""
        WITH {_EDGE_CTES},
        sym AS (
            SELECT lo AS src, hi AS dst FROM edges
            UNION ALL SELECT hi, lo FROM edges
        ),
        nodes AS (SELECT DISTINCT src AS v FROM sym),
        deg AS (
            SELECT src AS v, CAST(COUNT(*) AS BIGINT) AS d
            FROM sym GROUP BY src
        ),
        seeds AS (SELECT v FROM nodes WHERE v % {_SNOW_MOD} = 0),
        hop1 AS (
            SELECT DISTINCT e.dst AS v
            FROM sym e JOIN seeds s ON e.src = s.v
        ),
        hop2 AS (
            SELECT DISTINCT e.dst AS v
            FROM sym e JOIN hop1 h ON e.src = h.v
        ),
        sample_v AS (
            SELECT v FROM seeds UNION
            SELECT v FROM hop1 UNION
            SELECT v FROM hop2
        ),
        ind AS (
            SELECT e.lo, e.hi FROM edges e
            JOIN sample_v a ON a.v = e.lo
            JOIN sample_v b ON b.v = e.hi
        ),
        stats AS (
            SELECT
                (SELECT CAST(COUNT(*) AS BIGINT) FROM nodes) AS n_pop,
                (SELECT CAST(COUNT(*) AS BIGINT) FROM seeds) AS n_seed,
                (SELECT CAST(COUNT(*) AS BIGINT) FROM sample_v)
                    AS n_sample,
                (SELECT CAST(COUNT(*) AS BIGINT) FROM edges)
                    AS m_pop,
                (SELECT CAST(COUNT(*) AS BIGINT) FROM ind) AS m_sample,
                (SELECT CAST(SUM(d.d) AS BIGINT) FROM deg d
                 JOIN sample_v s ON s.v = d.v) AS deg_sample_pop
        )
        SELECT n_pop, n_seed, n_sample, m_pop, m_sample,
               ROUND(2.0 * m_pop / n_pop, 4) AS mean_deg_pop,
               ROUND(CAST(deg_sample_pop AS DOUBLE) / n_sample, 4)
                   AS mean_deg_sampled_nodes,
               ROUND(CAST(deg_sample_pop AS DOUBLE) / n_sample
                     / (2.0 * m_pop / n_pop), 4) AS degree_bias_factor
        FROM stats
    """,
    section="G27",
    doc="Snowball-sampling bias audit on the mutual top-8 supplier "
    "graph: take hash-deterministic seeds (suppkey % 17 = 0), "
    "expand two BFS hops, and compare the TRUE degree of sampled "
    "nodes against the population mean degree — the "
    "degree_bias_factor > 1 quantifies the textbook failure of "
    "snowball/BFS crawls (they reach high-degree nodes "
    "preferentially), which is exactly the bias a 100 TB graph "
    "pipeline inherits when it samples by crawling instead of "
    "uniformly (E-family's hash sampling). All counts and degree "
    "sums are exact int64; the two hops are two joins against the "
    "symmetric edge list, and DISTINCT-by-node keeps frontier "
    "growth bounded by |V|. Scale: the sample is node-keyed "
    "(16-byte rows), never the payload; bias math is scalar.",
)
def q_graph_snowball_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _mutual_affinity_edges(spark, sf_dir)
    sym = edges.select(
        F.col("lo").alias("src"), F.col("hi").alias("dst")
    ).unionAll(
        edges.select(F.col("hi").alias("src"), F.col("lo").alias("dst"))
    )
    nodes = sym.select(F.col("src").alias("v")).distinct()
    deg = sym.groupBy(F.col("src").alias("v")).agg(
        F.count(F.lit(1)).cast("bigint").alias("d")
    )
    seeds = nodes.where(F.col("v") % _SNOW_MOD == 0)
    hop1 = (
        sym.join(seeds.select(F.col("v").alias("src")), "src")
        .select(F.col("dst").alias("v"))
        .distinct()
    )
    hop2 = (
        sym.join(
            hop1.select(F.col("v").alias("src")), "src"
        )
        .select(F.col("dst").alias("v"))
        .distinct()
    )
    sample_v = seeds.union(hop1).union(hop2).distinct()
    ind = (
        edges.join(sample_v.select(F.col("v").alias("lo")), "lo")
        .join(sample_v.select(F.col("v").alias("hi")), "hi")
    )
    n_pop = nodes.agg(F.count(F.lit(1)).cast("bigint").alias("n_pop"))
    n_seed = seeds.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_seed")
    )
    n_sample = sample_v.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sample")
    )
    m_pop = edges.agg(F.count(F.lit(1)).cast("bigint").alias("m_pop"))
    m_sample = ind.agg(
        F.count(F.lit(1)).cast("bigint").alias("m_sample")
    )
    deg_samp = (
        deg.join(sample_v, "v")
        .agg(F.sum("d").cast("bigint").alias("deg_sample_pop"))
    )
    out = (
        n_pop.crossJoin(F.broadcast(n_seed))
        .crossJoin(F.broadcast(n_sample))
        .crossJoin(F.broadcast(m_pop))
        .crossJoin(F.broadcast(m_sample))
        .crossJoin(F.broadcast(deg_samp))
    )
    mean_pop = F.lit(2.0) * F.col("m_pop") / F.col("n_pop")
    mean_samp = (
        F.col("deg_sample_pop").cast("double") / F.col("n_sample")
    )
    return out.select(
        "n_pop",
        "n_seed",
        "n_sample",
        "m_pop",
        "m_sample",
        F.round(mean_pop, 4).alias("mean_deg_pop"),
        F.round(mean_samp, 4).alias("mean_deg_sampled_nodes"),
        F.round(mean_samp / mean_pop, 4).alias("degree_bias_factor"),
    )


# ==== wave 208a: global network efficiency (G29) ====================


@register(
    "q_graph_global_efficiency",
    oracle="""
        WITH flow AS (
            SELECT LEAST(c.c_nationkey, s.s_nationkey) AS lo,
                   GREATEST(c.c_nationkey, s.s_nationkey) AS hi,
                   CAST(SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2))
                                 * 100 AS BIGINT)) AS BIGINT) AS cents
            FROM orders o
            JOIN lineitem l ON o.o_orderkey = l.l_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            WHERE c.c_nationkey <> s.s_nationkey
            GROUP BY 1, 2
        ),
        tot AS (
            SELECT CAST(SUM(cents) AS BIGINT) AS t,
                   CAST(COUNT(*) AS BIGINT) AS np
            FROM flow
        ),
        sym AS (
            SELECT lo AS src, hi AS dst FROM flow CROSS JOIN tot
            WHERE cents * np > t
            UNION ALL
            SELECT hi, lo FROM flow CROSS JOIN tot
            WHERE cents * np > t
        ),
        nodes AS (SELECT DISTINCT src AS v FROM sym),
        walk AS (
            WITH RECURSIVE r(src, dst, d) AS (
                SELECT v, v, 0 FROM nodes
                UNION
                SELECT r.src, e.dst, r.d + 1
                FROM r JOIN sym e ON r.dst = e.src
                WHERE r.d < 25
            ) SELECT src, dst, CAST(MIN(d) AS BIGINT) AS d
              FROM r GROUP BY src, dst
        ),
        pairs AS (
            SELECT d FROM walk WHERE src <> dst
        ),
        scal AS (
            SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM nodes) AS n,
                   CAST(COUNT(*) AS BIGINT) AS n_connected,
                   CAST(MAX(d) AS BIGINT) AS diameter,
                   CAST(SUM(d) AS BIGINT) AS sum_d,
                   CAST(SUM(1000000000 // d) AS BIGINT) AS inv_q
            FROM pairs
        )
        SELECT n, n_connected, diameter,
               ROUND(CAST(sum_d AS DOUBLE) / n_connected, 4)
                   AS avg_path_connected,
               ROUND(CAST(inv_q AS DOUBLE) / 1e9
                     / (CAST(n AS DOUBLE) * (n - 1)), 6)
                   AS global_efficiency
        FROM scal
    """,
    section="G29",
    doc="Global efficiency of the above-mean-weight nation trade "
    "graph: E = mean over ordered pairs of 1/d(i,j), with "
    "disconnected pairs contributing 0 — the connectivity summary "
    "that stays DEFINED when the graph fragments (average path "
    "length goes infinite, which is why efficiency is the "
    "small-world literature's denominator of choice; G26's "
    "percolation profile shows WHERE this graph fragments, this "
    "scores the fragments). Distances are exact BFS levels (oracle: "
    "depth-bounded recursive closure + MIN(d); Spark: 5 unrolled "
    "min-plus doubling rounds, 2^5 > any 25-node diameter); each "
    "1/d quantizes to 1e9 div d (exact integer — d is an integer "
    "level) before the pair sum. Scale: the fact join collapses to "
    "the nation quotient FIRST; all graph algebra runs on <= 625 "
    "pair rows.",
)
def q_graph_global_efficiency(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    od = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cu = load_table(spark, sf_dir, "customer")
    su = load_table(spark, sf_dir, "supplier")
    flow = (
        od.join(li, od.o_orderkey == li.l_orderkey)
        .join(cu, od.o_custkey == cu.c_custkey)
        .join(su, li.l_suppkey == su.s_suppkey)
        .where(F.col("c_nationkey") != F.col("s_nationkey"))
        .groupBy(
            F.least("c_nationkey", "s_nationkey").alias("lo"),
            F.greatest("c_nationkey", "s_nationkey").alias("hi"),
        )
        .agg(
            F.expr(
                "CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))"
                " * 100 AS BIGINT)) AS BIGINT)"
            ).alias("cents")
        )
        .localCheckpoint(eager=False)
    )
    tot = flow.agg(
        F.sum("cents").cast("bigint").alias("t"),
        F.count(F.lit(1)).cast("bigint").alias("np"),
    )
    kept = (
        flow.crossJoin(F.broadcast(tot))
        .where(F.col("cents") * F.col("np") > F.col("t"))
        .select("lo", "hi")
    )
    sym = kept.select(
        F.col("lo").alias("src"), F.col("hi").alias("dst")
    ).unionAll(
        kept.select(F.col("hi").alias("src"), F.col("lo").alias("dst"))
    )
    nodes = sym.select(F.col("src").alias("v")).distinct()
    # min-plus doubling: dist_0 = self(0) + edges(1); 5 squarings
    dist = (
        nodes.select(
            F.col("v").alias("src"), F.col("v").alias("dst"),
            F.lit(0).cast("bigint").alias("d"),
        )
        .unionAll(
            sym.select("src", "dst", F.lit(1).cast("bigint").alias("d"))
        )
        .groupBy("src", "dst")
        .agg(F.min("d").alias("d"))
    )
    for _ in range(5):
        # r9: the checkpointed RDD carries no size stats -> Catalyst
        # planned every min-plus squaring as a sort-merge join. The
        # distance frame is nation-grain (<= 25^2 rows at ANY scale
        # factor — the nationkey domain is fixed by schema), so the
        # broadcast build side is safe by construction. Same device and
        # measurement as q_graph_percolation_profile (3.74 -> 2.83 s).
        hop = (
            dist.alias("a")
            .join(
                F.broadcast(dist.alias("b")),
                F.col("a.dst") == F.col("b.src"),
            )
            .select(
                F.col("a.src").alias("src"),
                F.col("b.dst").alias("dst"),
                (F.col("a.d") + F.col("b.d")).alias("d"),
            )
        )
        dist = (
            dist.unionAll(hop)
            .groupBy("src", "dst")
            .agg(F.min("d").alias("d"))
            .localCheckpoint(eager=False)
        )
    pairs = dist.where(F.col("src") != F.col("dst")).select("d")
    n_nodes = nodes.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    scal = pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_connected"),
        F.max("d").cast("bigint").alias("diameter"),
        F.sum("d").cast("bigint").alias("sum_d"),
        F.sum(F.expr("1000000000 div d")).cast("bigint").alias("inv_q"),
    ).crossJoin(F.broadcast(n_nodes))
    return scal.select(
        "n",
        "n_connected",
        "diameter",
        F.round(
            F.col("sum_d").cast("double") / F.col("n_connected"), 4
        ).alias("avg_path_connected"),
        F.round(
            F.col("inv_q").cast("double")
            / F.lit(1e9)
            / (F.col("n").cast("double") * (F.col("n") - 1)),
            6,
        ).alias("global_efficiency"),
    )
