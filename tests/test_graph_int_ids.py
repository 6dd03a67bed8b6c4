"""Property tests for the r7 lex11 BIGINT node-id encoding (graph.py).

q_graph_label_prop's reduce is a lexicographic MIN over 'c{custkey}' /
's{suppkey}' VARCHAR node ids on the oracle side; the Spark side iterates
on lex11-encoded BIGINTs, so the whole rewrite is correct iff the encoding
is order-preserving w.r.t. byte-wise string comparison. These tests pin
that property (random + adversarial key sets, both prefixes) plus
injectivity and the int64 bound, and the row-local decode
(_lex11_decode_expr) of the int edges on a real fixture.
"""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from ai_to_cvent_etl_spark.queries.graph import (
    _LEX11_S_OFFSET,
    _lex11_decode_expr,
    _lex11_expr,
    trade_graph_edges,
    trade_graph_edges_int,
)
from tests.conftest import SF0001


def _enc_rows(spark, pairs):
    df = spark.createDataFrame(pairs, "p string, k long")
    out = df.select(
        F.concat("p", F.col("k").cast("string")).alias("node"),
        F.when(
            F.col("p") == "s", F.expr(_lex11_expr("k", True))
        ).otherwise(F.expr(_lex11_expr("k", False))).alias("enc"),
    ).collect()
    return [(r.node, r.enc) for r in out]


ADVERSARIAL = [1, 2, 9, 10, 11, 19, 20, 99, 100, 101, 109, 110, 111,
               999, 1000, 1001, 123456789012, 999999999999]


def test_lex11_order_matches_varchar_order(spark):
    rng = random.Random(7)
    keys = rng.sample(range(1, 10**9), 400) + ADVERSARIAL
    pairs = [(p, k) for k in keys for p in ("c", "s")]
    rows = _enc_rows(spark, pairs)
    by_str = [n for n, _ in sorted(rows, key=lambda x: x[0])]
    by_enc = [n for n, _ in sorted(rows, key=lambda x: x[1])]
    assert by_str == by_enc


def test_lex11_injective_and_bounded(spark):
    rng = random.Random(11)
    keys = rng.sample(range(1, 10**12), 300) + ADVERSARIAL
    rows = _enc_rows(spark, [(p, k) for k in keys for p in ("c", "s")])
    encs = [e for _, e in rows]
    assert len(set(encs)) == len(encs)
    assert all(0 < e < 2**63 for e in encs)
    # the 's' offset separates the prefix classes completely
    assert all(
        (e >= _LEX11_S_OFFSET) == n.startswith("s") for n, e in rows
    )


def test_nodes_dim_decodes_int_edges(spark):
    """Every int-edge endpoint decodes, through the row-local
    _lex11_decode_expr that pagerank and label_prop use, to exactly the
    string-edge node set, and the decode is one-to-one."""
    und_s = trade_graph_edges(spark, SF0001)
    und_i = trade_graph_edges_int(spark, SF0001)
    str_nodes = {
        r.src for r in und_s.select("src").distinct().collect()
    }
    decoded = [
        r.node
        for r in und_i.select("src")
        .distinct()
        .select(F.expr(_lex11_decode_expr("src")).alias("node"))
        .collect()
    ]
    assert set(decoded) == str_nodes
    # bijection: one node per distinct id and one id per node
    assert len(decoded) == len(set(decoded))


def test_lex11_decode_expr_roundtrip(spark):
    """r8: the row-local inverse (_lex11_decode_expr) exactly recovers
    'c{key}'/'s{key}' for random + adversarial keys of every digit count —
    the property the decode-join-free pagerank/label_prop outputs rely on."""
    rng = random.Random(13)
    keys = (
        rng.sample(range(1, 10**12), 300)
        + ADVERSARIAL
        + [10**j for j in range(12)]
        + [10**j - 1 for j in range(1, 13)]
    )
    pairs = [(p, k) for k in keys for p in ("c", "s")]
    df = spark.createDataFrame(pairs, "p string, k long")
    out = df.select(
        F.concat("p", F.col("k").cast("string")).alias("node"),
        F.expr(
            _lex11_decode_expr(
                "CASE WHEN p = 's' THEN "
                + _lex11_expr("k", True)
                + " ELSE "
                + _lex11_expr("k", False)
                + " END"
            )
        ).alias("roundtrip"),
    ).collect()
    bad = [(r.node, r.roundtrip) for r in out if r.node != r.roundtrip]
    assert not bad, bad[:5]
