"""Physical-plan linter: structural scale rules applied to EVERY registered
query (VERDICT r5 task 3).

The plan string prints as an indented tree (`+- ` / `:- ` markers, 3 columns
per level). ``parse_tree`` recovers (depth, operator-line) pairs;
``lint_plan`` walks the tree and reports violations of the rules every plan
must satisfy regardless of which wave added it:

  R1  no CartesianProduct, ever (a broadcast scalar join plans as
      BroadcastNestedLoopJoin with a 1-row side, never CartesianProduct);
  R2  no SCAN-SCALE single-partition exchange: an ``Exchange
      SinglePartition`` is only legal when every path from it down to a
      FileScan passes through a bounding operator first (an aggregate, a
      limit, a TakeOrdered, or a broadcast build side) — i.e. the data
      entering the single partition is post-collapse, constant-bounded
      cardinality, not the corpus;
  R3  shuffle budget: at most MAX_EXCHANGES data exchanges
      (hash/range/single-partition) per plan — a wave that composes its way
      past that has a stage-graph problem a driver would feel at 100 TB.
  R5  (r9, VERDICT r8 item 7) explode-of-SOURCE-column pruning: the session
      excludes InferFiltersFromGenerate (it inlines computed-array HOF
      expressions into synthesized filters — the r8 double-eval fix), which
      also suppresses the `isnotnull(arr)` the rule would have pushed to the
      parquet scan when the exploded array is a DIRECT scan column. Every
      Generate over a bare scan-column attribute must therefore see an
      explicit IsNotNull(col) in that scan's PushedFilters (io.py's
      ingestion guards provide it for embeddings) — machine-proof that the
      exclusion is row-pruning-neutral across the registry.

The per-key policy (R3 exemptions WITH one-line justifications, the R4
grain check) and the Python-evaluation rule sit at the end of this module.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field


@dataclass
class Node:
    depth: int
    text: str
    children: list = field(default_factory=list)

    @property
    def op(self) -> str:
        m = re.match(r"[*\(\)0-9]*\s*([A-Za-z][A-Za-z0-9_.]*)", self.text)
        return m.group(1) if m else self.text[:40]


_MARKER = re.compile(r"^(?P<indent>[:\s+|-]*)(?:\+- |:- )(?P<text>.*)$")


def parse_tree(plan: str) -> Node | None:
    """Parse Spark's plan-tree string into a Node tree.

    Depth = marker column / 3 (Spark indents 3 cols per level). Lines that
    are expression continuations (no `+- `/`:- ` marker) are ignored.
    WholeStageCodegen star prefixes (`*(3) `) stay inside ``text``.
    """
    lines = [ln for ln in plan.split("\n") if ln.strip()]
    if not lines:
        return None
    root = Node(depth=-1, text=lines[0].strip())
    stack = [root]
    for ln in lines[1:]:
        m = _MARKER.match(ln)
        if not m:
            continue
        depth = len(m.group("indent")) // 3
        node = Node(depth=depth, text=m.group("text").strip())
        while stack and stack[-1].depth >= depth:
            stack.pop()
        (stack[-1] if stack else root).children.append(node)
        stack.append(node)
    return root


# Operators that BOUND the cardinality flowing up from beneath them: any
# keyed/global aggregate (output = |groups|), explicit limits/top-k, and
# broadcast builds (capped by the broadcast threshold by construction).
_BOUNDING = (
    "HashAggregate",
    "SortAggregate",
    "ObjectHashAggregate",
    "TakeOrderedAndProject",
    "CollectLimit",
    "GlobalLimit",
    "LocalLimit",
    "BroadcastExchange",
    "BroadcastQueryStage",
    "AggregateInPandas",
    "FlatMapGroupsInPandas",  # group-collapsing Arrow aggregates
)

# (LocalTableScan / Range / OneRowRelation leaves are bounded implicitly:
# they are not FileScans, so _scan_reachable_unbounded never fires on them.)


def _scan_reachable_unbounded(node: Node) -> bool:
    """True iff some FileScan is reachable from ``node`` without passing
    through a bounding operator."""
    if node.op.startswith(_BOUNDING):
        return False
    if node.op.startswith("FileScan"):
        return True
    return any(_scan_reachable_unbounded(c) for c in node.children)


def _walk(node: Node):
    yield node
    for c in node.children:
        yield from _walk(c)


MAX_EXCHANGES = 8


# R5: `Generate explode(col#12)` / posexplode over a BARE attribute. A
# computed array (explode(transform(...)), explode(split(...))) is out of
# scope: its synthesized filter could never reach the scan anyway, so the
# rule exclusion is pruning-neutral there by construction.
_GENERATE_BARE_RE = re.compile(
    r"Generate (?:pos)?explode(?:_outer)?\(([A-Za-z_][A-Za-z0-9_]*)#\d+\)"
)
_PUSHED_RE = re.compile(r"PushedFilters: \[([^\]]*)\]")


def _scan_columns(text: str) -> set[str]:
    """Column base names a FileScan outputs (the bracketed list after
    'FileScan parquet')."""
    m = re.search(r"FileScan[^\[]*\[([^\]]*)\]", text)
    return set(_BASENAME_RE.findall(m.group(1))) if m else set()


def _r5_check(node: Node) -> list[str]:
    """For a Generate over a bare attribute, find FileScans beneath that
    output the attribute; each must push IsNotNull(attr)."""
    m = _GENERATE_BARE_RE.search(node.text)
    if not m:
        return []
    col = m.group(1)
    out: list[str] = []
    for n in _walk(node):
        if not n.op.startswith("FileScan"):
            continue
        if col not in _scan_columns(n.text):
            continue
        pm = _PUSHED_RE.search(n.text)
        pushed = pm.group(1) if pm else ""
        if f"IsNotNull({col})" not in pushed:
            out.append(f"R5:unpruned-explode-of-scan-column={col}")
    return out


_KEYS_RE = re.compile(r"keys=\[([^\]]*)\]")
# strip '#123L' exprId suffixes and cast/alias wrappers to the base name
_BASENAME_RE = re.compile(r"([A-Za-z_][A-Za-z0-9_]*)#\d+")


def _window_is_unpartitioned(text: str) -> bool:
    """True iff a Window node's spec has NO partition columns.

    windowspecdefinition prints partition columns first (bare refs), then
    order specs (carrying ASC/DESC): an unpartitioned window's first
    argument is already an order spec.
    """
    m = re.search(r"windowspecdefinition\((.*?)specifiedwindowframe", text)
    if not m:
        return False
    first = m.group(1).split(",")[0]
    return " ASC" in first or " DESC" in first


def _nearest_agg_keys(node: Node) -> list[str] | None:
    """Grouping-key base names of the nearest bounding aggregates on every
    path under ``node``, or None if any FileScan is reachable without
    passing a bounding operator first (the unsafe case)."""
    safe = True
    keys: set[str] = set()

    def visit(n: Node) -> None:
        nonlocal safe
        if n.op.startswith(("HashAggregate", "SortAggregate",
                            "ObjectHashAggregate")):
            m = _KEYS_RE.search(n.text)
            keys.update(_BASENAME_RE.findall(m.group(1) if m else ""))
            return  # bounded: stop descending this path
        if n.op.startswith(_BOUNDING):  # limit/broadcast: bounded, keyless
            return
        if n.op.startswith("FileScan"):
            safe = False
            return
        for c in n.children:
            visit(c)

    for c in node.children:
        visit(c)
    return sorted(keys) if safe else None


def lint_plan(plan: str) -> list[str]:
    """Return a list of violation strings (empty = clean)."""
    root = parse_tree(plan)
    if root is None:
        return []
    violations: list[str] = []
    n_exchanges = 0
    for node in _walk(root):
        if node.op == "CartesianProduct":
            violations.append("R1:CartesianProduct")
        if node.op == "Exchange":
            if "SinglePartition" in node.text:
                n_exchanges += 1
                if any(_scan_reachable_unbounded(c) for c in node.children):
                    violations.append("R2:scan-scale-single-partition-exchange")
            elif "hashpartitioning" in node.text or "rangepartitioning" in node.text:
                n_exchanges += 1
            # round-robin re-spreads are free repartitions, not data shuffles
        if node.op == "Generate":
            violations.extend(_r5_check(node))
        if node.op == "Window" and _window_is_unpartitioned(node.text):
            # R4 (r8, VERDICT r7 item 5): an UNPARTITIONED window is only
            # scale-safe when its input collapsed to a bounded grain first
            # (the W34/W38 sweep-line family: day-level relations). Report
            # the nearest bounding aggregate's grouping keys so the policy
            # layer (``lint_offences`` below) can assert they are calendar/
            # level grains — "bounded by construction", machine-checked.
            keys = _nearest_agg_keys(node)
            if keys is None:
                violations.append("R4:global-window-over-scan")
            else:
                violations.append(
                    "R4:global-window-agg-keys=" + ",".join(sorted(keys))
                )
    if n_exchanges > MAX_EXCHANGES:
        violations.append(f"R3:exchanges={n_exchanges}")
    return violations


# --- Per-key policy ---------------------------------------------------------
# R1, R2 and R5 are NEVER exempt: round 6 eliminated every CartesianProduct
# and scan-scale single-partition exchange (broadcast bounded theta sides;
# operators/ranking.py two-pass global rank / prefix-sum replacing
# unpartitioned windows). R3 (shuffle budget > MAX_EXCHANGES) carries a
# per-key justification table: iterative algorithms pay a bounded number of
# exchanges per iteration over frames that COLLAPSE before iterating, and a
# handful of multi-statistic reports run many exchanges over tiny
# post-agg relations. Every entry says why the count is structural, not
# accidental. tests/test_oracle_parity.py applies ``lint_offences`` to every
# registered key's sf0.01 plan, on the frame its parity check builds.

# key -> why its exchange count exceeds the budget BY DESIGN. Rough count
# model given in parens (iters x exchanges-per-iter, or #tiny-frame stats).
R3_EXEMPT = {
    # --- bounded-iteration algorithms: k iterations x (1-3 keyed
    #     aggregation exchanges over the collapsed node/edge frame) ---
    "q_agg_bradley_terry": "MM fixed-point: 5 iterations x per-team agg",
    "q_graph_pagerank": "power iteration: k rounds x (contrib agg + join)",
    "q_graph_hits": "hub/authority double update per round",
    "q_graph_ppr": "personalized push: k rounds over frontier",
    "q_graph_label_prop": "label propagation rounds (localCheckpoint cuts lineage, exchanges remain)",
    "q_graph_harmonic": "BFS frontier expansion per depth",
    "q_graph_katz": "Katz series: k matvec rounds",
    "q_graph_snowball_bias": "snowball waves: per-wave frontier join + dedup",
    "q_vec_pca_power": "power iteration on the covariance: k matvecs",
    "q_vec_pca_explained": "same power-iteration core + variance accounting",
    "q_text_textrank": "PageRank over the word graph: k rounds",
    "q_agg_hodges_lehmann": "binary-search on the pairwise-median count: log(range) probe rounds, each one aggregation",
    # --- graph one-shots whose exchange count is the documented
    #     edge->pair->triangle pipeline over the SPARSIFIED edge list ---
    "q_graph_triangles": "edge orient + pair gen + closure join, each keyed",
    "q_graph_temporal_triangles": "same pipeline + per-part top-k sparsify",
    "q_graph_clustering_coeff": "triangle core + per-node degree joins",
    "q_graph_edge_support": "truss support: pair gen + per-edge counts",
    "q_graph_edge_jaccard": "neighbor-set join + per-edge union sizes",
    "q_graph_percolation_profile": "threshold sweep: per-level component agg",
    # --- multi-statistic reports: many exchanges, each over a tiny
    #     post-aggregation relation (bands/cells/checkpoints), never the
    #     corpus ---
    "q_agg_basket_lift": "pair/item/total supports: 3 aggs + small joins",
    "q_agg_borda_copeland": "per-month ranks then pairwise tallies over |nations| rows",
    "q_agg_conformal_interval": "3 splits x (median/quantile/coverage) over disjoint slices",
    "q_agg_bootstrap_median": "two-phase distributed median (histogram + "
    "straddling-bucket refine) + r8's distributed prefix-sum point "
    "estimate: every exchange is over a post-aggregation value/bucket/"
    "replica-grain relation, never the raw corpus",
    "q_agg_crps_empirical": "two prefix-sum passes (2 shuffles each) + obs walk",
    "q_agg_gpd_pwm": "two global ranks (2 shuffles each) + moment agg",
    "q_agg_gk_lambda": "per-row/col modes + grand mode: 4 tiny aggs",
    "q_agg_local_moran_hotspots": "per-nation moments + neighbor join over 25 rows",
    "q_agg_morans_i": "spatial weight join + 3 moment aggs over 25 nations",
    "q_agg_mutual_information": "joint + 2 marginal + entropy aggs over cells",
    "q_agg_naive_bayes": "per-class priors + per-(class,token) likelihoods + test join",
    "q_agg_nemenyi_posthoc": "per-block ranks + pairwise table over 5x5 treatments",
    "q_agg_quade": "block weights + within-block ranks + treatment stats",
    "q_etl_fd_audit": "one distinct-pair agg per candidate FD (8 candidates)",
    "q_etl_join_strategy_advisor": "cardinality probes of both sides per candidate key",
    "q_etl_partition_evolution_plan": "per-month x per-layout-candidate size rollups",
    "q_etl_pk_discovery": "one distinct-count agg per candidate key combo",
    "q_sketch_histogram_quantile": "histogram build + cum walk + per-q probes (bounded bins)",
    "q_sketch_theta_diff": "two sketch builds + set-op estimates (bounded sketch rows)",
    "q_text_burrows_delta": "per-author z-scores over the bounded function-word vocab",
    "q_text_tfidf_cosine": "tf + df + norm + pair-dot: each a keyed agg over terms",
    "q_text_heaps_law": "6 checkpoint consumers of ONE checkpointed global rank (each a small agg)",
    "q_vec_calinski_harabasz": "per-cluster + global moment aggs per k",
    "q_vec_cluster_purity": "per-(cluster,label) cells + 2 marginals + argmax",
    "q_win_renewal_curve": "per-cohort day spine x renewal aggs (bounded spine)",
}


# R4 (r8, VERDICT r7 item 5): an unpartitioned cumulative window is only
# scale-safe when its input is a calendar/level-grain relation — bounded by
# the calendar span or a fixed level set, NOT the row count. The lint
# extracts the nearest bounding aggregate's grouping keys; this regex is
# the machine-checked definition of "grain" for the ENFORCED family:
# date/day/month grains and sweep-line levels. A data-scale key (user_id,
# order key, doc_id, …) must NOT match.
#
# Scope (honest finding from the r8 registry-wide scan): 95 keys run SOME
# unpartitioned window over a post-aggregation frame. Most are bounded by
# construction but not by a NAME the regex can classify: `__gr_pid` is the
# two-pass global-rank device (operators/ranking.py — one row per shuffle
# partition, bounded by spark.sql.shuffle.partitions); `_groupingexpression`
# is Catalyst's anonymous alias for inline grain exprs (date_trunc etc.);
# the statistic/curve families (Lorenz/RFM/Pareto/KS/ranked values) window
# value- or entity-grain frames whose safety argument is per-key (documented
# in their docstrings, measured in STRESS_* where covered) rather than
# name-derivable. R4 therefore GATES only the enumerated W34/W38 sweep-line
# family below — the verdict's ask — and stays informational elsewhere;
# lint_plan still reports every site so a scan can re-audit at any time.
GRAIN_KEY_RE = re.compile(
    r"^(d|dt|day|date|mon|month|week|wk|hour|hr|yr|year|level|lvl|grade|"
    r"bucket|band|cell|grain)$|_(day|date|month|week|hour|year|level|"
    r"grade|bucket|band)$|^(day|date|month|level|bucket)_|"
    r"^(o_orderdate|l_shipdate)$"
)

# The sweep-line keys whose unpartitioned cumulative windows MUST consume
# a calendar-grain aggregate (W34/W38 + the day-grain backlog variant).
R4_ENFORCED = {
    "q_win_queue_percentiles",
    "q_win_littles_law",
    "q_win_backlog",
}


def _r4_ok(violation: str) -> bool:
    if violation == "R4:global-window-over-scan":
        return False
    keys = violation.split("=", 1)[1]
    # keyless bound (limit/broadcast below) is bounded by construction
    return all(GRAIN_KEY_RE.search(k) for k in keys.split(",") if k)


def lint_offences(key: str, plan: str) -> list[str]:
    """The plan's violations if ``key`` breaks the policy, else []."""
    violations = lint_plan(plan)
    hard = [v for v in violations if not v.startswith(("R3", "R4"))]
    r3 = [v for v in violations if v.startswith("R3")]
    r4 = [v for v in violations if v.startswith("R4")]
    if (
        hard
        or (r3 and key not in R3_EXEMPT)
        or (key in R4_ENFORCED and not all(_r4_ok(v) for v in r4))
    ):
        return violations
    return []


# Python evaluation nodes: only keys tagged ``python_boundary`` at
# registration may plan one.
PYTHON_EVAL_RE = re.compile(
    r"BatchEvalPython|ArrowEvalPython|FlatMapGroupsInPandas|MapInPandas|PythonUDTF"
)
