#!/usr/bin/env python3
"""Full-inventory correctness self-check (driver t2 mirror, no cap).

The round driver's CORRECTNESS_r{N}.json covered only the first 50 queries
in alphabetical order (observed r1: the file ends at q_regexp, the 50th of
87 declared keys). This script runs the SAME check — Spark query vs DuckDB
oracle at sf0.01, row count + schema + order-insensitive value hash — over
EVERY declared query and writes CORRECTNESS_SELF.json, so the full
inventory has a committed verification artifact each round.

Usage:  python selfcheck.py [--sf-dir /root/testdata/sf0.01] [--out CORRECTNESS_SELF.json]
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys
import time
import traceback

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from ai_to_cvent_etl_spark.io import TABLE_NAMES  # noqa: E402
# the same loose Spark-vs-DuckDB type bar as the pytest parity gate: the
# strict sf0.1 sweep flags int-vs-BIGINT schema drift that a name-only
# compare accepts
from tests.harness import type_problems  # noqa: E402


# --- r7 (VERDICT r6 task 7): bounded-error verdicts for the three
# rows-only sketch keys. Their estimates cannot cross-engine hash BY
# DESIGN, but each has an exact twin; the artifact should carry the
# measured relative error against the bound the golden tests assert
# (tests/test_sketch_error_bounds.py), not a bare rows-only pass.

def _bound_a4(con, rows, cols):
    i_k = cols.index("o_orderstatus")
    i_v = cols.index("approx_customers")
    exact = dict(con.sql(
        "SELECT o_orderstatus, COUNT(DISTINCT o_custkey) FROM orders GROUP BY 1"
    ).fetchall())
    errs = [abs(r[i_v] - exact[r[i_k]]) / exact[r[i_k]] for r in rows]
    return errs, 0.15


def _bound_a20(con, rows, cols):
    i_k = cols.index("l_returnflag")
    exact = {
        r[0]: r[1:]
        for r in con.sql(
            "SELECT l_returnflag,"
            " quantile_cont(l_extendedprice, 0.5),"
            " quantile_cont(l_extendedprice, 0.9),"
            " quantile_cont(l_extendedprice, 0.99)"
            " FROM lineitem GROUP BY 1"
        ).fetchall()
    }
    idx = [cols.index(c) for c in ("p50", "p90", "p99")]
    errs = [
        abs(r[i] - e) / e
        for r in rows
        for i, e in zip(idx, exact[r[i_k]])
    ]
    return errs, 0.05


def _bound_sk3(con, rows, cols):
    i_t = cols.index("event_type")
    i_a = cols.index("approx_users")
    i_e = cols.index("exact_users")
    total = con.sql("SELECT COUNT(DISTINCT user_id) FROM events").fetchone()[0]
    errs = []
    for r in rows:
        exact = total if r[i_t] == "__all__" else r[i_e]
        errs.append(abs(r[i_a] - exact) / exact)
    return errs, 0.05


_SKETCH_BOUNDS = {
    "q_agg_approx_distinct": _bound_a4,
    "q_agg_approx_percentile": _bound_a20,
    "q_sketch_hll_union": _bound_sk3,
}


def _canon_rows(rows, cols):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(repr(r[i]) for i in idx) for r in rows)


def _hash(rows, cols) -> str:
    return hashlib.md5(repr(_canon_rows(rows, cols)).encode()).hexdigest()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--out", default=os.path.join(REPO, "CORRECTNESS_SELF.json"))
    ap.add_argument(
        "--only", default=None,
        help="comma-separated key list: check only these (writes nowhere "
        "unless --out is given explicitly)",
    )
    ap.add_argument(
        "--max-hash-rows", type=int, default=0,
        help="r7: if >0 and BOTH sides report more rows than this, record "
        "rows_match + schema_match and skip the value hash (err = "
        "'hash_skipped_rows_exceed_N'). The Python-side canonicalization "
        "is O(rows) with large constants (collect -> repr -> sort -> md5) "
        "and a 90M-row pair list at sf3 would cost hours and ~10 GB of "
        "driver heap for a structural (pair-list) result whose VALUES are "
        "already hash-pinned at sf1; the aggregate keys that scale "
        "surfaces value bugs in stay fully hashed.",
    )
    args = ap.parse_args()

    import duckdb
    from pyspark.sql import SparkSession

    import __spark_entry__ as entry

    spark = (
        SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        )
        .getOrCreate()
    )
    con = duckdb.connect()
    for t in TABLE_NAMES:
        # driver fixtures are single files; repo-generated SFs (tools/
        # gen_sf.py) are Spark directory-parquet — glob the parts then
        path = os.path.join(args.sf_dir, f"{t}.parquet")
        src = f"'{path}/*.parquet'" if os.path.isdir(path) else f"'{path}'"
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM {src}")

    queries = entry.queries()
    oracles = entry.oracle_sql()
    if args.only:
        keep = set(args.only.split(","))
        missing = keep - set(queries)
        if missing:
            print(f"unknown keys: {sorted(missing)}", file=sys.stderr)
            return 2
        queries = {k: v for k, v in queries.items() if k in keep}
        if args.out == os.path.join(REPO, "CORRECTNESS_SELF.json"):
            args.out = "/tmp/correctness_only.json"
    report: dict[str, dict] = {}

    def _dump_partial() -> None:
        # write incrementally — a 2-hour sweep killed by a timeout used to
        # lose EVERYTHING (report was only dumped at the end). Called from
        # EVERY branch that finishes a key, including the hash-skipped
        # early-continue (ADVICE r7: that branch used to skip the dump,
        # so a kill right after it lost the completed key).
        with open(args.out + ".partial", "w") as f:
            json.dump(report, f, sort_keys=True)

    t0 = time.time()
    for name in sorted(queries):
        rec: dict = {
            "rows_match": None, "schema_match": None, "hash_match": None,
            "spark_rows": None, "oracle_rows": None, "err": None,
            "vacuous": False,
        }
        try:
            sdf = queries[name](spark, args.sf_dir)
            scols = sdf.columns
            if args.max_hash_rows and name in oracles:
                n_spark = sdf.count()
                n_oracle = con.sql(
                    f"SELECT COUNT(*) FROM ({oracles[name]})"
                ).fetchone()[0]
                if (
                    n_spark > args.max_hash_rows
                    and n_oracle > args.max_hash_rows
                ):
                    orel0 = con.sql(f"SELECT * FROM ({oracles[name]}) LIMIT 0")
                    rec["spark_rows"] = n_spark
                    rec["oracle_rows"] = n_oracle
                    rec["rows_match"] = n_spark == n_oracle
                    tp = type_problems(sdf.dtypes, orel0.columns, orel0.types)
                    rec["schema_match"] = (
                        sorted(scols) == sorted(orel0.columns) and not tp
                    )
                    rec["err"] = (
                        f"hash_skipped_rows_exceed_{args.max_hash_rows}"
                    )
                    rec["vacuous"] = n_spark == 0
                    report[name] = rec
                    print(
                        f"{name}: rows-only ({n_spark} rows)",
                        file=sys.stderr,
                    )
                    _dump_partial()
                    continue
            srows = [tuple(r) for r in sdf.collect()]
            rec["spark_rows"] = len(srows)
            if name not in oracles:
                rec["err"] = "no_oracle"
                if name in _SKETCH_BOUNDS:
                    # ADVICE r7: an empty result (no errs) or a 0-valued
                    # exact count (ZeroDivision inside the bound fn) must
                    # record an explicit unmeasurable marker, not fall
                    # into the catch-all traceback — which would silently
                    # degrade the bounded-error verdict to an error row.
                    try:
                        errs, bound = _SKETCH_BOUNDS[name](con, srows, scols)
                    except ZeroDivisionError:
                        errs, bound = [], None
                    rec["bound_rel_err"] = bound
                    if errs:
                        rec["measured_max_rel_err"] = round(max(errs), 6)
                        rec["within_bound"] = max(errs) <= bound
                    else:
                        rec["measured_max_rel_err"] = None
                        # an unmeasurable bound is a FAILURE of the check,
                        # not a pass: within_bound=False keeps n_rows_only
                        # from counting it (see the summary tally below)
                        rec["within_bound"] = False
                        rec["err"] = "no_oracle; bound_unmeasurable"
            else:
                orel = con.sql(oracles[name])
                ocols = orel.columns
                otypes = orel.types
                orows = orel.fetchall()
                rec["oracle_rows"] = len(orows)
                rec["rows_match"] = len(srows) == len(orows)
                tp = type_problems(sdf.dtypes, ocols, otypes)
                rec["schema_match"] = sorted(scols) == sorted(ocols) and not tp
                if tp:
                    rec["err"] = "type_mismatch: " + "; ".join(tp)
                rec["hash_match"] = (
                    rec["rows_match"]
                    and rec["schema_match"]
                    and _hash(srows, scols) == _hash(orows, ocols)
                )
                # a 0-row exact query hash-matches trivially and proves
                # nothing about the operator — count it as a failure
                rec["vacuous"] = len(srows) == 0
        except Exception:
            rec["err"] = traceback.format_exc(limit=3)
        report[name] = rec
        status = "ok" if rec["hash_match"] else (rec["err"] or "MISMATCH")
        print(f"{name}: {str(status)[:60]}", file=sys.stderr)
        _dump_partial()

    n_ok = sum(
        1 for r in report.values() if r["hash_match"] and not r["vacuous"]
    )
    # a rows-only key whose measured sketch error EXCEEDS its published
    # bound counts as a failure, not a pass; a hash-skipped giant-output
    # key passes its weaker gate only if rows AND schema match
    n_rows_only = sum(
        1 for r in report.values()
        if (r["err"] == "no_oracle" and r.get("within_bound") is not False)
        or (
            str(r["err"] or "").startswith("hash_skipped")
            and r["rows_match"] and r["schema_match"] and not r["vacuous"]
        )
    )
    n_vacuous = sum(1 for r in report.values() if r["vacuous"])
    out = {
        "sf_dir": args.sf_dir,
        "n_queries": len(report),
        "n_hash_match": n_ok,
        "n_rows_only": n_rows_only,
        "n_vacuous": n_vacuous,
        "n_fail": len(report) - n_ok - n_rows_only,
        "wall_s": round(time.time() - t0, 1),
        "queries": report,
    }
    with open(args.out, "w") as f:
        json.dump(out, f, indent=2, sort_keys=True)
    print(
        f"{n_ok}/{len(report)} hash-match, {n_rows_only} rows-only, "
        f"{out['n_fail']} FAIL -> {args.out}"
    )
    return 0 if out["n_fail"] == 0 else 1


if __name__ == "__main__":
    raise SystemExit(main())
