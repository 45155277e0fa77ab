#!/usr/bin/env python
"""Local mirror of the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() on DuckDB at sf0.01; compare
row-count, schema column names, and order-insensitive values.

Before each collect the query's physical plan is walked (``plan_facts``):
Exchange and Python-eval node counts, scans pruned by
``PartitionFilters``, and the plan rule — no ``CartesianProduct``, and
no ``BroadcastNestedLoopJoin`` whose build side has no row bound except
the ones named in ``UNBOUNDED_BNLJ``.  A plan that breaks the rule fails
the query.  A full run (no ``--only``) writes PLANS.md, one row per query.

Usage: python scripts/check_oracle.py [--sf SF_DIR] [--only q7,q102]

``--only`` keeps the queries whose name contains any of its
comma-separated substrings, all in one Spark session.  Spark
runs on ``get_spark``'s default cores.  The tally reads ``passed/ran``:
queries filtered out by ``--only`` are reported as skipped, never as
passes.
"""

from __future__ import annotations

import argparse
import math
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# Queries whose BroadcastNestedLoopJoin broadcasts a parquet-derived
# frame Spark knows no row bound for; the comment names the key that
# bounds it.
UNBOUNDED_BNLJ = {
    "q139_knn_classify",        # probe vectors: every 25th vec_id
    "q179_source_js",           # per-source totals: sources
    "q186_quantile_normalize",  # global length table: distinct n_chars
    "q217_ks_distance",         # sample groups: sources
    "q235_t_closeness",         # class totals: event types
    "q244_chi2_audit",          # column totals: languages
    "q261_ipf_fit",             # OD margins: 4-char cells of the walk
    "q269_triplet_audit",       # label set: labels
    "q280_nb_classify",         # class totals: sources
    "q289_kmv_intersect",       # sketch groups: sources
    "q292_source_mst",          # graph nodes: sources
    "q301_fdr_screen",          # per-group thresholds: sources
    "q306_consensus_line",      # hour histogram: 24 hours of the day
}

# leaves of frames built on the driver (literal rows, ranges, RDDs)
_DRIVER_LEAVES = {"LocalTableScanExec", "RangeExec", "RDDScanExec"}


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def _cls(node) -> str:
    return node.getClass().getSimpleName()


def _inner(node):
    """The plan a wrapper node stands for: AQE's current plan (its
    ``inputPlan`` has no Exchange nodes yet), a cached relation's plan,
    or the exchange a reused one points at."""
    name = _cls(node)
    if name == "AdaptiveSparkPlanExec":
        return node.executedPlan()
    if name == "InMemoryTableScanExec":
        return node.relation().cachedPlan()
    if name == "ReusedExchangeExec":
        return node.child()
    return None


def _leaves(node) -> list[str]:
    inner = _inner(node)
    if inner is not None:
        return _leaves(inner)
    kids = _seq(node.children())
    return [x for k in kids for x in _leaves(k)] if kids else [_cls(node)]


def plan_facts(df) -> dict:
    """Walk ``df``'s physical plan as it will run and count what the
    engine's scale claims rest on.  ``problems`` lists rule breaks:
    every ``CartesianProduct``, and every ``BroadcastNestedLoopJoin``
    whose build side has no logical ``maxRows`` and reads more than
    driver-built frames."""
    facts = {"exchanges": 0, "python": 0, "bnlj": 0, "pruned": [],
             "problems": []}

    def walk(node):
        name = _cls(node)
        inner = _inner(node)
        if inner is not None:
            if name != "ReusedExchangeExec":  # counted where it first appears
                walk(inner)
            return
        if name in ("ShuffleExchangeExec", "BroadcastExchangeExec"):
            facts["exchanges"] += 1
        elif name == "FileSourceScanExec" and not node.partitionFilters().isEmpty():
            facts["pruned"].append(node.partitionFilters().mkString(", "))
        elif name == "CartesianProductExec":
            facts["problems"].append("CartesianProduct")
        elif name == "BroadcastNestedLoopJoinExec":
            facts["bnlj"] += 1
            left = node.buildSide().toString() == "BuildLeft"
            join = node.logicalLink().get()
            bound = (join.left() if left else join.right()).maxRows()
            build = node.left() if left else node.right()
            if not bound.isDefined() and not set(_leaves(build)) <= _DRIVER_LEAVES:
                facts["problems"].append("unbounded BroadcastNestedLoopJoin")
        elif node.getClass().getPackage().getName() == "org.apache.spark.sql.execution.python" \
                and name != "AttachDistributedSequenceExec":
            facts["python"] += 1
        for k in _seq(node.children()) + _seq(node.subqueries()):
            walk(k)

    walk(df._jdf.queryExecution().executedPlan())
    return facts


def _norm(v):
    """EXACT, type-distinguishing normalization.  The driver's hash is
    value- and dtype-sensitive (DuckDB HUGEINT sums land in pandas as
    float64 and hash differently from Spark's int64 even when equal) —
    so int 1758 and float 1758.0 must NOT normalize alike, and floats
    compare by shortest-round-trip repr, not a lossy %.9g."""
    import numpy as np

    if isinstance(v, (bool, np.bool_)):
        return f"b:{bool(v)}"
    if isinstance(v, (int, np.integer)):
        return f"i:{int(v)}"
    if isinstance(v, (float, np.floating)):
        f = float(v)
        if math.isnan(f):
            return "f:nan"
        return f"f:{f!r}"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return str(v)


def plan_problems(name: str, plan: dict) -> list[str]:
    """``plan``'s rule breaks, less an unbounded BNLJ that
    ``UNBOUNDED_BNLJ`` names; a named query without one is a break."""
    named = name in UNBOUNDED_BNLJ
    out = [p for p in plan["problems"] if not (named and p.startswith("unbounded"))]
    if named and len(out) == len(plan["problems"]):
        out.append("named in UNBOUNDED_BNLJ but no unbounded BroadcastNestedLoopJoin")
    return out


def write_plans(path: str, plans: dict, sf: str, cores: int) -> None:
    rows = []
    for name, p in plans.items():
        pruned = "; ".join(re.sub(r"#\d+", "", f) for f in p["pruned"]).replace("|", "\\|")
        rule = ", ".join(plan_problems(name, p)) or (
            "ok (unbounded BNLJ, named)" if name in UNBOUNDED_BNLJ else "ok")
        rows.append(f"| {name} | {p['exchanges']} | {p['python']} | {p['bnlj']} "
                    f"| {pruned} | {rule} |")
    with open(path, "w") as f:
        f.write(f"""# PLANS — physical plan facts for every query

Generated by `python scripts/check_oracle.py` at {os.path.basename(sf.rstrip("/"))}
on {cores} cores from each query's executed plan before its collect (AQE's
current plan, cached relations' plans included).  Columns: Exchange =
shuffle + broadcast exchanges; Python = Python-eval nodes (Arrow/batch
UDFs, mapInPandas, applyInPandas, ...); BNLJ = BroadcastNestedLoopJoin
nodes; pruned scans = `PartitionFilters` of scans that prune.  The rule:
no CartesianProduct, and no BNLJ whose build side has no row bound
(logical `maxRows` undefined, fed by more than driver-built frames)
unless `UNBOUNDED_BNLJ` in the script names the key that bounds it.

| query | Exchange | Python | BNLJ | pruned scans | plan rule |
|---|---|---|---|---|---|
""" + "\n".join(rows) + "\n")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--only", default=None)
    args = ap.parse_args()

    os.environ["SPARK_GRAFT_SF_DIR_ORACLE"] = args.sf
    import __spark_entry__ as entrymod
    from geotile.session import get_spark

    spark = get_spark("oracle-check", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        p = f"{args.sf}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    only = args.only.split(",") if args.only else None
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    plans = {}
    ran = unchecked = 0
    for name, fn in qs.items():
        if only and not any(o in name for o in only):
            continue
        ran += 1
        t0 = time.time()
        try:
            sdf = fn(spark, args.sf)
            plans[name] = plan_facts(sdf)
            cols = sorted(sdf.columns)
            srows = sorted(tuple(_norm(r[c]) for c in cols) for r in sdf.collect())
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: spark error: {e}")
            continue
        t1 = time.time()
        status = [f"plan: {p}" for p in plan_problems(name, plans[name])]
        if name not in oracles:
            if status:
                failures.append(name)
                print(f"FAIL  {name}: {'; '.join(status)}")
            else:
                print(f"ok-   {name}: rows-only ({len(srows)} rows, no oracle) "
                      f"[spark {t1 - t0:.1f}s]")
                unchecked += 1
            continue
        try:
            ddf = con.sql(oracles[name]).df()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {e}")
            continue
        dcols = sorted(ddf.columns)
        drows = sorted(tuple(_norm(v) for v in row)
                       for row in ddf[dcols].itertuples(index=False, name=None))
        if cols != dcols:
            status.append(f"schema {cols} != {dcols}")
        if len(srows) != len(drows):
            status.append(f"rows {len(srows)} != {len(drows)}")
        if cols == dcols and len(srows) == len(drows) and srows != drows:
            bad = next(i for i, (a, b) in enumerate(zip(srows, drows)) if a != b)
            status.append(f"values differ at sorted idx {bad}: {srows[bad]} != {drows[bad]}")
        if status:
            failures.append(name)
            print(f"FAIL  {name}: {'; '.join(status)}")
        else:
            print(f"OK    {name}: {len(srows)} rows match [spark {t1 - t0:.1f}s, "
                  f"duck {time.time() - t1:.1f}s]")
    print(f"\n{ran - len(failures) - unchecked}/{ran} pass, "
          f"{len(qs) - ran} skipped, {unchecked} without an oracle")
    n_cart = sum(p["problems"].count("CartesianProduct") for p in plans.values())
    unbounded = {n for n, p in plans.items() if any(
        x.startswith("unbounded") for x in p["problems"])}
    print(f"plans: {len(plans)}/{ran} planned, {n_cart} CartesianProduct, "
          f"{sum(1 for p in plans.values() if p['bnlj'])} with a BNLJ, "
          f"{len(unbounded)} unbounded ({len(unbounded - UNBOUNDED_BNLJ)} "
          f"outside UNBOUNDED_BNLJ), "
          f"{sum(p['exchanges'] for p in plans.values())} Exchange, "
          f"{sum(p['python'] for p in plans.values())} Python-eval nodes")
    if not args.only:
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        write_plans(os.path.join(root, "PLANS.md"), plans, args.sf,
                    spark.sparkContext.defaultParallelism)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
