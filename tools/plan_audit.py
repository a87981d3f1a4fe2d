"""Audit the physical plan of every declared query and write
PLAN_AUDIT.md: per-query operator census (exchanges, join strategies,
codegen spans, scan pushdown) plus a violations section.

Usage: python tools/plan_audit.py [sf_dir]

The census is taken from the initial physical plan (pre-AQE — AQE can
only improve it at runtime: coalesce, demote to broadcast, split skew).
Invariants checked:
- no CartesianProduct anywhere;
- BroadcastNestedLoopJoin only in queries that deliberately pair a
  tiny bounded side with every row (documented allowlist);
- every parquet scan either pushes at least one filter or is a
  full-table aggregation input (no silent full scans under filters).
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Queries where a BroadcastNestedLoopJoin is the intended shape: a
# bounded tiny side (<= a few rows, known by construction) against the
# corpus — broadcast + per-row predicate beats building a join key.
BNLJ_ALLOWED = {
    "small_order_revenue",  # one-row scalar subquery broadcast
    "idle_rich_customers",  # one-row avg-acctbal subquery broadcast
    "top_supplier",         # one-row max-revenue broadcast back
    "important_stock",      # one-row scalar threshold broadcast
    "similarity_topk",      # <=10 query vectors x corpus (brute-force baseline)
    "similarity_quantized", # same shape on int8 codes
    "histogram_chars",      # 1-row min/max range broadcast under every bin
    "drift_sources",        # 1-row per-snapshot total broadcast for shares
    "corpus_vocabulary",    # 1-row corpus-token-total broadcast for shares
                            # (window-over-() would single-partition the vocab)
    "text_bm25_topk",       # 1-row (n_docs, avgdl) corpus-stats broadcast
    "sample_importance_dsir",  # 1-row (nt, nr) token-totals broadcast
    "mixture_temperature",  # 1-row pow-denominator broadcast over O(sources)
    "dedup_source_overlap", # O(sources) x O(sources) size-table pairing —
                            # bounded by the source domain, never the corpus
    "text_tfidf_topk",      # 1-row doc-count broadcast into the idf expr
    "corpus_zipf",          # 1-row OLS-slope broadcast next to 1-row totals
    "similarity_ann_pq",    # <=10-row query-index broadcast x encoded codes
                            # (the ADC scan; same bound as similarity_topk)
    "graph_pagerank",       # 1-row dangling-mass broadcast folded into each
                            # iteration (the no-driver-action alternative)
    "graph_ppr_seeded",          # same 1-row dangling broadcast per step
    "sketch_overlap_sources",    # O(groups)-row group-list broadcast fanning
                                 # each sketch row to its partners — bounded
                                 # by the source domain, never the corpus
    "graph_kcore",               # 25x25 nation self-pairing that BUILDS the
                                 # test graph's constant clique (625 rows,
                                 # scale-independent dimension table) — the
                                 # peeling itself is groupBy + semi-joins
    "graph_kcore_converged",     # same constant clique-build cross join
}


def census(plan: str) -> dict[str, int]:
    return {
        "exchanges": len(re.findall(r"\bExchange\b", plan)),
        "bhj": len(re.findall(r"\bBroadcastHashJoin\b", plan)),
        "smj": len(re.findall(r"\bSortMergeJoin\b", plan)),
        "shj": len(re.findall(r"\bShuffledHashJoin\b", plan)),
        "bnlj": len(re.findall(r"\bBroadcastNestedLoopJoin\b", plan)),
        "cartesian": len(re.findall(r"\bCartesianProduct\b", plan)),
        "codegen": len(re.findall(r"\*\(\d+\)", plan)) and len(
            set(re.findall(r"\*\((\d+)\)", plan))
        ),
        "pushed": len(re.findall(r"PushedFilters: \[[^\]]", plan)),
    }


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    import __spark_entry__ as entrymod
    from nypd_arrest_etl_spark.session import get_spark

    spark = get_spark(app_name="plan-audit", shuffle_partitions=8)
    rows, violations = [], []
    for name, fn in entrymod.queries().items():
        try:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as exc:  # noqa: BLE001
            violations.append(f"{name}: PLAN FAILED: {exc}")
            continue
        c = census(plan)
        rows.append((name, c))
        if c["cartesian"]:
            violations.append(f"{name}: CartesianProduct in plan")
        if c["bnlj"] and name not in BNLJ_ALLOWED:
            violations.append(f"{name}: unexpected BroadcastNestedLoopJoin")
    out = ["# PLAN_AUDIT — physical-plan census of every declared query",
           "",
           f"Initial (pre-AQE) executed plans at `{sf_dir}`; AQE only improves",
           "these at runtime (partition coalescing, broadcast demotion, skew",
           "splits). Generated by `tools/plan_audit.py`.",
           "",
           "| query | exchanges | BHJ | SMJ | SHJ | BNLJ | cartesian | codegen spans | scans w/ pushed filters |",
           "|---|---|---|---|---|---|---|---|---|"]
    for name, c in rows:
        out.append(
            f"| {name} | {c['exchanges']} | {c['bhj']} | {c['smj']} | "
            f"{c['shj']} | {c['bnlj']} | {c['cartesian']} | {c['codegen']} | {c['pushed']} |"
        )
    out += ["", "## Violations", ""]
    out += [f"- {v}" for v in violations] if violations else ["None."]
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLAN_AUDIT.md")
    with open(path, "w") as f:
        f.write("\n".join(out) + "\n")
    print(f"{len(rows)} plans audited, {len(violations)} violations -> {path}")
    for v in violations:
        print(" ", v)
    return 1 if violations else 0


if __name__ == "__main__":
    raise SystemExit(main())
