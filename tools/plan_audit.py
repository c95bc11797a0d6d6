"""Plan audit — lint the PHYSICAL plan of every ``queries()`` entry and
commit the result as a machine-readable artifact (``PLAN_AUDIT.json``).

The scale story ("would this survive 100x the data?") lives in the plan,
not the timings: a query can be fast at sf0.1 and still carry a
cartesian join, a row-at-a-time Python UDF, or a global window that
funnels everything through one partition. ``tests/test_entry.py``
asserts the hard invariants corpus-wide (no cartesian/BNL joins, no
global windows); this tool records the full per-query census so plan
REGRESSIONS show up as artifact diffs, reviewable without re-reading
139 plans:

- ``exchanges``: shuffle count (Exchange operators; AQE may merge at
  runtime — this is the static upper bound),
- ``broadcast_joins`` / ``sortmerge_joins``: join strategy split,
- ``cartesian`` / ``bnl``: nested-loop fallbacks (must stay 0 outside
  the sanctioned 1-row-aggregate broadcasts),
- ``python_row_udfs``: BatchEvalPython operators (row-at-a-time Python
  in the plan — must stay 0; Arrow-batched ``ArrowEvalPython`` /
  ``MapInPandas`` / ``FlatMapGroupsInPandas`` are the sanctioned
  vectorized path and counted separately),
- ``arrow_python``: vectorized Python operators (decode/ANN/stats ops),
- ``pushed_filters``: whether at least one parquet scan carries
  PushedFilters (only meaningful for queries that filter a scan).

(Codegen spans are NOT counted: with AQE on, the pre-execution plan is
an ``AdaptiveSparkPlan isFinalPlan=false`` without codegen markers, and
executing every corpus query belongs to ``tools/scale.py audit``, not here.)

Usage:
    python tools/plan_audit.py [sf_dir] [query ...] [--out PATH]

Defaults: sf_dir=/root/testdata/sf0.001 (plan SHAPE is what matters,
not data volume — the smallest sf keeps the audit fast; broadcast
decisions taken from stats at this sf are recorded as-is), all queries,
out=PLAN_AUDIT.json at the repo root for full runs (subset runs print
to stdout so a partial run can't overwrite the committed artifact).
"""

from __future__ import annotations

import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entrymod  # noqa: E402
from yaetos_spark.session import get_spark  # noqa: E402

# queries whose crossJoin of single-row aggregate frames is sanctioned
# (mirrors tests/test_entry.py::test_no_nested_loop_joins_anywhere)
SINGLE_ROW_BROADCASTS = {
    "idle_rich_customers",
    "semi_anti_counts",
    "lsh_ann_pairs",
    "cms_heavy_hitters",
    "hll_distinct_contract",
    # dsir_scores' BNL is the two smoothing totals riding a 1-row
    # broadcast crossJoin onto the <=n_buckets-row weight frame
    "dsir_scores",
}


# Per-row-expensive expression markers. Textual occurrences in the
# plan over-count true evaluations (partial/final aggregate stages
# display the same expression; codegen CSE dedupes within an
# operator) — but the count is STABLE for a given plan, so gating on
# growth catches the real bug class: Catalyst's CollapseProject
# inlining a computed column into every use site across
# Project/Filter/Generate boundaries, where no CSE applies. That
# inlining took chunk_documents to 3 tokenizations per doc and
# lang_quality to ~880 regexp sites before functions/hof.py:let
# bindings fixed them (round 6).
EXPENSIVE_MARKERS = (
    "split(",
    "array_distinct(",
    "regexp_replace(",
    "regexp_extract(",
    "md5(",
    "sha2(",
    "levenshtein(",
    "from_json(",
)


def _tree_indent(line: str) -> int:
    """Offset where a plan-tree line's operator name starts (past the
    ``:  +-`` drawing characters) — a depth proxy for subtree walks."""
    i = 0
    while i < len(line) and line[i] in " :+|-*()0123456789":
        i += 1
    return i


def broadcast_over_generate(plan: str) -> int:
    """BroadcastExchange nodes whose build subtree contains a Generate.

    The scale-bug class the growth smokes caught twice (r6 LSH verify,
    r7 jaccard shingle self-join): Generate reports its CHILD's size
    estimate, so Catalyst sees an exploded relation as "64 MB" while it
    really holds GBs, broadcasts it, and a real cluster OOMs. A
    broadcast build over exploded rows is only safe when the exploded
    frame is tiny BY CONSTRUCTION (e.g. a 50-row probe set), so the
    census records the count and the gate pins it to the committed
    value — any growth is a new mis-broadcast to justify or fix."""
    lines = plan.splitlines()
    count = 0
    for idx, line in enumerate(lines):
        if not line[_tree_indent(line):].startswith("BroadcastExchange"):
            continue
        ind = _tree_indent(line)
        for nxt in lines[idx + 1:]:
            nind = _tree_indent(nxt)
            if nxt.strip() and nind <= ind:
                break
            if nxt[nind:].startswith("Generate"):
                count += 1
                break
    return count


def audit_plan(df) -> dict:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return {
        "broadcast_over_generate": broadcast_over_generate(plan),
        "expr_sites": sum(plan.count(m) for m in EXPENSIVE_MARKERS),
        "exchanges": len(re.findall(r"\bExchange\b", plan)),
        "broadcast_joins": plan.count("BroadcastHashJoin"),
        "sortmerge_joins": plan.count("SortMergeJoin"),
        "shuffled_hash_joins": plan.count("ShuffledHashJoin"),
        "cartesian": plan.count("CartesianProduct"),
        "bnl": plan.count("BroadcastNestedLoopJoin"),
        "python_row_udfs": plan.count("BatchEvalPython"),
        "arrow_python": (
            plan.count("ArrowEvalPython")
            + plan.count("MapInPandas")
            + plan.count("FlatMapGroupsInPandas")
            + plan.count("MapInArrow")
        ),
        "pushed_filters": bool(
            re.search(r"PushedFilters: \[[^\]]", plan)
        ),
    }


def main(argv: list[str]) -> int:
    out_path = None
    if "--out" in argv:
        i = argv.index("--out")
        out_path = argv[i + 1]
        argv = argv[:i] + argv[i + 2:]
    sf_dir = argv[0] if argv and os.path.isdir(argv[0]) else "/root/testdata/sf0.001"
    names = (argv[1:] if argv and os.path.isdir(argv[0]) else argv) or None

    spark = get_spark(app_name="plan_audit")
    qs = entrymod.queries()
    results, violations = {}, []
    for name in (names or list(qs)):
        try:
            results[name] = audit_plan(qs[name](spark, sf_dir))
        except Exception as e:
            results[name] = {"err": f"{type(e).__name__}: {str(e)[:200]}"}
            violations.append(f"{name}: plan build failed")
            continue
        r = results[name]
        if r["python_row_udfs"]:
            violations.append(f"{name}: {r['python_row_udfs']} BatchEvalPython (row-at-a-time Python)")
        if (r["cartesian"] or r["bnl"]) and name not in SINGLE_ROW_BROADCASTS:
            violations.append(f"{name}: nested-loop join in plan")
        print(f"# {name}: {r}", file=sys.stderr)

    doc = {
        "sf_dir": sf_dir,
        "n_queries": len(results),
        "violations": violations,
        "totals": {
            k: sum(r.get(k, 0) for r in results.values() if "err" not in r)
            for k in ("exchanges", "broadcast_joins", "sortmerge_joins",
                      "cartesian", "bnl", "python_row_udfs", "arrow_python",
                      "expr_sites")
        },
        "queries": results,
    }
    full_run = names is None
    if full_run and out_path is None:
        out_path = os.path.join(REPO, "PLAN_AUDIT.json")
    # subset runs only write when --out was given EXPLICITLY (an explicit
    # path can't clobber the committed artifact by accident); without it
    # they print to stdout as documented
    if out_path:
        with open(out_path, "w") as f:
            json.dump(doc, f, indent=1, sort_keys=True)
        print(f"wrote {out_path}: {doc['n_queries']} queries, "
              f"{len(violations)} violations")
    else:
        print(json.dumps(doc, indent=1, sort_keys=True))
    return 1 if violations else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
