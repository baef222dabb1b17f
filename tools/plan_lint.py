"""Registry-wide physical-plan lint: hunt scale-killers mechanically.

For every registered query, builds the DataFrame (sf0.001 — cheap even for
the eager streaming queries) and inspects the ANALYZED + PHYSICAL plans
for the patterns that break at 100 TB:

- ``cartesian``      CartesianProduct / BroadcastNestedLoopJoin without a
                     broadcast-sized side (every intended scalar-broadcast
                     crossJoin in this repo wraps the 1-row side in
                     ``F.broadcast`` → plans as BroadcastNestedLoopJoin,
                     which is fine; a *CartesianProduct* node means both
                     sides were estimated large — that's the killer).
- ``py_row_udf``     BatchEvalPython (row-at-a-time Python UDF) anywhere
                     in the plan. ArrowEvalPython / mapInPandas etc. are
                     vectorized and allowed.
- ``global_window``  a WindowExec with an EMPTY partition spec: all rows
                     shuffle to ONE task — serial at any scale. Allowed
                     only for queries on the documented exception list
                     (global-semantics ops whose output is provably tiny
                     or whose input is already group-bounded).
- ``unbounded_agg``  an EXACT ``percentile``/``median`` aggregate: its
                     state buffers every group member, and any group
                     whose size grows with the corpus (an event type, an
                     hour of a hot table) is unbounded memory at 100 TB.
                     ``approx_percentile`` (t-digest, mergeable, bounded)
                     and frame-bounded window medians are fine. The
                     ``cdc_replication_lag`` histogram rewrite is the
                     template fix for any remaining exempt site.

Exit 1 if any non-exempt query trips a rule.

Usage:  python tools/plan_lint.py [--sf /root/testdata/sf0.001] [name ...]
"""

from __future__ import annotations

import argparse
import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from mongodb_mysql_cdc_spark.registry import queries
from mongodb_mysql_cdc_spark.session import get_session

# Queries allowed a global (unpartitioned) window, with the reason the
# global sort is NOT a 100 TB bottleneck for them. Everything else must
# partition its windows.
GLOBAL_WINDOW_EXEMPT = {
    # input to the window is a GROUPED aggregate (bounded rows), not the raw table
    "agg_histogram_equiwidth": "window runs over |bins| rows, not the corpus",
    "analytics_pareto": "window over per-band aggregates (|bands| rows)",
    "dq_benford": "window over 9 digit rows",
    # quality_buckets is not listed: it runs on distributed_ntile, so no
    # global window remains in its plan.
    "domain_mix": "window over |domains| rows",
    # deliberately-global semantics over provably small inputs
    "topk": "global top-k: TakeOrderedAndProject, no window shuffle of the corpus",
}

# Queries allowed a CartesianProduct node (none today — keep empty).
CARTESIAN_EXEMPT: dict[str, str] = {}

# Columns with a FIXED small domain (FIXTURES.md enums + the 25-nation /
# 5-region TPC-H keys). A WindowExec partitioned ONLY by these runs at
# most |domain| reducer tasks — corpus/|domain| rows sort inside each at
# any scale (the class win_pct and quality_buckets were re-spelled out of).
LOWCARD_COLS = {
    "event_type", "lang", "source", "l_returnflag", "l_linestatus",
    "o_orderstatus", "o_orderpriority", "c_mktsegment", "p_type",
    "c_nationkey", "n_nationkey", "s_nationkey", "n_regionkey",
    "r_regionkey", "label",
}

# Queries allowed a low-cardinality-key window because the window's
# INPUT is provably bounded (a histogram, a grid, an aggregate of a
# bounded dimension) or the group is pruned before the sort — the
# mechanical form of the `--report-windows` triage. An entry documents
# WHY; it does not bless a corpus-sized input.
LOWCARD_WINDOW_EXEMPT = {
    "agg_stats": "input is the distinct-value histogram "
    "(operators/percentile.py — bounded by the value domain, not corpus)",
    "agg_percentile_disc": "distinct-value histogram input (see agg_stats)",
    "quality_winsorize": "distinct-value histogram input (see agg_stats)",
    "anomaly_mad": "distinct-value histogram input (see agg_stats)",
    "topk_per_group": "rn<=k → WindowGroupLimit pushdown prunes each "
    "group to k rows per map task before the sort",
    "sample_per_group": "rn<=k → WindowGroupLimit pushdown "
    "(same as topk_per_group)",
    # pack_sequences is not listed: it runs on the distributed cumsum
    # machinery, so no per-lang window remains in its plan.
    "corpus_prepare_e2e": "single-dataflow capstone: the machinery's "
    "boundary job would re-execute the whole dedup+decon lineage "
    "(measured 2.6× at sf0.1); the REGISTERED A/B variant "
    "corpus_prepare_e2e_production persists the intermediate and runs "
    "the machinery — the spelling a real cluster uses (round-8)",
    "ts_calendar_profile": "window over the 24×7 calendar grid per type "
    "(aggregate-bounded)",
    "analytics_pareto": "window over per-band aggregates (|bands| rows)",
    "join_lateral": "Catalyst-decorrelated LATERAL exhibit; window input "
    "is the ≤25-nation aggregate",
}

# Queries allowed BatchEvalPython: the deliberate row-UDF tier exhibit.
PY_ROW_UDF_EXEMPT = {
    "udf_surface": "the row-at-a-time tier exhibit itself (documented slow path)",
}

# Queries allowed a window frame that ENDS at UNBOUNDED FOLLOWING without
# STARTING at UNBOUNDED PRECEDING. WindowExec evaluates such frames by
# rescanning from the current row to the partition end PER ROW — O(n²)
# per partition, the join_asof_nearest / ts_interpolate_linear bug
# class. (The full [UNBOUNDED PRECEDING,
# UNBOUNDED FOLLOWING] frame is fine: computed once per partition.)
# The cure is always the same: reverse the ordering and use a RUNNING
# frame (last/ignorenulls over DESC). Keep this list EMPTY.
FWD_UNBOUNDED_FRAME_EXEMPT: dict[str, str] = {}

# Queries allowed an exact percentile/median aggregate. Each entry is a
# known per-group-state-∝-group-size site — an exemption documents, it
# does not bless.
UNBOUNDED_AGG_EXEMPT = {
    "agg_percentile_exact": "the named exact-percentile exhibit itself, "
    "contrasted with agg_approx_quantile (keep: it IS the exhibit)",
    "agg_approx_quantile": "computes exact alongside approx to MEASURE the "
    "sketch error — the comparison is the point",
    # agg_stats / quality_winsorize / anomaly_mad are not listed: they run
    # on operators/percentile.py's distinct-value histogram (state ∝
    # |value domain|, exact interpolated result).
}


def window_partition_specs(plan: str) -> list[str]:
    """Return the partition-spec text of every Window node in a plan string.

    Physical form:  Window [exprs], [partSpec], [orderSpec]   (partitioned)
                    Window [exprs], [orderSpec]               (global)
    The specs are comma-nested inside brackets, so split on top-level
    bracket groups rather than naive commas.
    """
    out = []
    for m in re.finditer(r"\bWindow (\[.*)$", plan, re.MULTILINE):
        text = m.group(1)
        groups, depth, start = [], 0, None
        for i, ch in enumerate(text):
            if ch == "[":
                if depth == 0:
                    start = i
                depth += 1
            elif ch == "]":
                depth -= 1
                if depth == 0:
                    groups.append(text[start : i + 1])
        if len(groups) == 1:
            # Window [exprs] alone: no partition spec AND no order spec —
            # an unordered GLOBAL aggregate window (sum() OVER ()). Spark
            # itself warns 'Moving all data to a single partition'. Same
            # killer as the ordered form (win_ratio_to_report's grand-total
            # window is the case an ordered-only check misses).
            out.append("<GLOBAL>")
        elif len(groups) == 2:
            # Window [exprs], [second]: `second` is an ORDER spec (global,
            # ordered window — the killer) iff it carries sort directions;
            # otherwise it's a partition-only spec (fine).
            if re.search(r" (ASC|DESC)\b", groups[1]):
                out.append("<GLOBAL>")
            else:
                out.append(groups[1])
        elif len(groups) >= 3:
            out.append(groups[1])
    return out


# Functions whose re-evaluation PER ARRAY ELEMENT turns a HOF into a
# quadratic-per-row plan: a lambdafunction body re-evaluates every
# captured non-attribute expression once per element (word_shingles'
# case: the inline split(casefold(trim(text))) tokenizer
# ran once per shingle position — O(tokens²) per document, 14× wall).
# Cheap per-element work on the lambda VARIABLE (concat, hash of the
# element, arithmetic) is the point of a HOF and is not flagged; these
# string/regex/JSON parsers have no business re-running per element —
# LET-bind them as a HOF argument: transform(array(expr), v -> …)[1].
HOF_RECOMPUTE_FNS = (
    "split(",
    "regexp_replace(",
    "regexp_extract(",
    "regexp_extract_all(",
    "get_json_object(",
    "from_json(",
    "translate(",
    "sentences(",
    "str_to_map(",
)

HOF_RECOMPUTE_EXEMPT: dict[str, str] = {}


def lambda_bodies(plan: str) -> list[str]:
    """Balanced-paren argument regions of every lambdafunction( in the
    plan text. Nested HOFs are covered by their enclosing region —
    correct for this rule: an expression anywhere inside an outer lambda
    body re-evaluates per outer element, however deeply nested."""
    out = []
    i = 0
    marker = "lambdafunction("
    while True:
        j = plan.find(marker, i)
        if j < 0:
            break
        k = j + len(marker)
        depth, p = 1, k
        while p < len(plan) and depth:
            if plan[p] == "(":
                depth += 1
            elif plan[p] == ")":
                depth -= 1
            p += 1
        out.append(plan[k:p])
        i = j + 1
    return out


def lint_one(name: str, df) -> list[str]:
    problems = []
    plan = df._jdf.queryExecution().executedPlan().toString()
    if "CartesianProduct" in plan and name not in CARTESIAN_EXEMPT:
        problems.append("cartesian: CartesianProduct in physical plan")
    if "BatchEvalPython" in plan and name not in PY_ROW_UDF_EXEMPT:
        problems.append("py_row_udf: row-at-a-time Python UDF in plan")
    if name not in FWD_UNBOUNDED_FRAME_EXEMPT:
        # specifiedwindowframe(RowFrame, <lower>, unboundedfollowing$()):
        # quadratic per-row rescan unless <lower> is unboundedpreceding$()
        for m in re.finditer(
            r"specifiedwindowframe\(\w+, ([^,()]*(?:\([^()]*\))?[^,()]*), "
            r"unboundedfollowing\$\(\)\)",
            plan,
        ):
            if "unboundedpreceding" not in m.group(1):
                problems.append(
                    "fwd_unbounded_frame: frame ends at UNBOUNDED FOLLOWING "
                    "without starting at UNBOUNDED PRECEDING — WindowExec "
                    "rescans to partition end per row (O(n²)); reverse the "
                    "ordering and use a running frame"
                )
                break
    if name not in GLOBAL_WINDOW_EXEMPT:
        for spec in window_partition_specs(plan):
            if spec == "<GLOBAL>":
                problems.append("global_window: WindowExec with empty partition spec")
                break
    if name not in LOWCARD_WINDOW_EXEMPT:
        for spec in window_partition_specs(plan):
            if spec == "<GLOBAL>":
                continue  # the global rule above owns that case
            cols = set(re.findall(r"(\w+)#\d+", spec))
            if cols and cols <= LOWCARD_COLS:
                problems.append(
                    f"lowcard_window: WindowExec partitioned only by "
                    f"{sorted(cols)} — ≤|domain| tasks at any scale"
                )
                break
    if name not in HOF_RECOMPUTE_EXEMPT:
        for body in lambda_bodies(plan):
            hit = next((f for f in HOF_RECOMPUTE_FNS if f in body), None)
            if hit:
                problems.append(
                    f"hof_recompute: {hit[:-1]} inside a lambdafunction body "
                    "— re-evaluated per array ELEMENT (O(n²) per row); "
                    "LET-bind it: transform(array(expr), v -> ...)[1]"
                )
                break
    if name not in UNBOUNDED_AGG_EXEMPT:
        # exact percentile/median in an AGGREGATE buffers whole groups;
        # approx_percentile is the bounded (t-digest) form. Window-frame
        # medians don't appear as aggregate exprs, so no false hit there.
        # percentile_cont/percentile_disc are the same every-member-buffer
        # state under ANSI spelling ('(' needn't follow the bare word).
        for m in re.finditer(r"\b(percentile(?:_cont|_disc)?|median)\(", plan):
            if plan[max(0, m.start() - 7) : m.start()] != "approx_":
                problems.append(
                    "unbounded_agg: exact percentile/median aggregate "
                    "(state ∝ group size)"
                )
                break
    return problems


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    ap.add_argument(
        "--report-windows",
        action="store_true",
        help="instead of linting, print every WindowExec partition spec "
        "per query — the low-cardinality-ordered-window worklist (a key "
        "like event_type means ≤|distinct| reducer tasks at any scale; "
        "cardinality lives in the data, so no mechanical flag — read "
        "the list and judge)",
    )
    ap.add_argument(
        "--shuffle-partitions",
        default=None,
        help="override spark.sql.shuffle.partitions before building plans "
        "— lint at a cluster-scale count (e.g. 4096) to catch plans whose "
        "SIZE grows with the partition count (the round-7 machinery "
        "bucket-chain class)",
    )
    ap.add_argument(
        "--plan-size-report",
        action="store_true",
        help="print per-query analyzed-plan line counts (sorted desc) "
        "instead of linting — diff a default run against a "
        "--shuffle-partitions 4096 run to find partition-count-dependent "
        "plan construction",
    )
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()
    spark = get_session("plan_lint")
    if args.shuffle_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", args.shuffle_partitions)
    reg = queries()
    names = args.names or list(reg)
    n_bad = 0
    sizes: list[tuple[int, str]] = []
    for name in names:
        try:
            df = reg[name](spark, args.sf)
        except Exception as ex:
            print(f"ERR  {name}: {type(ex).__name__}: {str(ex)[:120]}")
            n_bad += 1
            continue
        if args.plan_size_report:
            lines = df._jdf.queryExecution().analyzed().treeString().count("\n")
            sizes.append((lines, name))
            continue
        if args.report_windows:
            plan = df._jdf.queryExecution().executedPlan().toString()
            specs = window_partition_specs(plan)
            if specs:
                # strip expr ids (col#123L -> col) for readability
                clean = sorted({re.sub(r"#\d+L?", "", s) for s in specs})
                print(f"WIN  {name}: {'; '.join(clean)}")
            continue
        problems = lint_one(name, df)
        if problems:
            n_bad += 1
            print(f"FLAG {name}: {'; '.join(problems)}")
    if args.plan_size_report:
        for lines, name in sorted(sizes, reverse=True):
            print(f"{lines:6d}  {name}")
        print(f"\n{len(names)} checked (plan-size report mode)")
        return 0
    if args.report_windows:
        print(f"\n{len(names)} checked (report mode)")
        return 0
    print(f"\n{len(names)} checked, {n_bad} flagged")
    return 1 if n_bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
