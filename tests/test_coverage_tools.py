"""Unit tests for tools/coverage_report.py's --stale machinery (no Spark).

The stale check is what decides which green queries owe a re-verify
window slot; a silent extraction failure would under-rotate the driver
window, which is exactly how round-4's backlog undercount happened.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT / "tools"))

import coverage_report as cr  # noqa: E402


def test_query_segment_includes_decorator_and_body():
    src = (ROOT / "mongodb_mysql_cdc_spark/suite/llm_text.py").read_text()
    seg = cr._query_segment(src, "tfidf")
    assert seg is not None
    assert seg.startswith("@register")       # decorator included …
    assert "oracle=" in seg                  # … because it carries the SQL
    assert "def tfidf" in seg
    assert cr._query_segment(src, "no_such_query") is None


def test_round_commit_resolves_markers():
    assert cr._round_commit("05") is not None
    assert cr._round_commit("99") is None


def test_driver_window_contract():
    """The driver verifies the FIRST 50 queries() names. The window list
    must therefore be exactly 50 valid, distinct, registered names —
    a typo here silently wastes verification slots (the round-4 backlog
    undercount class)."""
    from mongodb_mysql_cdc_spark import registry

    w = registry._DRIVER_WINDOW
    qs = registry.queries()
    assert len(w) == 50
    assert len(set(w)) == 50
    assert all(n in qs for n in w), [n for n in w if n not in qs]
    assert list(qs)[:50] == w


def test_stale_flags_an_edited_segment():
    # a green query whose segment is byte-identical at its marker commit
    # must NOT flag; simulate an edit by asking against an older round
    # where tfidf is KNOWN re-spelled (r5 rewrite + r6 cutover vs r1)
    stale = dict(cr.stale_queries({"tfidf": "01"}))
    assert "tfidf" in stale


def test_driver_evidence_keeps_latest_green_round(tmp_path):
    """Re-verified ⇒ not stale: a query green in r01 AND re-verified in
    a later round must report the LATER round, so --stale diffs against
    the code its newest evidence was recorded under (keeping the
    earliest round made every re-verified query stale forever).

    Uses a synthetic two-round fixture — the round-7 verdict flagged the
    previous literal `== "06"` assertion, which broke the moment the
    driver dropped CORRECTNESS_r07.json with a fresh join_asof row."""
    green = {"rows_match": True, "schema_match": True, "hash_match": True, "err": None}
    red = {"rows_match": False, "schema_match": True, "hash_match": False, "err": "boom"}
    rows_only = {"rows_match": None, "err": "no_oracle", "spark_rows": 7}
    (tmp_path / "CORRECTNESS_r01.json").write_text(
        json.dumps({"a": green, "b": green, "c": green})
    )
    (tmp_path / "CORRECTNESS_r02.json").write_text(
        json.dumps({"a": green, "b": red, "c": rows_only})
    )
    ev = cr.driver_evidence(paths=[str(p) for p in tmp_path.glob("*.json")])
    assert ev["a"] == "02"      # re-verified green → latest round wins
    assert ev["b"] == "01"      # later RED row must NOT advance evidence
    assert ev["c"] == "02"      # rows-only (no_oracle + count) counts as green


def test_driver_evidence_monotone_on_real_files():
    """Against the real repo files: pricing_summary has been green since
    r01 and re-verified since; its evidence must be ≥ r06 (ordering, not
    a literal round — the driver appends files every round) and not
    stale at a HEAD that hasn't touched it since. (Was join_asof until
    the round-9 NULL-fixture re-spell made that one legitimately
    stale.)"""
    ev = cr.driver_evidence()
    assert ev["pricing_summary"] >= "06"
    assert "pricing_summary" not in dict(
        cr.stale_queries({"pricing_summary": ev["pricing_summary"]})
    )


def test_stale_warns_on_unresolvable_round_marker(capsys):
    """A round with no marker commit yet (the current round before its
    verdict files land) must WARN, not silently treat its queries as
    fresh — the silent skip is the round-4 undercount failure mode."""
    out = cr.stale_queries({"tfidf": "99"})
    assert out == []
    assert "no 'round 99:' marker" in capsys.readouterr().err


def test_subsets_are_registered_and_headline_synced():
    """tools/subsets.py mechanizes the sweep subsets (round 9). A typo'd
    name would silently shrink a sweep's coverage — every subset member
    must be a registered query, and the headline subset must be bench.py's
    HEADLINE (the bench and the sweeps must measure the same queries)."""
    import subsets

    from mongodb_mysql_cdc_spark import registry

    qs = registry.queries()
    for label, names in subsets.SUBSETS.items():
        missing = [n for n in names if n not in qs]
        assert not missing, f"subset {label}: unregistered {missing}"
        assert len(names) == len(set(names)), f"subset {label}: duplicates"

    import bench

    assert subsets.SUBSETS["headline"] == bench.HEADLINE


def test_tools_take_headline_and_digest_from_bench():
    """bench.py is the single definition of the headline list and of the
    materializing digest action: no tool may assign its own HEADLINE or
    spell out the bit_xor hash fold."""
    import ast

    offenders = []
    for path in sorted((ROOT / "tools").glob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, (ast.Assign, ast.AnnAssign)):
                targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                if any(isinstance(t, ast.Name) and t.id == "HEADLINE" for t in targets):
                    offenders.append(f"{path.name}:{node.lineno} assigns HEADLINE")
            elif isinstance(node, ast.Call):
                f = node.func
                name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
                if name == "bit_xor":
                    offenders.append(f"{path.name}:{node.lineno} calls bit_xor")
    assert not offenders, offenders


def test_timing_tools_import_and_timer_counts_rows(spark, sf_dir):
    """profile_headline and bench_scale import cleanly, and bench.py's
    shared timer reports the query's true row count."""
    import bench
    import bench_scale  # noqa: F401
    import profile_headline  # noqa: F401

    from mongodb_mysql_cdc_spark import registry

    fn = registry.queries()["cdc_apply_batch"]
    runs, rows = bench.timed_runs(fn, spark, sf_dir, n=1)
    assert len(runs) == 1 and runs[0] > 0
    assert rows == fn(spark, sf_dir).count() > 0


def test_fwd_unbounded_frame_rule_fires_and_spares(spark):
    """plan_lint's fwd_unbounded_frame rule (round 10) must FLAG a frame
    that ends at UNBOUNDED FOLLOWING without starting at UNBOUNDED
    PRECEDING (WindowExec rescans per row — O(n²), the
    join_asof_nearest / ts_interpolate_linear bug class) and must SPARE
    the full-partition frame (computed once per partition) and running
    frames. Exercised on real physical plans, not synthetic strings."""
    import plan_lint
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(1, 1.0), (1, 2.0)], "k int, v double")
    bad = df.withColumn(
        "x",
        F.first("v").over(
            Window.partitionBy("k")
            .orderBy("v")
            .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        ),
    )
    full = df.withColumn(
        "x",
        F.last("v").over(
            Window.partitionBy("k")
            .orderBy("v")
            .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ),
    )
    running = df.withColumn(
        "x",
        F.last("v").over(
            Window.partitionBy("k")
            .orderBy(F.desc("v"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    assert any(
        "fwd_unbounded_frame" in p for p in plan_lint.lint_one("synthetic", bad)
    )
    assert not any(
        "fwd_unbounded_frame" in p for p in plan_lint.lint_one("synthetic", full)
    )
    assert not any(
        "fwd_unbounded_frame" in p for p in plan_lint.lint_one("synthetic", running)
    )


def test_hof_recompute_rule_fires_and_spares(spark):
    """plan_lint's hof_recompute rule (round 10) must FLAG an expensive
    expression (split/regexp/json parse) captured inside a lambda body —
    re-evaluated per array ELEMENT, the O(tokens²) word_shingles bug
    class — and must SPARE the LET-bound spelling where the same
    expression sits in HOF-argument position (evaluated once per row).
    Exercised on real physical plans."""
    import plan_lint
    from pyspark.sql import functions as F

    df = spark.createDataFrame([("a b c",)], "text string")
    toks = F.split(F.col("text"), " ")
    # bad: the split expression referenced inside the position lambda
    bad = df.select(
        F.transform(
            F.sequence(F.lit(1), F.size(toks)),
            lambda i: F.element_at(toks, i),
        ).alias("s")
    )
    # good: split let-bound as the HOF argument; lambda sees a variable
    good = df.select(
        F.element_at(
            F.transform(
                F.array(toks),
                lambda t: F.transform(
                    F.sequence(F.lit(1), F.size(t)),
                    lambda i: F.element_at(t, i),
                ),
            ),
            1,
        ).alias("s")
    )
    assert any("hof_recompute" in p for p in plan_lint.lint_one("synthetic", bad))
    assert not any("hof_recompute" in p for p in plan_lint.lint_one("synthetic", good))


def test_order_invariance_within_rel_alignment():
    """ADVICE r10 fix, pinned: the ORDER_TOLERANT comparator must align
    rows by ALL columns (floats quantized to the tolerance grid for the
    sort key) — an all-float frame or rows tied on every non-float
    column previously mis-aligned and false-DIVERGED; genuine value
    divergence must still be caught."""
    import pandas as pd

    import order_invariance as oi

    # all-float frame, rows permuted → must align and match
    a = pd.DataFrame({"x": [1.0, 2.0, 3.0], "y": [10.0, 20.0, 30.0]})
    b = a.iloc[[2, 0, 1]].reset_index(drop=True)
    assert oi._within_rel(a, b, 1e-3)

    # non-float key ties, float column distinguishes, permuted in-tie
    a2 = pd.DataFrame({"k": ["a", "a", "b"], "v": [1.0, 5.0, 9.0]})
    b2 = pd.DataFrame({"k": ["a", "b", "a"], "v": [5.0, 9.0, 1.0]})
    assert oi._within_rel(a2, b2, 1e-3)

    # within-tolerance jitter accepted; genuine divergence rejected
    b3 = pd.DataFrame({"k": ["a", "a", "b"], "v": [1.0005, 5.0, 9.0]})
    assert oi._within_rel(a2, b3, 1e-3)
    b4 = pd.DataFrame({"k": ["a", "a", "b"], "v": [1.0, 5.1, 9.0]})
    assert not oi._within_rel(a2, b4, 1e-3)


# --- round-13 mechanical axis membership (VERDICT r12 item 3) ---------------

def test_readership_json_is_fresh_and_complete():
    """tools/readership.json must cover exactly the registered query set —
    a missing name means the derivation never saw that query (the r12
    TEXT-vs-multimodal curation-gap class), an extra name means the JSON
    is stale against a renamed/removed query. Regenerate with
    `python tools/readership.py --write`."""
    import subsets as S
    from mongodb_mysql_cdc_spark import registry

    assert set(S._READERSHIP) == set(registry.queries())
    errs = {n: r["err"] for n, r in S._READERSHIP.items() if r.get("err")}
    assert not errs, errs


def test_axis_mutations_name_real_columns():
    """Every AXIS_MUTATIONS entry must be a real (table, column) pair in
    the declared catalog schemas — a typo here silently derives an empty
    reader set and the axis sweeps nothing new."""
    import subsets as S
    from mongodb_mysql_cdc_spark.catalog import SCHEMAS

    for axis, muts in S.AXIS_MUTATIONS.items():
        for t, c in muts:
            assert t in SCHEMAS, (axis, t)
            assert c in SCHEMAS[t].fieldNames(), (axis, t, c)


def test_axis_subsets_are_supersets_of_mechanical_readers():
    """The curation-gap gate: each SUBSET-swept axis's membership must
    contain every mechanically derived reader of that axis's mutated
    columns (plan-scan column hits + conservative whole-table hits for
    opaque loads). SUBSETS is constructed as the union, so this holds by
    construction today — the assertion pins the contract against a
    future revert to static hand-curated lists."""
    import subsets as S

    for axis, subname in S.AXIS_SUBSET.items():
        derived = S.mechanical_readers(axis, S._READERSHIP)
        missing = derived - set(S.SUBSETS[subname])
        assert not missing, (axis, sorted(missing))


def test_scan_readership_parses_formatted_scan_blocks():
    """Unit pin for the formatted-explain parser: fixture-table scans map
    (table -> pruned column set); temp/sink rescans are ignored."""
    import readership as R

    text = (
        "(1) Scan parquet \n"
        "Output [3]: [l_orderkey#55L, l_extendedprice#59, l_discount#60]\n"
        "Batched: true\n"
        "Location: InMemoryFileIndex [file:/root/testdata/sf0.001/lineitem.parquet]\n"
        "ReadSchema: struct<l_orderkey:bigint>\n"
        "\n"
        "(2) Scan parquet \n"
        "Output [1]: [ts#7]\n"
        "Location: InMemoryFileIndex [file:/root/testdata/sf0.001/events.parquet]\n"
        "\n"
        "(3) Scan parquet \n"
        "Output [2]: [a#1, b#2]\n"
        "Location: InMemoryFileIndex [file:/tmp/sparkcdc_append_x/orders_sink]\n"
    )
    got = R.scan_readership(text)
    assert got == {
        "lineitem": {"l_orderkey", "l_extendedprice", "l_discount"},
        "events": {"ts"},
    }


def test_invisible_queries_are_exactly_the_declared_input_free_set():
    """A query invisible to BOTH readership signals (no fixture-table
    plan scan AND no recorded DataFrameReader load) escapes every axis
    derivation — legitimate only for the synthetic Python DataSource
    family, whose rows come from seeded arithmetic, not fixture tables.
    Exact equality both directions: a new executor-side reader can't
    silently escape, and the declared list can't rot."""
    import subsets as S

    invisible = {
        n for n, r in S._READERSHIP.items() if not r["scan"] and not r["loads"]
    }
    assert invisible == S.NO_FIXTURE_INPUT


def test_suite_runs_the_engine_lww_fold_and_session_partitions():
    """The CDC suite composes the engine instead of restating it: the only
    hand-written (ts, seq) ``max_by`` fold left in the package is
    cdc_merge_replicas' (its delivery counts share the winner's
    aggregate; everything else calls ``reconcile``), and no suite module
    sets ``spark.sql.shuffle.partitions``, so every suite query runs at the
    session's count — the one the invariance sweep varies."""
    import ast
    import re

    lww = re.compile(r"max_by\(.*struct\(\s*ts\s*,\s*seq\s*\)\s*\)", re.S)
    folds, pins = [], []
    pkg = ROOT / "mongodb_mysql_cdc_spark"
    for path in sorted(pkg.rglob("*.py")):
        tree = ast.parse(path.read_text())
        owner = {}
        for fn in ast.walk(tree):
            if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                for node in ast.walk(fn):
                    owner.setdefault(id(node), fn.name)
        rel = path.relative_to(pkg).as_posix()
        for node in ast.walk(tree):
            if not (isinstance(node, ast.Constant) and isinstance(node.value, str)):
                continue
            if lww.search(node.value):
                folds.append(f"{rel}:{owner.get(id(node))}")
            if rel.startswith("suite/") and node.value == "spark.sql.shuffle.partitions":
                pins.append(f"{rel}:{node.lineno}")
    assert folds == ["suite/cdc.py:cdc_merge_replicas"], folds
    assert not pins, pins
