"""Tests for the tools/ layer: the plan_lint rules, the order-invariance
comparator, the timing tools' shared helpers, and the paths and session
levers that gate scripts and recipes name.
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT / "tools"))


def test_named_tool_paths_exist():
    """Every tools/<name>.(py|sh|json) that a gate script, the README or
    the verify recipe names must exist, and every SPARK_GRAFT_* lever they
    name must be read by session.py or bench.py, so no gate stage or
    recipe points at a deleted tool or a retired environment variable."""
    docs = [*sorted((ROOT / "tools").glob("*.sh")), ROOT / "README.md",
            ROOT / ".claude/skills/verify/SKILL.md"]
    named = {
        (doc.relative_to(ROOT).as_posix(), m)
        for doc in docs
        for m in re.findall(r"tools/[\w.-]+?\.(?:py|sh|json)\b", doc.read_text())
    }
    assert named
    missing = sorted((doc, path) for doc, path in named if not (ROOT / path).is_file())
    assert not missing, missing

    readers = "".join(
        (ROOT / p).read_text() for p in ("mongodb_mysql_cdc_spark/session.py", "bench.py")
    )
    levers = {
        (doc.relative_to(ROOT).as_posix(), m)
        for doc in docs
        for m in re.findall(r"SPARK_GRAFT_[A-Z_]+", doc.read_text())
    }
    assert levers
    unread = sorted((doc, lever) for doc, lever in levers if lever not in readers)
    assert not unread, unread


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
