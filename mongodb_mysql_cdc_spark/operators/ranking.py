"""Distributed ranking: ntile / row_number / running sums without the
low-cardinality-partition WindowExec.

``Window.orderBy(...)`` with no partitionBy moves EVERY row to one task,
and ``Window.partitionBy(k)`` on a 3-or-5-value key is the same killer
with extra steps: corpus/|keys| rows still sort inside ONE task per key.
The plans work at any SF locally and are serial at cluster scale. The
distributed spelling here keeps the exact same output:

1. stamp each row with a RANGE-BUCKET id — a PURE EXPRESSION over the
   (group key, order key) tuple against literal boundaries (see below);
2. per-(bucket, group) ``row_number`` / running sum (parallel: the
   window's own hash exchange places each (bucket, group) slice on a
   task; boundaries split each group across many buckets);
3. per-(bucket, group) counts → cumulative offsets via a tiny
   theta-join cumsum (≤ |buckets| + |groups| rows, since buckets are
   contiguous key ranges — no corpus window, no corpus collect);
4. global in-group position = local row_number + broadcast offset, and
   ntile's bucket arithmetic computed from broadcast per-group totals.

**Why literal boundaries and not repartitionByRange +
spark_partition_id**: the
stamped DataFrame feeds two plan branches (the rows and their
per-(bucket, group) offsets), and each branch RE-EXECUTES the upstream
plan. A physical partition id is only consistent across those two
executions if every exchange below it replays identically — AQE may
coalesce the two instances differently, and repartitionByRange's
boundary SAMPLER draws per input partition, so even an explicit target
count can sample different boundaries when the upstream layout shifts.
At sf0.1 this drops whole groups from agg_weighted_median /
win_rank_dense (the per-execution ids disagree, so the offset join
silently loses rows) while every sf0.01 gate stays green. A bucket id
computed from the ROW'S OWN VALUES against literals embedded in the
plan is identical in every branch by construction — physical layout
can no longer affect it.

The boundaries themselves come from a layout-independent deterministic
sample, ONE job at plan-build time: a stratified min-hash aggregate — group rows by
``pmod(xxhash64(key tuple), 20k)`` and keep each stratum's (hash, key)
minimum. min() is commutative, so the result is a pure function of the
DATA (no dependence on physical layout or a sampling seed), the
aggregation state and the driver collect are both hard-bounded at 20k
entries no matter the corpus size or key-frequency skew (a hot key
occupies exactly one stratum slot), and min-hash-per-stratum draws ~uniformly over DISTINCT keys.
Distinct-uniform is the right distribution here: a bucket id is a
function of the key VALUE, so duplicates of one key can never be split
across buckets — frequency-weighting cut points cannot improve balance
beyond what distinct-key spacing gives. Balance needs only roughly-even
cuts; CORRECTNESS needs none — the bucket expression compares with
Spark's own struct ordering, so bucket(r1) < bucket(r2) implies
key(r1) ≤ key(r2) whatever the cut points, and ORDER WITHIN a bucket
is the window's own sort.

Bucket COUNT is capped at 1024 (an expression chain
sized by ``spark.sql.shuffle.partitions`` would hit codegen's 64KB
method limit at a real cluster's partition counts). The bucket id is
evaluated as constant-depth HOF scans over constant-folded literal
arrays — a coarse scan over every-32nd boundary picks a chunk, a fine
scan inside that chunk finishes: ≤ 64 struct comparisons per row at
the 1024 cap, with plan DEPTH independent of the boundary count. Per
bucket volume at the cap is corpus/1024 — parallel enough for any
executor count, and AQE coalesces the many-buckets-few-partitions case
for free.

Output is deterministic and boundary-independent: the order key must be
a TOTAL order within each group (callers append a unique tiebreak
column), so each row's in-group position is well-defined no matter where
the cuts fall.

Bit-determinism assumption: the machinery fans its
input into multiple plan branches, each of which RE-EXECUTES the input
lineage; the row VALUES must therefore be bit-identical across
executions. Raw columns and integer aggregates are; floating-point
aggregates are NOT (shuffle-merge order varies) — callers whose input
carries a float-aggregate column must ``localCheckpoint`` it first
(win_rank_dense and agg_weighted_median do), which also makes the
boundary-sample job read materialized rows instead of re-running the
aggregation.

The global (ungrouped) forms are the ``group_cols=[]`` special case.

SQL-standard ntile(k) over n rows: q = n div k, r = n mod k — the first
r buckets take q+1 rows, the rest take q.
"""

from __future__ import annotations

import re
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window

# number of min-hash strata = hard bound on the boundary-sample
# aggregation state AND on the driver-side collect (one row per stratum)
_BOUNDARY_SAMPLE_TARGET = 20_000
# bucket-count cap: keeps the bucket-id expression's literal payload and
# per-row comparison count bounded at cluster-scale shuffle-partition
# settings; corpus/1024 per bucket stays
# parallel at any executor count
_MAX_BUCKETS = 1024
# fine-chunk width for the two-level bucket lookup (≈ sqrt(_MAX_BUCKETS))
_CHUNK = 32


def _n_range_partitions(df: DataFrame) -> int:
    """Bucket count for the machinery — session shuffle parallelism,
    capped at _MAX_BUCKETS (module docstring)."""
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
    return min(n, _MAX_BUCKETS)


def _boundary_tuples(
    df: DataFrame, keys: Sequence[str], n_buckets: int
) -> list[tuple]:
    """Driver-collected boundary key tuples — ONE job (module docstring:
    stratified min-hash; state and collect both ≤ _BOUNDARY_SAMPLE_TARGET
    rows by construction, deterministic in the data, layout-independent)."""
    key_cols = [F.col(k) for k in keys]
    strata = (
        df.select(
            F.xxhash64(*key_cols).alias("_h"),
            F.struct(*key_cols).alias("_k"),
        )
        .groupBy(F.pmod(F.col("_h"), F.lit(_BOUNDARY_SAMPLE_TARGET)).alias("_s"))
        .agg(F.min(F.struct(F.col("_h").alias("h"), F.col("_k").alias("k"))).alias("_m"))
        .collect()
    )
    # drop keys with nulls (those rows belong to bucket 0 by comparison
    # semantics); dedupe + sort — this only shapes BALANCE, the bucket
    # expression defines order via Spark's own comparisons
    clean = sorted(
        {
            t
            for r in strata
            for t in (tuple(r["_m"]["k"]),)
            if all(v is not None for v in t)
        }
    )
    if len(clean) < 2:
        return []
    step = max(1, len(clean) // n_buckets)
    return [clean[i] for i in range(step, len(clean), step)][: n_buckets - 1]


def _bucket_id_expr(df: DataFrame, keys: Sequence[str]) -> Column:
    """A pure-expression range-bucket id for the composite ``keys`` tuple:
    the number of literal boundaries strictly below the row's key, under
    Spark's own struct ordering. Identical in every plan branch by
    construction (no dependence on physical partitioning — module
    docstring has the failure this replaces).

    Constant expression DEPTH regardless of boundary count: the sorted
    boundaries live in constant-folded literal arrays scanned by HOF
    lambdas (coarse chunk pick + fine in-chunk count), never in a
    nested when-chain — at the 1024-bucket cap that is ≤ 64 struct
    comparisons per row and no codegen-method blowup at cluster-scale
    ``spark.sql.shuffle.partitions``.

    Rows with a null in any key field compare null against every
    boundary → bucket 0, matching NULLS FIRST ascending order."""
    n_buckets = _n_range_partitions(df)
    bounds = _boundary_tuples(df, keys, n_buckets) if n_buckets > 1 else []
    if not bounds:
        return F.lit(0)
    dtypes = [df.schema[k].dataType for k in keys]
    key_struct = F.struct(*[F.col(k) for k in keys])

    def lit_struct(b: tuple) -> Column:
        # cast pins literal types to the column types (timestamps/decimals)
        return F.struct(
            *[F.lit(v).cast(t).alias(k) for v, t, k in zip(b, dtypes, keys)]
        )

    def count_below(arr: Column) -> Column:
        # LET-bind the key struct (transform over a 1-element array):
        # key_struct is built from F.col refs, but when a CALLER's key is
        # a computed expression (dataset_curriculum: -size(tokens(text)))
        # ProjectCollapse inlines it here, and a lambda body re-evaluates
        # captured non-attribute expressions once per boundary ELEMENT —
        # the hof_recompute lint class. Bound as a HOF argument
        # it evaluates once per ROW; the inner lambdas see variables.
        return F.element_at(
            F.transform(
                F.array(key_struct),
                lambda ks: F.size(F.filter(arr, lambda b: ks > b)),
            ),
            1,
        )

    if len(bounds) <= 2 * _CHUNK:
        return count_below(F.array(*[lit_struct(b) for b in bounds]))
    # two-level: bounds are sorted+distinct, so key > chunk[-1] ⟺ key is
    # past every element of that chunk; all chunks before the probed one
    # are full (_CHUNK wide) — only the last chunk is ragged, and it is
    # never skipped over
    chunks = [bounds[i : i + _CHUNK] for i in range(0, len(bounds), _CHUNK)]
    coarse = F.array(*[lit_struct(c[-1]) for c in chunks[:-1]])
    fine_arrs = F.array(*[F.array(*[lit_struct(b) for b in c]) for c in chunks])
    c_idx = count_below(coarse)
    fine = F.element_at(fine_arrs, (c_idx + F.lit(1)).cast("int"))
    return c_idx * F.lit(_CHUNK) + count_below(fine)


def _balanced_call_prefix(s: str) -> str:
    """The trailing balanced ``fn(...)`` call expression of ``s`` (walk
    back from the final ``)`` to its matching ``(`` plus the identifier
    before it), or '' when ``s`` doesn't end with a call."""
    s = s.rstrip()
    if not s.endswith(")"):
        return ""
    depth = 0
    for i in range(len(s) - 1, -1, -1):
        if s[i] == ")":
            depth += 1
        elif s[i] == "(":
            depth -= 1
            if depth == 0:
                j = i - 1
                while j >= 0 and (s[j].isalnum() or s[j] == "_"):
                    j -= 1
                return s[j + 1 :]
    return ""


_RAW_FLOAT_AGGS = ("sum", "avg", "mean")


def assert_deterministic_order_keys(
    df: DataFrame, order_cols: Sequence[str]
) -> None:
    """Machinery gate (an enforced check, not a docstring precondition;
    the PERMUTE fixture found the analytics_rfm case): a
    ranking/bucketing ORDER key must be bit-deterministic in the DATA.

    A float-typed column DEFINED BY a raw float aggregate (``sum`` over
    double input, or any ``avg``) is layout-dependent by an ulp — double
    addition is non-associative, so the aggregation's merge order (a
    function of physical row layout) can flip which of two value-tied
    rows ranks first, silently reordering quantile/ntile boundaries
    across runs. Grid-summed (integer/decimal-accumulated), integer, and
    raw per-row columns are all deterministic and pass.

    Mechanism: for each ``order_cols`` entry with
    float/double dtype, resolve the column's ACTUAL exprId(s) from the
    analyzed plan's output attributes and inspect only that specific
    ``<expr> AS name#id`` definition — a stale same-name alias earlier
    in lineage (e.g. a raw float sum later OVERWRITTEN with a grid-safe
    spelling via ``withColumn``) does not trip the gate. Reject when
    the defining expression is a bare ``sum(...)``/``avg(...)`` call;
    when it is a bare attribute reference (``withColumnRenamed`` yields
    ``other#1 AS name#2``), chase ONE alias hop and inspect ``other``'s
    definition, so a rename can't smuggle the analytics_rfm bug class
    back in. A grid-sum spelling (``cast(sum(cast(x*100 as bigint)) as
    double) / 100.0``) is a division at the top, not a bare aggregate,
    so it passes; scan attributes have no ``AS`` definition and pass.

    Documented fail-open blind spots (a lint, not a proof): any WRAPPER
    call passes (``round(avg(x), 2)`` reports fn='round' — wrapping does
    not make the key deterministic), as do alias chains deeper than one
    hop and plan-string truncation. The gate costs one plan analysis,
    no job."""
    dtypes = dict(df.dtypes)
    floaty = [c for c in order_cols if dtypes.get(c) in ("double", "float")]
    if not floaty:
        return
    qe = df._jdf.queryExecution()  # noqa: SLF001
    plan = qe.analyzed().toString()
    out_attrs = qe.analyzed().output()
    ids_by_name: dict[str, list[int]] = {}
    for i in range(out_attrs.size()):
        attr = out_attrs.apply(i)
        ids_by_name.setdefault(attr.name(), []).append(attr.exprId().id())
    for c in floaty:
        for eid in ids_by_name.get(c, []):
            _reject_raw_float_agg_def(plan, c, eid, order_col=c, hops_left=1)


def _reject_raw_float_agg_def(
    plan: str, name: str, eid: int, order_col: str, hops_left: int
) -> None:
    """Raise when the ``<expr> AS name#eid`` definition in ``plan`` is a
    bare raw-float-aggregate call; chase up to ``hops_left`` bare
    attribute-alias hops (rename lineage). Fail-open otherwise."""
    token = re.compile(
        r"(?<![0-9A-Za-z_])" + re.escape(name) + "#" + str(eid) + r"(?![0-9])"
    )
    for m in token.finditer(plan):
        pre = plan[: m.start()].rstrip()
        if not pre.endswith(" AS"):
            continue
        defn = pre[: len(pre) - 3].rstrip()
        expr = _balanced_call_prefix(defn)
        fn = expr.split("(", 1)[0] if expr else ""
        if fn in _RAW_FLOAT_AGGS:
            raise ValueError(
                f"order key '{order_col}' is a raw float aggregate"
                f" ({expr[:120]}): layout-dependent by an ulp —"
                " grid-sum it (decimal/integer accumulator) before"
                " using it as a ranking/bucketing order key"
                " (round-10 PERMUTE-axis catch, analytics_rfm)"
            )
        if not expr and hops_left > 0:
            ref = re.search(r"([A-Za-z_][0-9A-Za-z_]*)#(\d+)$", defn)
            if ref:
                _reject_raw_float_agg_def(
                    plan, ref.group(1), int(ref.group(2)), order_col, hops_left - 1
                )


def _join_back(
    d: DataFrame,
    extra: DataFrame,
    pid: str,
    group_cols: Sequence[str],
) -> DataFrame:
    """Broadcast-join the per-(bucket, group) ``extra`` frame back onto
    the rows with NULL-SAFE equality on the group columns — window
    PARTITION BY keeps a NULL group key as a real group, so the join-back
    must too (a name-based equi-join would silently drop null-group rows,
    while the internal offsets theta-join is null-safe). eqNullSafe keys still plan as a
    BroadcastHashJoin. ``extra`` = [pid, *group_cols, *value cols]."""
    val_cols = [c for c in extra.columns if c != pid and c not in group_cols]
    renamed = extra.select(
        F.col(pid).alias(f"{pid}_r"),
        *[F.col(c).alias(f"{pid}_j{i}") for i, c in enumerate(group_cols)],
        *val_cols,
    )
    cond = F.col(pid) == F.col(f"{pid}_r")
    for i, c in enumerate(group_cols):
        cond = cond & F.col(c).eqNullSafe(F.col(f"{pid}_j{i}"))
    return d.join(F.broadcast(renamed), cond, "inner").drop(
        f"{pid}_r", *[f"{pid}_j{i}" for i in range(len(group_cols))]
    )


def with_group_position(
    df: DataFrame,
    group_cols: Sequence[str],
    order_cols: Sequence[str],
    out: str,
    boundary_df: DataFrame | None = None,
) -> DataFrame:
    """Append 1-based position within each group_cols group under
    ORDER BY order_cols — row_number() OVER (PARTITION BY group_cols
    ORDER BY order_cols) without putting any whole group through one
    task.

    ``order_cols`` must form a total order within each group (include a
    unique key last) AND be bit-deterministic in the DATA: a double-typed
    AGGREGATE key (e.g. sum of money doubles) is layout-dependent by an
    ulp, which silently reorders value-tied rows across runs — grid-sum
    such keys first (the PERMUTE fixture caught this in analytics_rfm;
    raw columns and integer-valued aggregates are safe — ENFORCED by
    :func:`assert_deterministic_order_keys`). Adds only the
    ``out`` column; `_gp_*` intermediates are dropped. ``group_cols=[]``
    gives the global position. ``boundary_df``: optional cheaper proxy
    for the boundary sample (see :func:`with_group_cumsum`)."""
    assert_deterministic_order_keys(df, order_cols)
    keys = [*group_cols, *order_cols]
    d = df.withColumn(
        "_gp_pid",
        _bucket_id_expr(boundary_df if boundary_df is not None else df, keys),
    )
    local = Window.partitionBy("_gp_pid", *group_cols).orderBy(*order_cols)
    d = d.withColumn("_gp_rn", F.row_number().over(local))
    counts = d.groupBy("_gp_pid", *group_cols).agg(F.count(F.lit(1)).alias("_gp_cnt"))
    lower = counts.select(
        F.col("_gp_pid").alias("_gp_pid2"),
        *[F.col(c).alias(f"_gp_g{i}") for i, c in enumerate(group_cols)],
        F.col("_gp_cnt").alias("_gp_cnt2"),
    )
    cond = F.col("_gp_pid2") < F.col("_gp_pid")
    for i, c in enumerate(group_cols):
        cond = cond & F.col(c).eqNullSafe(F.col(f"_gp_g{i}"))
    offsets = (
        counts.join(F.broadcast(lower), cond, "left")
        .groupBy("_gp_pid", *group_cols)
        .agg(F.coalesce(F.sum("_gp_cnt2"), F.lit(0)).alias("_gp_off"))
    )
    return (
        _join_back(d, offsets, "_gp_pid", group_cols)
        .withColumn(out, F.col("_gp_off") + F.col("_gp_rn"))
        .drop("_gp_pid", "_gp_rn", "_gp_off")
    )


def with_global_position(
    df: DataFrame,
    order_cols: list[str],
    out: str,
    boundary_df: DataFrame | None = None,
) -> DataFrame:
    """Append 1-based global position under ORDER BY order_cols (the
    ungrouped form of :func:`with_group_position`). ``boundary_df``: a
    cheaper ancestor carrying the same key columns to run the boundary
    SAMPLE against — boundaries shape only bucket balance, never output
    (module docstring), so chained machinery calls should sample from
    the shared checkpointed input instead of re-executing each other's
    window layers (without it analytics_rfm's 2nd/3rd boundary jobs
    re-run all prior layers; sampling from ``per`` cuts the query ~40%)."""
    return with_group_position(df, [], order_cols, out, boundary_df=boundary_df)


def ntile_expr(pos: Column, n: Column, k: int) -> Column:
    """SQL-standard ntile(k) bucket for position ``pos`` of ``n`` rows:
    the first n%k buckets hold n//k+1 rows, the rest n//k."""
    q = F.floor(n / k)
    r = n - q * k
    big = r * (q + 1)  # rows covered by the first r (larger) buckets
    return (
        F.when(pos <= big, F.ceil(pos / (q + 1)))
        .otherwise(r + F.ceil((pos - big) / q))
        .cast("long")
    )


def distributed_ntile(
    df: DataFrame,
    order_cols: list[str],
    k: int,
    out: str,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Append ``out`` = ntile(k) OVER ([PARTITION BY group_cols] ORDER BY
    order_cols) — computed with range buckets + broadcast offsets
    instead of a one-task-per-key window. ``order_cols`` must include a
    unique tiebreak so the order is total within each group."""
    pos = with_group_position(df, group_cols, order_cols, "_nt_pos")
    if group_cols:
        totals = df.groupBy(*group_cols).agg(F.count(F.lit(1)).alias("_nt_n"))
        # null-safe join-back: a NULL group key is a real window partition
        renamed = totals.select(
            *[F.col(c).alias(f"_nt_g{i}") for i, c in enumerate(group_cols)],
            "_nt_n",
        )
        cond = F.lit(True)
        for i, c in enumerate(group_cols):
            cond = cond & F.col(c).eqNullSafe(F.col(f"_nt_g{i}"))
        pos = pos.join(F.broadcast(renamed), cond, "inner").drop(
            *[f"_nt_g{i}" for i in range(len(group_cols))]
        )
    else:
        total = pos.agg(F.count(F.lit(1)).alias("_nt_n"))
        pos = pos.crossJoin(F.broadcast(total))
    return pos.withColumn(
        out, ntile_expr(F.col("_nt_pos"), F.col("_nt_n"), k)
    ).drop("_nt_pos", "_nt_n")


def with_group_position_and_cumsum(
    df: DataFrame,
    group_cols: Sequence[str],
    order_cols: Sequence[str],
    val: str,
    pos_out: str,
    cum_out: str,
    boundary_df: DataFrame | None = None,
) -> DataFrame:
    """Fused :func:`with_group_position` + :func:`with_group_cumsum` over
    ONE bucket stamp, one local-window exchange and one offsets pass —
    for callers needing both the in-group position AND a running sum of
    ``val`` under the same (group, order): half the boundary jobs and
    exchanges of two separate machinery calls (win_rank_dense's
    distinct-spend histogram needs exactly this pair). Same total-order,
    deterministic-order-key (enforced) and non-null-``val``
    preconditions as the two parents."""
    assert_deterministic_order_keys(df, order_cols)
    v = F.coalesce(
        F.col(val),
        F.raise_error(
            F.lit(
                f"with_group_position_and_cumsum: null in {val!r} — "
                "running-sum semantics are ambiguous on nulls"
            )
        ),
    )
    keys = [*group_cols, *order_cols]
    d = df.withColumn(
        "_gb_pid",
        _bucket_id_expr(boundary_df if boundary_df is not None else df, keys),
    )
    w_run = (
        Window.partitionBy("_gb_pid", *group_cols)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_rn = Window.partitionBy("_gb_pid", *group_cols).orderBy(*order_cols)
    d = d.withColumn("_gb_rn", F.row_number().over(w_rn)).withColumn(
        "_gb_run", F.sum(v).over(w_run)
    )
    parts = d.groupBy("_gb_pid", *group_cols).agg(
        F.count(F.lit(1)).alias("_gb_cnt"), F.sum(val).alias("_gb_sum")
    )
    lower = parts.select(
        F.col("_gb_pid").alias("_gb_pid2"),
        *[F.col(c).alias(f"_gb_g{i}") for i, c in enumerate(group_cols)],
        F.col("_gb_cnt").alias("_gb_cnt2"),
        F.col("_gb_sum").alias("_gb_sum2"),
    )
    cond = F.col("_gb_pid2") < F.col("_gb_pid")
    for i, c in enumerate(group_cols):
        cond = cond & F.col(c).eqNullSafe(F.col(f"_gb_g{i}"))
    offsets = (
        parts.join(F.broadcast(lower), cond, "left")
        .groupBy("_gb_pid", *group_cols)
        .agg(
            F.coalesce(F.sum("_gb_cnt2"), F.lit(0)).alias("_gb_coff"),
            F.coalesce(F.sum("_gb_sum2"), F.lit(0)).alias("_gb_soff"),
        )
    )
    return (
        _join_back(d, offsets, "_gb_pid", group_cols)
        .withColumn(pos_out, F.col("_gb_coff") + F.col("_gb_rn"))
        .withColumn(cum_out, F.col("_gb_soff") + F.col("_gb_run"))
        .drop("_gb_pid", "_gb_rn", "_gb_run", "_gb_coff", "_gb_soff")
    )


def with_group_cumsum(
    df: DataFrame,
    group_cols: Sequence[str],
    order_cols: Sequence[str],
    val: str,
    out: str,
    boundary_df: DataFrame | None = None,
) -> DataFrame:
    """Append ``out`` = sum(val) OVER ([PARTITION BY group_cols] ORDER BY
    order_cols ROWS UNBOUNDED PRECEDING) — the in-group running total,
    distributed the same way as :func:`with_group_position`:
    range-bucket stamp, per-(bucket, group) running sum (parallel),
    per-(bucket, group) totals → broadcast cumulative offsets (tiny
    theta-join; no corpus window, no corpus collect). ``order_cols``
    must form a total order within each group.

    ``boundary_df``: optional cheaper PROXY source for the boundary
    sample — any frame with the same key columns/types and a roughly
    similar key distribution (e.g. the RAW table under an aggregate
    input, sampled with column pruning instead of re-executing the
    aggregation twice). Boundaries only shape bucket BALANCE, never
    correctness — the bucket expression compares the real rows with
    Spark's own ordering whatever the cut points (module docstring), so
    a proxy distribution is always safe. Measured on agg_weighted_median
    at 100×: boundary jobs off the raw lineitem scan instead of the
    collapsed aggregate cut 51 s → main-pass-only cost.

    Precondition (ENFORCED): ``val`` must be non-null — a null value
    raises at execution time. A window's running sum SKIPS nulls (a
    null-prefix row still sees the earlier partitions' total), but here
    a null local running sum would null the offset addition — the two
    spellings diverge exactly on null values, so the operator refuses
    them (callers coalesce first if skip-null semantics are wanted).
    ``order_cols`` must also be bit-deterministic (enforced — see
    :func:`assert_deterministic_order_keys`)."""
    assert_deterministic_order_keys(df, order_cols)
    v = F.coalesce(
        F.col(val),
        F.raise_error(
            F.lit(
                f"with_group_cumsum: null in {val!r} — running-sum semantics "
                "are ambiguous on nulls; coalesce before calling"
            )
        ),
    )
    keys = [*group_cols, *order_cols]
    d = df.withColumn(
        "_gc_pid",
        _bucket_id_expr(boundary_df if boundary_df is not None else df, keys),
    )
    local = (
        Window.partitionBy("_gc_pid", *group_cols)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    d = d.withColumn("_gc_run", F.sum(v).over(local))
    sums = d.groupBy("_gc_pid", *group_cols).agg(F.sum(val).alias("_gc_sum"))
    lower = sums.select(
        F.col("_gc_pid").alias("_gc_pid2"),
        *[F.col(c).alias(f"_gc_g{i}") for i, c in enumerate(group_cols)],
        F.col("_gc_sum").alias("_gc_sum2"),
    )
    cond = F.col("_gc_pid2") < F.col("_gc_pid")
    for i, c in enumerate(group_cols):
        cond = cond & F.col(c).eqNullSafe(F.col(f"_gc_g{i}"))
    offsets = (
        sums.join(F.broadcast(lower), cond, "left")
        .groupBy("_gc_pid", *group_cols)
        .agg(F.coalesce(F.sum("_gc_sum2"), F.lit(0)).alias("_gc_off"))
    )
    return (
        _join_back(d, offsets, "_gc_pid", group_cols)
        .withColumn(out, F.col("_gc_off") + F.col("_gc_run"))
        .drop("_gc_pid", "_gc_run", "_gc_off")
    )


def with_global_cumsum(
    df: DataFrame, order_cols: list[str], val: str, out: str
) -> DataFrame:
    """Append ``out`` = sum(val) OVER (ORDER BY order_cols ROWS UNBOUNDED
    PRECEDING) — the ungrouped form of :func:`with_group_cumsum` (same
    non-null ``val`` precondition, enforced)."""
    return with_group_cumsum(df, [], order_cols, val, out)
