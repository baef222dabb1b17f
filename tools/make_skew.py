"""Build the data-SHAPE fixtures, starting with skewed keys and NULL-bearing.

The invariance program (tools/invariance_sweep.sh) covers layout, scale,
and execution path; this tool adds the fourth adversarial axis — the
shape of the DATA itself. Two fixtures, both derived from a harness sf
dir the same way make_10x.py derives the scale fixtures (column remaps
only, so every FIXTURES.md invariant the queries rely on survives:
2-decimal money grids, PK uniqueness, doc_id/vec_id ranges, timestamp
domains, FK validity):

SKEW (--mode skew, default dst /tmp/sfskew): one hot key absorbs ~50%
of the rows of each fact-side join/group column —
  - events.user_id      → hot user  where event_id % 2 = 0
  - orders.o_custkey    → hot cust  where o_orderkey % 2 = 0
  - lineitem.l_partkey  → hot part  where (l_orderkey + l_linenumber) % 2 = 0
  - lineitem.l_suppkey  → hot supp  where (l_orderkey + l_linenumber) % 2 = 0
Hot keys are the MIN existing key of the referenced dim, so FK validity
is preserved and joins stay semantically valid — the hot side simply
concentrates half the fact table on one build/probe key (the shape AQE
skew-join and salted_equi_join exist for). PK/tiebreak columns
(event_id, o_orderkey, l_orderkey+l_linenumber, doc_id, vec_id) are
never remapped: top-k queries tiebreak on them, and collapsing them
would make result SETS engine-dependent (a fixture artifact, not a bug).

NULL (--mode null, default dst /tmp/sfnull): NULL group keys and NULL
money values at a few percent — FIXTURES.md verifies no NULLs at
sf0.001 but explicitly warns larger SFs may carry them; this fixture
makes the hazard concrete:
  - events.user_id         → NULL where event_id % 37 = 0   (~2.7%)
  - events.value           → NULL where event_id % 41 = 0   (~2.4%)
  - lineitem.l_extendedprice → NULL where (l_orderkey*7 + l_linenumber) % 47 = 0
  - lineitem.l_returnflag  → NULL where (l_orderkey + l_linenumber) % 53 = 0
Deterministic predicates on never-remapped unique columns, so both
fixtures are reproducible bit-for-bit and Spark + DuckDB read the SAME
parquet — the strict sweep's hash compare stays meaningful.

Seven more modes follow the same template: SPAN
(--mode span: events timeline ×12 — grid/frame growth), TEXT
(--mode text: adversarial Unicode / degenerate document text — the
cross-engine string-semantics axis), EMPTY (--mode empty: every
table 0 rows, schema preserved — the crash-on-empty axis), TIES
(--mode ties: massive order-key tie classes — the ordering-determinism
axis; see build_ties) and PERMUTE (--mode permute: same rows in
hash-shuffled on-disk order — the row-order-invariance axis; pair with
tools/order_invariance.py for the Spark-vs-Spark self check), EXTREMES
(--mode extremes: value-DOMAIN edges — grid-edge money,
zeros/negatives, epoch-boundary timestamps; see build_extremes) and its
vector sibling EXTREMES-VEC (--mode extremes-vec: ±1e30 /
zero / 1e-30 / mixed-magnitude embeddings probing the norm/dot
accumulation dtype; see build_extremes_vec).

Usage:
    python tools/make_skew.py                      # both fixtures from sf0.1
    python tools/make_skew.py --mode skew --dst /tmp/sfskew
    python tools/make_skew.py --src /tmp/sf10x --mode null --dst /tmp/sf10xnull
Then sweep the whole registry:
    python tools/check_strict.py --sf /tmp/sfskew
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F

from mongodb_mysql_cdc_spark.catalog import TABLES, load
from mongodb_mysql_cdc_spark.session import get_session


def _min_key(spark, src: str, table: str, col: str) -> int:
    return load(spark, src, table).agg(F.min(col)).collect()[0][0]


def build_skew(spark, src: str, dst: str) -> None:
    hot_user = _min_key(spark, src, "events", "user_id")
    hot_cust = _min_key(spark, src, "customer", "c_custkey")
    hot_part = _min_key(spark, src, "part", "p_partkey")
    hot_supp = _min_key(spark, src, "supplier", "s_suppkey")
    print(f"hot keys: user={hot_user} cust={hot_cust} part={hot_part} supp={hot_supp}")
    for name in TABLES:
        df = load(spark, src, name)
        if name == "events":
            df = df.withColumn(
                "user_id",
                F.when(F.col("event_id") % 2 == 0, F.lit(hot_user).cast("long"))
                .otherwise(F.col("user_id")),
            )
        elif name == "orders":
            df = df.withColumn(
                "o_custkey",
                F.when(F.col("o_orderkey") % 2 == 0, F.lit(hot_cust).cast("long"))
                .otherwise(F.col("o_custkey")),
            )
        elif name == "lineitem":
            pred = (F.col("l_orderkey") + F.col("l_linenumber")) % 2 == 0
            df = df.withColumn(
                "l_partkey",
                F.when(pred, F.lit(hot_part).cast("long")).otherwise(F.col("l_partkey")),
            ).withColumn(
                "l_suppkey",
                F.when(pred, F.lit(hot_supp).cast("long")).otherwise(F.col("l_suppkey")),
            )
        df.write.mode("overwrite").parquet(f"{dst}/{name}.parquet")
        print(f"{name} -> {dst}")


def build_null(spark, src: str, dst: str) -> None:
    for name in TABLES:
        df = load(spark, src, name)
        if name == "events":
            df = df.withColumn(
                "user_id",
                F.when(F.col("event_id") % 37 == 0, F.lit(None).cast("long"))
                .otherwise(F.col("user_id")),
            ).withColumn(
                "value",
                F.when(F.col("event_id") % 41 == 0, F.lit(None).cast("double"))
                .otherwise(F.col("value")),
            )
        elif name == "lineitem":
            df = df.withColumn(
                "l_extendedprice",
                F.when(
                    (F.col("l_orderkey") * 7 + F.col("l_linenumber")) % 47 == 0,
                    F.lit(None).cast("double"),
                ).otherwise(F.col("l_extendedprice")),
            ).withColumn(
                "l_returnflag",
                F.when(
                    (F.col("l_orderkey") + F.col("l_linenumber")) % 53 == 0,
                    F.lit(None).cast("string"),
                ).otherwise(F.col("l_returnflag")),
            )
        df.write.mode("overwrite").parquet(f"{dst}/{name}.parquet")
        print(f"{name} -> {dst}")


# Adversarial text palette (TEXT fixture). Deliberately covers the
# cross-engine string-semantics hazard classes: empty / whitespace-only
# strings, astral-plane emoji + ZWJ sequences, CJK (no whitespace
# tokens), combining marks (NFD), locale-hazard casing (Turkish dotless
# i, German ß), RTL + bidi marks, one giant unbroken token, massive
# exact repetition, HTML entities, URLs, punctuation-only. No NUL byte:
# that would probe the pandas comparator, not the engines.
TEXT_PALETTE = [
    "",
    " \t\n  \r\n ",
    "café naïve résumé \U0001f600\U0001f600 "
    "\U0001f469‍\U0001f469‍\U0001f467 emoji stress",
    "漢字テスト 中文测试 "
    "한국어 日本語",
    "éclair ångström combining marks",
    "x" * 5000,
    "spam ham " * 500,
    "İstanbul ı I i TURKISH casing",
    "STRASSE straße GROSS groß",
    "مرحبا بالعا"
    "لم ‏ rtl bidi test",
    "<p>&amp; &lt;tag&gt; &quot;quoted&quot;</p>",
    "https://ex.example.com/path%20a/b?q=a%20b&x=1&y=%7B%7D#frag",
    "!!! ??? ... ,,, ;;; 12345 67890",
    "a",
    "ΣΟΦΟΣ ΣΟΦΙΑ ΟΔΥΣΣΕΥΣ greek sigma",
    # genuinely NFD: base letters + combining marks
    "e\u0301clair a\u030angstro\u0308m nfd combining",
]


def build_text(spark, src: str, dst: str) -> None:
    """TEXT fixture: adversarial Unicode / degenerate strings.

    Every 7th document's ``text`` is replaced (deterministically, cycling
    ``TEXT_PALETTE`` by doc_id) with a string from a hazard class where
    Spark (JVM: Java regex, java.lang.String casing, UTF8String lengths)
    and DuckDB (RE2, utf8proc) are most likely to disagree: empty /
    whitespace-only, emoji + ZWJ, CJK, NFD combining marks, Turkish /
    German casing traps, RTL + bidi controls, a 5000-char unbroken token,
    500× exact repetition, HTML entities, escaped URLs. ``n_chars`` is
    recomputed as ``length(text)`` so the FIXTURES.md consistency
    invariant survives; doc_id / lang / source are never touched (PK,
    group keys). A few ``events.props`` JSON payloads gain unicode-escape
    and nested-quote content for the JSON-path family. Deterministic and
    engine-shared like the other fixtures — both engines read the SAME
    parquet, so strict hash compare stays meaningful."""
    pal = F.array(*[F.lit(s) for s in TEXT_PALETTE])
    for name in TABLES:
        df = load(spark, src, name)
        if name == "documents":
            swap = F.col("doc_id") % 7 == 0
            idx = (F.col("doc_id") / 7).cast("long") % len(TEXT_PALETTE)
            df = df.withColumn(
                "text",
                F.when(swap, F.element_at(pal, (idx + 1).cast("int")))
                .otherwise(F.col("text")),
            ).withColumn("n_chars", F.length("text").cast("long"))
        elif name == "events":
            # props keeps its generator schema ({"k": <int>} — oracles cast
            # $.k to a number) but gains adversarial EXTRA fields: unicode
            # escapes, nested quotes, scientific notation, deep nesting.
            df = df.withColumn(
                "props",
                F.when(
                    F.col("event_id") % 97 == 0,
                    F.concat(
                        F.lit('{"k": '),
                        (F.col("event_id") % 100).cast("string"),
                        F.lit(
                            ', "s": "caf\\u00e9 \\"quoted\\"", "n": 1e-3,'
                            ' "arr": [1, 2, {"deep": "\\u6f22"}]}'
                        ),
                    ),
                ).otherwise(F.col("props")),
            )
        df.write.mode("overwrite").parquet(f"{dst}/{name}.parquet")
        print(f"{name} -> {dst}")


def build_empty(spark, src: str, dst: str) -> None:
    """EMPTY fixture: every table schema-identical but 0 rows.

    At 100 TB an empty INPUT table is rare but an empty slice is not — a
    partition-pruned date, a filter that matches nothing, a tenant with
    no data. Every registered query must still plan, run, and agree with
    the oracle on zero rows (global aggs return their 1-row form on both
    engines, driver-side samples must tolerate 0-row collects, iterative
    ops must not divide by an empty norm). ``limit(0)`` preserves the
    exact parquet schema, so this is the cheapest fixture and the most
    total sweep: the full registry runs in one pass."""
    for name in TABLES:
        load(spark, src, name).limit(0).write.mode("overwrite").parquet(
            f"{dst}/{name}.parquet"
        )
        print(f"{name} -> {dst} (0 rows)")


def build_span(spark, src: str, dst: str, factor: int = 12) -> None:
    """SPAN fixture: stretch the events timeline ×factor
    (30 days → ~1 year at 12) by exact integer-microsecond affine remap
    ts' = min_ts + (ts − min_ts)·factor. Ordering, uniqueness, values and
    every other column survive; only the TIME SPAN grows — an axis skew
    cannot reach (ts_interpolate_linear's grid blow-up: a hot
    key doesn't grow an hourly grid; a longer span does, and per-user
    grids are where frame pathologies turn quadratic). Deterministic and
    engine-shared like the other fixtures: both engines read the SAME
    stretched parquet, so the strict hash compare stays meaningful."""
    min_us = int(
        load(spark, src, "events").agg(F.min(F.unix_micros("ts"))).collect()[0][0]
    )
    for name in TABLES:
        df = load(spark, src, name)
        if name == "events":
            df = df.withColumn(
                "ts",
                F.timestamp_micros(
                    F.lit(min_us)
                    + (F.unix_micros("ts") - F.lit(min_us)) * F.lit(int(factor))
                ),
            )
        df.write.mode("overwrite").parquet(f"{dst}/{name}.parquet")
        print(f"{name} -> {dst}")


def build_ties(spark, src: str, dst: str) -> None:
    """TIES fixture: massive ORDER-KEY tie
    classes — the determinism axis no other fixture covers. Skew grows a
    JOIN/GROUP key's class; ties grow an ORDER key's equivalence class,
    which is what breaks (a) row_number/lag/first_value spellings that
    order by a non-unique key, (b) as-of "latest at-or-before" when
    several build rows share the boundary timestamp, (c) SCD2 version
    chains when two versions of one key carry the same ts (the (ts,seq)
    ordering contract), (d) max_by/mode/top-k when the ranked VALUE ties.
    The repo-wide convention (SURVEY §5: every ordering carries a unique
    tiebreak; every arg_max ties on the PK) is exactly what this fixture
    verifies empirically, registry-wide, on both engines.

    Deterministic column remaps only (PKs, FKs, group keys untouched, so
    every FIXTURES.md invariant survives):
      - events.ts    → ONE hot instant (the min hour) where
                       event_id % 11 = 0 (~9% of the table at a single
                       timestamp), else floor-to-hour where
                       event_id % 2 = 0 (~45% on an hourly grid — several
                       ties per user per hour)
      - events.value → round to integer where event_id % 3 = 0 (ranked-
                       value ties; stays on the 2-decimal money grid)
      - orders.o_orderdate / lineitem.l_shipdate → floor-to-month on the
                       even half (~3k-row tie classes per month at sf0.1)
    Both engines read the SAME parquet, so the strict hash compare stays
    meaningful — any divergence is a genuine ordering-contract bug."""
    hot_us = int(
        load(spark, src, "events")
        .agg(F.min(F.unix_micros(F.date_trunc("hour", F.col("ts")))))
        .collect()[0][0]
    )
    for name in TABLES:
        df = load(spark, src, name)
        if name == "events":
            df = df.withColumn(
                "ts",
                F.when(F.col("event_id") % 11 == 0, F.timestamp_micros(F.lit(hot_us)))
                .when(F.col("event_id") % 2 == 0, F.date_trunc("hour", F.col("ts")))
                .otherwise(F.col("ts")),
            ).withColumn(
                "value",
                F.when(F.col("event_id") % 3 == 0, F.round(F.col("value"), 0))
                .otherwise(F.col("value")),
            )
        elif name == "orders":
            df = df.withColumn(
                "o_orderdate",
                F.when(
                    F.col("o_orderkey") % 2 == 0,
                    F.date_trunc("month", F.col("o_orderdate")),
                ).otherwise(F.col("o_orderdate")),
            )
        elif name == "lineitem":
            df = df.withColumn(
                "l_shipdate",
                F.when(
                    (F.col("l_orderkey") + F.col("l_linenumber")) % 2 == 0,
                    F.date_trunc("month", F.col("l_shipdate")),
                ).otherwise(F.col("l_shipdate")),
            )
        df.write.mode("overwrite").parquet(f"{dst}/{name}.parquet")
        print(f"{name} -> {dst}")


# Primary key columns per table — the permutation sort key (hashing the
# PK gives a deterministic, content-defined shuffle of the row order).
_PK = {
    "region": ["r_regionkey"],
    "nation": ["n_nationkey"],
    "supplier": ["s_suppkey"],
    "customer": ["c_custkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey"],
    "lineitem": ["l_orderkey", "l_linenumber"],
    "events": ["event_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}


def build_extremes(spark, src: str, dst: str) -> None:
    """EXTREMES fixture: value-DOMAIN
    extremes — money at the
    edges of what a 2-decimal double grid can hold, zero and negative
    amounts, and epoch-boundary timestamps. Every prior axis reshapes
    WHERE values sit (keys, order, layout); this one reshapes the values
    themselves: sign flips break positivity assumptions (share-of-total,
    drawdown, log-scaling), zeros break division guards, 1e9 magnitudes
    mixed with cents stress double summation (a raw double sum loses the
    cents next to 1e9 — the grid-sum discipline is exactly what keeps
    both engines bit-equal here), and epoch/far-future timestamps stress
    date arithmetic and the zero-padded composite-key contracts
    (agg_minmax_by's documented non-negative precondition holds: epoch
    ZERO is still non-negative).

    Deterministic column remaps only (PKs, FKs, group keys, doc/vec ids
    untouched — every FIXTURES.md invariant survives; money stays ON the
    2-decimal grid):
      - events.value   → by event_id % 20: 0 → 0.00, 5 → -0.01,
                         10 → 999999999.99, 15 → -999999999.99
                         (~20% extreme; ±1e9 keeps grid sums far inside
                         the bigint accumulator at any harness SF:
                         1e9·100·6M rows ≈ 6e17 < 2^63)
      - lineitem.l_extendedprice → ×1000 where (l_orderkey +
                         l_linenumber) % 19 = 0 (magnitude ~1e8, still
                         on-grid), 0.00 where % 23 = 0 (division and
                         share-of-total guards)
      - orders.o_orderdate → 1970-01-01 00:00:00 (the epoch boundary)
                         where o_orderkey % 34 = 0, 2199-12-31 23:59:59
                         where o_orderkey % 17 = 0 otherwise (~6% at
                         timestamp-domain edges)
    events.ts is deliberately NOT remapped: the per-entity hour grids
    (ts_gapfill/ts_resample) and 15-minute interval cells are bounded by
    the data's native time span BY CONTRACT — an epoch-extreme event ts
    would demand a 473k-hour per-user series, which is a fixture
    artifact, not an operator bug (the SPAN axis already stresses
    timeline growth safely at ×12). Both engines read the SAME parquet,
    so any strict-sweep divergence is a genuine value-domain contract
    bug."""
    for name in TABLES:
        df = load(spark, src, name)
        if name == "events":
            m = F.col("event_id") % 20
            df = df.withColumn(
                "value",
                F.when(m == 0, F.lit(0.00))
                .when(m == 5, F.lit(-0.01))
                .when(m == 10, F.lit(999999999.99))
                .when(m == 15, F.lit(-999999999.99))
                .otherwise(F.col("value")),
            )
        elif name == "lineitem":
            k = F.col("l_orderkey") + F.col("l_linenumber")
            df = df.withColumn(
                "l_extendedprice",
                F.when(k % 19 == 0, F.col("l_extendedprice") * 1000)
                .when(k % 23 == 0, F.lit(0.00))
                .otherwise(F.col("l_extendedprice")),
            )
        elif name == "orders":
            dt = df.schema["o_orderdate"].dataType
            df = df.withColumn(
                "o_orderdate",
                F.when(
                    F.col("o_orderkey") % 34 == 0,
                    F.lit("1970-01-01 00:00:00").cast(dt),
                )
                .when(
                    F.col("o_orderkey") % 17 == 0,
                    F.lit("2199-12-31 23:59:59").cast(dt),
                )
                .otherwise(F.col("o_orderdate")),
            )
        df.write.mode("overwrite").parquet(f"{dst}/{name}.parquet")
        print(f"{name} -> {dst}")


def build_extremes_vec(spark, src: str, dst: str) -> None:
    """EXTREMES-VEC fixture: the vector-palette sibling of build_extremes, aimed
    at the sim-search/embedding family's ACCUMULATION DTYPE. The
    embeddings column is list<float32> (FIXTURES.md: dim=64); harness
    components are ~N(0, 0.1), so nothing ever probed what happens when
    a norm/dot is accumulated in float32 instead of float64. 1e30 is the
    designed probe magnitude: it is exactly representable as a float32
    INPUT (fl32 max ≈ 3.4e38) while its square (1e60) overflows float32
    to +inf — any kernel that multiplies or accumulates in float32
    (numpy float32 dot, un-promoted FLOAT*FLOAT SQL arithmetic) produces
    inf/NaN where a float64-promoted pipeline returns the exact answer.
    Underflow is the mirror probe: 1e-30 inputs square to 1e-60 → 0.0 in
    float32, so a float32 norm of the tiny vector is 0 and its cosine is
    NaN (0/0) where float64 sails through.

    Deterministic remap by vec_id % 10 (vec_id, label, dim=64, and every
    other table untouched — all FIXTURES.md invariants survive):
      - % 10 == 0 → whole vector × 1e30   (norm overflows fl32, not fl64)
      - % 10 == 1 → all-zero vector        (norm 0: cosine/normalize guards)
      - % 10 == 2 → whole vector × 1e-30   (squares underflow fl32 → 0)
      - % 10 == 3 → component[0] = 1e30, rest unchanged (absorption:
                     the 1e60 square term next to ~1e-2 terms)
      - % 10 == 4 → negated                (sign symmetry of cosine/ANN)
      - else unchanged (~50% of vectors keep the harness distribution so
        top-k neighborhoods remain non-degenerate)
    Both engines read the SAME parquet, so any strict-sweep divergence
    is a genuine accumulation-dtype/guard contract bug."""
    for name in TABLES:
        df = load(spark, src, name)
        if name == "embeddings":
            m = F.col("vec_id") % 10
            e = F.col("embedding")
            fl = lambda v: F.lit(v).cast("float")  # noqa: E731
            df = df.withColumn(
                "embedding",
                F.when(m == 0, F.transform(e, lambda x: x * fl(1e30)))
                .when(m == 1, F.transform(e, lambda x: fl(0.0)))
                .when(m == 2, F.transform(e, lambda x: x * fl(1e-30)))
                .when(
                    m == 3,
                    F.concat(F.array(fl(1e30)), F.slice(e, 2, 63)),
                )
                .when(m == 4, F.transform(e, lambda x: -x))
                .otherwise(e)
                .cast("array<float>"),
            )
        df.write.mode("overwrite").parquet(f"{dst}/{name}.parquet")
        print(f"{name} -> {dst}")


def build_permute(spark, src: str, dst: str) -> None:
    """PERMUTE fixture: the SAME rows in adversarially
    different ROW ORDER — every other fixture (and the harness parquet
    itself) stores rows in generator order (PK/ts-sorted), so nothing
    ever tested that results are a pure function of the data rather
    than its on-disk ordering. Row order changes: collect_list element
    order, which rows share a scan split (the ranking machinery's
    per-split prefix sums), Spark's and DuckDB's floating-point
    summation order (the comparison-stability contract class),
    and the two-phase top-K prefixes' local candidate sets. It must
    change NO registered result: every collect is sorted, every limit
    is totally ordered, every rounded double rides a
    reorder-insensitive contract (decimal grids / hround margins).

    The permutation is deterministic and content-defined — rows sort by
    xxhash64 of the primary key — so the fixture is reproducible and
    both engines read the SAME reordered parquet (one file per table:
    repartition(1) + sortWithinPartitions keeps the order exact, no
    range-sampler nondeterminism)."""
    for name in TABLES:
        df = load(spark, src, name)
        df = (
            df.repartition(1)
            .sortWithinPartitions(F.xxhash64(*[F.col(c) for c in _PK[name]]))
        )
        df.write.mode("overwrite").parquet(f"{dst}/{name}.parquet")
        print(f"{name} -> {dst} (permuted)")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--src", default="/root/testdata/sf0.1")
    ap.add_argument(
        "--mode",
        choices=[
            "skew", "null", "span", "text", "empty", "ties", "permute",
            "extremes", "extremes-vec", "both",
        ],
        default="both",
    )
    ap.add_argument("--dst", default=None, help="target dir (defaults per mode)")
    args = ap.parse_args()
    spark = get_session("make_skew")
    if args.mode in ("skew", "both"):
        build_skew(spark, args.src, args.dst or "/tmp/sfskew")
    if args.mode in ("null", "both"):
        build_null(spark, args.src, args.dst or "/tmp/sfnull")
    if args.mode == "span":
        build_span(spark, args.src, args.dst or "/tmp/sfspan")
    if args.mode == "text":
        build_text(spark, args.src, args.dst or "/tmp/sftext")
    if args.mode == "empty":
        build_empty(spark, args.src, args.dst or "/tmp/sfempty")
    if args.mode == "ties":
        build_ties(spark, args.src, args.dst or "/tmp/sfties")
    if args.mode == "permute":
        build_permute(spark, args.src, args.dst or "/tmp/sfpermute")
    if args.mode == "extremes":
        build_extremes(spark, args.src, args.dst or "/tmp/sfextremes")
    if args.mode == "extremes-vec":
        build_extremes_vec(spark, args.src, args.dst or "/tmp/sfextremesvec")
    spark.stop()


if __name__ == "__main__":
    main()
