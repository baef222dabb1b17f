"""Training-data pipeline operators (round-2 extension beyond SURVEY §2.10):
stratified sampling, per-group reservoirs, benchmark decontamination,
sequence packing, domain mixing, quality bucketing, and SCD2 change
history — the curation stages a 100 TB pretraining pipeline runs between
dedup and tokenization.

Reference parity note: the reference (arashkhavari/mongodb-mysql-cdc) has
no such surface; these extend the mandated LLM-pipeline family
(BASELINE.json:6) with the same oracle-checked discipline as §2.10.

Shared determinism rule: any "random" choice is a ``hash60`` of a salted
key — reproducible on both engines, stable under re-partitioning, and
exactly re-computable by the DuckDB oracle (no RNG state anywhere).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mongodb_mysql_cdc_spark.catalog import load
from mongodb_mysql_cdc_spark.functions import hashing as H
from mongodb_mysql_cdc_spark.functions import text as X
from mongodb_mysql_cdc_spark.functions.compat import hround, sql_round
from mongodb_mysql_cdc_spark.registry import register

# Lowercased whitespace tokens — must match functions/text.py (same CTE as
# the llm_* modules).
TOKS_CTE = X.sql_toks_cte(" source, n_chars,")


# ---------------------------------------------------------------------------
# Sampling
# ---------------------------------------------------------------------------

_RATE_SQL = (
    "CASE source WHEN 'src0' THEN 200 WHEN 'src1' THEN 500 ELSE 100 END"
)


@register(
    "sample_stratified",
    oracle=f"""
SELECT doc_id, lang, source
FROM documents
WHERE {H.sql_hash60("concat('smpl|', CAST(doc_id AS VARCHAR))")} % 1000
      < {_RATE_SQL}
""",
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Bernoulli sampling at configured rates (src0 20 %,
    src1 50 %, rest 10 %) — the domain-rebalancing primitive.

    100 TB design: the keep/drop decision is a pure narrow projection
    (hash of the row's own key), so sampling composes with partition
    pruning and costs zero shuffle; the same (salt, key) pair always
    lands on the same side, so reruns and incremental loads agree."""
    d = load(spark, sf_dir, "documents")
    rate = (
        F.when(F.col("source") == "src0", 200)
        .when(F.col("source") == "src1", 500)
        .otherwise(100)
    )
    coin = H.hash60(F.concat(F.lit("smpl|"), F.col("doc_id").cast("string"))) % 1000
    return d.filter(coin < rate).select("doc_id", "lang", "source")


@register(
    "sample_per_group",
    oracle=f"""
SELECT doc_id, lang, rk FROM (
  SELECT doc_id, lang,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY {H.sql_hash60("concat('rsv|', CAST(doc_id AS VARCHAR))")}, doc_id
         ) AS rk
  FROM documents
) WHERE rk <= 20
""",
)
def sample_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic reservoir: exactly min(20, |group|) docs per language,
    chosen by salted-hash order (uniform, reproducible, engine-portable).

    100 TB design: one shuffle on the group key. With few giant groups
    (languages), pre-aggregate a per-partition top-20 first (map-side
    candidate pruning) — Catalyst's TakeOrderedAndProject does exactly
    this shape for global top-k; per-group the window + filter rank<=k
    plan prunes on the fly via WindowGroupLimit."""
    d = load(spark, sf_dir, "documents")
    coin = H.hash60(F.concat(F.lit("rsv|"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("lang").orderBy(coin.asc(), F.col("doc_id").asc())
    return (
        d.select("doc_id", "lang", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= 20)
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination
# ---------------------------------------------------------------------------

_BENCH_MAX_ID = 25  # doc_id < 25 stands in for the eval/benchmark set
_DECON_N = 5  # 5-word shingles: long enough that overlap means real reuse


@register(
    "decontaminate",
    oracle=f"""
WITH {TOKS_CTE},
sh AS (
  SELECT doc_id, list_distinct(list_transform(
    generate_series(1, greatest(len(t) - {_DECON_N - 1}, 0)),
    i -> array_to_string(t[i:i+{_DECON_N - 1}], ' '))) AS s
  FROM toks WHERE greatest(len(t) - {_DECON_N - 1}, 0) > 0
),
bench AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id < {_BENCH_MAX_ID}),
contaminated AS (
  SELECT DISTINCT c.doc_id
  FROM (SELECT doc_id, unnest(s) AS g FROM sh WHERE doc_id >= {_BENCH_MAX_ID}) c
  JOIN bench b ON c.g = b.g
)
SELECT d.doc_id, d.lang, d.source
FROM documents d
WHERE d.doc_id >= {_BENCH_MAX_ID}
  AND d.doc_id NOT IN (SELECT doc_id FROM contaminated)
""",
)
def decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: drop every training doc sharing any
    5-gram with the eval set (docs 0-24 stand in for the benchmark).

    100 TB design: the benchmark shingle set is tiny (eval suites are
    MBs) → broadcast; the corpus side explodes shingles and left-ANTI
    joins against the broadcast — no shuffle of the corpus, no pair
    materialization. At petabyte eval suites you'd swap the broadcast
    for a bloom filter pushed into the scan."""
    d = load(spark, sf_dir, "documents")
    # Tokenize across an exchange keyed on doc_id: HOF lambdas get no CSE,
    # so an un-materialized token expression re-runs split() per shingle
    # (measured 8.4 s → 1.0 s at sf0.1); the doc_id partitioning is then
    # reused by the contaminated-set distinct below.
    tok_df = d.select("doc_id", X.tokens(F.col("text")).alias("t")).repartition(
        F.col("doc_id")
    )
    sh = tok_df.select(
        "doc_id", F.array_distinct(X.word_shingles(F.col("t"), _DECON_N)).alias("sh")
    ).filter(F.size("sh") > 0)
    bench = (
        sh.filter(F.col("doc_id") < _BENCH_MAX_ID)
        .select(F.explode("sh").alias("g"))
        .distinct()
    )
    corpus = sh.filter(F.col("doc_id") >= _BENCH_MAX_ID).select(
        "doc_id", F.explode("sh").alias("g")
    )
    contaminated = corpus.join(F.broadcast(bench), "g").select("doc_id").distinct()
    return (
        d.filter(F.col("doc_id") >= _BENCH_MAX_ID)
        .join(contaminated, "doc_id", "left_anti")
        .select("doc_id", "lang", "source")
    )


# ---------------------------------------------------------------------------
# Sequence packing
# ---------------------------------------------------------------------------

_PACK_BUDGET = 2048


@register(
    "pack_sequences",
    oracle=f"""
WITH {TOKS_CTE},
counted AS (SELECT doc_id, lang, len(t) AS n_tokens FROM toks),
packed AS (
  SELECT doc_id, lang, n_tokens,
         sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum_tokens
  FROM counted
)
SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST((cum_tokens - n_tokens) // {_PACK_BUDGET} AS BIGINT) AS bin_id
FROM packed
""",
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: assign docs (in stable doc_id order per language)
    to ~{budget}-token training bins by cumulative token count — the
    standard pre-tokenization packing pass. bin_id = starting offset
    div budget, so a doc straddling a boundary starts the next bin's
    overflow (greedy packing, no splitting).

    100 TB design (round 7): the running token total comes from
    operators/ranking.py's distributed per-group cumsum — a
    Window.partitionBy(lang) on the 5-value key sorts corpus/5 rows in
    ONE task per language. The machinery's boundary jobs prune to the
    (lang, doc_id) key columns, so the expensive tokenize runs only in
    the main pass. (The earlier spelling documented a (lang, shard)
    production partitioning as the escape hatch; the machinery IS that
    sharding, with the exact global-window output.)"""
    from mongodb_mysql_cdc_spark.operators.ranking import with_group_cumsum

    d = load(spark, sf_dir, "documents")
    n_tokens = F.size(X.tokens(F.col("text"))).cast("long")
    counted = d.select("doc_id", "lang", n_tokens.alias("n_tokens"))
    cum = with_group_cumsum(counted, ["lang"], ["doc_id"], "n_tokens", "_cum")
    start_offset = F.col("_cum") - F.col("n_tokens")
    # floor == integer div here (offsets are non-negative)
    bin_id = F.floor(start_offset / _PACK_BUDGET).cast("long")
    return cum.select("doc_id", "lang", "n_tokens", bin_id.alias("bin_id"))


# ---------------------------------------------------------------------------
# Domain mixing
# ---------------------------------------------------------------------------


@register(
    "domain_mix",
    oracle=f"""
WITH cnt AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
tot AS (SELECT sum(n_docs) AS total, count(*) AS n_sources FROM cnt)
SELECT source, n_docs,
       {sql_round('(CAST(total AS DOUBLE) / n_sources) / n_docs', 6)} AS resample_weight
FROM cnt CROSS JOIN tot
""",
)
def domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixing weights: per-source resampling factor that flattens
    the corpus to a uniform target mix (weight = target share / actual
    share). Feed the weights to sample_stratified-style coin flips for
    the actual resample pass.

    100 TB design: one map-side-combined count per source (KBs) plus a
    broadcast of the 1-row total — no data-sized shuffle at any scale."""
    d = load(spark, sf_dir, "documents")
    cnt = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    tot = cnt.agg(
        F.sum("n_docs").alias("total"), F.count(F.lit(1)).alias("n_sources")
    )
    weight = (F.col("total").cast("double") / F.col("n_sources")) / F.col("n_docs")
    return cnt.crossJoin(F.broadcast(tot)).select(
        "source", "n_docs", hround(weight, 6).alias("resample_weight")
    )


# ---------------------------------------------------------------------------
# Quality bucketing
# ---------------------------------------------------------------------------


@register(
    "quality_buckets",
    oracle="""
SELECT doc_id, lang, n_chars,
       CAST(ntile(10) OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS BIGINT)
         AS q_bucket
FROM documents
""",
)
def quality_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-decile assignment per language (ntile over a quality
    signal; doc length stands in for the model score column). Downstream
    mixes sample per bucket — e.g. upweight the top deciles.

    100 TB design: ntile(10) OVER (PARTITION BY lang ...) on a 5-value
    key would sort corpus/5 rows inside ONE task per language, so the
    buckets come from operators/ranking.py's distributed per-group ntile
    instead (range partition on (lang, n_chars, doc_id) + per-partition
    row_number + broadcast offsets + SQL-standard bucket arithmetic from
    broadcast per-lang totals) — same output, full parallelism."""
    from mongodb_mysql_cdc_spark.operators.ranking import distributed_ntile

    d = load(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    return distributed_ntile(
        d, ["n_chars", "doc_id"], 10, "q_bucket", group_cols=["lang"]
    ).select("doc_id", "lang", "n_chars", "q_bucket")


# ---------------------------------------------------------------------------
# SCD2 change history (CDC-side extension)
# ---------------------------------------------------------------------------


SCD2_ORACLE = """
WITH env AS (
  SELECT user_id AS key, ts, event_id AS seq,
         CASE event_type WHEN 'signup' THEN 'c' WHEN 'error' THEN 'd' ELSE 'u' END AS op,
         value
  FROM events
),
versioned AS (
  SELECT key, ts, seq, op, value,
         lead(ts) OVER (PARTITION BY key ORDER BY ts, seq) AS next_ts
  FROM env
)
SELECT key, seq, value, ts AS valid_from, next_ts AS valid_to,
       (next_ts IS NULL) AS is_current
FROM versioned
WHERE op <> 'd'
"""


@register("cdc_scd2", oracle=SCD2_ORACLE)
def cdc_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2 from the change stream: every
    non-delete envelope becomes a version row with a [valid_from,
    valid_to) interval; a following event (including a delete) closes the
    interval, and an open interval marks the current image — the history
    table a warehouse keeps NEXT TO the LWW current-state table that
    cdc_apply maintains.

    100 TB design: one window over (key), i.e. the same partitioning the
    apply path already shuffles by — history and current state
    materialize from a single exchange. State is bounded per key by
    version count, and time-travel queries become interval predicates
    that prune on valid_from/valid_to partition columns."""
    from mongodb_mysql_cdc_spark.sources.cdc import events_as_envelopes
    from mongodb_mysql_cdc_spark.streaming.apply import scd2_versions

    return scd2_versions(events_as_envelopes(spark, sf_dir))


@register(
    "sample_weighted",
    oracle=f"""
WITH cnt AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
tot AS (SELECT sum(n_docs) AS total, count(*) AS n_sources FROM cnt),
w AS (
  SELECT source,
         least((CAST(total AS DOUBLE) / n_sources) / n_docs, 1.0) AS keep_p
  FROM cnt CROSS JOIN tot
)
SELECT d.doc_id, d.source
FROM documents d JOIN w ON d.source = w.source
WHERE CAST({H.sql_hash60("concat('wsmp|', CAST(d.doc_id AS VARCHAR))")} % 1000000 AS DOUBLE)
      < w.keep_p * 1000000.0
""",
)
def sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted downsampling driven by the domain_mix weights: each doc
    keeps with probability min(weight, 1) — the under-represented sources
    survive intact while over-represented ones thin toward the uniform
    target (upsampling, weight>1, is a separate explode-by-ceil pass).
    The coin is the same salted hash as sample_stratified, the weights
    join is a broadcast of a |sources|-row table — still zero
    corpus-sized shuffles."""
    d = load(spark, sf_dir, "documents")
    cnt = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    tot = cnt.agg(F.sum("n_docs").alias("total"), F.count(F.lit(1)).alias("n_sources"))
    w = cnt.crossJoin(F.broadcast(tot)).select(
        "source",
        F.least(
            (F.col("total").cast("double") / F.col("n_sources")) / F.col("n_docs"),
            F.lit(1.0),
        ).alias("keep_p"),
    )
    coin = (
        H.hash60(F.concat(F.lit("wsmp|"), F.col("doc_id").cast("string"))) % 1000000
    ).cast("double")
    return (
        d.join(F.broadcast(w), "source")
        .filter(coin < F.col("keep_p") * 1000000.0)
        .select("doc_id", "source")
    )


@register(
    "dataset_split",
    oracle=f"""
SELECT doc_id, lang, source,
       CASE WHEN h < 90 THEN 'train' WHEN h < 95 THEN 'val' ELSE 'test' END AS split
FROM (
  SELECT doc_id, lang, source,
         {H.sql_hash60("concat('split|', CAST(doc_id AS VARCHAR))")} % 100 AS h
  FROM documents
)
""",
)
def dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (90/5/5) — the canonical
    final step of a training-data pipeline. The split is a salted hash of
    the document's own id: a pure narrow projection (zero shuffle, composes
    with partition pruning), stable across reruns and incremental loads —
    a document can never migrate between splits when the corpus grows,
    which is the leakage guarantee random() cannot give."""
    d = load(spark, sf_dir, "documents")
    h = H.hash60(F.concat(F.lit("split|"), F.col("doc_id").cast("string"))) % 100
    split = (
        F.when(h < 90, "train").when(h < 95, "val").otherwise("test")
    )
    return d.select("doc_id", "lang", "source", split.alias("split"))


# shared by corpus_prepare_e2e (per-lang-window exhibit) and
# corpus_prepare_e2e_production (persist + machinery): identical output
_CORPUS_PREPARE_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, lang, text, {X.sql_tokens('text')} AS t
  FROM documents
),
-- stage 1: exact dedup (min-doc_id survivor per content hash)
hashed AS (
  SELECT *, md5(text) AS h FROM toks
),
survivors AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn
    FROM hashed
  ) WHERE rn = 1
),
-- stage 2: quality gate (token count)
quality AS (
  SELECT * FROM survivors WHERE len(t) >= 20
),
-- stage 3: decontamination (drop docs sharing any 5-gram with doc_id<25)
sh AS (
  SELECT doc_id, list_distinct(list_transform(
    generate_series(1, greatest(len(t) - 4, 0)),
    i -> array_to_string(t[i:i+4], ' '))) AS sh
  FROM toks
),
bench AS (
  SELECT DISTINCT unnest(sh) AS g FROM sh WHERE doc_id < 25
),
contaminated AS (
  SELECT DISTINCT s.doc_id
  FROM sh s, unnest(s.sh) AS u(g)
  JOIN bench b ON b.g = u.g
  WHERE s.doc_id >= 25
),
clean AS (
  SELECT q.* FROM quality q
  WHERE q.doc_id >= 25 AND q.doc_id NOT IN (SELECT doc_id FROM contaminated)
),
-- stage 4: greedy packing into 1024-token bins per lang
packed AS (
  SELECT doc_id, lang, len(t) AS n_tokens,
         CAST((sum(len(t)) OVER (PARTITION BY lang ORDER BY doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - len(t)) // 1024 AS BIGINT) AS bin_id
  FROM clean
)
SELECT lang, bin_id,
       CAST(count(*) AS BIGINT)      AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS bin_tokens,
       CAST(min(doc_id) AS BIGINT)   AS first_doc
FROM packed
GROUP BY lang, bin_id
"""


@register("corpus_prepare_e2e", oracle=_CORPUS_PREPARE_ORACLE)
def corpus_prepare_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CAPSTONE composition: the full training-data preparation
    pipeline as ONE dataflow — exact dedup (min-id survivor) → quality
    gate (≥20 tokens) → benchmark decontamination (5-gram overlap vs the
    doc_id<25 eval stand-in, broadcast anti-join) → greedy 1024-token
    packing per language → per-bin census. Every stage is the registry's
    standalone operator re-composed (same constants, same algebra), so
    this query certifies the stages COMPOSE: one tokenize feeds dedup,
    decon, and packing without re-scanning, the only corpus shuffles are
    the dedup hash and the final lang window, and the benchmark side
    stays broadcast. The oracle mirrors all four stages as chained CTEs
    — a wrong interaction anywhere (e.g. packing before dedup) flips the
    hash."""
    counted = _corpus_clean_counted(spark, sf_dir)
    # The packing cumsum stays a plain per-lang window HERE (unlike the
    # standalone pack_sequences, re-spelled on the distributed machinery
    # in round 7): the machinery's boundary jobs re-execute this query's
    # whole dedup+decon lineage — nothing prunes, the dedup window and
    # anti-join must run — measured 4.5 s → 11.5 s at sf0.1 (2.6×). As a
    # single unpersisted dataflow exhibit, the per-lang window is the
    # honest trade (lowcard-window exemption documents this);
    # corpus_prepare_e2e_production below is the A/B: persist `counted`,
    # swap in the machinery — the spelling a real cluster runs.
    w_pack = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    start = F.sum("n_tokens").over(w_pack) - F.col("n_tokens")
    packed = counted.withColumn("bin_id", F.floor(start / 1024).cast("long"))
    return _bin_census(packed)


def _corpus_clean_counted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stages 1-3 of the corpus-preparation capstone (shared by the
    window exhibit and the production spelling): exact dedup → quality
    gate → decontamination, reduced to the (doc_id, lang, n_tokens)
    columns packing needs."""
    d = load(spark, sf_dir, "documents")
    tok_df = d.select(
        "doc_id", "lang", "text", X.tokens(F.col("text")).alias("t")
    ).repartition(F.col("doc_id"))
    w_dup = Window.partitionBy("h").orderBy("doc_id")
    survivors = (
        tok_df.withColumn("h", F.md5("text"))
        .withColumn("rn", F.row_number().over(w_dup))
        .filter(F.col("rn") == 1)
    )
    quality = survivors.filter(F.size("t") >= 20)
    sh = tok_df.select(
        "doc_id",
        F.array_distinct(X.word_shingles(F.col("t"), _DECON_N)).alias("sh"),
    )
    bench = (
        sh.filter(F.col("doc_id") < _BENCH_MAX_ID)
        .select(F.explode("sh").alias("g"))
        .distinct()
    )
    contaminated = (
        sh.filter(F.col("doc_id") >= _BENCH_MAX_ID)
        .select("doc_id", F.explode("sh").alias("g"))
        .join(F.broadcast(bench), "g")
        .select("doc_id")
        .distinct()
    )
    clean = quality.filter(F.col("doc_id") >= _BENCH_MAX_ID).join(
        contaminated, "doc_id", "left_anti"
    )
    return clean.select("doc_id", "lang", F.size("t").cast("long").alias("n_tokens"))


def _bin_census(packed: DataFrame) -> DataFrame:
    return packed.groupBy("lang", "bin_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("bin_tokens"),
        F.min("doc_id").alias("first_doc"),
    )


@register(
    "corpus_prepare_e2e_production",
    oracle=_CORPUS_PREPARE_ORACLE,
)
def corpus_prepare_e2e_production(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION spelling of :func:`corpus_prepare_e2e` (round-7
    verdict item 5) — same four stages, same oracle, but the shape a
    real cluster runs: the dedup+decon intermediate is MATERIALIZED
    (localCheckpoint here; a parquet staging table in production), then
    the packing cumsum runs on the distributed ranking machinery exactly
    like standalone pack_sequences. The per-lang window exhibit above
    pays corpus/|langs| rows through one task at scale; this one pays
    one materialization of the (doc_id, lang, n_tokens) intermediate —
    three narrow columns, the cheapest frame in the whole pipeline —
    after which the machinery's boundary-sample job reads materialized
    rows instead of re-executing dedup+decon (the 2.6× trade measured in
    round 7 that made the exhibit keep its window). Registered as a
    value-checked A/B so the exemption ledger can point at a real
    alternative, not a comment."""
    from mongodb_mysql_cdc_spark.operators.ranking import with_group_cumsum

    counted = _corpus_clean_counted(spark, sf_dir).localCheckpoint(eager=True)
    cum = with_group_cumsum(counted, ["lang"], ["doc_id"], "n_tokens", "_cum")
    start = F.col("_cum") - F.col("n_tokens")
    packed = cum.withColumn("bin_id", F.floor(start / 1024).cast("long"))
    return _bin_census(packed)


_CURRICULUM_BUDGET = 10_000  # token budget for the curriculum head


@register(
    "dataset_curriculum",
    oracle=f"""
WITH {TOKS_CTE},
scored AS (SELECT doc_id, source, len(t) AS tok FROM toks),
cum AS (
  SELECT *, sum(tok) OVER (ORDER BY -tok, doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tok
  FROM scored
)
SELECT source,
       CAST(count(*) AS BIGINT)  AS n_docs,
       CAST(sum(tok) AS BIGINT)  AS n_tokens,
       CAST(min(tok) AS BIGINT)  AS min_tok
FROM cum
WHERE cum_tok <= {_CURRICULUM_BUDGET}
GROUP BY source
""",
)
def dataset_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum head selection under a token budget: rank the corpus by
    a difficulty proxy (token count, longest first — swap in any score
    column), take documents until the cumulative token count reaches the
    training budget, and report the selected mix per source. This is the
    'fill the next training phase' op every curriculum/annealing recipe
    runs, and its core is a GLOBAL ordered running sum — the textbook
    single-partition-window trap. Here it's the distributed spelling
    (operators/ranking.with_global_cumsum): range-partition on the order
    key, per-partition running sums in parallel, broadcast per-partition
    offsets — same machinery as a global orderBy, minus the serial
    window. The budget filter then prunes before the final per-source
    aggregate."""
    from mongodb_mysql_cdc_spark.operators.ranking import with_global_cumsum

    docs = load(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        "source",
        F.size(X.tokens(F.col("text"))).cast("long").alias("tok"),
    ).withColumn("neg_tok", -F.col("tok"))
    cum = with_global_cumsum(scored, ["neg_tok", "doc_id"], "tok", "cum_tok")
    return (
        cum.filter(F.col("cum_tok") <= _CURRICULUM_BUDGET)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("tok").alias("n_tokens"),
            F.min("tok").alias("min_tok"),
        )
    )
