"""§2.10 text analysis: tokenize, stats, quality scoring, token counting,
lang-ID, document fingerprinting, PII redaction, repetition metrics,
TF-IDF.

Everything is built-in higher-order functions / regexp over the token
array — zero Python in the hot path, no explode unless the output is
per-token.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mongodb_mysql_cdc_spark.catalog import load
from mongodb_mysql_cdc_spark.functions import hashing as H
from mongodb_mysql_cdc_spark.functions import text as X
from mongodb_mysql_cdc_spark.functions import vectors as V
from mongodb_mysql_cdc_spark.functions.compat import hround, sql_round
from mongodb_mysql_cdc_spark.operators.partitioning import spread
from mongodb_mysql_cdc_spark.registry import register

# Shared DuckDB CTE: casefolded whitespace tokens — derived from the
# functions/text.py builder so the Spark and oracle tokenizers cannot
# drift (the casefold contract).
TOKS_CTE = X.sql_toks_cte()


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


@register(
    "text_tokenize",
    oracle=f"""
WITH {TOKS_CTE}
SELECT doc_id, unnest(list_transform(t, (x, i) -> {{'pos': i - 1, 'token': x}}), recursive := true)
FROM toks
""",
)
def text_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize to (doc_id, pos, token) rows (§2.10 text_tokenize).
    posexplode keeps token order observable; 0-based on both engines."""
    docs = load(spark, sf_dir, "documents")
    return docs.select("doc_id", F.posexplode(X.tokens(F.col("text"))).alias("pos", "token"))


@register(
    "text_stats",
    oracle=f"""
WITH {TOKS_CTE},
ex AS (SELECT doc_id, unnest(t) AS token FROM toks)
SELECT token, count(*) AS term_freq, count(DISTINCT doc_id) AS doc_freq
FROM ex GROUP BY token
""",
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus term statistics: total occurrences + document frequency per
    token (§2.10 text_stats).

    Two-level aggregation instead of count + countDistinct in one
    groupBy. Spark plans the single-distinct form via
    planAggregateWithOneDistinct (no Expand) — two exchanges whose FIRST
    already carries distinct (token, doc_id) partial counts, the same
    bytes this spelling shuffles — so the two-level form is roughly
    shuffle-neutral; it is kept for its simpler shape (hash-verified
    identical).

    doc_freq counts only non-NULL doc_id groups, matching
    countDistinct's NULL-exclusion exactly instead of relying on the
    fixture invariant that doc_id is a never-nulled PK (make_skew.py
    PROTECTED_KEYS). Identical output on every fixture; identical even
    on adversarial null-bearing data.

    Partitioning: ``spread(docs, "doc_id")`` before the tokenize. The
    harness corpus is one single-row-group parquet file → ONE input
    split, so without it explode+partial-agg runs serially on one core.
    The fan-out exchange ships the raw docs (5k rows, ~600 KB at sf0.1 —
    far cheaper than the exploded token stream), and hashpartitioning by
    doc_id SATISFIES the (token, doc_id) grouping's clustered
    distribution, so the first aggregate needs no further exchange:
    exchange count stays 2, tokenize goes 32-way (0.412 → 0.285 s noop).
    At 100 TB the input-split probe makes spread a no-op and the plan is
    the plain two-level aggregate."""
    docs = load(spark, sf_dir, "documents")
    ex = spread(docs, "doc_id").select(
        "doc_id", F.explode(X.tokens(F.col("text"))).alias("token")
    )
    per_doc = ex.groupBy("token", "doc_id").agg(F.count(F.lit(1)).alias("c"))
    return per_doc.groupBy("token").agg(
        F.sum("c").alias("term_freq"),
        F.count(F.when(F.col("doc_id").isNotNull(), 1)).alias("doc_freq"),
    )


_SW = ", ".join(f"'{w}'" for w in X.STOPWORDS)


@register(
    "text_quality",
    oracle=f"""
WITH {TOKS_CTE}
SELECT
  doc_id,
  len(t) AS n_tokens,
  len(list_distinct(t)) AS n_distinct,
  len(list_filter(t, x -> x IN ({_SW}))) / greatest(len(t), 1) AS stopword_ratio,
  list_reduce(list_transform(t, x -> CAST(length(x) AS BIGINT)), (a, b) -> a + b)
    / greatest(len(t), 1) AS avg_token_len,
  len(list_distinct(t)) / greatest(len(t), 1) AS type_token_ratio,
  CASE WHEN len(t) >= 40
        AND len(list_filter(t, x -> x IN ({_SW}))) / greatest(len(t), 1) <= 0.5
        AND len(list_distinct(t)) / greatest(len(t), 1) >= 0.2
       THEN 'keep' ELSE 'drop' END AS quality_band
FROM toks
""",
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality scoring (§2.10): length, lexical diversity,
    stopword density, and a keep/drop band — the standard pre-training
    corpus filter. Pure array HOFs, no explode, fully codegen'd; ratios are
    exact int/int double divisions → bit-identical cross-engine."""
    docs = load(spark, sf_dir, "documents")
    t = X.tokens(F.col("text"))
    d = docs.select("doc_id", t.alias("t"))
    n = F.size("t")
    sw = X.stopword_ratio(F.col("t"))
    ttr = X.type_token_ratio(F.col("t"))
    return d.select(
        "doc_id",
        n.alias("n_tokens"),
        F.size(F.array_distinct("t")).alias("n_distinct"),
        sw.alias("stopword_ratio"),
        X.avg_token_len(F.col("t")).alias("avg_token_len"),
        ttr.alias("type_token_ratio"),
        F.when((n >= 40) & (sw <= 0.5) & (ttr >= 0.2), "keep")
        .otherwise("drop")
        .alias("quality_band"),
    )


@register(
    "token_count",
    oracle=f"""
WITH {TOKS_CTE}
SELECT
  doc_id,
  len(t) AS n_ws_tokens,
  list_reduce(list_transform(t, x -> CAST(ceil(length(x) / 4.0) AS BIGINT)), (a, b) -> a + b)
    AS n_bpe_tokens
FROM toks
""",
)
def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (§2.10): whitespace tokens plus a deterministic
    BPE-like estimate (ceil(len/4) pieces per word — the ~4-chars/token
    heuristic; a real BPE vocab isn't in this container)."""
    docs = load(spark, sf_dir, "documents")
    t = X.tokens(F.col("text"))
    d = docs.select("doc_id", t.alias("t"))
    return d.select(
        "doc_id",
        F.size("t").alias("n_ws_tokens"),
        X.bpe_ish_token_count(F.col("t")).alias("n_bpe_tokens"),
    )


_PROFILES = {
    "en": ("the", "a", "and", "of", "to"),
    "es": ("el", "la", "de", "que", "y"),
    "fr": ("le", "les", "et", "des", "un"),
}
_CJK_RE = "[一-鿿]"
_CYR_RE = "[Ѐ-ӿ]"


def _lang_oracle() -> str:
    scores = {
        lang: f"len(list_filter(t, x -> x IN ({', '.join(repr(w) for w in ws)})))"
        for lang, ws in _PROFILES.items()
    }
    return f"""
WITH {TOKS_CTE}
SELECT
  doc_id,
  lang AS labeled_lang,
  CASE WHEN regexp_matches(array_to_string(t, ' '), '{_CJK_RE}') THEN 'zh'
       WHEN regexp_matches(array_to_string(t, ' '), '{_CYR_RE}') THEN 'ru'
       WHEN {scores['es']} > {scores['en']} AND {scores['es']} >= {scores['fr']} THEN 'es'
       WHEN {scores['fr']} > {scores['en']} THEN 'fr'
       ELSE 'en' END AS predicted_lang,
  {scores['en']} AS score_en,
  {scores['es']} AS score_es,
  {scores['fr']} AS score_fr
FROM toks
"""


@register("lang_id", oracle=_lang_oracle())
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID (§2.10): script detection (CJK/Cyrillic regex)
    first, then function-word profile scores with a deterministic argmax
    (es > en ≥ fr chain). Honest caveat: the harness corpus is English word
    soup for every label, so the heuristic output (mostly 'en') is compared
    as a deterministic computation, not as classifier accuracy."""
    docs = load(spark, sf_dir, "documents")
    t = X.tokens(F.col("text"))
    d = docs.select("doc_id", F.col("lang").alias("labeled_lang"), t.alias("t"))
    joined = F.concat_ws(" ", F.col("t"))

    def score(lang: str):
        return F.size(F.filter("t", lambda x: x.isin(*_PROFILES[lang])))

    s_en, s_es, s_fr = score("en"), score("es"), score("fr")
    return d.select(
        "doc_id",
        "labeled_lang",
        F.when(joined.rlike(_CJK_RE), "zh")
        .when(joined.rlike(_CYR_RE), "ru")
        .when((s_es > s_en) & (s_es >= s_fr), "es")
        .when(s_fr > s_en, "fr")
        .otherwise("en")
        .alias("predicted_lang"),
        s_en.alias("score_en"),
        s_es.alias("score_es"),
        s_fr.alias("score_fr"),
    )


@register(
    "doc_fingerprint",
    oracle=f"""
WITH {TOKS_CTE}
SELECT doc_id, len(t) AS n_tokens, {H.sql_rolling_fingerprint('t')} AS fingerprint
FROM toks WHERE len(t) > 0
""",
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive rolling-hash document fingerprint (§2.10): left fold
    acc = (acc*31 + hash60(tok) mod M) mod M. Unlike MinHash this
    distinguishes permuted content; used for exact-ish content identity in
    incremental re-crawls."""
    docs = load(spark, sf_dir, "documents")
    t = X.tokens(F.col("text"))
    d = docs.select("doc_id", t.alias("t")).filter(F.size("t") > 0)
    return d.select(
        "doc_id",
        F.size("t").alias("n_tokens"),
        H.rolling_fingerprint(F.col("t")).alias("fingerprint"),
    )


@register(
    "text_redact",
    oracle="""
SELECT doc_id,
       regexp_replace(
         regexp_replace(
           concat(substr(text, 1, 40), ' contact user', CAST(doc_id AS VARCHAR),
                  '@mail.example tel 555-', CAST(doc_id AS VARCHAR)),
           '[a-z0-9.]+@[a-z0-9.]+', '<EMAIL>', 'g'),
         '[0-9][0-9-]+', '<NUM>', 'g') AS redacted
FROM documents
""",
)
def text_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII-pattern redaction (§2.10 text analysis): mask email addresses
    and number runs before a corpus ships to training — pure JVM-side
    regexp_replace, no UDF. The harness text is clean word soup, so a
    deterministic synthetic contact suffix is appended first to prove the
    masking actually fires; patterns stay in the regex subset Java and RE2
    agree on (character classes only, no lookaround)."""
    docs = load(spark, sf_dir, "documents")
    dirty = F.concat(
        F.substring("text", 1, 40),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example tel 555-"),
        F.col("doc_id").cast("string"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(dirty, "[a-z0-9.]+@[a-z0-9.]+", "<EMAIL>"),
        "[0-9][0-9-]+",
        "<NUM>",
    )
    return docs.select("doc_id", redacted.alias("redacted"))


@register(
    "text_repetition",
    oracle=f"""
WITH {TOKS_CTE},
sh AS (SELECT doc_id, list_transform(generate_series(1, greatest(len(t)-2, 0)),
                                     i -> array_to_string(t[i:i+2], ' ')) AS s
       FROM toks WHERE greatest(len(t)-2, 0) > 0),
ex AS (SELECT doc_id, len(s) AS n_shingles, unnest(s) AS g FROM sh),
counts AS (SELECT doc_id, g, max(n_shingles) AS n_shingles, count(*) AS c
           FROM ex GROUP BY doc_id, g)
SELECT doc_id, max(n_shingles) AS n_shingles, max(c) AS max_repeat,
       max(c) / greatest(max(n_shingles), 1) AS repetition_ratio
FROM counts GROUP BY doc_id
""",
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition quality metric (§2.10, the Gopher duplicate-n-gram rule):
    the most frequent 3-gram's share of all 3-grams. Boilerplate and
    looping generations score high and get filtered before training.
    Explode + two aggregations; shuffle keyed on (doc, shingle) — scales
    like text_stats."""
    docs = load(spark, sf_dir, "documents")
    toks = X.tokens(F.col("text"))
    # no explicit pre-explode size(s)>0 filter: explode drops empty
    # arrays, and Catalyst's InferFiltersFromGenerate re-adds the guard
    # below the repartition anyway (so the tokenizer runs 3x per ROW —
    # the optimizer's floor; the plan pin bans the per-ELEMENT
    # re-evaluation that would make this query quadratic per document)
    sh = spread(docs, "doc_id").select(
        "doc_id", X.word_shingles(toks, 3).alias("s")
    )
    ex = sh.select("doc_id", F.size("s").alias("n_shingles"), F.explode("s").alias("g"))
    counts = ex.groupBy("doc_id", "g").agg(
        F.max("n_shingles").alias("n_shingles"), F.count(F.lit(1)).alias("c")
    )
    return counts.groupBy("doc_id").agg(
        F.max("n_shingles").alias("n_shingles"),
        F.max("c").alias("max_repeat"),
        (F.max("c") / F.greatest(F.max("n_shingles"), F.lit(1))).alias("repetition_ratio"),
    )


def _df_from_tf(tf: DataFrame) -> DataFrame:
    """Document frequency from the tf table — one row per (doc, token), so
    a plain count IS countDistinct(doc_id).

    The count aggregates ``F.when(F.col("tf") >= 1, 1)`` instead of
    ``F.lit(1)`` — the same value by construction (tf ≥ 1 on every row),
    but referencing the tf column stops Catalyst from pruning the count
    out of this branch's partial aggregate. With the count pruned, this
    subtree canonicalizes differently from the join's tf branch and the
    corpus is TOKENIZED TWICE (two Generate+partial-agg map sides feeding two exchanges).
    With it retained, the two exchange subtrees are canonically identical
    and AQE's ReusedExchange shares ONE map side (verified at runtime:
    ReusedExchange present, one FileScan+Generate of documents.text
    eliminated) — at 100 TB that is one full corpus tokenize pass saved.

    The count additionally requires doc_id IS NOT NULL so
    df matches countDistinct(doc_id)'s NULL-exclusion exactly instead of
    relying on the fixture invariant that doc_id is a never-nulled PK.
    Both conjuncts are always-true on real data (tf ≥ 1 by construction,
    doc_id a PK), so output and the shared-exchange shape are unchanged
    — doc_id and tf are both grouping outputs of the tf aggregate, so
    the guard lives entirely in this branch's FINAL aggregate, above the
    reused exchange."""
    return tf.groupBy("token").agg(
        F.count(
            F.when(F.col("doc_id").isNotNull() & (F.col("tf") >= 1), 1)
        ).alias("df")
    )


@register(
    "tfidf",
    oracle=f"""
WITH {TOKS_CTE},
ex AS (SELECT doc_id, unnest(t) AS token FROM toks),
tf AS (SELECT doc_id, token, count(*) AS tf FROM ex GROUP BY doc_id, token),
df AS (SELECT token, count(DISTINCT doc_id) AS df FROM ex GROUP BY token),
n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents)
SELECT tf.doc_id, tf.token, tf.tf, df.df,
       {sql_round('tf.tf * (ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0)', 6)} AS tfidf
FROM tf JOIN df ON tf.token = df.token CROSS JOIN n
""",
)
def tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF weighting (§2.10): smooth idf = ln((N+1)/(df+1)) + 1.
    Delegates to :func:`tfidf_weights` with the broadcast default —
    right for every harness SF (vocab ≈ tens of thousands of tokens).
    The scale cutover for web-scale vocabularies lives in
    ``tfidf_weights(vocab_broadcast_limit=...)``; see its docstring."""
    return tfidf_weights(spark, sf_dir)


def tfidf_weights(
    spark: SparkSession, sf_dir: str, vocab_broadcast_limit: int | None = None
) -> DataFrame:
    """TF-IDF with a configurable broadcast→shuffle cutover on the df join.

    Two aggregations + a join on the (vocab-sized) df table and the
    1-row corpus count — no O(corpus) shuffle beyond the tf groupBy.
    df is derived from the tf table (one row per (doc, token), so a plain
    count IS countDistinct(doc_id)): the doc-frequency shuffle moves
    |distinct (doc, token) pairs| pre-combined map-side instead of the
    raw |token occurrences| two-phase distinct that made this the worst
    10× mover of the headline set (3.1× → 2.8×).  Deliberate trade-off:
    a window count over token would attach df in ONE corpus pass, but a
    window partition is a single reducer task — a stopword token's rows
    (≈ every doc) on one executor is the classic 100 TB skew killer, and
    AQE cannot split window partitions the way it splits skewed joins.

    The df join has a size cliff: a harness-scale vocabulary broadcasts
    (keeps every step parallel and shuffle-free), but a web-scale
    corpus's distinct-token table — hapaxes and typos included — is GBs,
    too big to ship to every executor.  ``vocab_broadcast_limit`` is
    that cutover: ``None`` (the registered query's setting) asserts the
    vocab is broadcast-sized and hints ``F.broadcast``; a number makes
    the plan measure — ``df.limit(k+1).count()``, which must still run
    the tf→df aggregation (limit can't short-circuit a shuffle's map
    side; it only stops result materialization at k+1 rows), and which
    fires EAGERLY at DataFrame-construction time, a deliberate
    plan-time decision cost — and fall back to a plain shuffle
    equi-join on token above the limit, relying on the session's AQE
    skew-join to split any hot-token partitions.
    tests/test_plans.py pins both branches' join shapes.

    In a real pipeline tf.persist() between the two aggregations removes
    the df-branch re-scan (left out here only because bench's best-of-N
    timing policy forbids caching inside registered queries).
    ln() differs by ulps across libm implementations → rounded to 6dp on
    both sides (the only rounding this module needs).

    Partitioning: ``spread(docs, "doc_id")`` before the tokenize — the
    single-row-group harness corpus arrives as ONE input split, so
    without it the explode+partial-agg scan stage runs on one core. With
    the fan-out, hashpartitioning(doc_id) satisfies the (doc_id, token)
    grouping so tf completes with NO further exchange; the df branch and
    the join left side each evaluate the (now 32-way-parallel) tokenize
    — at harness scale two parallel passes beat one serial pass (0.597 →
    0.455 s noop at sf0.1). At 100 TB spread is a no-op and the plan
    is exchange(doc_id, token) under both
    branches, canonically equal, AQE ReusedExchange sharing ONE corpus
    tokenize (see _df_from_tf)."""
    docs = load(spark, sf_dir, "documents")
    ex = spread(docs, "doc_id").select(
        "doc_id", F.explode(X.tokens(F.col("text"))).alias("token")
    )
    tf = ex.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df = _df_from_tf(tf)
    if vocab_broadcast_limit is None:
        df_side = F.broadcast(df)
    else:
        vocab_fits = (
            df.limit(vocab_broadcast_limit + 1).count() <= vocab_broadcast_limit
        )
        # above the limit, hint merge explicitly: the probe already proved
        # the vocab oversized, so don't let Catalyst's static size estimate
        # re-broadcast it (estimates undershoot on aggregate outputs)
        df_side = F.broadcast(df) if vocab_fits else df.hint("merge")
    n = docs.agg(F.countDistinct("doc_id").alias("n_docs"))
    idf = F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0
    return (
        tf.join(df_side, "token")
        .crossJoin(F.broadcast(n))
        .select("doc_id", "token", "tf", "df", hround(F.col("tf") * idf, 6).alias("tfidf"))
    )




@register(
    "text_ngram_freq",
    oracle=f"""
WITH {TOKS_CTE},
bi AS (
  SELECT unnest(list_transform(
    generate_series(1, greatest(len(t) - 1, 0)),
    i -> array_to_string(t[i:i+1], ' '))) AS bigram
  FROM toks WHERE len(t) >= 2
)
SELECT bigram, count(*) AS freq
FROM bi
GROUP BY bigram
HAVING count(*) >= 20
""",
)
def text_ngram_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram frequency table (the n-gram LM / collocation
    primitive): shingle(2) → explode → count, thresholded to the
    vocabulary head. Same exchange-keyed tokenize barrier as every
    shingle pipeline; the aggregate is map-side combined on the bigram,
    so shuffle volume is |distinct bigrams|, not |tokens|."""
    d = load(spark, sf_dir, "documents")
    tok_df = d.select("doc_id", X.tokens(F.col("text")).alias("t")).repartition(
        F.col("doc_id")
    )
    bi = tok_df.filter(F.size("t") >= 2).select(
        F.explode(X.word_shingles(F.col("t"), 2)).alias("bigram")
    )
    return (
        bi.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("freq"))
        .filter(F.col("freq") >= 20)
    )


@register(
    "text_entropy",
    oracle=f"""
WITH {TOKS_CTE},
ex AS (SELECT doc_id, unnest(t) AS token FROM toks),
c AS (SELECT doc_id, token, count(*) AS cnt FROM ex GROUP BY doc_id, token)
SELECT doc_id,
       CAST(sum(cnt) AS BIGINT) AS n_tokens,
       count(*)                 AS n_types,
       {sql_round('count(*) / CAST(sum(cnt) AS DOUBLE)', 6)} AS ttr,
       {sql_round('log2(sum(cnt)) - sum(cnt * log2(cnt)) / sum(cnt)', 6)} AS entropy
FROM c
GROUP BY doc_id
""",
)
def text_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram word-distribution entropy + type-token ratio per document —
    the information-density quality signals (low entropy ≈ repetitive
    boilerplate; low TTR ≈ keyword stuffing) a pretraining filter keys on.

    H = -Σ (c/n)·log2(c/n) is folded to log2(n) - Σ c·log2(c) / n so the
    whole thing is ONE two-phase hash aggregation pipeline (token counts,
    then per-doc moments) — no window, no second pass over tokens; shuffle
    volume is |distinct (doc, token)| then |docs|."""
    docs = load(spark, sf_dir, "documents")
    ex = docs.select("doc_id", F.explode(X.tokens(F.col("text"))).alias("token"))
    c = ex.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("cnt"))
    n = F.sum("cnt")
    return c.groupBy("doc_id").agg(
        n.alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        hround(F.count(F.lit(1)) / n.cast("double"), 6).alias("ttr"),
        hround(
            F.log2(n) - F.sum(F.col("cnt") * F.log2("cnt")) / n, 6
        ).alias("entropy"),
    )


@register(
    "token_oov_rate",
    oracle=f"""
WITH {TOKS_CTE},
ex AS (SELECT doc_id, unnest(t) AS token FROM toks),
vocab AS (
  SELECT token FROM (
    SELECT token, count(*) AS freq FROM ex GROUP BY token
  ) ORDER BY freq DESC, token LIMIT 10
)
SELECT ex.doc_id,
       count(*) AS n_tokens,
       CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       {sql_round('sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE)', 6)} AS oov_rate
FROM ex LEFT JOIN vocab v ON ex.token = v.token
GROUP BY ex.doc_id
""",
)
def token_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate per document against the corpus's own head
    vocabulary (top-10 tokens by frequency, ties broken by token) — the
    tokenizer-coverage metric a pretraining pipeline computes before
    committing to a vocab. Two-pass shape: the vocab fits the driver by
    construction (top-K of a frequency aggregate), so the membership test
    is a BROADCAST left join — the corpus-sized side never shuffles for
    the join, only for its own per-doc aggregate."""
    docs = load(spark, sf_dir, "documents")
    ex = docs.select("doc_id", F.explode(X.tokens(F.col("text"))).alias("token"))
    vocab = (
        ex.groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), "token")
        .limit(10)
        .select("token", F.lit(1).alias("in_vocab"))
    )
    joined = ex.join(F.broadcast(vocab), "token", "left")
    oov = F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        oov.alias("n_oov"),
        hround(oov / F.count(F.lit(1)).cast("double"), 6).alias("oov_rate"),
    )


@register(
    "quality_ensemble",
    oracle=f"""
WITH {TOKS_CTE},
q AS (
  SELECT doc_id,
         len(t) AS n_tokens,
         len(list_filter(t, x -> x IN ({_SW}))) / greatest(len(t), 1) AS sw_ratio,
         len(list_distinct(t)) / greatest(len(t), 1) AS ttr
  FROM toks
),
sh AS (SELECT doc_id, list_transform(generate_series(1, greatest(len(t)-2, 0)),
                                     i -> array_to_string(t[i:i+2], ' ')) AS s
       FROM toks WHERE greatest(len(t)-2, 0) > 0),
ex AS (SELECT doc_id, len(s) AS n_shingles, unnest(s) AS g FROM sh),
rep AS (
  SELECT doc_id, max(c) / greatest(max(n_shingles), 1) AS rep_ratio FROM (
    SELECT doc_id, g, max(n_shingles) AS n_shingles, count(*) AS c
    FROM ex GROUP BY doc_id, g
  ) GROUP BY doc_id
)
SELECT q.doc_id, q.n_tokens, q.sw_ratio, q.ttr,
       coalesce(rep.rep_ratio, 0.0) AS rep_ratio,
       CASE WHEN q.n_tokens < 40 THEN 'too_short'
            WHEN q.sw_ratio > 0.5 THEN 'stopword_heavy'
            WHEN q.ttr < 0.2 THEN 'low_diversity'
            WHEN coalesce(rep.rep_ratio, 0.0) > 0.2 THEN 'repetitive'
            ELSE 'keep' END AS verdict
FROM q LEFT JOIN rep ON q.doc_id = rep.doc_id
""",
)
def quality_ensemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-filter GATE: length, stopword density, lexical diversity
    and the Gopher repetition rule combined into one verdict, with the
    FIRST failing rule as the drop reason (the audit trail a curation
    pipeline reports per document). The cheap narrow signals compute in
    one projection; only the repetition signal needs its shingle
    aggregation, left-joined back on doc_id — at 100 TB the narrow rules
    prune first and the expensive signal runs on survivors."""
    docs = load(spark, sf_dir, "documents")
    t = X.tokens(F.col("text"))
    q = docs.select(
        "doc_id",
        F.size(t).alias("n_tokens"),
        X.stopword_ratio(t).alias("sw_ratio"),
        X.type_token_ratio(t).alias("ttr"),
    )
    sh = spread(docs, "doc_id").select(
        "doc_id", X.word_shingles(t, 3).alias("s")
    ).filter(F.size("s") > 0)
    ex = sh.select("doc_id", F.size("s").alias("n_shingles"), F.explode("s").alias("g"))
    rep = (
        ex.groupBy("doc_id", "g")
        .agg(F.max("n_shingles").alias("n_shingles"), F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(
            (F.max("c") / F.greatest(F.max("n_shingles"), F.lit(1))).alias("rep_ratio")
        )
    )
    j = q.join(rep, "doc_id", "left").withColumn(
        "rep_ratio", F.coalesce(F.col("rep_ratio"), F.lit(0.0))
    )
    verdict = (
        F.when(F.col("n_tokens") < 40, "too_short")
        .when(F.col("sw_ratio") > 0.5, "stopword_heavy")
        .when(F.col("ttr") < 0.2, "low_diversity")
        .when(F.col("rep_ratio") > 0.2, "repetitive")
        .otherwise("keep")
    )
    return j.select(
        "doc_id", "n_tokens", "sw_ratio", "ttr", "rep_ratio", verdict.alias("verdict")
    )


@register(
    "doc_chunk_overlap",
    oracle="""
SELECT doc_id,
       unnest(generate_series(1, length(text), 400))            AS chunk_start,
       substring(text, unnest(generate_series(1, length(text), 400)), 500) AS chunk,
       length(substring(text, unnest(generate_series(1, length(text), 400)), 500)) AS chunk_len
FROM documents
""",
)
def doc_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping-window chunking (500-char windows, 400-char stride =
    100-char overlap) — how a long document becomes training/RAG segments
    without losing cross-boundary context. sequence() + explode is the
    whole operator: per-row fan-out with zero shuffle, so at 100 TB it
    pipelines inside the scan stage; chunk count scales with doc length,
    never with corpus size."""
    docs = load(spark, sf_dir, "documents")
    starts = X.chunk_starts(F.col("text"))  # empty doc → no chunks (pinned)
    return (
        docs.select("doc_id", "text", F.explode(starts).alias("chunk_start"))
        .select(
            "doc_id",
            "chunk_start",
            F.substring(F.col("text"), F.col("chunk_start"), 500).alias("chunk"),
        )
        .withColumn("chunk_len", F.length("chunk").cast("long"))
    )


@register(
    "text_pii_flag",
    oracle=f"""
WITH dirty AS (
  SELECT doc_id, source,
         concat(substring(text, 1, 60),
                CASE WHEN doc_id % 3 = 0
                     THEN concat(' reach user', CAST(doc_id AS VARCHAR), '@mail.example')
                     ELSE '' END,
                CASE WHEN doc_id % 5 = 0
                     THEN concat(' call 555-01', lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0'), '-', CAST(1000 + doc_id % 9000 AS VARCHAR))
                     ELSE '' END) AS t
  FROM documents
),
flags AS (
  SELECT doc_id, source,
         len(regexp_extract_all(t, '[a-z0-9._]+@[a-z0-9.-]+'))           AS n_emails,
         len(regexp_extract_all(t, '[0-9]{{3}}-[0-9]{{4}}-[0-9]{{4}}'))  AS n_phones
  FROM dirty
)
SELECT source,
       count(*)                                             AS n_docs,
       CAST(count(*) FILTER (n_emails + n_phones > 0) AS BIGINT) AS docs_with_pii,
       CAST(sum(n_emails) AS BIGINT)                        AS total_emails,
       CAST(sum(n_phones) AS BIGINT)                        AS total_phones,
       {sql_round('count(*) FILTER (n_emails + n_phones > 0) / CAST(count(*) AS DOUBLE)', 6)} AS pii_rate
FROM flags
GROUP BY source
""",
)
def text_pii_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection rates (the audit sibling of text_redact's masking):
    count email/phone pattern hits per doc, roll up contamination rates
    per source — the report a curation pipeline files before a corpus
    ships. Synthetic PII is injected deterministically (the harness text
    is clean soup); patterns stay in the Java/RE2-common regex subset.
    Pure regexp_extract_all + one 20-group aggregate: scan-bound, no
    Python, no second shuffle."""
    docs = load(spark, sf_dir, "documents")
    dirty = F.concat(
        F.substring("text", 1, 60),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit(" reach user"), F.col("doc_id").cast("string"), F.lit("@mail.example")
            ),
        ).otherwise(""),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.lit(" call 555-01"),
                F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
                F.lit("-"),
                (F.col("doc_id") % 9000 + 1000).cast("string"),
            ),
        ).otherwise(""),
    )
    flags = docs.select(
        "doc_id",
        "source",
        F.size(F.regexp_extract_all(dirty, F.lit(r"[a-z0-9._]+@[a-z0-9.-]+"), 0)).alias(
            "n_emails"
        ),
        F.size(
            F.regexp_extract_all(dirty, F.lit(r"[0-9]{3}-[0-9]{4}-[0-9]{4}"), 0)
        ).alias("n_phones"),
    )
    has_pii = (F.col("n_emails") + F.col("n_phones")) > 0
    return flags.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(has_pii.cast("long")).alias("docs_with_pii"),
        F.sum("n_emails").cast("long").alias("total_emails"),
        F.sum("n_phones").cast("long").alias("total_phones"),
        hround(F.sum(has_pii.cast("long")) / F.count(F.lit(1)).cast("double"), 6).alias(
            "pii_rate"
        ),
    )


@register(
    "dedup_url_canonical",
    oracle="""
WITH urls AS (
  SELECT doc_id,
         concat(CASE WHEN doc_id % 3 = 0 THEN upper(source) ELSE source END,
                '.example.org/docs/', CAST(doc_id % 50 AS VARCHAR),
                CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END,
                '?utm_source=feed&id=', CAST(doc_id % 50 AS VARCHAR),
                '&utm_campaign=c', CAST(doc_id % 7 AS VARCHAR)) AS url
  FROM documents
),
canon AS (
  SELECT doc_id, url,
         concat(lower(regexp_extract(url, '^([^/]+)/', 1)),
                rtrim(regexp_extract(url, '^[^/]+(/[^?]*)', 1), '/'),
                '?id=', regexp_extract(url, '[?&]id=([0-9]+)', 1)) AS canonical
  FROM urls
)
SELECT canonical,
       count(*)    AS n_urls,
       min(doc_id) AS survivor_doc
FROM canon
GROUP BY canonical
""",
)
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level dedup by canonicalization — the first pass of web-corpus
    curation (before any content hashing): case-fold the host, strip the
    trailing slash, drop tracking (utm_*) params, keep identity params.
    Dirty URLs are synthesized deterministically per doc with host-case /
    slash / tracking noise; canonicalization is pure regexp + string ops,
    and the dedup is an exact groupBy on the canonical key (min-doc_id
    survivor) — one map-side-combined shuffle whose width is |distinct
    canonical URLs|, not |corpus|."""
    docs = load(spark, sf_dir, "documents")
    url = F.concat(
        F.when(F.col("doc_id") % 3 == 0, F.upper("source")).otherwise(F.col("source")),
        F.lit(".example.org/docs/"),
        (F.col("doc_id") % 50).cast("string"),
        F.when(F.col("doc_id") % 2 == 0, "/").otherwise(""),
        F.lit("?utm_source=feed&id="),
        (F.col("doc_id") % 50).cast("string"),
        F.lit("&utm_campaign=c"),
        (F.col("doc_id") % 7).cast("string"),
    )
    u = docs.select("doc_id", url.alias("url"))
    canonical = F.concat(
        F.lower(F.regexp_extract("url", r"^([^/]+)/", 1)),
        F.regexp_replace(F.regexp_extract("url", r"^[^/]+(/[^?]*)", 1), "/$", ""),
        F.lit("?id="),
        F.regexp_extract("url", r"[?&]id=([0-9]+)", 1),
    )
    return (
        u.select("doc_id", canonical.alias("canonical"))
        .groupBy("canonical")
        .agg(F.count(F.lit(1)).alias("n_urls"), F.min("doc_id").alias("survivor_doc"))
    )


@register(
    "token_bigram_pmi",
    oracle=f"""
WITH {TOKS_CTE},
uni AS (
  SELECT unnest(t) AS token FROM toks
),
uni_c AS (
  SELECT token, count(*) AS c_w FROM uni GROUP BY token
),
tot AS (
  SELECT count(*) AS t_uni FROM uni
),
bi AS (
  SELECT unnest(list_transform(
    generate_series(1, greatest(len(t) - 1, 0)),
    i -> array_to_string(t[i:i+1], ' '))) AS bigram
  FROM toks WHERE len(t) >= 2
),
bi_c AS (
  SELECT bigram, count(*) AS c_ab FROM bi GROUP BY bigram
),
bt AS (
  SELECT count(*) AS t_bi FROM bi
)
SELECT b.bigram, b.c_ab,
       u1.c_w AS c_left, u2.c_w AS c_right,
       {sql_round('''ln((CAST(b.c_ab AS DOUBLE) / bt.t_bi)
           / ((CAST(u1.c_w AS DOUBLE) / tot.t_uni) * (CAST(u2.c_w AS DOUBLE) / tot.t_uni)))''', 6)} AS pmi
FROM bi_c b
JOIN uni_c u1 ON u1.token = split_part(b.bigram, ' ', 1)
JOIN uni_c u2 ON u2.token = split_part(b.bigram, ' ', 2)
CROSS JOIN tot CROSS JOIN bt
WHERE b.c_ab >= 50
""",
)
def token_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information over corpus bigrams — the collocation
    score that separates real phrases from chance co-occurrence (the
    n-gram-LM sibling of text_ngram_freq). Two token-keyed aggregates
    (unigram, bigram) plus two joins of the thresholded bigram head
    against the unigram vocab — both joins BROADCAST (vocab is bounded by
    language, not corpus: at 100 TB it is still ~10^6 rows), so the only
    corpus-sized shuffles are the two map-side-combined counts.

    No shared repartition(doc_id) of the RAW TOKEN ARRAYS across the
    branches: AQE would reuse that exchange, but it ships every token
    array corpus-wide (measured 3.9× at 10× data). Each count branch explodes
    straight out of its own scan (parallel, shuffle-free until the
    map-combined vocab aggregate) and the corpus totals are second-level
    sums OVER the count tables instead of separate corpus-sized counts:
    10× growth 3.9× → 2.0×, 2.4× faster absolute. Split-per-shingle
    re-evaluation without a barrier is neutralized by
    codegen subexpression elimination (probed with 2000-token docs:
    1.3× — linear, not quadratic)."""
    d = load(spark, sf_dir, "documents")
    tok_df = d.select("doc_id", X.tokens(F.col("text")).alias("t"))
    uni = tok_df.select(F.explode("t").alias("token"))
    uni_c = uni.groupBy("token").agg(F.count(F.lit(1)).alias("c_w"))
    t_uni = uni_c.agg(F.sum("c_w").alias("t_uni"))
    bi = tok_df.filter(F.size("t") >= 2).select(
        F.explode(X.word_shingles(F.col("t"), 2)).alias("bigram")
    )
    bi_c = bi.groupBy("bigram").agg(F.count(F.lit(1)).alias("c_ab"))
    t_bi = bi_c.agg(F.sum("c_ab").alias("t_bi"))
    head = bi_c.filter(F.col("c_ab") >= 50).withColumns(
        {
            "tok_l": F.split_part(F.col("bigram"), F.lit(" "), F.lit(1)),
            "tok_r": F.split_part(F.col("bigram"), F.lit(" "), F.lit(2)),
        }
    )
    u1 = uni_c.select(F.col("token").alias("tok_l"), F.col("c_w").alias("c_left"))
    u2 = uni_c.select(F.col("token").alias("tok_r"), F.col("c_w").alias("c_right"))
    pmi = F.log(
        (F.col("c_ab").cast("double") / F.col("t_bi"))
        / (
            (F.col("c_left").cast("double") / F.col("t_uni"))
            * (F.col("c_right").cast("double") / F.col("t_uni"))
        )
    )
    return (
        head.join(F.broadcast(u1), "tok_l")
        .join(F.broadcast(u2), "tok_r")
        .crossJoin(F.broadcast(t_uni))
        .crossJoin(F.broadcast(t_bi))
        .select("bigram", "c_ab", "c_left", "c_right", hround(pmi, 6).alias("pmi"))
    )


@register(
    "quality_unigram_logprob",
    oracle=f"""
WITH {TOKS_CTE},
uni AS (
  SELECT unnest(t) AS token FROM toks
),
model AS (
  SELECT token, count(*) AS c_w FROM uni GROUP BY token
),
tot AS (
  SELECT count(*) AS t_uni FROM uni
),
scored AS (
  SELECT toks.doc_id, m.c_w, tot.t_uni
  FROM toks, unnest(toks.t) AS u(token)
  JOIN model m ON m.token = u.token
  CROSS JOIN tot
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       {sql_round('avg(-ln(CAST(c_w AS DOUBLE) / t_uni))', 6)} AS nll
FROM scored
GROUP BY doc_id
""",
)
def quality_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM negative log-likelihood per document — the cheapest
    perplexity-style quality proxy (documents full of rare tokens score
    high NLL; boilerplate scores low). The LM is fit on the corpus itself
    in one aggregate; scoring joins each token against the BROADCAST
    vocab (language-bounded) and averages per doc — so the pipeline is
    two corpus-sized map-side-combined shuffles (fit, score) and nothing
    quadratic. The avg's summation order differs across engines by design
    (ulps); 6dp rounding absorbs it."""
    d = load(spark, sf_dir, "documents")
    tok_df = d.select("doc_id", X.tokens(F.col("text")).alias("t")).repartition(
        F.col("doc_id")
    )
    uni = tok_df.select("doc_id", F.explode("t").alias("token"))
    model = uni.groupBy("token").agg(F.count(F.lit(1)).alias("c_w"))
    t_uni = uni.agg(F.count(F.lit(1)).alias("t_uni"))
    return (
        uni.join(F.broadcast(model), "token")
        .crossJoin(F.broadcast(t_uni))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            hround(F.avg(-F.log(F.col("c_w").cast("double") / F.col("t_uni"))), 6).alias(
                "nll"
            ),
        )
    )


@register(
    "search_bm25",
    oracle=f"""
WITH {TOKS_CTE},
dl AS (
  SELECT doc_id, len(t) AS dl FROM toks
),
stats AS (
  SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl
),
q(term) AS (VALUES ('spark'), ('join'), ('vector')),
tf AS (
  SELECT toks.doc_id, u.token AS term, count(*) AS tf
  FROM toks, unnest(toks.t) AS u(token)
  WHERE u.token IN (SELECT term FROM q)
  GROUP BY toks.doc_id, u.token
),
df AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term
)
SELECT tf.doc_id,
       CAST(count(*) AS BIGINT) AS n_terms_hit,
       {sql_round('''sum(
         ln((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
         * (tf.tf * 2.2)
         / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl)))''', 6)} AS bm25
FROM tf
JOIN df USING (term)
JOIN dl ON dl.doc_id = tf.doc_id
CROSS JOIN stats
GROUP BY tf.doc_id
""",
)
def search_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 (k1=1.2, b=0.75) for a fixed keyword query — the
    classical retrieval scorer (and the lexical half of hybrid RAG
    retrieval next to sim_search_*). Every input to the score is an
    aggregate this engine already materializes cheaply: tf (corpus
    shuffle, pre-filtered to the query terms so it's |hits| wide, not
    |tokens|), df and corpus stats (broadcast scalars). The per-doc score
    is then one grouped sum — query cost scales with posting-list size,
    exactly like an inverted index walk."""
    d = load(spark, sf_dir, "documents")
    terms = ["spark", "join", "vector"]
    tok_df = d.select("doc_id", X.tokens(F.col("text")).alias("t")).repartition(
        F.col("doc_id")
    )
    dl = tok_df.select("doc_id", F.size("t").cast("long").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    tf = (
        tok_df.select("doc_id", F.explode("t").alias("term"))
        .where(F.col("term").isin(*terms))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("term").agg(F.count_distinct("doc_id").alias("df"))
    idf = F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    contrib = idf * (F.col("tf") * 2.2) / (
        F.col("tf") + 1.2 * (0.25 + 0.75 * F.col("dl") / F.col("avgdl"))
    )
    return (
        tf.join(F.broadcast(df), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_terms_hit"),
            hround(F.sum(contrib), 6).alias("bm25"),
        )
    )


@register(
    "tfidf_topk_per_doc",
    oracle=f"""
WITH {TOKS_CTE},
ex AS (
  SELECT toks.doc_id, u.token FROM toks, unnest(toks.t) AS u(token)
),
tf AS (
  SELECT doc_id, token, count(*) AS tf FROM ex GROUP BY doc_id, token
),
df AS (
  SELECT token, count(DISTINCT doc_id) AS df FROM ex GROUP BY token
),
n AS (
  SELECT count(DISTINCT doc_id) AS n_docs FROM ex
),
weighted AS (
  SELECT tf.doc_id, tf.token, tf.tf,
         {sql_round('tf.tf * (ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0)', 6)} AS tfidf
  FROM tf JOIN df USING (token) CROSS JOIN n
)
SELECT doc_id, token, tf, tfidf, rnk FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
                                    ORDER BY tfidf DESC, token) AS BIGINT) AS rnk
  FROM weighted
) WHERE rnk <= 3
""",
)
def tfidf_topk_per_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword extraction: top-3 TF-IDF terms per document (the tfidf
    table narrowed to each doc's signature terms — what goes in a search
    index or topic sketch). Ranking happens on the PRE-ROUNDED score so
    cross-engine ulp noise in ln() can't flip an ordering: 6dp-identical
    scores tie-break on the token. One extra window pass over the tf
    table, partitioned by doc — no new corpus shuffle beyond tfidf's
    own.

    ``spread(d, "doc_id")`` fans the single-split harness corpus
    out before the tokenize (same rationale and at-scale no-op as
    tfidf_weights; 0.896 → 0.547 s noop at sf0.1, hash-identical)."""
    d = load(spark, sf_dir, "documents")
    ex = spread(d, "doc_id").select(
        "doc_id", F.explode(X.tokens(F.col("text"))).alias("token")
    )
    tf = ex.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    # df from the tf table (one row per (doc, token) → count IS
    # countDistinct) with the _df_from_tf reuse spelling — a raw-ex
    # two-phase distinct would re-tokenize the corpus a second time; n_docs
    # keeps its ex-derived spelling (docs with ≥1 token), same oracle.
    df = _df_from_tf(tf)
    n = ex.agg(F.count_distinct("doc_id").alias("n_docs"))
    idf = F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0
    weighted = (
        tf.join(F.broadcast(df), "token")
        .crossJoin(F.broadcast(n))
        .select("doc_id", "token", "tf", hround(F.col("tf") * idf, 6).alias("tfidf"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("token"))
    return (
        weighted.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= 3)
    )


@register(
    "quality_winsorize",
    oracle=f"""
WITH bounds AS (
  SELECT event_type,
         quantile_cont(value, 0.05) AS p05,
         quantile_cont(value, 0.95) AS p95
  FROM events GROUP BY event_type
),
clipped AS (
  SELECT e.event_type,
         greatest(b.p05, least(b.p95, e.value)) AS v,
         CASE WHEN e.value < b.p05 OR e.value > b.p95 THEN 1 ELSE 0 END AS was_clipped
  FROM events e JOIN bounds b USING (event_type)
)
SELECT event_type,
       CAST(count(*) AS BIGINT)            AS n,
       CAST(sum(was_clipped) AS BIGINT)    AS n_clipped,
       {sql_round('avg(v)', 6)}            AS mean_winsorized,
       {sql_round('stddev_samp(v)', 6)}    AS std_winsorized
FROM clipped
GROUP BY event_type
""",
)
def quality_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized statistics (clip at p05/p95 per group before
    aggregating) — the outlier-robust preprocessing an ML feature
    pipeline applies before normalization, complementing anomaly_mad's
    detection with correction. Exact per-group percentile (5-row bounds
    table) broadcast back over the stream, then one clipped aggregate —
    the two-pass broadcast-stats shape every robust statistic here
    uses. The bounds come from :mod:`operators.percentile`'s
    distinct-value histogram (aggregation state ∝ |value domain|, never
    group size — Spark's exact ``percentile`` buffers whole groups),
    exact to the same interpolated definition the oracle's
    quantile_cont computes."""
    from mongodb_mysql_cdc_spark.operators.percentile import group_quantiles

    ev = load(spark, sf_dir, "events")
    bounds = group_quantiles(
        ev, ["event_type"], "value", {"p05": 0.05, "p95": 0.95}
    )
    clipped = ev.join(F.broadcast(bounds), "event_type").select(
        "event_type",
        F.greatest("p05", F.least("p95", F.col("value"))).alias("v"),
        ((F.col("value") < F.col("p05")) | (F.col("value") > F.col("p95")))
        .cast("long")
        .alias("was_clipped"),
    )
    return clipped.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("was_clipped").alias("n_clipped"),
        hround(F.avg("v"), 6).alias("mean_winsorized"),
        hround(F.stddev_samp("v"), 6).alias("std_winsorized"),
    )


# --- BPE merge-table application -------------------------------------------

# An ordered prefix of a BPE merge table (the classic English head —
# learned order doesn't matter for the engine shape, a fixed table keeps
# the oracle exact). Applied sequentially, replace-all per rule: the
# vectorized batch approximation of the per-pair greedy loop a trainer
# runs — deterministic and identical on both engines, which is what the
# parity check needs.
_BPE_MERGES = [
    ("t h", "th"), ("th e", "the"), ("i n", "in"), ("a n", "an"),
    ("e r", "er"), ("r e", "re"), ("o n", "on"), ("e s", "es"),
]


@register(
    "token_bpe_merge",
    oracle=f"""
WITH cleaned AS (
  SELECT doc_id,
         regexp_replace(regexp_replace(lower(text), '[^a-z ]+', '', 'g'),
                        '(.)', '\\1 ', 'g') AS spaced,
         length(replace(regexp_replace(lower(text), '[^a-z ]+', '', 'g'), ' ', ''))
           AS n_units_before
  FROM documents
),
merged AS (
  SELECT doc_id, n_units_before,
         {'replace(' * len(_BPE_MERGES)}spaced
         {''.join(f", '{a} ', '{b} ')" for a, b in _BPE_MERGES)} AS m
  FROM cleaned
)
SELECT doc_id,
       CAST(n_units_before AS BIGINT) AS n_units_before,
       CAST(len(list_filter(string_split_regex(m, ' +'), x -> x <> '')) AS BIGINT)
         AS n_units_after,
       {sql_round("n_units_before / len(list_filter(string_split_regex(m, ' +'), x -> x <> ''))", 4)}
         AS compression
FROM merged
WHERE n_units_before > 0
""",
)
def token_bpe_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenization, the apply step (§2.10 token counting, the
    'BPE-ish' surface): explode each document into character units and
    fold an ordered merge table over it — exactly how a trained BPE
    vocabulary turns characters into subwords. Output: per-doc unit
    counts before/after and the compression ratio (chars-per-token, the
    number a pretraining budget is priced in).

    Engine shape: pure per-row column algebra — lower/strip → space the
    characters (word gaps become multi-space runs, so merges can never
    cross a word boundary) → one replace() per merge rule, chained.
    Zero shuffles, zero UDFs, whole-stage-codegen end to end; at 100 TB
    this is the op that must NOT shuffle, and it doesn't. A real
    50k-rule vocabulary compiles the same way (a trie/pandas_udf beats
    50k chained replaces at that size — rule count, not engine shape,
    is the cutover)."""
    docs = load(spark, sf_dir, "documents")
    cleaned = F.regexp_replace(F.lower(F.col("text")), r"[^a-z ]+", "")
    spaced = F.regexp_replace(cleaned, r"(.)", r"$1 ")
    merged = spaced
    for a, b in _BPE_MERGES:
        merged = F.replace(merged, F.lit(a + " "), F.lit(b + " "))
    n_before = F.length(F.replace(cleaned, F.lit(" "), F.lit("")))
    n_after = F.size(F.filter(F.split(merged, " +"), lambda x: x != ""))
    return (
        docs.select(
            "doc_id",
            n_before.cast("long").alias("n_units_before"),
            n_after.cast("long").alias("n_units_after"),
            hround(n_before / n_after, 4).alias("compression"),
        )
        .filter(F.col("n_units_before") > 0)
    )
