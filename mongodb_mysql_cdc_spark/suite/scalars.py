"""§2.8 scalar function families — string / datetime / math / conditional /
array (incl. higher-order) / struct-map / hash.

These are all JVM-side codegen'd expressions (zero Python in the hot
path); each family is one oracle-checked query exercising the whole row
of SURVEY.md §2.8.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mongodb_mysql_cdc_spark.catalog import load
from mongodb_mysql_cdc_spark.functions.compat import hround, sql_round
from mongodb_mysql_cdc_spark.registry import register


@register(
    "fn_string",
    oracle="""
SELECT
  p_partkey,
  concat(p_brand, ':', p_type)                  AS brand_type,
  substring(p_name, 1, 8)                       AS name_prefix,
  upper(p_brand)                                AS brand_up,
  lower(p_type)                                 AS type_lo,
  trim(concat(' ', p_name, ' '))                AS name_trim,
  length(p_name)                                AS name_len,
  regexp_extract(p_brand, 'Brand#([0-9]+)', 1)  AS brand_num,
  replace(p_type, ' ', '_')                     AS type_snake,
  lpad(CAST(p_size AS VARCHAR), 4, '0')         AS size_padded,
  strpos(p_name, 'a')                           AS first_a,
  (p_name LIKE '%a%')                           AS has_a,
  split_part(p_type, ' ', 1)                    AS type_head
FROM part
""",
)
def fn_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.concat_ws(":", "p_brand", "p_type").alias("brand_type"),
        F.substring("p_name", 1, 8).alias("name_prefix"),
        F.upper("p_brand").alias("brand_up"),
        F.lower("p_type").alias("type_lo"),
        F.trim(F.concat(F.lit(" "), F.col("p_name"), F.lit(" "))).alias("name_trim"),
        F.length("p_name").cast("long").alias("name_len"),
        F.regexp_extract("p_brand", "Brand#([0-9]+)", 1).alias("brand_num"),
        F.regexp_replace("p_type", " ", "_").alias("type_snake"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_padded"),
        F.instr("p_name", "a").cast("long").alias("first_a"),
        F.col("p_name").like("%a%").alias("has_a"),
        F.split(F.col("p_type"), " ").getItem(0).alias("type_head"),
    )


@register(
    "fn_datetime",
    oracle="""
SELECT
  o_orderkey,
  year(o_orderdate)                                   AS yr,
  month(o_orderdate)                                  AS mo,
  day(o_orderdate)                                    AS dy,
  CAST(date_trunc('month', o_orderdate) AS DATE)      AS month_start,
  CAST(o_orderdate AS DATE) + 30                      AS plus_30d,
  date_diff('day', CAST(o_orderdate AS DATE), DATE '2000-01-01') AS days_to_y2k,
  CAST(epoch(o_orderdate) AS BIGINT)                  AS unix_sec,
  hour(o_orderdate)                                   AS hr,
  dayofweek(o_orderdate) + 1                          AS dow,
  CAST(strftime(o_orderdate, '%Y-%m') AS VARCHAR)     AS ym
FROM orders
""",
)
def fn_datetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").cast("long").alias("yr"),
        F.month("o_orderdate").cast("long").alias("mo"),
        F.dayofmonth("o_orderdate").cast("long").alias("dy"),
        F.date_trunc("month", "o_orderdate").cast("date").alias("month_start"),
        F.date_add(F.col("o_orderdate").cast("date"), 30).alias("plus_30d"),
        F.datediff(F.lit("2000-01-01").cast("date"), F.col("o_orderdate").cast("date"))
        .cast("long")
        .alias("days_to_y2k"),
        F.unix_timestamp("o_orderdate").alias("unix_sec"),
        F.hour("o_orderdate").cast("long").alias("hr"),
        F.dayofweek("o_orderdate").cast("long").alias("dow"),
        F.date_format("o_orderdate", "yyyy-MM").alias("ym"),
    )


@register(
    "fn_math",
    oracle=f"""
SELECT
  l_orderkey, l_linenumber,
  abs(l_tax - 0.05)                          AS tax_dev,
  CAST(ceil(l_quantity) AS BIGINT)           AS qty_ceil,
  CAST(floor(l_extendedprice) AS BIGINT)     AS price_floor,
  {sql_round('sqrt(l_quantity)', 6)}         AS qty_sqrt,
  {sql_round('pow(1.0 + l_discount, 2)', 6)} AS disc_sq,
  {sql_round('CASE WHEN l_extendedprice > 0 THEN ln(l_extendedprice) END', 6)}
                                             AS price_ln,
  CAST(l_orderkey % 7 AS BIGINT)             AS key_mod,
  CAST(sign(l_discount - 0.05) AS BIGINT)    AS disc_sign
FROM lineitem
""",
)
def fn_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-canonicalizer note: DuckDB ``ceil``/``floor`` return
    DOUBLE and ``sign`` returns TINYINT where Spark returns BIGINT/DOUBLE —
    every integral output is explicitly BIGINT on BOTH sides so the
    textual value forms agree without any normalizer.

    Log-domain contract (found by the EXTREMES fixture): ln is defined for x > 0 —
    Spark's log() returns NULL outside the domain while DuckDB hard-errors
    (Out of Range on ln(0)), so the domain guard is EXPLICIT and identical
    on both engines: out-of-domain rows yield NULL by contract."""
    li = load(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.abs(F.col("l_tax") - 0.05).alias("tax_dev"),
        F.ceil("l_quantity").cast("long").alias("qty_ceil"),
        F.floor("l_extendedprice").cast("long").alias("price_floor"),
        hround(F.sqrt("l_quantity"), 6).alias("qty_sqrt"),
        hround(F.pow(F.lit(1.0) + F.col("l_discount"), 2), 6).alias("disc_sq"),
        hround(
            F.when(F.col("l_extendedprice") > 0, F.log("l_extendedprice")), 6
        ).alias("price_ln"),
        F.pmod("l_orderkey", F.lit(7)).cast("long").alias("key_mod"),
        F.signum(F.col("l_discount") - 0.05).cast("long").alias("disc_sign"),
    )


@register(
    "fn_conditional",
    oracle="""
SELECT
  s_suppkey,
  CASE WHEN s_acctbal < 0 THEN 'debt'
       WHEN s_acctbal < 5000 THEN 'ok'
       ELSE 'rich' END                      AS bal_band,
  IF(s_nationkey < 12, 'west', 'east')      AS hemi,
  NULLIF(s_nationkey, 0)                    AS natkey_nz,
  GREATEST(s_acctbal, 0.0)                  AS bal_pos,
  LEAST(s_acctbal, 1000.0)                  AS bal_capped
FROM supplier
""",
)
def fn_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load(spark, sf_dir, "supplier")
    return s.select(
        "s_suppkey",
        F.when(F.col("s_acctbal") < 0, "debt")
        .when(F.col("s_acctbal") < 5000, "ok")
        .otherwise("rich")
        .alias("bal_band"),
        F.when(F.col("s_nationkey") < 12, "west").otherwise("east").alias("hemi"),
        F.nullif("s_nationkey", F.lit(0)).alias("natkey_nz"),
        F.greatest(F.col("s_acctbal"), F.lit(0.0)).alias("bal_pos"),
        F.least(F.col("s_acctbal"), F.lit(1000.0)).alias("bal_capped"),
    )


@register(
    "fn_array",
    oracle=f"""
SELECT
  vec_id,
  len(embedding)                                   AS dim,
  CAST(embedding[1] AS DOUBLE)                     AS first_val,
  {sql_round('list_reduce(list_transform(embedding[1:8], x -> CAST(x AS DOUBLE)), (acc, x) -> acc + x)', 4)} AS head_sum,
  {sql_round('CAST(list_reduce(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (acc, x) -> acc + x) AS DOUBLE)', 3)} AS l2_sq
FROM embeddings
""",
)
def fn_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array ops + higher-order functions (transform / slice / aggregate) —
    the embedding column's native algebra, all JVM-side."""
    e = load(spark, sf_dir, "embeddings")
    dbl = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    head = F.slice(dbl, 1, 8)
    return e.select(
        "vec_id",
        F.size("embedding").cast("long").alias("dim"),
        F.col("embedding").getItem(0).cast("double").alias("first_val"),
        hround(
            F.aggregate(head, F.lit(0.0), lambda acc, x: acc + x), 4
        ).alias("head_sum"),
        hround(
            F.aggregate(dbl, F.lit(0.0), lambda acc, x: acc + x * x), 3
        ).alias("l2_sq"),
    )


@register(
    "fn_explode",
    oracle="""
SELECT vec_id, CAST(pos - 1 AS INTEGER) AS pos, CAST(val AS DOUBLE) AS val
FROM (
  SELECT vec_id, unnest(embedding) AS val,
         generate_subscripts(embedding, 1) AS pos
  FROM embeddings
)
WHERE (pos - 1) < 4
""",
)
def fn_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode — array → rows with position (UDTF-shape surface)."""
    e = load(spark, sf_dir, "embeddings")
    return (
        e.select("vec_id", F.posexplode("embedding").alias("pos", "val"))
        .filter(F.col("pos") < 4)
        .select("vec_id", "pos", F.col("val").cast("double").alias("val"))
    )


@register(
    "fn_struct_map",
    oracle="""
SELECT
  event_id,
  struct_extract(struct_pack(u := user_id, t := event_type), 'u') AS packed_user,
  (MAP {'type': event_type, 'props': props}['type'])[1] AS from_map,
  (MAP {'k1': value}['k1'])[1] AS from_map_num
FROM events
""",
)
def fn_struct_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """struct pack/unpack + map create/access (CDC envelope handling) —
    output flattened to scalars so the hash stays engine-neutral."""
    ev = load(spark, sf_dir, "events")
    packed = F.struct(F.col("user_id").alias("u"), F.col("event_type").alias("t"))
    m = F.create_map(F.lit("type"), F.col("event_type"), F.lit("props"), F.col("props"))
    m2 = F.create_map(F.lit("k1"), F.col("value"))
    return ev.select(
        "event_id",
        packed.getField("u").alias("packed_user"),
        F.element_at(m, F.lit("type")).alias("from_map"),
        F.element_at(m2, F.lit("k1")).alias("from_map_num"),
    )


@register(
    "fn_json",
    oracle="""
SELECT
  event_id,
  CAST(json_extract(props, '$.k') AS BIGINT)        AS k_typed,
  json_extract_string(props, '$.k')                 AS k_text,
  CAST(json_valid(props) AS BOOLEAN)                AS is_valid,
  CAST(json_extract(props, '$.missing') AS BIGINT)  AS absent
FROM events
""",
)
def fn_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON bridge: from_json with declared schema (the dynamic→fixed
    schema crossing), plus path extraction and validity probing."""
    ev = load(spark, sf_dir, "events")
    parsed = F.from_json("props", "k BIGINT, missing BIGINT")
    return ev.select(
        "event_id",
        parsed.getField("k").alias("k_typed"),
        F.get_json_object("props", "$.k").alias("k_text"),
        parsed.isNotNull().alias("is_valid"),
        parsed.getField("missing").alias("absent"),
    )


@register(
    "fn_hash",
    oracle="""
SELECT
  doc_id,
  md5(text)                  AS text_md5,
  sha256(text)               AS text_sha256,
  md5(concat(lang, '|', source, '|', CAST(n_chars AS VARCHAR))) AS row_fingerprint
FROM documents
""",
)
def fn_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row fingerprints for diff/dedup idempotency — md5/sha256 produce
    identical hex in any engine given an identical canonical string."""
    d = load(spark, sf_dir, "documents")
    canonical = F.concat_ws("|", "lang", "source", F.col("n_chars").cast("string"))
    return d.select(
        "doc_id",
        F.md5("text").alias("text_md5"),
        F.sha2("text", 256).alias("text_sha256"),
        F.md5(canonical).alias("row_fingerprint"),
    )


@register(
    "fn_bitwise",
    oracle="""
SELECT l_orderkey, l_linenumber,
       l_orderkey & 255                        AS low_byte,
       l_orderkey | 15                         AS with_low,
       xor(l_orderkey, l_partkey)              AS keys_xor,
       l_orderkey << 2                         AS shifted_up,
       l_orderkey >> 3                         AS shifted_down,
       ~l_orderkey                             AS inverted,
       CAST(bit_count(l_orderkey) AS INTEGER)  AS pop_count
FROM lineitem
""",
)
def fn_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise family (§2.8 breadth): and/or/xor/shifts/not/popcount —
    the bucket-id and bitmap arithmetic primitives (SimHash, bloom
    filters, partition routing all reduce to these)."""
    li = load(spark, sf_dir, "lineitem")
    k = F.col("l_orderkey")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        k.bitwiseAND(F.lit(255)).alias("low_byte"),
        k.bitwiseOR(F.lit(15)).alias("with_low"),
        k.bitwiseXOR(F.col("l_partkey")).alias("keys_xor"),
        F.expr("shiftleft(l_orderkey, 2)").alias("shifted_up"),
        F.expr("shiftright(l_orderkey, 3)").alias("shifted_down"),
        F.expr("~l_orderkey").alias("inverted"),
        F.bit_count(k).alias("pop_count"),
    )


@register(
    "fn_string2",
    oracle="""
SELECT p_partkey,
       reverse(p_brand)                          AS brand_rev,
       repeat(p_brand, 2)                        AS brand_twice,
       translate(p_type, 'aeiou', '_____')       AS type_devowel,
       left(p_name, 5)                           AS name_left,
       right(p_name, 5)                          AS name_right,
       CAST(levenshtein(p_brand, p_type) AS BIGINT) AS brand_type_dist,
       CAST(starts_with(p_type, 'STANDARD') AS BOOLEAN) AS is_standard,
       md5(concat(p_name, '|', p_type))          AS name_type_md5
FROM part
""",
)
def fn_string2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second string family (§2.8 breadth): reverse / repeat / translate /
    left / right / scalar levenshtein / prefix test — the normalization
    toolkit entity resolution and PII scrubbing draw from."""
    p = load(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.reverse(F.col("p_brand")).alias("brand_rev"),
        F.repeat(F.col("p_brand"), 2).alias("brand_twice"),
        F.translate(F.col("p_type"), "aeiou", "_____").alias("type_devowel"),
        F.substring("p_name", 1, 5).alias("name_left"),
        # right(), not substr(length-4, 5): for names shorter than 5 chars a
        # computed start index <= 0 hits Spark's negative-index-from-end
        # semantics and diverges from SQL right().
        F.expr("right(p_name, 5)").alias("name_right"),
        F.levenshtein("p_brand", "p_type").cast("long").alias("brand_type_dist"),
        F.col("p_type").startswith("STANDARD").alias("is_standard"),
        F.md5(F.concat_ws("|", "p_name", "p_type")).alias("name_type_md5"),
    )


@register(
    "fn_datetime2",
    oracle="""
SELECT o_orderkey,
       CAST(o_orderdate + INTERVAL 3 MONTH AS DATE)        AS plus_3mo,
       last_day(CAST(o_orderdate AS DATE))                 AS month_end,
       CAST(quarter(o_orderdate) AS BIGINT)                AS qtr,
       CAST(weekofyear(o_orderdate) AS BIGINT)             AS iso_week,
       CAST(dayofyear(o_orderdate) AS BIGINT)              AS doy,
       CAST(date_diff('month', DATE '1995-01-01',
                      CAST(o_orderdate AS DATE)) AS BIGINT) AS months_since_95,
       CAST(date_trunc('week', o_orderdate) AS DATE)       AS week_start
FROM orders
""",
)
def fn_datetime2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second datetime family (§2.8 breadth): calendar arithmetic —
    add_months / last_day / quarter / ISO week / day-of-year / whole-month
    difference / week truncation. months_between is floored to whole
    months on both sides (DuckDB's date_diff('month') counts boundary
    crossings; Spark's months_between is fractional — floor aligns
    them only for day-1 anchors, so the Spark side uses the same
    boundary-crossing formula explicitly)."""
    o = load(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    months_since = (F.year(d) - 1995) * 12 + (F.month(d) - 1)
    return o.select(
        "o_orderkey",
        F.add_months(d, 3).alias("plus_3mo"),
        F.last_day(d).alias("month_end"),
        F.quarter("o_orderdate").cast("long").alias("qtr"),
        F.weekofyear("o_orderdate").cast("long").alias("iso_week"),
        F.dayofyear("o_orderdate").cast("long").alias("doy"),
        months_since.cast("long").alias("months_since_95"),
        F.date_trunc("week", "o_orderdate").cast("date").alias("week_start"),
    )


@register(
    "fn_regex",
    oracle="""
SELECT doc_id,
       coalesce(array_to_string(regexp_extract_all(text, 'sc[a-z]+'), ','), '') AS sc_words,
       CAST(len(regexp_extract_all(text, 'hash')) AS BIGINT)       AS n_hash,
       regexp_replace(text, '\\s+', '_', 'g')                       AS snaked,
       regexp_matches(text, 'stream|batch')                         AS mentions_exec,
       regexp_extract(text, '([a-z]+) ([a-z]+)', 2)                 AS second_word
FROM documents
""",
)
def fn_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex family (§2.8 breadth): extract-all (array → joined string for
    the canonicalizer; DuckDB joins an EMPTY list to NULL where Spark
    gives "" — coalesced in the oracle), match counting, global replace, boolean match,
    group extraction — all JVM-side regexp codegen."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.array_join(F.expr("regexp_extract_all(text, 'sc[a-z]+', 0)"), ",").alias("sc_words"),
        F.size(F.expr("regexp_extract_all(text, 'hash', 0)")).cast("long").alias("n_hash"),
        F.regexp_replace("text", r"\s+", "_").alias("snaked"),
        F.col("text").rlike("stream|batch").alias("mentions_exec"),
        F.regexp_extract("text", "([a-z]+) ([a-z]+)", 2).alias("second_word"),
    )


@register(
    "fn_trig",
    oracle=f"""
SELECT l_orderkey, l_linenumber,
       {sql_round('sin(l_discount)', 6)}                    AS sin_d,
       {sql_round('cos(l_tax)', 6)}                         AS cos_t,
       {sql_round('atan2(l_discount, l_tax + 0.01)', 6)}    AS angle,
       {sql_round('degrees(atan(l_quantity / 100.0))', 6)}  AS slope_deg,
       {sql_round('exp(l_discount)', 6)}                    AS exp_d,
       {sql_round('CASE WHEN l_extendedprice > 0 THEN log10(l_extendedprice) END', 6)}
                                                            AS log10_price
FROM lineitem
""",
)
def fn_trig(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transcendental family (§2.8 breadth): trig / inverse-trig /
    exp / log10. All transcendentals differ by ulps across libm
    implementations → rounded to 6dp on both sides (the fn_math rule).
    log10 carries the same explicit x > 0 domain guard as fn_math's ln
    (DuckDB hard-errors on log of zero where Spark
    returns NULL — the guard pins NULL-outside-domain on both engines)."""
    li = load(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        hround(F.sin("l_discount"), 6).alias("sin_d"),
        hround(F.cos("l_tax"), 6).alias("cos_t"),
        hround(F.atan2(F.col("l_discount"), F.col("l_tax") + 0.01), 6).alias("angle"),
        hround(F.degrees(F.atan(F.col("l_quantity") / 100.0)), 6).alias("slope_deg"),
        hround(F.exp("l_discount"), 6).alias("exp_d"),
        hround(
            F.when(F.col("l_extendedprice") > 0, F.log10("l_extendedprice")), 6
        ).alias("log10_price"),
    )


@register(
    "fn_url",
    oracle=r"""
WITH u AS (
  SELECT p_partkey,
         concat('https://catalog.example.com/',
                replace(replace(lower(p_brand), ' ', '-'), '#', '-'),
                '/item-', CAST(p_partkey AS VARCHAR),
                '?size=', CAST(p_size AS VARCHAR)) AS url
  FROM part
)
SELECT p_partkey, url,
       regexp_extract(url, 'https?://([^/]+)/', 1)   AS host,
       regexp_extract(url, 'https?://[^/]+(/[^?]*)', 1) AS path,
       regexp_extract(url, '\?(.*)$', 1)             AS query_str,
       CAST(regexp_extract(url, 'size=([0-9]+)', 1) AS INTEGER) AS size_param,
       concat(regexp_extract(url, 'https?://([^/]+)/', 1),
              regexp_extract(url, 'https?://[^/]+(/[^?]*)', 1)) AS canonical
FROM u
""",
)
def fn_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL family (§2.8 breadth; the web-corpus curation primitive —
    canonical host+path keys URL-level dedup). URLs are synthesized
    deterministically from part rows, then decomposed with Spark's
    built-in parse_url (JVM-side, codegen'd); the oracle re-derives the
    same parts with regexes, so the check is a genuine cross-
    implementation test of the parsing, not regex-vs-same-regex."""
    p = load(spark, sf_dir, "part")
    url = F.concat(
        F.lit("https://catalog.example.com/"),
        # '#' would become a URL fragment and swallow path+query — slug
        # every non-URL-safe char in the brand
        F.replace(
            F.replace(F.lower("p_brand"), F.lit(" "), F.lit("-")),
            F.lit("#"),
            F.lit("-"),
        ),
        F.lit("/item-"),
        F.col("p_partkey").cast("string"),
        F.lit("?size="),
        F.col("p_size").cast("string"),
    )
    u = p.select("p_partkey", url.alias("url"))
    host = F.parse_url("url", F.lit("HOST"))
    path = F.parse_url("url", F.lit("PATH"))
    return u.select(
        "p_partkey",
        "url",
        host.alias("host"),
        path.alias("path"),
        F.parse_url("url", F.lit("QUERY")).alias("query_str"),
        F.parse_url("url", F.lit("QUERY"), F.lit("size")).cast("int").alias("size_param"),
        F.concat(host, path).alias("canonical"),
    )


@register(
    "fn_array2",
    oracle="""
WITH w AS (
  SELECT p_partkey, string_split(p_name, ' ') AS words, string_split(p_type, ' ') AS tw
  FROM part
)
SELECT p_partkey,
       array_to_string(list_sort(list_distinct(words)), ',') AS words_uniq,
       array_to_string(list_sort(words, 'DESC'), ',')        AS words_desc,
       length(words)                                   AS n_words,
       coalesce(list_position(words, 'green'), 0)      AS green_at,
       array_to_string(list_slice(words, 2, 3), '-')   AS mid_join,
       list_has_any(words, tw)                         AS shares_word,
       array_to_string(flatten([words, tw]), ',')      AS both_flat,
       array_to_string(list_sort(list_filter(words, w -> NOT list_contains(tw, w))), ',') AS only_name
FROM w
""",
)
def fn_array2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second §2.8 array family: distinct/sort/position/slice/join/overlap/
    flatten/except — all JVM codegen'd built-ins, checked against DuckDB's
    list_* spellings (a genuine cross-dialect test: 1-based positions,
    absent→NULL vs absent→0, sort-order defaults all differ and are
    reconciled explicitly here)."""
    p = load(spark, sf_dir, "part")
    w = p.select(
        "p_partkey",
        F.split("p_name", " ").alias("words"),
        F.split("p_type", " ").alias("tw"),
    )
    return w.select(
        "p_partkey",
        F.array_join(F.array_sort(F.array_distinct("words")), ",").alias("words_uniq"),
        F.array_join(F.sort_array(F.col("words"), asc=False), ",").alias("words_desc"),
        F.size("words").alias("n_words"),
        F.array_position("words", "green").alias("green_at"),
        F.array_join(F.slice("words", 2, 2), "-").alias("mid_join"),
        F.arrays_overlap("words", "tw").alias("shares_word"),
        F.array_join(F.flatten(F.array("words", "tw")), ",").alias("both_flat"),
        F.array_join(F.array_sort(F.array_except("words", "tw")), ",").alias("only_name"),
    )


@register(
    "fn_map2",
    oracle="""
WITH m AS (
  SELECT p_partkey,
         map(['brand', 'type', 'size'],
             [p_brand, p_type, CAST(p_size AS VARCHAR)]) AS attrs
  FROM part
)
SELECT p_partkey,
       cardinality(attrs)                       AS n_attrs,
       array_to_string(list_sort(map_keys(attrs)), ',')   AS keys_csv,
       array_to_string(list_sort(map_values(attrs)), ',') AS vals_csv,
       (attrs['brand'])[1]                      AS brand,
       CAST((attrs['size'])[1] AS INTEGER)      AS size_i,
       (attrs['missing'])[1] IS NOT NULL        AS has_missing
FROM m
""",
)
def fn_map2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-typed column algebra (§2.8 breadth): construct from arrays,
    keys/values introspection, typed extraction, absent-key probe. Output
    columns are scalars/CSV strings only — map ordering is engine-defined,
    so the map itself is never emitted (array/map cells crash the
    driver's pandas canonicalizer). DuckDB map extraction yields single-element lists, hence the
    ``[1]`` de-listing on the oracle side."""
    p = load(spark, sf_dir, "part")
    m = p.select(
        "p_partkey",
        F.map_from_arrays(
            F.array(F.lit("brand"), F.lit("type"), F.lit("size")),
            F.array(F.col("p_brand"), F.col("p_type"), F.col("p_size").cast("string")),
        ).alias("attrs"),
    )
    return m.select(
        "p_partkey",
        F.size("attrs").alias("n_attrs"),
        F.array_join(F.array_sort(F.map_keys("attrs")), ",").alias("keys_csv"),
        F.array_join(F.array_sort(F.map_values("attrs")), ",").alias("vals_csv"),
        F.col("attrs").getItem("brand").alias("brand"),
        F.col("attrs").getItem("size").cast("int").alias("size_i"),
        F.col("attrs").getItem("missing").isNotNull().alias("has_missing"),
    )


@register(
    "fn_string3",
    oracle="""
SELECT p_partkey,
       translate(p_type, ' aeiou', '_')       AS type_consonants,
       reverse(p_brand)                       AS brand_rev,
       repeat(substring(p_name, 1, 2), 3)     AS name_echo,
       ascii(p_name)                          AS first_code,
       chr(65 + p_size % 26)                  AS size_letter,
       left(p_name, 5)                        AS name_l5,
       right(p_type, 4)                       AS type_r4,
       CAST(levenshtein(p_brand, 'Brand#00') AS BIGINT) AS brand_dist
FROM part
""",
)
def fn_string3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Third string family (§2.8 breadth): translate / reverse / repeat /
    ascii-chr codec / left-right slicing / levenshtein — the remaining
    built-ins the first two families didn't cover, all JVM codegen'd.
    translate's delete semantics (unmatched 'to' chars drop) is a genuine
    cross-dialect check: both engines must drop the five vowels+space."""
    p = load(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.translate("p_type", " aeiou", "_").alias("type_consonants"),
        F.reverse("p_brand").alias("brand_rev"),
        F.repeat(F.substring("p_name", 1, 2), 3).alias("name_echo"),
        F.ascii("p_name").alias("first_code"),
        F.chr(F.lit(65) + F.col("p_size") % 26).alias("size_letter"),
        F.substring("p_name", 1, 5).alias("name_l5"),
        F.substring(F.col("p_type"), -4, 4).alias("type_r4"),
        F.levenshtein("p_brand", F.lit("Brand#00")).cast("long").alias("brand_dist"),
    )


@register(
    "agg_grouping_id",
    oracle=f"""
SELECT coalesce(l_returnflag, '<all>')  AS rf,
       coalesce(l_linestatus, '<all>')  AS ls,
       GROUPING(l_returnflag)           AS g_rf,
       GROUPING(l_linestatus)           AS g_ls,
       CAST(count(*) AS BIGINT)         AS n,
       {sql_round('sum(l_quantity)')}   AS sum_qty
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
HAVING count(*) > 0
""",
)
def agg_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING() flag columns over ROLLUP — how a consumer tells a real
    NULL group from a subtotal row (the §2.4 rollup family's missing
    introspection bit). Same single Expand + two-phase aggregate as
    agg_rollup; the flags are free metadata from the Expand. Empty-
    input contract: see agg_rollup (oracle HAVING count(*) > 0)."""
    li = load(spark, sf_dir, "lineitem")
    rolled = li.rollup("l_returnflag", "l_linestatus").agg(
        F.grouping("l_returnflag").cast("long").alias("g_rf"),
        F.grouping("l_linestatus").cast("long").alias("g_ls"),
        F.count(F.lit(1)).alias("n"),
        hround(F.sum("l_quantity")).alias("sum_qty"),
    )
    return rolled.select(
        F.coalesce("l_returnflag", F.lit("<all>")).alias("rf"),
        F.coalesce("l_linestatus", F.lit("<all>")).alias("ls"),
        "g_rf",
        "g_ls",
        "n",
        "sum_qty",
    )


@register(
    "fn_explode_outer",
    oracle="""
WITH src AS (
  SELECT p_partkey,
         CASE WHEN p_size % 5 = 0 THEN []
              ELSE string_split(p_type, ' ') END AS words
  FROM part
)
SELECT s.p_partkey, t.word, t.pos
FROM src s
LEFT JOIN LATERAL (
  SELECT unnest(s.words) AS word,
         generate_subscripts(s.words, 1) - 1 AS pos
) t ON true
""",
)
def fn_explode_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode_outer null semantics (§2.8 explode family's missing
    half): rows whose array is EMPTY must survive as a single null row —
    plain explode silently drops them, which in a curation pipeline means
    silently losing every document with no extractable field. DuckDB has
    no outer unnest; the oracle builds it from LEFT JOIN LATERAL, so the
    check pins the exact null-row contract across two different
    implementations of the semantics."""
    p = load(spark, sf_dir, "part")
    src = p.select(
        "p_partkey",
        F.when(F.col("p_size") % 5 == 0, F.array().cast("array<string>"))
        .otherwise(F.split("p_type", " "))
        .alias("words"),
    )
    return src.select(
        "p_partkey", F.posexplode_outer("words").alias("pos", "word")
    ).select("p_partkey", "word", F.col("pos").cast("long").alias("pos"))


@register(
    "fn_array_hof2",
    oracle=f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
)
SELECT vec_id,
       len(list_filter(e, x -> x > 0.0)) > 0                 AS any_pos,
       len(list_filter(e, x -> abs(x) < 10.0)) = len(e)      AS all_small,
       CAST(len(list_filter(e, x -> x > 0.0)) AS BIGINT)     AS n_pos,
       {sql_round('list_reduce(list_transform(list_zip(e[1:8], e[2:9]), p -> p[1] * p[2]), (a, b) -> a + b)', 6)}
         AS head_autocorr
FROM v
""",
)
def fn_array_hof2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second higher-order-function family (§2.8): exists / forall /
    filter-count / zip_with — the predicates-and-pairing half of the HOF
    surface (fn_array covered transform/slice/aggregate). zip_with over
    the shifted head is a lag-1 autocorrelation numerator: the idiom for
    elementwise window math WITHOUT exploding the array. DuckDB spells
    exists/forall as list_filter cardinality and zip_with as
    list_zip+transform — two dialects, one algebra, value-checked."""
    e = load(spark, sf_dir, "embeddings")
    v = e.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("e")
    )
    head = F.slice("e", 1, 8)
    shifted = F.slice("e", 2, 8)
    return v.select(
        "vec_id",
        F.exists("e", lambda x: x > 0.0).alias("any_pos"),
        F.forall("e", lambda x: F.abs(x) < 10.0).alias("all_small"),
        F.size(F.filter("e", lambda x: x > 0.0)).cast("long").alias("n_pos"),
        hround(
            F.aggregate(
                F.zip_with(head, shifted, lambda a, b: a * b),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            6,
        ).alias("head_autocorr"),
    )


@register(
    "fn_try_safe",
    oracle="""
SELECT p_partkey,
       TRY_CAST(p_type AS INTEGER)                          AS type_as_int,
       TRY_CAST(regexp_extract(p_brand, '([0-9]+)', 1) AS INTEGER) AS brand_num,
       p_retailprice / nullif(CAST(p_size % 5 AS DOUBLE), 0.0)     AS price_per_bucket,
       (string_split(p_name, ' '))[20]                      AS word20
FROM part
""",
)
def fn_try_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-safe expression family (§2.8): try_cast / try_divide /
    try_element_at — NULL instead of job-killing exceptions, which is the
    difference between one malformed row and a dead 100 TB batch under
    ANSI mode. DuckDB's natural semantics (TRY_CAST, /0→NULL via nullif,
    OOB list index→NULL) pin the exact NULL contract."""
    p = load(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.col("p_type").try_cast("int").alias("type_as_int"),
        F.regexp_extract("p_brand", "([0-9]+)", 1).try_cast("int").alias("brand_num"),
        F.try_divide("p_retailprice", (F.col("p_size") % 5).cast("double")).alias(
            "price_per_bucket"
        ),
        F.try_element_at(F.split("p_name", " "), F.lit(20)).alias("word20"),
    )


@register(
    "fn_interval",
    oracle="""
SELECT o_orderkey,
       date_diff('month', DATE '1995-06-01', CAST(o_orderdate AS DATE)) AS months_since,
       CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS DATE)       AS plus_3m,
       last_day(CAST(o_orderdate AS DATE))                              AS month_end,
       CAST(date_part('quarter', o_orderdate) AS BIGINT)                AS qtr,
       CAST(CAST(o_orderdate AS DATE) - (date_part('dow', o_orderdate))::INTEGER AS DATE)
         AS week_sunday
FROM orders
""",
)
def fn_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-interval arithmetic (§2.8 datetime family's third row):
    months_between-style deltas, add_months, last_day, quarter, and
    snap-to-week-start — the month/quarter math that ISN'T uniform
    seconds (months vary in length; both engines must agree on the
    calendar, not just the epoch line). week_sunday subtracts the
    day-of-week ordinal, sidestepping the engines' differing WEEK
    truncation conventions (Spark date_trunc('week') is ISO-Monday,
    DuckDB's likewise but with different year-edge behavior)."""
    o = load(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    return o.select(
        "o_orderkey",
        # months_between counts fractional months; floor'd it equals
        # DuckDB's date_diff('month') only on day-aligned pairs — use
        # explicit year*12+month arithmetic, identical on both engines
        (
            (F.year(d) - F.lit(1995)) * 12 + (F.month(d) - F.lit(6))
        ).cast("long").alias("months_since"),
        F.add_months(d, 3).alias("plus_3m"),
        F.last_day(d).alias("month_end"),
        F.quarter(d).cast("long").alias("qtr"),
        F.date_sub(d, F.dayofweek(d) - 1).alias("week_sunday"),
    )


@register(
    "fn_xml",
    oracle="""
WITH x AS (
  SELECT p_partkey,
         concat('<part><id>', CAST(p_partkey AS VARCHAR),
                '</id><brand>', p_brand,
                '</brand><size>', CAST(p_size AS VARCHAR),
                '</size></part>') AS doc
  FROM part
)
SELECT p_partkey,
       CAST(regexp_extract(doc, '<id>([0-9]+)</id>', 1) AS BIGINT)    AS xml_id,
       regexp_extract(doc, '<brand>([^<]*)</brand>', 1)               AS xml_brand,
       CAST(regexp_extract(doc, '<size>([0-9]+)</size>', 1) AS INTEGER) AS xml_size
FROM x
""",
)
def fn_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML ingestion (from_xml, Spark 4's built-in XML support — the
    remaining wire format after JSON/CSV/parquet/ORC/Avro): synthesize a
    per-row XML document, parse it back through a declared schema. The
    oracle extracts the same fields with regexes — a genuine
    parser-vs-regex cross-check (entity handling, tag boundaries), the
    fn_url design applied to XML."""
    p = load(spark, sf_dir, "part")
    doc = F.concat(
        F.lit("<part><id>"), F.col("p_partkey").cast("string"),
        F.lit("</id><brand>"), F.col("p_brand"),
        F.lit("</brand><size>"), F.col("p_size").cast("string"),
        F.lit("</size></part>"),
    )
    x = p.select("p_partkey", doc.alias("doc"))
    parsed = x.select(
        "p_partkey",
        F.from_xml("doc", "id BIGINT, brand STRING, size INT").alias("px"),
    )
    return parsed.select(
        "p_partkey",
        F.col("px.id").alias("xml_id"),
        F.col("px.brand").alias("xml_brand"),
        F.col("px.size").alias("xml_size"),
    )


@register(
    "fn_haversine",
    oracle=f"""
WITH pts AS (
  SELECT s_suppkey,
         (s_nationkey * 7.3) - 80.0   AS lat,
         (s_suppkey % 360) - 180.0    AS lon
  FROM supplier
)
SELECT s_suppkey,
       {sql_round('lat', 4)} AS lat,
       {sql_round('lon', 4)} AS lon,
       {sql_round('''2 * 6371.0 * asin(sqrt(
           pow(sin(radians(lat - 48.8566) / 2), 2)
           + cos(radians(48.8566)) * cos(radians(lat))
             * pow(sin(radians(lon - 2.3522) / 2), 2)))''', 3)} AS km_to_paris
FROM pts
""",
)
def fn_haversine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Great-circle (haversine) distance — the geo primitive for
    proximity filters and geo-bucketed joins, composed from pure trig
    built-ins (radians/sin/cos/asin/sqrt — all codegen'd, no UDF, no geo
    library). Coordinates are synthesized deterministically from supplier
    keys; distances to a fixed anchor are rounded to 3dp (trig libm ulps)
    and checked against DuckDB's identical formula."""
    s = load(spark, sf_dir, "supplier")
    lat = (F.col("s_nationkey") * 7.3) - 80.0
    lon = (F.col("s_suppkey") % 360) - 180.0
    p = s.select("s_suppkey", lat.alias("lat"), lon.alias("lon"))
    alat, alon = 48.8566, 2.3522  # the fixed anchor (Paris)
    km = 2 * 6371.0 * F.asin(
        F.sqrt(
            F.pow(F.sin(F.radians(F.col("lat") - alat) / 2), 2)
            + F.cos(F.radians(F.lit(alat)))
            * F.cos(F.radians(F.col("lat")))
            * F.pow(F.sin(F.radians(F.col("lon") - alon) / 2), 2)
        )
    )
    return p.select(
        "s_suppkey",
        hround(F.col("lat"), 4).alias("lat"),
        hround(F.col("lon"), 4).alias("lon"),
        hround(km, 3).alias("km_to_paris"),
    )


@register(
    "fn_str_to_map",
    oracle="""
WITH kv AS (
  SELECT p_partkey,
         concat('brand:', p_brand, ';size:', CAST(p_size AS VARCHAR),
                ';type:', p_type) AS s
  FROM part
)
SELECT p_partkey,
       (map_extract(m, 'brand'))[1] AS brand,
       CAST((map_extract(m, 'size'))[1] AS INTEGER) AS size_i,
       (map_extract(m, 'type'))[1]  AS type_v,
       cardinality(m)               AS n_kv
FROM (
  SELECT p_partkey,
         map(list_transform(string_split(s, ';'), x -> string_split(x, ':')[1]),
             list_transform(string_split(s, ';'), x -> string_split(x, ':')[2])) AS m
  FROM kv
)
""",
)
def fn_str_to_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """str_to_map — the key=value wire-format parser (connection strings,
    tags, k8s labels): one call in Spark; DuckDB composes the same map
    from split pairs, so the check pins delimiter/ordering semantics
    across a built-in vs a from-parts construction. Colon splits take
    the FIRST colon only in both spellings (values here are colon-free
    by construction)."""
    p = load(spark, sf_dir, "part")
    s = F.concat(
        F.lit("brand:"), F.col("p_brand"),
        F.lit(";size:"), F.col("p_size").cast("string"),
        F.lit(";type:"), F.col("p_type"),
    )
    m = F.expr("str_to_map(s, ';', ':')")
    return p.select("p_partkey", s.alias("s")).select(
        "p_partkey",
        m.getItem("brand").alias("brand"),
        m.getItem("size").cast("int").alias("size_i"),
        m.getItem("type").alias("type_v"),
        F.size(m).alias("n_kv"),
    )


@register(
    "fn_aes_roundtrip",
    oracle="SELECT doc_id, substring(text, 1, 64) AS recovered FROM documents",
)
def fn_aes_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AES encrypt→decrypt round trip (aes_encrypt/aes_decrypt — the
    column-level encryption surface for PII-bearing replicas): ECB mode
    keeps the pair deterministic (GCM's random IV would break both the
    round trip comparison and any dedup on ciphertext — which is also
    why real deployments that need equality-preserving encryption accept
    ECB's leakage or use deterministic SIV). The oracle only sees the
    recovered plaintext: if either direction corrupted a byte, the
    identity fails."""
    docs = load(spark, sf_dir, "documents")
    key = F.lit("0123456789abcdef")  # 16-byte demo key
    clear = F.substring("text", 1, 64)
    cipher = F.aes_encrypt(clear.cast("binary"), key.cast("binary"), F.lit("ECB"))
    recovered = F.aes_decrypt(cipher, key.cast("binary"), F.lit("ECB")).cast("string")
    return docs.select("doc_id", recovered.alias("recovered"))


@register(
    "fn_levenshtein_threshold",
    oracle="""
SELECT p_partkey,
       CAST(levenshtein(p_brand, 'Brand#13') AS BIGINT) AS lev_full,
       CAST(CASE WHEN levenshtein(p_brand, 'Brand#13') <= 2
                 THEN levenshtein(p_brand, 'Brand#13') ELSE -1 END AS BIGINT) AS lev_capped
FROM part
""",
)
def fn_levenshtein_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Thresholded edit distance (3-arg levenshtein — Spark's banded-DP
    early exit): distances beyond the cap return -1 WITHOUT filling the
    full DP matrix, which is the difference between O(n·k) and O(n²) per
    comparison in an ER candidate loop (er_match_score's scoring would
    use exactly this cap in production). DuckDB has no threshold form —
    the oracle reproduces the CONTRACT (full distance, capped to -1)
    rather than the algorithm, which is the point of the check."""
    p = load(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.levenshtein("p_brand", F.lit("Brand#13")).cast("long").alias("lev_full"),
        F.levenshtein("p_brand", F.lit("Brand#13"), 2).cast("long").alias("lev_capped"),
    )


@register(
    "fn_encoding",
    oracle="""
SELECT p_partkey,
       to_base64(encode(p_brand))                         AS b64,
       decode(from_base64(to_base64(encode(p_name))))     AS b64_roundtrip,
       lower(hex(encode(p_type)))                         AS hex_type
FROM part
""",
)
def fn_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wire encodings (base64 / hex — attachment payloads, binary keys
    in JSON envelopes): encode, round-trip, and hex-dump string columns.
    Spark's base64() pads and chunks per RFC 2045, DuckDB's to_base64
    per RFC 4648 — identical output for these lengths (<57 bytes, no
    line breaks), which is exactly the compatibility surface worth
    pinning; hex case differs (upper vs lower) and is folded."""
    p = load(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.base64(F.col("p_brand").cast("binary")).alias("b64"),
        F.unbase64(F.base64(F.col("p_name").cast("binary"))).cast("string").alias(
            "b64_roundtrip"
        ),
        F.lower(F.hex(F.col("p_type").cast("binary"))).alias("hex_type"),
    )
