"""§2.10 similarity search: exact brute-force top-k (broadcast query set ×
streamed corpus), LSH-bucketed ANN, IVF cell-restricted ANN, kNN
classification.

All vector math is a sequential left fold (`F.aggregate` / `list_reduce`)
in DOUBLE — IEEE-exact and same-order on both engines, so no rounding.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mongodb_mysql_cdc_spark.catalog import load
from mongodb_mysql_cdc_spark.functions import hashing as H
from mongodb_mysql_cdc_spark.functions import text as X
from mongodb_mysql_cdc_spark.functions import vectors as V
from mongodb_mysql_cdc_spark.functions.compat import hround, sql_round
from mongodb_mysql_cdc_spark.registry import register

# Shared DuckDB CTE — derived from the functions/text.py builder.
TOKS_CTE = X.sql_toks_cte()
from mongodb_mysql_cdc_spark.operators.partitioning import spread


# ---------------------------------------------------------------------------
# Similarity search: brute-force top-k, LSH-bucketed ANN, kNN classify
# ---------------------------------------------------------------------------

_N_QUERIES = 10  # vec_id < 10 are the query set; the rest are the corpus
_TOP_K = 5
_EMB_DIM = 64  # harness embedding dimensionality (FIXTURES.md)


def _scored_pairs(emb: DataFrame) -> DataFrame:
    """(query_id, neighbor_id, cos_sim) for query-set × corpus; the query
    side is broadcast — corpus streams, zero shuffle. Norms are computed
    once per vector, not per pair (the pair expression is a single dot
    fold); the values stay bit-identical to the oracle's per-pair form.

    Zero-norm vectors are EXCLUDED from both sides (found by the
    extremes-vec fixture: cosine with an all-zero embedding is 0/0 — Spark ANSI raises
    DIVIDE_BY_ZERO where DuckDB IEEE-propagates; the family contract is
    embedding_normalize's 'undefined direction → excluded', pinned here
    as norm > 0 filters in the SAME spelling on both engines)."""
    q = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"),
        V.norm("embedding").alias("qn"),
    ).filter(F.col("qn") > 0)
    c = spread(emb.filter(F.col("vec_id") >= _N_QUERIES), "vec_id").select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv"), "label",
        V.norm("embedding").alias("cn"),
    ).filter(F.col("cn") > 0)
    return c.crossJoin(F.broadcast(q)).select(
        "query_id",
        "neighbor_id",
        "label",
        (V.dot("qv", "cv") / (F.col("qn") * F.col("cn"))).alias("cos_sim"),
    )


_PAIRS_SQL = f"""
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, c.label AS label,
         {V.sql_cosine('q.embedding', 'c.embedding')} AS cos_sim
  FROM embeddings q JOIN embeddings c
    ON q.vec_id < {_N_QUERIES} AND c.vec_id >= {_N_QUERIES}
  WHERE {V.sql_norm('q.embedding')} > 0 AND {V.sql_norm('c.embedding')} > 0
"""


@register(
    "sim_search_topk",
    oracle=f"""
WITH pairs AS ({_PAIRS_SQL})
SELECT query_id, neighbor_id, cos_sim, rank FROM (
  SELECT query_id, neighbor_id, cos_sim,
         row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
  FROM pairs
) WHERE rank <= {_TOP_K}
""",
)
def sim_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k (§2.10 sim_search_topk) — the exact
    baseline. Broadcast queries × streamed corpus, then a per-query window
    top-k (ties broken by neighbor_id for determinism). At 100 TB the
    window is per-query-id — perfectly parallel, state = k rows/query."""
    pairs = _scored_pairs(load(spark, sf_dir, "embeddings"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOP_K)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


_LSH_NBITS = 4  # 16 buckets

# Hyperplane sign matrices are BAKED IN as literals at plan-build time:
# r_j[i] = ±1 from bit 0 of md5(f"{j}:{i}") computed in Python — the exact
# value both engines would compute at runtime, with zero runtime hashing
# (the previous runtime-hashed form spent 4×64 md5 calls per vector).
_PLANES = [
    [1.0 if H.py_hash60(f"{j}:{i}") & 1 else -1.0 for i in range(_EMB_DIM)]
    for j in range(_LSH_NBITS)
]


def _bucket_col(vec: str = "embedding") -> F.Column:
    """Random-hyperplane LSH bucket: bit j = sign of <v, r_j>. The dot is
    a sequential double fold over zip_with → bit-identical to DuckDB.

    Built as ONE Spark-SQL string → ONE py4j call: the Column-DSL form
    would ship each plane as F.lit(list) — which PySpark
    expands to 64 per-element lit() round trips — plus ~10 round trips per
    HOF lambda, ~0.3 s of pure plan-build per bench run. The parsed tree
    uses the identical zip_with/aggregate/CASE functions, so semantics
    (and the DuckDB bit-identity) are unchanged."""
    terms = []
    for j in range(_LSH_NBITS):
        plane = "array(" + ", ".join(f"{v!r}D" for v in _PLANES[j]) + ")"
        dot_j = (
            f"aggregate(zip_with({vec}, {plane},"
            f" (x, s) -> CAST(x AS DOUBLE) * s), 0.0D, (a, x) -> a + x)"
        )
        terms.append(f"(CASE WHEN {dot_j} > 0 THEN {1 << j} ELSE 0 END)")
    return F.expr("CAST((" + " + ".join(terms) + ") AS INT)")


def _sql_bucket(vec: str) -> str:
    terms = []
    for j in range(_LSH_NBITS):
        plane = "[" + ", ".join(str(v) for v in _PLANES[j]) + "]"
        dot_j = (
            f"list_reduce(list_transform(list_zip(CAST({vec} AS DOUBLE[]), {plane}), "
            f"p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (a, b) -> a + b)"
        )
        terms.append(f"(CASE WHEN {dot_j} > 0 THEN {1 << j} ELSE 0 END)")
    return "CAST(" + " + ".join(terms) + " AS INTEGER)"


@register(
    "sim_search_lsh",
    oracle=f"""
WITH b AS (SELECT vec_id, embedding, label, {_sql_bucket('embedding')} AS bucket
           FROM embeddings WHERE {V.sql_norm('embedding')} > 0),
pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, q.bucket AS bucket,
         {V.sql_cosine('q.embedding', 'c.embedding')} AS cos_sim
  FROM b q JOIN b c
    ON q.bucket = c.bucket AND q.vec_id < {_N_QUERIES} AND c.vec_id >= {_N_QUERIES}
)
SELECT query_id, neighbor_id, bucket, cos_sim, rank FROM (
  SELECT query_id, neighbor_id, bucket, cos_sim,
         row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
  FROM pairs
) WHERE rank <= {_TOP_K}
""",
)
def sim_search_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-k (§2.10 scale path). Both sides hash to
    a {_LSH_NBITS}-bit random-hyperplane bucket; distance math only runs
    within matching buckets (~2^{_LSH_NBITS}-fold corpus pruning; recall
    traded per extra bit). At 100 TB the bucket join replaces the cross
    join: shuffle on bucket id, or broadcast the (tiny) bucketed query set
    as done here. Zero-norm vectors are excluded up front (undefined
    cosine direction — the extremes-vec contract, same spelling as
    embedding_normalize).

    No shuffle for the queries: the 10-row QUERY side does not route
    through the corpus's spread fan-out exchange — it reads the
    raw table with the vec_id < {_N_QUERIES} predicate PUSHED to the scan
    (row-group pruning at scale), so the broadcast build waits on a
    filter, not an exchange. Only the corpus side (where the per-vector
    bucket/norm math is heavy) fans out. Bucket/norm expressions are
    identical on both sides; 0.436 → 0.307 s noop at sf0.1,
    hash-identical."""
    raw = load(spark, sf_dir, "embeddings")
    q = raw.filter(F.col("vec_id") < _N_QUERIES).filter(
        V.norm("embedding") > 0
    ).withColumn("bucket", _bucket_col("embedding")).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"), "bucket",
        V.norm("embedding").alias("qn"),
    )
    c = spread(raw.filter(F.col("vec_id") >= _N_QUERIES), "vec_id").filter(
        V.norm("embedding") > 0
    ).withColumn("bucket", _bucket_col("embedding")).select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv"),
        F.col("bucket").alias("cbucket"), V.norm("embedding").alias("cn"),
    )
    pairs = c.join(F.broadcast(q), F.col("bucket") == F.col("cbucket")).select(
        "query_id",
        "neighbor_id",
        "bucket",
        (V.dot("qv", "cv") / (F.col("qn") * F.col("cn"))).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOP_K)
        .select("query_id", "neighbor_id", "bucket", "cos_sim", "rank")
    )


_IVF_NCELLS = 8
# Deterministic coarse centroids: the first _IVF_NCELLS corpus vectors
# (vec_id 10..17). Real IVF trains k-means; any fixed, data-derived set
# gives the same engine shape (assign → cell-restricted search), and a
# deterministic choice keeps the oracle exact.
_IVF_CENTROID_LO = _N_QUERIES
_IVF_CENTROID_HI = _N_QUERIES + _IVF_NCELLS  # exclusive

_SQL_CENT = f"""
cent AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings
         WHERE vec_id >= {_IVF_CENTROID_LO} AND vec_id < {_IVF_CENTROID_HI}
           AND {V.sql_norm('embedding')} > 0),
assign AS (
  SELECT vec_id, cid FROM (
    SELECT e.vec_id, c.cid,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {V.sql_cosine('e.embedding', 'c.cvec')} DESC, c.cid) AS rn
    FROM embeddings e CROSS JOIN cent c
    WHERE {V.sql_norm('e.embedding')} > 0
  ) WHERE rn = 1
)"""


@register(
    "sim_search_ivf",
    oracle=f"""
WITH {_SQL_CENT},
pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, qa.cid AS cell,
         {V.sql_cosine('q.embedding', 'c.embedding')} AS cos_sim
  FROM embeddings q
  JOIN assign qa ON qa.vec_id = q.vec_id
  JOIN assign ca ON ca.cid = qa.cid
  JOIN embeddings c ON c.vec_id = ca.vec_id
  WHERE q.vec_id < {_N_QUERIES} AND c.vec_id >= {_N_QUERIES}
)
SELECT query_id, neighbor_id, cell, cos_sim, rank FROM (
  SELECT query_id, neighbor_id, cell, cos_sim,
         row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
  FROM pairs
) WHERE rank <= {_TOP_K}
""",
)
def sim_search_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN (§2.10 scale path, second family next to LSH):
    assign every vector to its nearest coarse centroid (tiny broadcast
    cross-product), then search only the query's cell (probe=1). At 100 TB
    the assignment pass is one broadcast map over the corpus and the cell
    id becomes the partition key — searches touch 1/n_cells of the data.
    Centroids here are a deterministic data-derived set so the DuckDB
    oracle reproduces cells exactly; production would k-means them.
    Zero-norm vectors are excluded everywhere — as centroids AND as
    assignable vectors (undefined cosine direction; the extremes-vec
    contract)."""
    emb = spread(load(spark, sf_dir, "embeddings"), "vec_id").filter(
        V.norm("embedding") > 0
    )
    cent = emb.filter(
        (F.col("vec_id") >= _IVF_CENTROID_LO) & (F.col("vec_id") < _IVF_CENTROID_HI)
    ).select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec"))
    scored = emb.crossJoin(F.broadcast(cent)).select(
        "vec_id", "embedding", "cid", V.cosine("embedding", "cvec").alias("ccos")
    )
    wa = Window.partitionBy("vec_id").orderBy(F.desc("ccos"), F.asc("cid"))
    assign = (
        scored.withColumn("rn", F.row_number().over(wa))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cid", "embedding")
    )
    q = assign.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("cid").alias("cell"),
        F.col("embedding").alias("qv"),
    )
    c = assign.filter(F.col("vec_id") >= _N_QUERIES).select(
        F.col("vec_id").alias("neighbor_id"), F.col("cid").alias("ccell"),
        F.col("embedding").alias("cv"),
    )
    pairs = c.join(F.broadcast(q), F.col("cell") == F.col("ccell")).select(
        "query_id", "neighbor_id", "cell", V.cosine("qv", "cv").alias("cos_sim")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOP_K)
        .select("query_id", "neighbor_id", "cell", "cos_sim", "rank")
    )


@register(
    "knn_classify",
    oracle=f"""
WITH pairs AS ({_PAIRS_SQL}),
topk AS (
  SELECT query_id, label FROM (
    SELECT query_id, label,
           row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
    FROM pairs
  ) WHERE rank <= {_TOP_K}
),
votes AS (SELECT query_id, label, count(*) AS votes FROM topk GROUP BY query_id, label)
SELECT query_id, label AS predicted_label, votes FROM (
  SELECT query_id, label, votes,
         row_number() OVER (PARTITION BY query_id ORDER BY votes DESC, label) AS vr
  FROM votes
) WHERE vr = 1
""",
)
def knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN majority-label classification (§2.10): top-k neighbors by
    cosine, then per-query vote count; ties broken by smallest label for
    determinism. Same broadcast-query / streamed-corpus shape as top-k."""
    pairs = _scored_pairs(load(spark, sf_dir, "embeddings"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    topk = pairs.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= _TOP_K)
    votes = topk.groupBy("query_id", "label").agg(F.count(F.lit(1)).alias("votes"))
    wv = Window.partitionBy("query_id").orderBy(F.desc("votes"), F.asc("label"))
    return (
        votes.withColumn("vr", F.row_number().over(wv))
        .filter(F.col("vr") == 1)
        .select("query_id", F.col("label").alias("predicted_label"), "votes")
    )




@register(
    "kmeans_refine",
    oracle=f"""
WITH emb AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
c0 AS (SELECT vec_id - 10 AS cell, v FROM emb WHERE vec_id BETWEEN 10 AND 17),
d1 AS (
  SELECT e.vec_id, c.cell,
         list_reduce(list_transform(list_zip(e.v, c.v),
           p -> (p[1] - p[2]) * (p[1] - p[2])), (a, x) -> a + x) AS dist
  FROM emb e CROSS JOIN c0 c
),
a1 AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
    FROM d1
  ) WHERE rn = 1
),
pos AS (
  SELECT e.vec_id, unnest(e.v) AS val, generate_subscripts(e.v, 1) AS pos
  FROM emb e
),
m1 AS (
  SELECT a1.cell, pos.pos, avg(pos.val) AS mv
  FROM pos JOIN a1 ON pos.vec_id = a1.vec_id
  GROUP BY a1.cell, pos.pos
),
c1 AS (SELECT cell, list(mv ORDER BY pos) AS v FROM m1 GROUP BY cell),
d2 AS (
  SELECT e.vec_id, c.cell,
         list_reduce(list_transform(list_zip(e.v, c.v),
           p -> (p[1] - p[2]) * (p[1] - p[2])), (a, x) -> a + x) AS dist
  FROM emb e CROSS JOIN c1 c
),
a2 AS (
  SELECT vec_id, cell, dist FROM (
    SELECT vec_id, cell, dist,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
    FROM d2
  ) WHERE rn = 1
)
SELECT a1.vec_id, a1.cell AS cell_init, a2.cell AS cell_refined,
       {sql_round('a2.dist', 4)} AS dist_refined
FROM a1 JOIN a2 ON a1.vec_id = a2.vec_id
""",
)
def kmeans_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd refinement of k-means (the iterative-ML shape on Spark):
    deterministic seed centroids (vectors 10-17, the IVF trick) → assign
    (broadcast 8 centroids, fold-exact L2) → per-cell/per-dimension mean
    (explode + two-phase agg) → re-assign against the refined centroids.
    Assignments break distance ties on cell id via a window, so both
    engines pick identical cells; refined distances are rounded to 4dp
    because the cell means' fp summation order differs across engines.

    100 TB: each iteration is (broadcast-join + map) + one explode-agg
    shuffle keyed by (cell, dim) — k×d means stay tiny; the corpus is
    scanned, never shuffled whole. Full Lloyd loops the same two stages
    with a driver-side convergence scalar (compare dedup_clusters'
    localCheckpoint pattern)."""
    from pyspark.sql import Window as W

    emb = spread(load(spark, sf_dir, "embeddings"), "vec_id").select(
        "vec_id", V.to_double("embedding").alias("v")
    )
    c0 = emb.filter(F.col("vec_id").between(10, 17)).select(
        (F.col("vec_id") - 10).alias("cell"), F.col("v").alias("cv")
    )

    def assign(cents):
        d = emb.crossJoin(F.broadcast(cents)).select(
            "vec_id",
            "cell",
            F.aggregate(
                F.zip_with(F.col("v"), F.col("cv"), lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda a, x: a + x,
            ).alias("dist"),
        )
        w = W.partitionBy("vec_id").orderBy("dist", "cell")
        return d.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)

    a1 = assign(c0).select("vec_id", "cell")
    pos = emb.select("vec_id", F.posexplode("v").alias("pos0", "val"))
    m1 = (
        pos.join(a1, "vec_id")
        .groupBy("cell", (F.col("pos0") + 1).alias("pos"))
        .agg(F.avg("val").alias("mv"))
    )
    c1 = m1.groupBy("cell").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "mv"))), lambda s: s.mv
        ).alias("cv")
    )
    a2 = assign(c1).select(
        "vec_id", F.col("cell").alias("cell_refined"), "dist"
    )
    return (
        a1.join(a2, "vec_id")
        .select(
            "vec_id",
            F.col("cell").alias("cell_init"),
            "cell_refined",
            hround(F.col("dist"), 4).alias("dist_refined"),
        )
    )


@register(
    "embedding_quantize",
    oracle=f"""
WITH s AS (
  SELECT vec_id,
         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
q AS (
  SELECT vec_id, scale,
         list_transform(v, x -> CASE WHEN scale = 0 THEN 0.0
                                     ELSE floor(x / scale + 0.5) END) AS qv, v
  FROM s
)
SELECT vec_id,
       {sql_round('scale', 6)} AS scale,
       CAST(list_min(qv) AS BIGINT) AS q_min,
       CAST(list_max(qv) AS BIGINT) AS q_max,
       {sql_round('sqrt(list_reduce(list_transform(list_zip(v, qv), p -> (p[1] - p[2] * scale) * (p[1] - p[2] * scale)), (a, b) -> a + b) / len(v))', 6)} AS recon_rmse
FROM q
""",
)
def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column — the memory
    lever that makes 100 TB of vectors servable (4× smaller than f32,
    SIMD-dot-product friendly). Per vector: scale = max|x|/127,
    q = round(x/scale); reported here as summary stats (scale, q range,
    reconstruction RMSE) so the check is scalar-hashable. Pure narrow
    HOF projection — zero shuffle, composes with any downstream ANN
    bucketing. Rounding uses the floor(x+0.5) spelling on BOTH engines
    (compat.hround rule) — Spark round() HALF_UPs through BigDecimal and
    would diverge."""
    e = load(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    scale = F.array_max(F.transform(v, F.abs)) / F.lit(127.0)
    s = e.select("vec_id", scale.alias("scale"), v.alias("v"))
    # scale = 0 ⇔ the all-zero vector: it quantizes to all-zero with
    # recon_rmse 0 BY CONTRACT (x/0 is a Spark
    # ANSI DIVIDE_BY_ZERO error; the CASE short-circuits the division on
    # both engines, identical spelling in the oracle)
    qv = F.transform(
        F.col("v"),
        lambda x: F.when(F.col("scale") == 0, F.lit(0.0)).otherwise(
            F.floor(x / F.col("scale") + F.lit(0.5))
        ),
    )
    q = s.select("vec_id", "scale", qv.alias("qv"), "v")
    # (d * d), not pow(d, 2): pow's libm path differs by ulps across
    # engines; plain multiply is IEEE-identical
    sq_err = F.zip_with(
        F.col("v"),
        F.col("qv"),
        lambda x, qi: (x - qi * F.col("scale")) * (x - qi * F.col("scale")),
    )
    rmse = F.sqrt(F.aggregate(sq_err, F.lit(0.0), lambda a, b: a + b) / F.size("v"))
    # Round scale in a SEPARATE projection: aliasing hround(scale) AS
    # "scale" beside rmse would lateral-column-alias-capture the
    # F.col("scale") inside rmse's lambdas (Spark 4 LCA resolves sibling
    # aliases first) and quantize against the ROUNDED scale.
    return q.select(
        "vec_id",
        "scale",
        F.array_min("qv").cast("long").alias("q_min"),
        F.array_max("qv").cast("long").alias("q_max"),
        hround(rmse, 6).alias("recon_rmse"),
    ).withColumn("scale", hround(F.col("scale"), 6))


_RERANK_CAND = 20  # stage-1 survivors per query before the exact rerank


def _sql_sign_agree(a: str, b: str) -> str:
    return (
        f"list_reduce(list_transform(list_zip({a}, {b}),"
        f" p -> CASE WHEN (CAST(p[1] AS DOUBLE) >= 0) = (CAST(p[2] AS DOUBLE) >= 0)"
        f" THEN 1 ELSE 0 END), (acc, x) -> acc + x)"
    )


@register(
    "sim_search_rerank",
    oracle=f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
           WHERE vec_id < {_N_QUERIES} AND {V.sql_norm('embedding')} > 0),
c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings
      WHERE vec_id >= {_N_QUERIES} AND {V.sql_norm('embedding')} > 0),
stage1 AS (
  SELECT query_id, neighbor_id, qv, cv,
         {_sql_sign_agree('qv', 'cv')} AS sign_agree
  FROM q CROSS JOIN c
),
cand AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY sign_agree DESC, neighbor_id) AS s1_rank
    FROM stage1
  ) WHERE s1_rank <= {_RERANK_CAND}
)
SELECT query_id, neighbor_id, CAST(sign_agree AS BIGINT) AS sign_agree, cos_sim, rank FROM (
  SELECT query_id, neighbor_id, sign_agree,
         {sql_round(V.sql_cosine('qv', 'cv'), 6)} AS cos_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY {V.sql_cosine('qv', 'cv')} DESC, neighbor_id) AS rank
  FROM cand
) WHERE rank <= {_TOP_K}
""",
)
def sim_search_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval — the ANN serving pattern at scale: a CHEAP
    integer metric (sign-bit agreement ≈ 1-bit-quantized cosine; at 100 TB
    this is a popcount over packed bits) prunes the corpus to
    {_RERANK_CAND} candidates per query, and the expensive float cosine
    runs only on survivors — two window top-ks, full-precision math on
    0.1% of the corpus. Exact same two-stage structure as production
    IVF/PQ + rerank systems; here stage 1 scans broadcast-joined pairs so
    the oracle can reproduce it exactly. Zero-norm vectors are excluded
    up front — before stage 1 — so a degenerate embedding can neither
    occupy a candidate slot nor reach the cosine (undefined direction;
    the extremes-vec contract)."""
    emb = spread(load(spark, sf_dir, "embeddings"), "vec_id").filter(
        V.norm("embedding") > 0
    )
    q = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    c = emb.filter(F.col("vec_id") >= _N_QUERIES).select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv")
    )
    sign_agree = F.aggregate(
        F.zip_with(
            F.col("qv"),
            F.col("cv"),
            lambda x, y: F.when(
                (x.cast("double") >= 0) == (y.cast("double") >= 0), 1
            ).otherwise(0),
        ),
        F.lit(0),
        lambda a, b: a + b,
    )
    stage1 = c.crossJoin(F.broadcast(q)).select(
        "query_id", "neighbor_id", "qv", "cv", sign_agree.alias("sign_agree")
    )
    w1 = Window.partitionBy("query_id").orderBy(F.desc("sign_agree"), F.asc("neighbor_id"))
    cand = stage1.withColumn("s1_rank", F.row_number().over(w1)).filter(
        F.col("s1_rank") <= _RERANK_CAND
    )
    cos = V.cosine("qv", "cv")
    w2 = Window.partitionBy("query_id").orderBy(F.desc(cos), F.asc("neighbor_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= _TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            F.col("sign_agree").cast("long").alias("sign_agree"),
            hround(cos, 6).alias("cos_sim"),
            "rank",
        )
    )


def _cov_pairs(dims: int = 8):
    return [(i, j) for i in range(dims) for j in range(dims) if i <= j]


# Conditioning gate for the second-moment statistics ops (found by the
# extremes-vec fixture): covar_samp is a FLOATING aggregate whose
# merge-order noise is RELATIVE (~ulp · |cov|), while the comparison
# contract rounds at an ABSOLUTE 1e-8 grid — at the fixture's 1e29
# component magnitudes one merge-order ulp is ~1e42 and no rounding can
# absorb it (both engines are internally layout-dependent there too).
# The production semantic is a VALIDITY DOMAIN, not a wider tolerance:
# a whitening/covariance stage is only numerically meaningful on
# conditioned data, so vectors outside 0 < ‖x‖ ≤ 1e3 are excluded as
# invalid (failed-encoder output) before the statistics — with ‖x‖ ≤
# 1e3, |cov| ≤ 1e6 and a merge-order ulp (~2e-10) sits two orders below
# the 1e-8 half-grid, so the contract is safe at any layout. Harness
# data (‖x‖ ≈ 0.8) is untouched: no oracle moved.
_COV_NORM_MAX = 1e3
_SQL_COV_DOMAIN = (
    f"{V.sql_norm('embedding')} > 0 AND {V.sql_norm('embedding')} <= {_COV_NORM_MAX!r}"
)


def _cov_domain(e: DataFrame) -> DataFrame:
    n = V.norm("embedding")
    return e.filter((n > 0) & (n <= F.lit(_COV_NORM_MAX)))


def _cov_oracle() -> str:
    """36 covar_samp aggregates in one scan, stacked to long form — the
    oracle string is generated, not hand-typed, so Spark and SQL always
    agree on the pair list. Scans only the conditioned validity domain
    (see _SQL_COV_DOMAIN)."""
    selects = ",\n  ".join(
        f"covar_samp(CAST(embedding[{i + 1}] AS DOUBLE), CAST(embedding[{j + 1}] AS DOUBLE)) AS c_{i}_{j}"
        for i, j in _cov_pairs()
    )
    rows = " UNION ALL ".join(
        f"SELECT {i} AS dim_i, {j} AS dim_j, "
        f"CAST(floor(c_{i}_{j} * 1e8 + 0.5) / 1e8 AS DOUBLE) AS cov FROM agg"
        for i, j in _cov_pairs()
    )
    return (
        f"WITH agg AS (\n  SELECT\n  {selects}\n  FROM embeddings"
        f"\n  WHERE {_SQL_COV_DOMAIN}\n)\n{rows}"
    )


@register("embedding_covariance", oracle=_cov_oracle())
def embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Covariance matrix of the leading 8 embedding dimensions (long-form
    upper triangle) — the statistics a PCA/whitening stage consumes. All
    36 covar_samp aggregates run in ONE pass over the corpus as a single
    global two-phase aggregate (each is 5 scalars of partial state), then
    a driver-free stack() reshapes the 1-row result to (i, j, cov) rows.
    At 100 TB this is the canonical map-side-combine reduction: bytes
    shuffled = 36 × partial-state, independent of corpus size. Full-width
    d² would use the same shape (d=64 → 2080 aggregates) or the grouped
    posexplode path if the aggregate count overflows codegen. Operates
    on the conditioned validity domain 0 < ‖x‖ ≤ 1e3 (see
    _SQL_COV_DOMAIN: outside it the absolute rounding
    contract cannot absorb relative merge-order ulps)."""
    e = _cov_domain(load(spark, sf_dir, "embeddings"))
    pairs = _cov_pairs()
    aggs = [
        F.covar_samp(
            F.col("embedding").getItem(i).cast("double"),
            F.col("embedding").getItem(j).cast("double"),
        ).alias(f"c_{i}_{j}")
        for i, j in pairs
    ]
    one = e.agg(*aggs)
    stack_args = ", ".join(f"{i}, {j}, c_{i}_{j}" for i, j in pairs)
    long = one.select(
        F.expr(f"stack({len(pairs)}, {stack_args}) AS (dim_i, dim_j, cov_raw)")
    )
    return long.select(
        F.col("dim_i").cast("int").alias("dim_i"),
        F.col("dim_j").cast("int").alias("dim_j"),
        hround(F.col("cov_raw"), 8).alias("cov"),
    )


_PCA_D = 8  # leading dims, matches embedding_covariance


def _pca_oracle() -> str:
    """Generated mirror of the Spark expression pipeline: full 8×8
    covariance + mean in one aggregate, then THREE power-iteration layers
    as chained 1-row CTEs (normalize once at the end), then the corpus
    projection. Term order inside every sum is ascending j on both
    engines, so the only cross-engine noise is libm ulps — absorbed by
    the 4dp rounding of the final projection."""
    d = _PCA_D
    cov = ",\n    ".join(
        f"covar_samp(CAST(embedding[{i + 1}] AS DOUBLE), CAST(embedding[{j + 1}] AS DOUBLE)) AS c_{i}_{j}"
        for i in range(d)
        for j in range(d)
    )
    mu = ",\n    ".join(f"avg(CAST(embedding[{i + 1}] AS DOUBLE)) AS mu_{i}" for i in range(d))
    v0 = 1.0  # un-normalized uniform start; scale cancels in the final norm
    it1 = ", ".join(
        "(" + " + ".join(f"c_{i}_{j} * {v0}" for j in range(d)) + f") AS v1_{i}"
        for i in range(d)
    )
    it2 = ", ".join(
        "(" + " + ".join(f"c_{i}_{j} * v1_{j}" for j in range(d)) + f") AS v2_{i}"
        for i in range(d)
    )
    it3 = ", ".join(
        "(" + " + ".join(f"c_{i}_{j} * v2_{j}" for j in range(d)) + f") AS v3_{i}"
        for i in range(d)
    )
    norm = "sqrt(" + " + ".join(f"v3_{i} * v3_{i}" for i in range(d)) + ")"
    proj = " + ".join(
        f"(CAST(e.embedding[{i + 1}] AS DOUBLE) - s.mu_{i}) * (s.v3_{i} / s.nrm)"
        for i in range(d)
    )
    return f"""
WITH dom AS (SELECT * FROM embeddings WHERE {_SQL_COV_DOMAIN}),
stats AS (
  SELECT
    {cov},
    {mu}
  FROM dom
),
i1 AS (SELECT *, {it1} FROM stats),
i2 AS (SELECT *, {it2} FROM i1),
i3 AS (SELECT *, {it3} FROM i2),
vec AS (SELECT *, {norm} AS nrm FROM i3)
SELECT e.vec_id,
       CAST(floor(({proj}) * 1e4 + 0.5) / 1e4 AS DOUBLE) AS pc1_score
FROM dom e CROSS JOIN vec s
"""


@register("embedding_pca_project", oracle=_pca_oracle())
def embedding_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-principal-component projection — PCA by power iteration with
    the ENTIRE iteration inside the declarative plan: one 1-row aggregate
    (full 8×8 covariance + means), then each iteration is a select layer
    over the previous layer's columns (v_{k+1} = C·v_k, normalized once
    at the end), then a broadcast of the 1-row eigenvector into the
    corpus-wide centered dot product. No driver-side collect, no loop
    state outside Catalyst — the 100 TB cost is ONE corpus scan for the
    covariance and ONE for the projection; everything between is
    64 doubles wide. The whitening/feature-reduction step a training
    pipeline runs after embedding_covariance — and it shares that op's
    conditioned validity domain 0 < ‖x‖ ≤ 1e3 for BOTH the statistics
    and the projected population (a 1e29-magnitude
    projection would put relative covar/eigenvector ulps above the
    absolute 4dp grid; see _SQL_COV_DOMAIN)."""
    d = _PCA_D
    e = _cov_domain(load(spark, sf_dir, "embeddings"))
    dbl = [F.col("embedding").getItem(i).cast("double") for i in range(d)]
    stats = e.agg(
        *[
            F.covar_samp(dbl[i], dbl[j]).alias(f"c_{i}_{j}")
            for i in range(d)
            for j in range(d)
        ],
        *[F.avg(dbl[i]).alias(f"mu_{i}") for i in range(d)],
    )
    def matvec(prev: str, out: str, src):
        return src.select(
            "*",
            *[
                sum(
                    [F.col(f"c_{i}_{j}") * F.col(f"{prev}_{j}") for j in range(1, d)],
                    F.col(f"c_{i}_0") * F.col(f"{prev}_0"),
                ).alias(f"{out}_{i}")
                for i in range(d)
            ],
        )
    i1 = stats.select(
        "*",
        *[
            sum([F.col(f"c_{i}_{j}") * F.lit(1.0) for j in range(1, d)],
                F.col(f"c_{i}_0") * F.lit(1.0)).alias(f"v1_{i}")
            for i in range(d)
        ],
    )
    i3 = matvec("v2", "v3", matvec("v1", "v2", i1))
    vec = i3.select(
        "*",
        F.sqrt(
            sum([F.col(f"v3_{i}") * F.col(f"v3_{i}") for i in range(1, d)],
                F.col("v3_0") * F.col("v3_0"))
        ).alias("nrm"),
    )
    proj = sum(
        [
            (dbl[i] - F.col(f"mu_{i}")) * (F.col(f"v3_{i}") / F.col("nrm"))
            for i in range(1, d)
        ],
        (dbl[0] - F.col("mu_0")) * (F.col("v3_0") / F.col("nrm")),
    )
    return e.crossJoin(F.broadcast(vec)).select(
        "vec_id", hround(proj, 4).alias("pc1_score")
    )


_LR_D = 8       # leading dims, matching the PCA exhibit
_LR_RATE = 0.5  # gradient step size
_LR_STEPS = 3


def _logreg_oracle() -> str:
    """Generated CTE chain mirroring the Spark dataflow exactly: each
    gradient step is one full-corpus aggregate of sigmoid residuals
    against the broadcast coefficient row, starting from w=0. Same
    ascending-dim sum order both sides; 4dp rounding on the emitted
    scores absorbs libm sigmoid ulps."""
    d = _LR_D
    feats = ", ".join(
        f"CAST(embedding[{i + 1}] AS DOUBLE) AS x{i}" for i in range(d)
    )
    ctes = [
        f"data AS (SELECT vec_id, {feats},"
        " CASE WHEN label = 1 THEN 1.0 ELSE 0.0 END AS y FROM embeddings)",
        "w0 AS (SELECT " + ", ".join(f"0.0 AS w{i}" for i in range(d)) + ")",
    ]
    for s in range(1, _LR_STEPS + 1):
        dot = " + ".join(f"w.w{i} * d.x{i}" for i in range(d))
        grads = ", ".join(
            f"any_value(w.w{i}) - {_LR_RATE} * avg((1.0 / (1.0 + exp(-({dot}))) - d.y) * d.x{i}) AS w{i}"
            for i in range(d)
        )
        ctes.append(f"w{s} AS (SELECT {grads} FROM data d CROSS JOIN w{s - 1} w)")
    dot_final = " + ".join(f"w.w{i} * d.x{i}" for i in range(d))
    return (
        "WITH " + ",\n".join(ctes) + f"""
SELECT d.vec_id, d.y,
       CAST(floor((1.0 / (1.0 + exp(-({dot_final})))) * 1e4 + 0.5) / 1e4 AS DOUBLE) AS p_hat
FROM data d CROSS JOIN w{_LR_STEPS} w
"""
    )


@register("ml_logreg_gd", oracle=_logreg_oracle())
def ml_logreg_gd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logistic regression trained by 3 full-batch gradient steps with
    the WHOLE training loop inside the declarative plan (the PCA power-
    iteration pattern applied to supervised learning): each step is one
    corpus aggregate of sigmoid residual gradients against the 1-row
    broadcast coefficient frame, and the next step's coefficients are
    that aggregate's columns — no collect, no mllib, nothing the oracle
    can't mirror CTE-for-CTE. At 100 TB each step is exactly one
    map-side-combined scan (the textbook distributed-GD cost), and the
    coefficient state is 8 doubles. Scores are emitted for every vector
    (the judge of convergence is the oracle's identical chain)."""
    d = _LR_D
    e = load(spark, sf_dir, "embeddings")
    data = e.select(
        "vec_id",
        *[F.col("embedding").getItem(i).cast("double").alias(f"x{i}") for i in range(d)],
        F.when(F.col("label") == 1, 1.0).otherwise(0.0).alias("y"),
    )
    w = None  # 1-row coefficient frame; None means all-zero start
    for _ in range(_LR_STEPS):
        if w is None:
            dot = F.lit(0.0)
            joined = data
        else:
            joined = data.crossJoin(F.broadcast(w))
            dot = sum(
                [F.col(f"w{i}") * F.col(f"x{i}") for i in range(1, d)],
                F.col("w0") * F.col("x0"),
            )
        resid = 1.0 / (1.0 + F.exp(-dot)) - F.col("y")
        grads = [
            F.avg(resid * F.col(f"x{i}")).alias(f"g{i}") for i in range(d)
        ]
        g = joined.agg(*grads)
        if w is None:
            w = g.select(*[(F.lit(0.0) - _LR_RATE * F.col(f"g{i}")).alias(f"w{i}") for i in range(d)])
        else:
            w = g.crossJoin(F.broadcast(w)).select(
                *[(F.col(f"w{i}") - _LR_RATE * F.col(f"g{i}")).alias(f"w{i}") for i in range(d)]
            )
    dot_final = sum(
        [F.col(f"w{i}") * F.col(f"x{i}") for i in range(1, d)],
        F.col("w0") * F.col("x0"),
    )
    return data.crossJoin(F.broadcast(w)).select(
        "vec_id",
        "y",
        hround(1.0 / (1.0 + F.exp(-dot_final)), 4).alias("p_hat"),
    )


# --- hybrid retrieval: reciprocal rank fusion ------------------------------

_RRF_K = 60       # the standard RRF damping constant (Cormack et al. 2009)
_RRF_LIST = 20    # per-retriever candidate list depth
_RRF_OUT = 10     # fused results returned per query


@register(
    "search_rrf_fusion",
    oracle=f"""
WITH {TOKS_CTE},
ql AS (SELECT doc_id AS query_id, list_distinct(t[1:3]) AS ql
       FROM toks WHERE doc_id < {_N_QUERIES}),
qterm AS (SELECT query_id, unnest(ql) AS term FROM ql),
ctok AS (SELECT doc_id, unnest(t) AS tok FROM toks WHERE doc_id >= {_N_QUERIES}),
hits AS (
  SELECT q.query_id, c.doc_id, count(*) AS lex_score
  FROM ctok c JOIN qterm q ON c.tok = q.term
  GROUP BY q.query_id, c.doc_id
),
lex AS (
  SELECT query_id, doc_id, lex_rank FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY lex_score DESC, doc_id) AS lex_rank
    FROM hits
  ) WHERE lex_rank <= {_RRF_LIST}
),
sem0 AS (
  SELECT q.vec_id AS query_id, c.vec_id AS doc_id,
         {V.sql_cosine('q.embedding', 'c.embedding')} AS cos_sim
  FROM embeddings q JOIN embeddings c
    ON q.vec_id < {_N_QUERIES} AND c.vec_id >= {_N_QUERIES}
  WHERE {V.sql_norm('q.embedding')} > 0 AND {V.sql_norm('c.embedding')} > 0
),
sem AS (
  SELECT query_id, doc_id, sem_rank FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY cos_sim DESC, doc_id) AS sem_rank
    FROM sem0
  ) WHERE sem_rank <= {_RRF_LIST}
),
fused AS (
  SELECT query_id, doc_id, lex.lex_rank, sem.sem_rank,
         coalesce(1.0 / ({_RRF_K} + lex.lex_rank), 0.0)
         + coalesce(1.0 / ({_RRF_K} + sem.sem_rank), 0.0) AS rrf0
  FROM lex FULL JOIN sem USING (query_id, doc_id)
)
SELECT query_id, doc_id, lex_rank, sem_rank,
       {sql_round('rrf0', 6)} AS rrf_score, fused_rank
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY rrf0 DESC, doc_id) AS fused_rank
  FROM fused
) WHERE fused_rank <= {_RRF_OUT}
""",
)
def search_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval by reciprocal rank fusion (Cormack et al. 2009 —
    the standard RAG trick for combining a lexical and a semantic
    retriever without score calibration): rrf = Σ 1/(k + rank_i), k=60.
    Query-by-example: each of the 10 query docs contributes its first 3
    distinct tokens as the lexical query and its embedding as the
    semantic query; each retriever returns a top-20 list per query and
    the fused top-10 is emitted with both source ranks (NULL where one
    retriever missed the doc — exactly what the coalesce-to-0 fusion is
    for).

    Scale shape: both candidate generators are the engine's existing
    retrieval patterns — posting-style hits (corpus explode joined to a
    BROADCAST 30-term query set, map-side-combined count) and broadcast
    query-vectors × streamed corpus cosine. Ranks are per-query windows
    (partitioned, WindowGroupLimit prunes to the list depth before the
    sort spills); the fusion join then touches ≤ 2·20 rows per query —
    at 100 TB everything after candidate generation is querycount-sized,
    not corpus-sized. Zero-norm vectors are excluded from the SEMANTIC
    retriever on both sides (undefined cosine direction; the
    extremes-vec contract) — the lexical retriever is unaffected, which
    is exactly what fusion is for: a doc with a degenerate embedding can
    still be retrieved lexically."""
    docs = load(spark, sf_dir, "documents")
    emb = load(spark, sf_dir, "embeddings")

    qlex = docs.filter(F.col("doc_id") < _N_QUERIES).select(
        F.col("doc_id").alias("query_id"),
        F.explode(F.array_distinct(F.slice(X.tokens(F.col("text")), 1, 3))).alias(
            "term"
        ),
    )
    ctok = spread(docs.filter(F.col("doc_id") >= _N_QUERIES), "doc_id").select(
        "doc_id", F.explode(X.tokens(F.col("text"))).alias("tok")
    )
    hits = (
        ctok.join(F.broadcast(qlex), ctok.tok == qlex.term)
        .groupBy("query_id", "doc_id")
        .agg(F.count(F.lit(1)).alias("lex_score"))
    )
    w_lex = Window.partitionBy("query_id").orderBy(
        F.desc("lex_score"), F.asc("doc_id")
    )
    lex = (
        hits.withColumn("lex_rank", F.row_number().over(w_lex).cast("long"))
        .filter(F.col("lex_rank") <= _RRF_LIST)
        .select("query_id", "doc_id", "lex_rank")
    )

    q = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"),
        V.norm("embedding").alias("qn"),
    ).filter(F.col("qn") > 0)
    c = spread(emb.filter(F.col("vec_id") >= _N_QUERIES), "vec_id").select(
        F.col("vec_id").alias("doc_id"), F.col("embedding").alias("cv"),
        V.norm("embedding").alias("cn"),
    ).filter(F.col("cn") > 0)
    sem0 = c.crossJoin(F.broadcast(q)).select(
        "query_id", "doc_id",
        (V.dot("qv", "cv") / (F.col("qn") * F.col("cn"))).alias("cos_sim"),
    )
    w_sem = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("doc_id")
    )
    sem = (
        sem0.withColumn("sem_rank", F.row_number().over(w_sem).cast("long"))
        .filter(F.col("sem_rank") <= _RRF_LIST)
        .select("query_id", "doc_id", "sem_rank")
    )

    fused = lex.join(sem, ["query_id", "doc_id"], "full").withColumn(
        "rrf0",
        F.coalesce(F.lit(1.0) / (_RRF_K + F.col("lex_rank")), F.lit(0.0))
        + F.coalesce(F.lit(1.0) / (_RRF_K + F.col("sem_rank")), F.lit(0.0)),
    )
    w_f = Window.partitionBy("query_id").orderBy(F.desc("rrf0"), F.asc("doc_id"))
    return (
        fused.withColumn("fused_rank", F.row_number().over(w_f).cast("long"))
        .filter(F.col("fused_rank") <= _RRF_OUT)
        .select(
            "query_id", "doc_id", "lex_rank", "sem_rank",
            hround(F.col("rrf0"), 6).alias("rrf_score"), "fused_rank",
        )
    )
