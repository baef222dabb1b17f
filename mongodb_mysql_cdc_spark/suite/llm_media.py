"""§2.10 multimodal columns + the Python-UDF surface.

Binary payloads (real WAV/BMP containers synthesized per document) ride
as BinaryType columns; decode is a REAL header parser over Arrow-batched
mapInPandas (operators/multimodal.py).
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
from mongodb_mysql_cdc_spark.operators.multimodal import (
    audio_features,
    decode_media,
    phash_bmp,
    synth_media,
    with_payload,
)


# ---------------------------------------------------------------------------
# Multimodal columns
# ---------------------------------------------------------------------------


@register(
    "multimodal_meta",
    oracle="""
SELECT doc_id, 'text/plain' AS media_type, octet_length(encode(text)) AS n_bytes,
       md5(text) AS content_md5, lang AS meta_lang, source AS meta_source
FROM documents
""",
)
def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary payload plumbing (§2.10 multimodal_cols): media rows
    carry a BinaryType payload + typed metadata struct through ordinary
    relational ops — byte length, content hash, metadata projection all
    JVM-side. The payload here is the UTF-8 encoded text standing in for
    image/audio bytes; the column shapes are what matter."""
    media = with_payload(load(spark, sf_dir, "documents"))
    return media.select(
        "doc_id",
        "media_type",
        F.length("payload").alias("n_bytes"),
        F.md5("payload").alias("content_md5"),
        F.col("meta.lang").alias("meta_lang"),
        F.col("meta.source").alias("meta_source"),
    )


@register(
    "udf_surface",
    oracle="""
SELECT doc_id,
       length(text) AS n_chars_udf,
       upper(string_split(text, ' ')[1]) AS first_token_upper
FROM documents
""",
)
def udf_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Python UDF escape hatch (§2.10 udf_surface), both tiers:
    a vectorized Arrow pandas_udf (Series→Series, the ONLY acceptable form
    in a hot path) and a row-at-a-time F.udf (shown for surface
    completeness; ~10-100× slower — never put one on the 100 TB path).
    Deterministic string ops make even arbitrary Python oracle-checkable."""
    from pyspark.sql.functions import pandas_udf, udf

    # lambda form: PySpark resolves type hints in module scope, so hinting
    # pd.Series from a function-local import fails — returnType suffices
    char_len = pandas_udf(lambda s: s.str.len(), "long")
    first_token_upper = udf(lambda text: text.split(" ")[0].upper(), "string")

    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        char_len("text").alias("n_chars_udf"),
        first_token_upper("text").alias("first_token_upper"),
    )


@register(
    "multimodal_frames",
    oracle="""
SELECT d.doc_id,
       CAST(t.k AS INTEGER) AS frame_no,
       substring(hex(encode(d.text)), CAST(t.k * 256 + 1 AS BIGINT), 64) AS frame_hex
FROM documents d
CROSS JOIN LATERAL (
  SELECT unnest(range(least(4,
    CAST(ceil(octet_length(encode(d.text)) / 128.0) AS BIGINT)))) AS k
) t
""",
)
def multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic frame sampling over the binary payload (§2.10
    multimodal_cols, the video path): fixed-size byte windows every
    ``stride`` bytes stand in for ffmpeg keyframe extraction. The row
    blow-up happens at the edge, post-filter — the 100 TB-safe place.

    Oracle note: frames are BYTE slices of the payload (mapInPandas —
    exact bytes pinned by tests/test_llm.py), emitted as UPPERCASE HEX on
    both engines. Casting the raw slice to string would need an all-ASCII
    corpus: a byte window cutting through a multi-byte codepoint yields
    invalid UTF-8, which survives collect() but crashes the driver's
    Arrow toPandas path ('Wrapping … failed'). DuckDB has no BLOB
    substring, but hex(BLOB) is pure ASCII, so a CHARACTER slice of the
    hex at 2× offsets IS the byte slice — byte-exact cross-engine parity
    at ANY corpus (both engines emit uppercase hex; verified
    char-identical on multi-byte input)."""
    from mongodb_mysql_cdc_spark.operators.multimodal import sample_frames

    media = with_payload(load(spark, sf_dir, "documents"))
    frames = sample_frames(media, frame_bytes=32, stride=128, max_frames=4)
    return frames.select(
        "doc_id", "frame_no", F.hex(F.col("frame")).alias("frame_hex")
    )


@register(
    "multimodal_decode",
    oracle="""
WITH wav AS (
  SELECT doc_id, 64 + doc_id % 64 AS n_samples FROM documents WHERE doc_id % 2 = 0
),
wav_feat AS (
  SELECT w.doc_id, 'audio/wav' AS media_type,
         CAST(44 + 2 * w.n_samples AS BIGINT) AS n_bytes,
         CAST(NULL AS BIGINT) AS width, CAST(NULL AS BIGINT) AS height,
         CAST(8000 AS BIGINT) AS sample_rate,
         CAST(w.n_samples AS BIGINT) AS n_samples,
         CAST(w.n_samples AS DOUBLE) * 1000.0 / 8000.0 AS duration_ms,
         avg(abs(CAST((w.doc_id * 31 + t.i * 17) % 2048 - 1024 AS DOUBLE))) AS signal_mean
  FROM wav w CROSS JOIN LATERAL (SELECT unnest(range(w.n_samples)) AS i) t
  GROUP BY ALL
),
bmp AS (
  SELECT doc_id, 4 + doc_id % 8 AS w, 4 AS h FROM documents WHERE doc_id % 2 = 1
),
bmp_feat AS (
  SELECT b.doc_id, 'image/bmp' AS media_type,
         CAST(54 + b.h * ((3 * b.w + 3) // 4 * 4) AS BIGINT) AS n_bytes,
         CAST(b.w AS BIGINT) AS width, CAST(b.h AS BIGINT) AS height,
         CAST(NULL AS BIGINT) AS sample_rate, CAST(NULL AS BIGINT) AS n_samples,
         CAST(NULL AS DOUBLE) AS duration_ms,
         avg(CAST((b.doc_id * 7 + x.x * 3 + y.y * 13) % 256 AS DOUBLE)) AS signal_mean
  FROM bmp b
  CROSS JOIN LATERAL (SELECT unnest(range(b.w)) AS x) x
  CROSS JOIN LATERAL (SELECT unnest(range(b.h)) AS y) y
  GROUP BY ALL
)
SELECT * FROM wav_feat UNION ALL SELECT * FROM bmp_feat
""",
)
def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL decode over Arrow-batched mapInPandas (§2.10): synth_media
    manufactures genuine PCM16 WAV / 24-bit BMP containers per document,
    decode_media chunk-walks and header-parses them back (struct + numpy).
    The oracle recomputes every feature ANALYTICALLY from the generator
    formulas (generate_series, no byte handling), so a broken byte layout,
    header offset, padding rule, or sample decode shows up as a value
    mismatch. Signal means are exact: all partial sums are integers below
    2^53, so fp summation order cannot diverge between engines."""
    return decode_media(synth_media(load(spark, sf_dir, "documents")))


@register(
    "udf_grouped_agg",
    oracle=f"""
SELECT event_type,
       {sql_round('regr_slope(value, CAST(user_id AS DOUBLE))', 4)} AS slope,
       {sql_round('regr_intercept(value, CAST(user_id AS DOUBLE))', 4)} AS intercept,
       count(*) AS n
FROM events
GROUP BY event_type
""",
)
def udf_grouped_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The grouped-map UDAF tier of the Python surface (§2.10
    udf_surface; scalar pandas_udf and row-UDF tiers live in
    udf_surface, mapInPandas in multimodal_*): per event_type, an OLS
    fit of value on user_id via GroupedData.applyInPandas — arbitrary
    per-group Python over an Arrow batch. Matches DuckDB's
    regr_slope/regr_intercept through the covariance closed form;
    4dp rounding absorbs summation-order ulps.

    100 TB: one shuffle on the group key; each group must fit one
    executor's Arrow batch — with low-cardinality groups like these you
    would pre-aggregate (sum/sumsq/sumxy are algebraic) and keep Python
    out entirely; this entry exists to prove the escape hatch."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("event_type", T.StringType()),
            T.StructField("slope", T.DoubleType()),
            T.StructField("intercept", T.DoubleType()),
            T.StructField("n", T.LongType()),
        ]
    )

    def fit(pdf):
        import math

        import pandas as pd

        n = len(pdf)  # the oracle's count(*) counts every group row
        # SQL regr_* semantics: a pair is excluded when EITHER side is
        # NULL. pandas' per-Series NaN skipping is NOT that (a row with
        # only y missing would still feed var(x)) — drop pairwise first.
        fitf = pdf.dropna(subset=["user_id", "value"])
        x = fitf["user_id"].astype("float64")
        y = fitf["value"].astype("float64")
        slope = intercept = None
        if len(fitf) > 0:
            mx, my = x.mean(), y.mean()
            cov = ((x - mx) * (y - my)).sum()
            var = ((x - mx) ** 2).sum()
            if var > 0:  # constant/empty x → NULL, like regr_slope
                slope = math.floor(cov / var * 1e4 + 0.5) / 1e4
                intercept = math.floor((my - cov / var * mx) * 1e4 + 0.5) / 1e4
        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]],
                "slope": [slope],
                "intercept": [intercept],
                "n": [n],
            }
        )

    ev = load(spark, sf_dir, "events").select("event_type", "user_id", "value")
    return ev.groupBy("event_type").applyInPandas(fit, schema)


@register(
    "multimodal_resize",
    oracle="""
WITH bmp AS (
  SELECT doc_id, 4 + doc_id % 8 AS w, 4 AS h FROM documents WHERE doc_id % 2 = 1
),
small AS (
  SELECT b.doc_id, b.w, b.h,
         CAST(ceil(b.w / 2.0) AS BIGINT) AS rs_w,
         CAST(ceil(b.h / 2.0) AS BIGINT) AS rs_h,
         avg(CAST((b.doc_id * 7 + x.x * 3 + y.y * 13) % 256 AS DOUBLE)) AS rs_mean
  FROM bmp b
  CROSS JOIN LATERAL (SELECT unnest(range(0, b.w, 2)) AS x) x
  CROSS JOIN LATERAL (SELECT unnest(range(0, b.h, 2)) AS y) y
  GROUP BY ALL
)
SELECT doc_id,
       CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
       rs_w AS rs_width, rs_h AS rs_height,
       CAST(54 + rs_h * ((3 * rs_w + 3) // 4 * 4) AS BIGINT) AS rs_n_bytes,
       rs_mean AS rs_pixel_mean
FROM small
""",
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image resize (§2.10 multimodal): nearest-neighbor ×2 downsample
    of the synthesized 24-bit BMPs — parse bytes, subsample the pixel grid
    anchored at image (0,0), re-encode a valid BMP (operators/multimodal.py
    resize_bmp). The oracle recomputes dims, re-encoded byte size (incl.
    the 4-byte row padding rule), and the resampled pixel mean analytically
    from the generator formula — a wrong stride, flipped row order, or
    padding bug shows as a value mismatch. Pixel sums are integers < 2^53:
    exact on both engines."""
    from mongodb_mysql_cdc_spark.operators.multimodal import resize_bmp, synth_media

    media = synth_media(load(spark, sf_dir, "documents"))
    return resize_bmp(media, factor=2).drop("resized")


@register(
    "multimodal_resample",
    oracle="""
WITH wav AS (
  SELECT doc_id, 64 + doc_id % 64 AS n FROM documents WHERE doc_id % 2 = 0
),
small AS (
  SELECT w.doc_id, w.n,
         CAST(ceil(w.n / 2.0) AS BIGINT) AS rs_n,
         avg(abs(CAST((w.doc_id * 31 + i.i * 17) % 2048 - 1024 AS DOUBLE))) AS rs_mean
  FROM wav w
  CROSS JOIN LATERAL (SELECT unnest(range(0, w.n, 2)) AS i) i
  GROUP BY ALL
)
SELECT doc_id,
       CAST(8000 AS BIGINT) AS sample_rate,
       CAST(n AS BIGINT) AS n_samples,
       CAST(4000 AS BIGINT) AS rs_rate,
       rs_n AS rs_n_samples,
       CAST(44 + 2 * rs_n AS BIGINT) AS rs_n_bytes,
       rs_mean AS rs_mean_abs
FROM small
""",
)
def multimodal_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio resample (§2.10 multimodal, audio path): decimate the
    synthesized PCM16 WAVs ×2 and re-encode a valid RIFF container
    (operators/multimodal.py resample_wav). Oracle recomputes the kept
    sample count, re-encoded byte size (44-byte header + 2 bytes/sample),
    and mean |amplitude| of the kept samples analytically from the
    generator formula. Integer sums < 2^53: exact on both engines."""
    from mongodb_mysql_cdc_spark.operators.multimodal import resample_wav, synth_media

    media = synth_media(load(spark, sf_dir, "documents"))
    return resample_wav(media, factor=2).drop("resampled")


@register(
    "multimodal_phash",
    oracle=f"""
WITH bmp AS (
  SELECT doc_id, 4 + doc_id % 8 AS w FROM documents WHERE doc_id % 2 = 1
),
px AS (
  SELECT b.doc_id, b.w, t.k,
         (b.doc_id * 7 + (t.k % 4) * 3 + (t.k // 4) * 13) % 256 AS v
  FROM bmp b CROSS JOIN LATERAL (SELECT unnest(range(16)) AS k) t
),
m AS (
  SELECT doc_id, avg(CAST(v AS DOUBLE)) AS mean_v FROM px GROUP BY doc_id
)
SELECT px.doc_id,
       CAST(any_value(px.w) AS BIGINT)          AS width,
       {sql_round('any_value(m.mean_v)', 6)}    AS grid_mean,
       CAST(sum(CASE WHEN px.v > m.mean_v
                     THEN CAST(1 AS BIGINT) << px.k ELSE 0 END) AS BIGINT) AS phash
FROM px JOIN m USING (doc_id)
GROUP BY px.doc_id
""",
)
def multimodal_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual average-hash over REAL image bytes (§2.10 multimodal +
    dedup bridge): the 16-bit grid hash computed by parsing each BMP
    container in phash_bmp is what buckets visually-identical images for
    near-dup detection — the image twin of doc_fingerprint. The oracle
    re-derives every bit analytically from the generator's pixel formula
    (no byte handling), so a wrong data offset, row stride, or channel
    pick flips bits and fails the hash compare. Per-row kernel work, no
    shuffle; at 100 TB this pipelines inside the media scan."""
    ph = phash_bmp(synth_media(load(spark, sf_dir, "documents")))
    return ph.select(
        "doc_id",
        "width",
        hround(F.col("grid_mean"), 6).alias("grid_mean"),
        "phash",
    )


@register(
    "multimodal_audio_features",
    oracle=f"""
WITH wav AS (
  SELECT doc_id, 64 + doc_id % 64 AS n FROM documents WHERE doc_id % 2 = 0
),
samp AS (
  SELECT w.doc_id, w.n, t.i,
         (w.doc_id * 31 + t.i * 17) % 2048 - 1024 AS v
  FROM wav w CROSS JOIN LATERAL (SELECT unnest(range(w.n)) AS i) t
),
lagged AS (
  SELECT doc_id, n, v,
         lead(v) OVER (PARTITION BY doc_id ORDER BY i) AS v_next
  FROM samp
),
feat AS (
  SELECT doc_id,
         CAST(any_value(n) AS BIGINT)                      AS n_samples,
         sqrt(sum(CAST(v AS DOUBLE) * v) / any_value(n))   AS rms,
         CAST(max(abs(v)) AS BIGINT)                       AS peak,
         CAST(sum(CASE WHEN v * v_next < 0 THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings
  FROM lagged
  GROUP BY doc_id
)
SELECT doc_id, n_samples, {sql_round('rms', 6)} AS rms, peak, zero_crossings
FROM feat
""",
)
def multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio curation features over REAL WAV bytes (§2.10): RMS energy,
    peak, strict zero-crossing rate — computed by the audio_features
    kernel from the decoded int16 stream and checked against a pure
    analytic recomputation of the generator's sample formula (window
    lead() for the crossings). A wrong chunk offset, endianness, or
    sample width shifts every value — the same tripwire design as
    multimodal_decode/phash."""
    feats = audio_features(synth_media(load(spark, sf_dir, "documents")))
    return feats.select(
        "doc_id",
        "n_samples",
        hround(F.col("rms"), 6).alias("rms"),
        "peak",
        "zero_crossings",
    )


@register(
    "udf_arrow",
    oracle=f"""
SELECT vec_id,
       CAST(len(embedding) AS BIGINT) AS dim,
       {sql_round('list_reduce(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b)', 4)} AS sq_norm,
       CAST(list_reduce(list_transform(embedding, x -> CASE WHEN x > 0 THEN 1 ELSE 0 END), (a, b) -> a + b) AS BIGINT) AS n_pos
FROM embeddings
""",
)
def udf_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mapInArrow tier — the LAST rung of the Python-surface ladder
    (row UDF < pandas_udf < applyInPandas < mapInPandas < mapInArrow):
    the kernel receives raw pyarrow RecordBatches with NO pandas
    conversion, the cheapest possible Python crossing (list-typed columns
    stay Arrow ListArrays; pandas would box them to object ndarrays).
    Work: per-vector squared norm + positive count via numpy over the
    flattened child buffer + offset diffs — zero per-row Python. The
    oracle recomputes both through DuckDB list HOFs.

    The float reduction is a COLUMN-WISE SEQUENTIAL fold — rows with the
    same dim reshape to (n, dim) and accumulate component-by-component —
    not np.add.reduceat: reduceat/ufunc-reduce uses PAIRWISE summation,
    whose association differs from the oracle's sequential list_reduce
    by ~1 ulp, invisible under the 1e-4 grid at harness magnitudes but a
    hash mismatch at the extremes-vec fixture's 1e59 squared terms (1
    ulp there ≈ 1e43 — an accumulation-ORDER difference; 26 of the 50
    ×1e30 vectors diverged). The column loop is dim-many vectorized adds
    (dim=64, FIXTURES.md) — still zero per-row Python. The integer
    n_pos fold is order-free; it is a cumsum-difference segment sum
    rather than np.add.reduceat (reduceat's idx[i]==idx[i+1]
    quirk returns the NEIGHBORING element for a zero-length list and
    raises IndexError when the final list is empty — the cumsum form
    gives 0 for every empty segment, the same contract the sq path
    already pins)."""
    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    def kernel(batches):
        import numpy as np
        import pyarrow as pa

        for batch in batches:
            ids = batch.column("vec_id")
            emb = batch.column("embedding")
            # ListArray internals: one flat child buffer + offsets — the
            # whole batch reduces with vectorized numpy passes.
            flat = emb.flatten().to_numpy(zero_copy_only=False).astype(np.float64)
            offs = np.asarray(emb.offsets)
            dims = np.diff(offs).astype(np.int64)
            sqt = flat * flat
            sq = np.zeros(len(dims), dtype=np.float64)
            for length in np.unique(dims):
                rows = dims == length
                if length == 0:
                    continue
                starts = offs[:-1][rows]
                block = sqt[(starts[:, None] + np.arange(length)).ravel()]
                block = block.reshape(-1, int(length))
                acc = block[:, 0].copy()
                for j in range(1, int(length)):  # sequential left fold
                    acc += block[:, j]
                sq[rows] = acc
            cpos = np.concatenate(
                [[0], np.cumsum((flat > 0).astype(np.int64))]
            )
            npos = cpos[offs[1:]] - cpos[offs[:-1]]
            yield pa.RecordBatch.from_arrays(
                [ids, pa.array(dims), pa.array(sq), pa.array(npos)],
                names=["vec_id", "dim", "sq_norm", "n_pos"],
            )

    out = e.mapInArrow(
        kernel, "vec_id long, dim long, sq_norm double, n_pos long"
    )
    return out.select(
        "vec_id", "dim", hround(F.col("sq_norm"), 4).alias("sq_norm"), "n_pos"
    )
