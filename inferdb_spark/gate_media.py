"""Oracle-checked gates for the REAL multimodal decode paths.

The media synthesizer (operators/multimodal.py:synthesize_real_media)
generates payloads from integer formulas — pixel(id,i,j,c) =
(id*7 + i*3 + j*5 + c*11) % 256, sample(id,t) = (id*31 + 7*t*(t+1)) %
16385 - 8192 — so DuckDB can recompute the EXPECTED decode statistics from
content_id alone, pure ANSI SQL, no binary handling.  Spark meanwhile
round-trips actual bytes: encode (BMP/PPM/WAV/RAWV) -> decode (numpy /
stdlib wave) -> statistics.  Any codec bug on either leg breaks the
cross-engine hash, which makes these REAL correctness gates for the
decode layer, not structural smoke tests.

Determinism engineering (CLAUDE.md cookbook): all emitted statistics are
integer sums/counts cast to BIGINT on both sides; pixel/PCM sums are exact
in int64; the one float (RMS) is folded back to the integer
sum-of-squares via round(rms^2 * n * 32768^2).

No reference analog — /root/reference has no multimodal surface; these
gates cover the builder brief's multimodal requirement as first-class.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from inferdb_spark.gate import gate
from inferdb_spark.catalog import load_table
from inferdb_spark.operators import multimodal as MM

# oracle fragment: ids 0..n-1 drawn from the documents table (exists at
# every sf), so both engines enumerate the same content ids
_IDS = "SELECT doc_id AS content_id FROM documents WHERE doc_id < {n}"


def _ids(spark: SparkSession, sf_dir: str, n: int) -> DataFrame:
    return (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < n)
        .select(F.col("doc_id").alias("content_id"))
    )


# ---------------------------------------------------------------------------
# image decode: BMP bytes -> numpy -> channel sums
# ---------------------------------------------------------------------------


@gate(
    "media_image_decode",
    oracle=f"""
WITH ids AS ({_IDS.format(n=120)}),
dims AS (
  SELECT content_id,
         16 + content_id % 16 AS w,
         12 + content_id % 8  AS h
  FROM ids
),
px AS (
  SELECT d.content_id, d.w, d.h, c.range AS ch,
         (d.content_id*7 + i.range*3 + j.range*5 + c.range*11) % 256 AS v
  FROM dims d, range(20) i, range(32) j, range(3) c
  WHERE i.range < d.h AND j.range < d.w
)
SELECT CAST(content_id AS BIGINT) AS content_id,
       CAST(any_value(w) AS BIGINT) AS width,
       CAST(any_value(h) AS BIGINT) AS height,
       CAST(sum(CASE WHEN ch = 0 THEN v ELSE 0 END) AS BIGINT) AS sum_r,
       CAST(sum(CASE WHEN ch = 1 THEN v ELSE 0 END) AS BIGINT) AS sum_g,
       CAST(sum(CASE WHEN ch = 2 THEN v ELSE 0 END) AS BIGINT) AS sum_b
FROM px
GROUP BY content_id
ORDER BY content_id
""",
)
def q_media_image_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode formula images as real BMP bytes on the executors, decode
    them back with the pure-numpy BMP codec, and emit exact per-channel
    pixel sums.  Map-only end to end (mapInPandas -> mapInPandas): at
    100 TB this is an embarrassingly parallel scan, no shuffle until the
    final presentation sort."""
    media = MM.synthesize_real_media(spark, _ids(spark, sf_dir, 120), kind="bmp")
    stats = MM.image_stats(media)
    px = F.col("width").cast("long") * F.col("height").cast("long")
    return stats.select(
        F.col("content_id").cast("long").alias("content_id"),
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        F.round(F.col("mean_r") * px).cast("long").alias("sum_r"),
        F.round(F.col("mean_g") * px).cast("long").alias("sum_g"),
        F.round(F.col("mean_b") * px).cast("long").alias("sum_b"),
    ).orderBy("content_id")


# ---------------------------------------------------------------------------
# image resize: PPM -> decode -> nearest-neighbor resize -> BMP -> decode
# ---------------------------------------------------------------------------


@gate(
    "media_resize_roundtrip",
    oracle=f"""
WITH ids AS ({_IDS.format(n=100)}),
dims AS (
  SELECT content_id,
         16 + content_id % 16 AS w,
         12 + content_id % 8  AS h
  FROM ids
),
px AS (
  SELECT d.content_id, c.range AS ch,
         (d.content_id*7
          + ((i.range * d.h) // 6)*3
          + ((j.range * d.w) // 8)*5
          + c.range*11) % 256 AS v
  FROM dims d, range(6) i, range(8) j, range(3) c
)
SELECT CAST(content_id AS BIGINT) AS content_id,
       CAST(sum(CASE WHEN ch = 0 THEN v ELSE 0 END) AS BIGINT) AS sum_r,
       CAST(sum(CASE WHEN ch = 1 THEN v ELSE 0 END) AS BIGINT) AS sum_g,
       CAST(sum(CASE WHEN ch = 2 THEN v ELSE 0 END) AS BIGINT) AS sum_b
FROM px
GROUP BY content_id
ORDER BY content_id
""",
)
def q_media_resize_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PPM decode -> nearest-neighbor resize to 8x6 -> BMP re-encode ->
    BMP decode -> channel sums; the oracle samples the pixel formula at
    the nearest-neighbor source indices ((i_dst*h)//6, (j_dst*w)//8).
    Exercises both codecs and the resize index math in one gate."""
    media = MM.synthesize_real_media(spark, _ids(spark, sf_dir, 100), kind="ppm")
    resized = MM.resize_images(media, width=8, height=6)
    stats = MM.image_stats(resized)
    px = F.lit(48).cast("long")
    return stats.select(
        F.col("content_id").cast("long").alias("content_id"),
        F.round(F.col("mean_r") * px).cast("long").alias("sum_r"),
        F.round(F.col("mean_g") * px).cast("long").alias("sum_g"),
        F.round(F.col("mean_b") * px).cast("long").alias("sum_b"),
    ).orderBy("content_id")


# ---------------------------------------------------------------------------
# audio decode: WAV PCM -> stdlib wave -> integer statistics
# ---------------------------------------------------------------------------


@gate(
    "media_audio_decode",
    oracle=f"""
WITH ids AS ({_IDS.format(n=100)}),
spans AS (
  SELECT content_id, 800 + (content_id % 5) * 160 AS n FROM ids
),
samples AS (
  SELECT s.content_id, s.n, t.range AS t,
         (s.content_id*31 + 7*t.range*(t.range+1)) % 16385 - 8192 AS v
  FROM spans s, range(1440) t
  WHERE t.range < s.n
),
flagged AS (
  SELECT content_id, n, t, v,
         CASE WHEN (v < 0) <> (lag(v) OVER (PARTITION BY content_id ORDER BY t) < 0)
              THEN 1 ELSE 0 END AS zc
  FROM samples
)
SELECT CAST(content_id AS BIGINT) AS content_id,
       CAST(16000 AS BIGINT) AS sample_rate,
       CAST(any_value(n) AS BIGINT) AS n_samples,
       CAST(1 AS BIGINT) AS n_channels,
       CAST(any_value(n) * 1000 // 16000 AS BIGINT) AS duration_ms,
       CAST(coalesce(sum(zc), 0) AS BIGINT) AS zero_crossings,
       CAST(sum(v * v) AS BIGINT) AS ssq
FROM flagged
GROUP BY content_id
ORDER BY content_id
""",
)
def q_media_audio_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode the integer PCM formula as real RIFF WAV bytes, decode with
    the stdlib `wave` reader, and fold the float RMS back to the exact
    int64 sum-of-squares.  Zero-crossing count matches the oracle's
    lag-window sign-change count by construction."""
    media = MM.synthesize_real_media(spark, _ids(spark, sf_dir, 100), kind="wav")
    stats = MM.audio_stats(media)
    n = F.col("n_samples").cast("double")
    ssq = F.round(F.col("rms") * F.col("rms") * n * F.lit(float(32768 * 32768)))
    return stats.select(
        F.col("content_id").cast("long").alias("content_id"),
        F.col("sample_rate").cast("long").alias("sample_rate"),
        F.col("n_samples").cast("long").alias("n_samples"),
        F.col("n_channels").cast("long").alias("n_channels"),
        F.col("duration_ms").cast("long").alias("duration_ms"),
        F.col("zero_crossings").cast("long").alias("zero_crossings"),
        ssq.cast("long").alias("ssq"),
    ).orderBy("content_id")


# ---------------------------------------------------------------------------
# video frame sampling: RAWV container -> sampled frames + pixel sums
# ---------------------------------------------------------------------------


@gate(
    "media_video_frames",
    oracle=f"""
WITH ids AS ({_IDS.format(n=60)}),
vids AS (
  SELECT content_id,
         8 + content_id % 4 AS w,
         6 + content_id % 3 AS h,
         4 + content_id % 5 AS nf
  FROM ids
),
frames AS (
  SELECT v.content_id, v.w, v.h, k.range AS k
  FROM vids v, range(8) k
  WHERE k.range < v.nf AND k.range % 2 = 0
),
px AS (
  SELECT f.content_id, f.k,
         ((f.content_id + f.k)*7 + i.range*3 + j.range*5 + c.range*11) % 256 AS v
  FROM frames f, range(8) i, range(11) j, range(3) c
  WHERE i.range < f.h AND j.range < f.w
)
SELECT CAST(content_id AS BIGINT) AS content_id,
       CAST(k AS BIGINT) AS frame_idx,
       CAST(k * 100 AS BIGINT) AS ts_ms,
       CAST(sum(v) AS BIGINT) AS frame_px_sum
FROM px
GROUP BY content_id, k
ORDER BY content_id, frame_idx
""",
)
def q_media_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack formula frames into a RAWV container, sample every 200 ms at
    fps=10 (stride 2), and emit the exact int64 pixel sum per sampled
    frame.  One input row fans out to n_frames/2 rows — the flatMap shape
    a real frame sampler has, with decode verified against pure SQL."""
    media = MM.synthesize_real_media(spark, _ids(spark, sf_dir, 60), kind="rawv")
    frames = MM.sample_video_frames(media, every_ms=200)
    return frames.select(
        F.col("content_id").cast("long").alias("content_id"),
        F.col("frame_idx").cast("long").alias("frame_idx"),
        F.col("ts_ms").cast("long").alias("ts_ms"),
        F.col("frame_px_sum").cast("long").alias("frame_px_sum"),
    ).orderBy("content_id", "frame_idx")


# ---------------------------------------------------------------------------
# PNG decode: compressed payloads through the pure-stdlib inflate+unfilter
# codec (round-5: PNG joins BMP/PPM in the always-on path — no PIL)
# ---------------------------------------------------------------------------


@gate(
    "media_png_decode",
    oracle=f"""
WITH ids AS ({_IDS.format(n=110)}),
dims AS (
  SELECT content_id,
         16 + content_id % 16 AS w,
         12 + content_id % 8  AS h
  FROM ids
),
px AS (
  SELECT d.content_id, d.w, d.h, c.range AS ch,
         (d.content_id*7 + i.range*3 + j.range*5 + c.range*11) % 256 AS v
  FROM dims d, range(20) i, range(32) j, range(3) c
  WHERE i.range < d.h AND j.range < d.w
)
SELECT CAST(content_id AS BIGINT) AS content_id,
       CAST(any_value(w) AS BIGINT) AS width,
       CAST(any_value(h) AS BIGINT) AS height,
       CAST(sum(CASE WHEN ch = 0 THEN v ELSE 0 END) AS BIGINT) AS sum_r,
       CAST(sum(CASE WHEN ch = 1 THEN v ELSE 0 END) AS BIGINT) AS sum_g,
       CAST(sum(CASE WHEN ch = 2 THEN v ELSE 0 END) AS BIGINT) AS sum_b
FROM px
GROUP BY content_id
ORDER BY content_id
""",
)
def q_media_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode formula images as REAL compressed PNG bytes on the executors
    (filters='mixed': row filter r % 5, so sub/up/average/paeth all occur),
    decode them back with the pure-stdlib zlib+numpy PNG codec
    (media_codecs.decode_png — no PIL anywhere), and emit exact per-channel
    pixel sums.  Bit-exact round-trip through DEFLATE + all five PNG row
    filters, verified against the pure-SQL pixel formula.  Map-only end to
    end, same 100 TB shape as media_image_decode."""
    media = MM.synthesize_real_media(spark, _ids(spark, sf_dir, 110), kind="png")
    stats = MM.image_stats(media)
    px = F.col("width").cast("long") * F.col("height").cast("long")
    return stats.select(
        F.col("content_id").cast("long").alias("content_id"),
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        F.round(F.col("mean_r") * px).cast("long").alias("sum_r"),
        F.round(F.col("mean_g") * px).cast("long").alias("sum_g"),
        F.round(F.col("mean_b") * px).cast("long").alias("sum_b"),
    ).orderBy("content_id")
