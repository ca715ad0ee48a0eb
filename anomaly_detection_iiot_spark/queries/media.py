"""Multimodal-column queries (BASELINE.json north star): binary blobs +
typed metadata synthesized deterministically from ``documents``, so the
manifest and frame-sampling paths are oracle-checkable in pure SQL.
The decode/resize/feature UDF paths (not SQL-expressible) are covered
by tests/test_multimodal.py."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import multimodal
from .base import QuerySpec, t

# Slices per core for driver-synthesized media frames: enough for the
# scheduler to balance uneven decode times, bounded for any blob count.
MEDIA_SLICES_PER_CORE = 4


def _media_frame(spark: SparkSession, blobs: list, schema: str) -> DataFrame:
    """Driver-synthesized media blobs as a DataFrame with slices sized
    to the BLOB count, capped at ``MEDIA_SLICES_PER_CORE`` per core. The
    decode stage downstream is a Python Arrow UDF, so every empty slice
    still pays a Python-worker round trip: a handful of blobs get one
    slice (and one decode task) each, and a large blob list does not
    schedule one task per blob."""
    sc = spark.sparkContext
    slices = min(len(blobs), MEDIA_SLICES_PER_CORE * sc.defaultParallelism)
    return spark.createDataFrame(sc.parallelize(blobs, max(1, slices)), schema)


def _event_ids_by_user(spark: SparkSession, sf_dir: str) -> list:
    """(user_id, sorted event ids) for users 0-7: the integer source the
    media round-trips synthesize their blobs from, driver-side at
    construction (KB-scale; filenames and blobs carry semantics Spark
    sinks can't express)."""
    ev = t(spark, sf_dir, "events").filter(F.col("user_id") < 8)
    series: dict[int, list[int]] = {}
    for r in ev.select("user_id", "event_id").collect():
        series.setdefault(r.user_id, []).append(r.event_id)
    return [(uid, sorted(eids)) for uid, eids in sorted(series.items())]


def _wav_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One PCM16 mono WAV per user, sample_i = event_id % 65536 - 32768
    in event-id order (pure integer math, so no float-quantization
    ambiguity between engines)."""
    import io
    import wave

    import numpy as np

    blobs = []
    for uid, eids in _event_ids_by_user(spark, sf_dir):
        samples = np.array([(e % 65536) - 32768 for e in eids], dtype=np.int16)
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(2)
            w.setframerate(8000)
            w.writeframes(samples.tobytes())
        blobs.append((uid, "audio", bytearray(buf.getvalue())))
    return _media_frame(spark, blobs, "media_id bigint, kind string, data binary")


def _avi_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One RIFF/AVI per user: 4x4 grayscale frames, pixel = event_id %
    256 in event-id order, the tail past the last full frame dropped."""
    blobs = []
    for uid, eids in _event_ids_by_user(spark, sf_dir):
        frames = [
            bytes(e % 256 for e in eids[k * 16:(k + 1) * 16])
            for k in range(len(eids) // 16)
        ]
        if frames:
            blobs.append((uid, bytearray(multimodal.encode_avi(frames, 4, 4))))
    return _media_frame(spark, blobs, "media_id bigint, data binary")


_KIND_SQL = "CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END"
_NBYTES_SQL = "octet_length(encode(text))"


def mm1_media_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = multimodal.synthesize_media(t(spark, sf_dir, "documents"))
    return media.groupBy("kind").agg(
        F.count(F.lit(1)).alias("n_media"),
        F.sum(F.octet_length("data")).alias("total_bytes"),
        F.round(F.avg(F.col("meta.width")), 6).alias("avg_width"),
        F.round(F.avg(F.col("meta.n_frames")), 6).alias("avg_frames"),
    )


MM1_SQL = f"""
SELECT {_KIND_SQL} AS kind,
       count(*) AS n_media,
       CAST(sum({_NBYTES_SQL}) AS BIGINT) AS total_bytes,
       round(avg({_NBYTES_SQL} % 32 + 1), 6) AS avg_width,
       round(avg({_NBYTES_SQL} % 50 + 10), 6) AS avg_frames
FROM documents GROUP BY 1
"""


def mm2_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = multimodal.synthesize_media(t(spark, sf_dir, "documents"))
    return multimodal.sample_frames(media, every=7).select(
        "media_id", F.col("frame_idx").cast("bigint").alias("frame_idx")
    )


MM2_SQL = f"""
SELECT doc_id AS media_id,
       unnest(generate_series(0, {_NBYTES_SQL} % 50 + 10 - 1, 7)) AS frame_idx
FROM documents
WHERE doc_id % 3 = 2
"""


def mm3_audio_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL audio decode path proven end-to-end with an oracle:
    per-user PCM16 mono WAV blobs are synthesized from integer event
    ids (sample_i = event_id % 65536 - 32768 — pure integer math, so
    no float-quantization ambiguity between engines), decoded back
    through ``decode_media``'s stdlib-wave path inside
    ``mapInPandas``, and reduced to per-blob sample statistics. The
    oracle recomputes the same statistics from ``events`` directly: a
    value-hash match proves WAV framing, int16 decode, the /2^15
    normalization, and the (n, channels) shape contract. KB-scale
    driver-side synthesis at construction time, like s1/k1 (filenames
    and blobs carry semantics Spark sinks can't express)."""
    media = _wav_media(spark, sf_dir)
    decoded = multimodal.decode_media(media)
    px = F.col("pixels")
    n = F.size(px)
    sum_sq = F.aggregate(px, F.lit(0.0), lambda a, x: a + x * x)
    sum_v = F.aggregate(px, F.lit(0.0), lambda a, x: a + x)
    return decoded.select(
        "media_id",
        F.element_at("shape", 1).cast("bigint").alias("n_samples"),
        F.round(F.sqrt(sum_sq / n), 6).alias("rms"),
        F.round(sum_v / n, 6).alias("mean_v"),
    )


MM3_SQL = """
WITH s AS (
  SELECT user_id, ((event_id % 65536) - 32768) / 32768.0 AS v
  FROM events WHERE user_id < 8
)
SELECT user_id AS media_id,
       count(*) AS n_samples,
       round(sqrt(sum(v * v) / count(*)), 6) AS rms,
       round(sum(v) / count(*), 6) AS mean_v
FROM s GROUP BY 1
"""


def mm4_image_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL image decode path proven end-to-end with an oracle —
    the PNG sibling of mm3's WAV path. Per-user 8-px-wide grayscale
    PNGs are synthesized from integer event ids (pixel = event_id %
    256, ids sorted, tail past the last full row dropped — all
    integer-exact), encoded with ``encode_png`` (filter types cycling
    None/Sub/Up/Average/Paeth by row), decoded back through
    ``decode_media``'s stdlib zlib+unfilter path (picked by the PNG
    signature) inside
    ``mapInPandas``, and reduced to per-image pixel statistics. The
    oracle recomputes the same statistics from ``events`` directly: a
    value-hash match proves chunk framing, CRCs, inflate, all five
    filter reconstructions, the /255 normalization, and the (h, w)
    shape contract. KB-scale driver-side synthesis at construction
    time, like mm3."""
    import numpy as np

    blobs = []
    for uid, eids in _event_ids_by_user(spark, sf_dir):
        h = len(eids) // 8
        if h == 0:
            continue
        arr = np.array(
            [e % 256 for e in eids[: h * 8]], dtype=np.uint8
        ).reshape(h, 8)
        blobs.append((uid, "image", bytearray(multimodal.encode_png(arr))))
    media = _media_frame(
        spark, blobs, "media_id bigint, kind string, data binary"
    )
    decoded = multimodal.decode_media(media)
    px = F.col("pixels")
    n = F.size(px)
    sum_sq = F.aggregate(px, F.lit(0.0), lambda a, x: a + x * x)
    sum_v = F.aggregate(px, F.lit(0.0), lambda a, x: a + x)
    return decoded.select(
        "media_id",
        F.element_at("shape", 1).cast("bigint").alias("height"),
        n.cast("bigint").alias("n_px"),
        F.round(sum_v / n, 6).alias("mean_px"),
        F.round(F.sqrt(sum_sq / n), 6).alias("rms"),
    )


MM4_SQL = """
WITH ranked AS (
  SELECT user_id, event_id,
         row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn,
         count(*) OVER (PARTITION BY user_id) AS n
  FROM events WHERE user_id < 8
), px AS (
  SELECT user_id, (event_id % 256) / 255.0 AS v
  FROM ranked WHERE rn <= CAST(FLOOR(n / 8) AS BIGINT) * 8
)
SELECT user_id AS media_id,
       CAST(FLOOR(count(*) / 8) AS BIGINT) AS height,
       count(*) AS n_px,
       round(sum(v) / count(*), 6) AS mean_px,
       round(sqrt(sum(v * v) / count(*)), 6) AS rms
FROM px GROUP BY 1
"""


def mm5_video_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL video-container path proven end-to-end with an oracle
    — the RIFF/AVI sibling of mm3 (wave) and mm4 (PNG). Per-user AVI
    containers are synthesized from integer event ids (4x4 grayscale
    frames, pixel = event_id % 256, ids sorted, tail past the last
    full frame dropped), wrapped by ``encode_avi`` (spec-shaped avih +
    word-aligned 00db movi chunks), re-parsed frame-by-frame through
    ``decode_avi_frames``'s stdlib struct walker inside
    ``mapInPandas``, and reduced to per-video statistics JVM-side. A
    value-hash match against events proves RIFF framing, list
    recursion, alignment padding, the header/movi frame-count cross
    check, and the /255 normalization. KB-scale driver-side synthesis
    at construction, like mm3/mm4."""
    media = _avi_media(spark, sf_dir)
    per_frame = multimodal.decode_avi_frames(media)
    px = F.col("pixels")
    fsum = F.aggregate(px, F.lit(0.0), lambda a, x: a + x)
    fn = F.size(px)
    stats = per_frame.select(
        "media_id", "width", "frame_idx", fsum.alias("fsum"), fn.alias("fn")
    )
    first = F.col("frame_idx") == 0
    return stats.groupBy("media_id").agg(
        F.first("width").cast("bigint").alias("width"),
        F.count(F.lit(1)).cast("bigint").alias("n_frames"),
        F.sum("fn").cast("bigint").alias("n_px"),
        F.round(F.sum("fsum") / F.sum("fn"), 6).alias("mean_px"),
        F.round(
            F.sum(F.when(first, F.col("fsum")))
            / F.sum(F.when(first, F.col("fn"))),
            6,
        ).alias("first_frame_mean"),
    )


MM5_SQL = """
WITH ranked AS (
  SELECT user_id, event_id,
         row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn,
         count(*) OVER (PARTITION BY user_id) AS n
  FROM events WHERE user_id < 8
), px AS (
  SELECT user_id, CAST(FLOOR((rn - 1) / 16) AS BIGINT) AS frame_idx,
         (event_id % 256) / 255.0 AS v
  FROM ranked WHERE rn <= CAST(FLOOR(n / 16) AS BIGINT) * 16
)
SELECT user_id AS media_id,
       CAST(4 AS BIGINT) AS width,
       CAST(count(DISTINCT frame_idx) AS BIGINT) AS n_frames,
       count(*) AS n_px,
       round(sum(v) / count(*), 6) AS mean_px,
       round(sum(CASE WHEN frame_idx = 0 THEN v END)
             / sum(CASE WHEN frame_idx = 0 THEN 1 END), 6)
         AS first_frame_mean
FROM px GROUP BY 1
"""


def mm6_jpeg_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL compressed-image decode path proven end-to-end with an
    oracle — the baseline-JPEG sibling of mm4 (PNG). Per-user grayscale
    JPEGs are synthesized from integer event ids as stacks of UNIFORM
    8x8 blocks (block value = event_id % 256, ids sorted): a uniform
    block has only a DC coefficient, and the codec's DC quant step of 8
    makes DC = 8*(v-128) round-trip exactly, so the decoded image
    equals the source INTEGER-EXACTLY while the bytes still pass
    through the full real pipeline — marker frame, stream-carried
    canonical Huffman tables, entropy decode with byte unstuffing,
    dequant, IDCT, level shift. Encoded with ``encode_jpeg``, decoded
    through ``decode_media`` (picked by the JPEG SOI) inside ``mapInPandas``,
    reduced to per-image statistics the oracle recomputes from
    ``events`` directly. (Lossy behavior on non-uniform content is
    covered by tests/test_multimodal.py against the coefficient-path
    reference.) KB-scale driver-side synthesis at construction, like
    mm3/mm4/mm5."""
    import numpy as np

    blobs = []
    for uid, eids in _event_ids_by_user(spark, sf_dir):
        vals = np.array([e % 256 for e in eids], dtype=np.uint8)
        # one uniform 8x8 block per event, stacked vertically (w=8)
        arr = np.repeat(np.repeat(vals.reshape(-1, 1), 8, axis=0), 8, axis=1)
        blobs.append((uid, "image", bytearray(multimodal.encode_jpeg(arr))))
    media = _media_frame(
        spark, blobs, "media_id bigint, kind string, data binary"
    )
    decoded = multimodal.decode_media(media)
    px = F.col("pixels")
    n = F.size(px)
    sum_sq = F.aggregate(px, F.lit(0.0), lambda a, x: a + x * x)
    sum_v = F.aggregate(px, F.lit(0.0), lambda a, x: a + x)
    return decoded.select(
        "media_id",
        F.element_at("shape", 1).cast("bigint").alias("height"),
        n.cast("bigint").alias("n_px"),
        F.round(sum_v / n, 6).alias("mean_px"),
        F.round(F.sqrt(sum_sq / n), 6).alias("rms"),
    )


MM6_SQL = """
WITH px AS (
  SELECT user_id, (event_id % 256) / 255.0 AS v
  FROM events WHERE user_id < 8
)
SELECT user_id AS media_id,
       count(*) * 8 AS height,
       count(*) * 64 AS n_px,
       round(sum(v * 64) / (count(*) * 64), 6) AS mean_px,
       round(sqrt(sum(v * v * 64) / (count(*) * 64)), 6) AS rms
FROM px GROUP BY 1
"""


# --- MM7: framed audio features (RMS + zero-crossing rate) -------------------

def mm7_audio_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-level audio feature extraction — the per-window stats
    (RMS energy, zero-crossing rate) a speech pipeline computes before
    VAD/segmentation. Same integer-exact WAV synthesis as mm3 but with
    a DEFINED sample order (samples sorted by event_id) so framing is
    deterministic; the decoded PCM array is split into 64-sample
    frames with sequence/slice, and both features are JVM-side array
    expressions over each frame — the decode is the only Python step.
    The zcr sign convention (x >= 0) is division-invariant, so the
    normalized-float Spark side and the raw-integer oracle agree
    exactly. At 100 TB this is the mapInPandas decode followed by a
    pure projection: no shuffle at all until someone aggregates."""
    media = _wav_media(spark, sf_dir)
    decoded = multimodal.decode_media(media)
    framed = decoded.select(
        "media_id",
        "pixels",
        F.explode(
            F.sequence(
                F.lit(0), F.floor((F.size("pixels") - 1) / 64).cast("int")
            )
        ).alias("frame"),
    ).select(
        "media_id",
        F.col("frame").cast("bigint").alias("frame"),
        F.slice(
            "pixels", F.col("frame") * 64 + 1, F.lit(64)
        ).alias("fr"),
    )
    n_f = F.size("fr")
    sum_sq = F.aggregate("fr", F.lit(0.0), lambda a, x: a + x * x)
    # guard: a 1-sample trailing frame would make sequence(1, 0) count
    # DOWN ([1, 0]) and index out of bounds — no pair, no crossings
    zcr = F.when(
        n_f >= 2,
        F.size(
            F.filter(
                F.sequence(F.lit(1), n_f - 1),
                lambda i: (F.element_at(F.col("fr"), i) >= 0)
                != (F.element_at(F.col("fr"), i + 1) >= 0),
            )
        ),
    ).otherwise(F.lit(0))
    return framed.select(
        "media_id",
        "frame",
        n_f.cast("bigint").alias("n_samples"),
        F.round(F.sqrt(sum_sq / n_f), 6).alias("rms"),
        zcr.cast("bigint").alias("zcr"),
    )


MM7_SQL = """
WITH s AS (
  SELECT user_id, ((event_id % 65536) - 32768) AS v,
         row_number() OVER (PARTITION BY user_id ORDER BY event_id) - 1
           AS idx
  FROM events WHERE user_id < 8
), f AS (
  SELECT user_id, CAST(FLOOR(idx / 64) AS BIGINT) AS frame, v,
         lead(v) OVER (PARTITION BY user_id, CAST(FLOOR(idx / 64) AS BIGINT) ORDER BY idx)
           AS nxt
  FROM s
)
SELECT user_id AS media_id,
       CAST(frame AS BIGINT) AS frame,
       count(*) AS n_samples,
       round(sqrt(sum((v / 32768.0) * (v / 32768.0)) / count(*)), 6)
         AS rms,
       CAST(sum(CASE WHEN nxt IS NOT NULL AND ((v >= 0) != (nxt >= 0))
                THEN 1 ELSE 0 END) AS BIGINT) AS zcr
FROM f GROUP BY 1, 2
"""


def mm8_frame_tensor_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-video frame-tensor statistics: the same per-user synthetic
    corpus as mm5, decoded frame by frame through the stdlib RIFF/AVI
    walker (``decode_avi_frames``) and reduced JVM-side to frame count,
    mean pixel and width. Rows-only (no oracle): mm5 checks the same
    decode against ``events``."""
    media = _avi_media(spark, sf_dir)
    per_frame = multimodal.decode_avi_frames(media)
    px = F.col("pixels")
    return (
        per_frame.groupBy("media_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_frames"),
            F.round(
                F.avg(F.aggregate(px, F.lit(0.0), lambda a, x: a + x)
                      / F.size(px)), 6
            ).alias("mean_px"),
            F.max("width").cast("bigint").alias("width"),
        )
        .orderBy("media_id")
    )


MEDIA_QUERIES: list[QuerySpec] = [
    QuerySpec("mm8_frame_tensor_stats", mm8_frame_tensor_stats, None,
              "frame-tensor stats over the stdlib RIFF/AVI walker"),

    QuerySpec("mm7_audio_frames", mm7_audio_frames, MM7_SQL,
              "framed audio features: 64-sample RMS + zero-crossing "
              "rate, JVM array expressions over real WAV decode"),
    QuerySpec("mm6_jpeg_roundtrip", mm6_jpeg_roundtrip, MM6_SQL,
              "real baseline-JPEG round-trip: stdlib Huffman + numpy "
              "IDCT, integer-exact uniform-block oracle"),
    QuerySpec("mm5_video_roundtrip", mm5_video_roundtrip, MM5_SQL,
              "real RIFF/AVI container round-trip: stdlib struct "
              "walker, per-frame stats oracle"),
    QuerySpec("mm1_media_manifest", mm1_media_manifest, MM1_SQL,
              "binary media manifest: per-kind blob/meta statistics"),
    QuerySpec("mm2_frame_sample", mm2_frame_sample, MM2_SQL,
              "video frame sampling as JVM sequence/explode"),
    QuerySpec("mm3_audio_roundtrip", mm3_audio_roundtrip, MM3_SQL,
              "real PCM16 WAV decode round-trip: wave framing + int16 "
              "normalization vs integer-exact oracle"),
    QuerySpec("mm4_image_roundtrip", mm4_image_roundtrip, MM4_SQL,
              "real PNG decode round-trip: stdlib zlib inflate + "
              "five-filter reconstruction vs integer-exact oracle"),
]
