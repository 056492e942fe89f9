"""[EXT] Multimodal-column queries (operators.multimodal).

The media table is generated deterministically in-process
(make_fake_media — same rows every run, every engine), because the
driver test directories carry no binary media table. Its METADATA is a
pure function of the row index (kind = i%3, width = 64+i, duration_ms =
1000*i — multimodal.py make_fake_media), so the metadata-only queries
get real DuckDB oracles that regenerate the table from ``range(n)`` —
no binary codec needed, fully independent of the Spark code path.

The REAL-decode queries at the bottom go further: make_real_media emits
genuine BMP / PCM-WAV / raw-RGB-video payload bytes whose *content* is
a closed-form function of media_id, so the DuckDB oracle recomputes the
decoded pixel/sample statistics from ``range()`` — a cross-engine check
of the actual codec path, no codec needed oracle-side. Only
q_media_features (the stub-decoder fallback lane) stays rows-only,
pinned by tests/test_multimodal.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from incremental_github_data_pipeline_spark.operators.core import per_row_stage
from incremental_github_data_pipeline_spark.operators.multimodal import (
    extract_features,
    frame_sample_plan,
    make_fake_media,
    metadata_profile,
)
from incremental_github_data_pipeline_spark.queries import register

# DuckDB twin of make_fake_media(n=256)'s metadata columns (payload
# omitted — the queries below are metadata-only by contract).
_FAKE_MEDIA_SQL = """
    media AS (
      SELECT i AS media_id,
             CASE CAST(i % 3 AS INTEGER) WHEN 0 THEN 'image'
                  WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
             64 + i AS width, 48 + i AS height, 1000 * i AS duration_ms
      FROM range(256) t(i)
    )
"""


@register(
    "q_media_features",
    oracle="""
    WITH media AS (
      SELECT i AS media_id,
             CASE CAST(i % 3 AS INTEGER) WHEN 0 THEN 'image'
                  WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
             128 + i AS n_bytes
      FROM range(256) t(i)
    ),
    f0 AS (
      SELECT m.media_id, m.kind, m.n_bytes,
             CAST(SUM((m.media_id * 31 + j.i * 7 + 42) % 256) % 997
                  AS BIGINT) AS f0_unit
      FROM media m, range(8192) j(i)
      WHERE j.i < m.n_bytes AND j.i % 8 = 0
      GROUP BY 1, 2, 3
    )
    SELECT kind, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
           CAST(SUM(f0_unit) AS BIGINT) AS f0_units
    FROM f0 GROUP BY kind ORDER BY kind
    """,
    doc="Binary-payload decode/feature-extract via Arrow-batched "
    "mapInPandas (deterministic stub decoder), aggregated per kind. "
    "Oracle: the stub payload is bytes[(id*31 + j*7 + 42) % 256] and "
    "feature[0] folds positions j = 0 (mod dim) modulo 997, so DuckDB "
    "recomputes the decoded feature from range() in closed form — the "
    "same no-codec-oracle trick as q_media_decode_stats. The compared "
    "f0 lane is kept in exact integer units (x997) so no float "
    "summation order can split the engines.",
)
def q_media_features(spark: SparkSession, sf: str) -> DataFrame:
    media = make_fake_media(spark, n=256)
    feats = extract_features(media, dim=8, fake=True)
    return (
        feats.groupBy("kind")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_bytes").cast("long").alias("total_bytes"),
            F.sum(
                F.round(F.element_at("feature", 1) * 997).cast("long")
            )
            .cast("long")
            .alias("f0_units"),
        )
        .orderBy("kind")
    )


@register(
    "q_media_metadata_profile",
    oracle=f"""
    WITH {_FAKE_MEDIA_SQL}
    SELECT kind, COUNT(*) AS n,
           AVG(CAST(width AS DOUBLE)) AS avg_width,
           CAST(MAX(duration_ms) AS BIGINT) AS max_duration_ms
    FROM media GROUP BY kind ORDER BY kind
    """,
    doc="Metadata-only profile over the media table — plan must not "
    "read the binary payload column (parquet column pruning). Oracle "
    "regenerates the deterministic metadata from range(256) in DuckDB.",
)
def q_media_metadata_profile(spark: SparkSession, sf: str) -> DataFrame:
    return metadata_profile(make_fake_media(spark, n=256))


@register(
    "q_media_frame_plan",
    oracle=f"""
    WITH {_FAKE_MEDIA_SQL}
    SELECT media_id,
           CAST(floor((duration_ms - 1) / 5000.0) AS BIGINT) + 1 AS n_frames,
           CAST(floor((duration_ms - 1) / 5000.0) AS BIGINT) * 5000 AS last_ts_ms
    FROM media WHERE kind = 'video' ORDER BY media_id
    """,
    doc="Video frame-sampling plan: distributed explode of per-media "
    "sample timestamps (the scalable half of frame extraction). Oracle "
    "derives frame counts in closed form from the deterministic "
    "metadata: sequence(0, duration-1, step) has floor((d-1)/step)+1 "
    "elements (every video row has duration >= 2000 > 0).",
)
def q_media_frame_plan(spark: SparkSession, sf: str) -> DataFrame:
    media = make_fake_media(spark, n=256)
    return (
        frame_sample_plan(media, every_ms=5000)
        .groupBy("media_id")
        .agg(F.count(F.lit(1)).alias("n_frames"), F.max("ts_ms").alias("last_ts_ms"))
        .orderBy("media_id")
    )


# ---------------------------------------------------------------------------
# REAL-decode queries: payloads are genuine BMP / PCM-WAV / raw-RGB-video
# bytes (multimodal.make_real_media), and every decoded content value is
# a closed-form function of media_id — so a DuckDB oracle can recompute
# the decoded statistics from range() without any codec. Comparisons use
# exact integer pixel/sample SUMS (mean * count rounded back to the
# integer it came from) so no cross-engine float rounding is involved.
# ---------------------------------------------------------------------------

_REAL_MEDIA_N = 96

_DECODE_STATS_ORACLE = f"""
    WITH img AS (
      SELECT i AS media_id, 16 + (i % 13) AS w, 12 + (i % 11) AS h
      FROM range({_REAL_MEDIA_N}) t(i) WHERE i % 3 = 0
    ),
    img_sums AS (
      SELECT img.media_id, img.w, img.h,
             SUM(CASE WHEN c.c = 0
                 THEN (x.x*7 + y.y*13 + c.c*29 + img.media_id*3) % 256 END) AS sum_r,
             SUM(CASE WHEN c.c = 1
                 THEN (x.x*7 + y.y*13 + c.c*29 + img.media_id*3) % 256 END) AS sum_g,
             SUM(CASE WHEN c.c = 2
                 THEN (x.x*7 + y.y*13 + c.c*29 + img.media_id*3) % 256 END) AS sum_b
      FROM img, range(28) x(x), range(22) y(y), range(3) c(c)
      WHERE x.x < img.w AND y.y < img.h
      GROUP BY img.media_id, img.w, img.h
    ),
    aud AS (
      SELECT i AS media_id, 400 + 80 * (i % 20) AS n, 3 + (i % 7) AS k
      FROM range({_REAL_MEDIA_N}) t(i) WHERE i % 3 = 1
    ),
    aud_sums AS (
      SELECT aud.media_id, aud.n,
             SUM(ABS(((t.t * aud.k + aud.media_id * 11) % 2048) - 1024)) AS sum_abs,
             SUM(((t.t * aud.k + aud.media_id * 11) % 2048) - 1024) AS sum_sig
      FROM aud, range(1920) t(t) WHERE t.t < aud.n
      GROUP BY aud.media_id, aud.n
    ),
    var AS (
      SELECT 1000 + i AS media_id, i % 3 AS v, 300 + 50 * (i % 8) AS m,
             3 + (i % 7) AS k0, i * 11 AS o0,
             5 + (i % 3) AS k1, i * 13 AS o1
      FROM range(24) t(i)
    ),
    var_sums AS (
      -- stereo/8-bit PCM lanes: decoded value is ((t*k+o) % 2048) - 1024
      -- for 16-bit, (((t*k+o) % 256) - 128) * 256 for 8-bit (decode_wav
      -- recentres+upscales); downmix = floor channel mean, per channel
      -- multiplier/offset differ so swapped channels break the compare
      SELECT var.media_id, var.v, var.m,
             SUM(CASE WHEN var.v = 0
                 THEN ((t.t*var.k0 + var.o0) % 2048) - 1024
                 ELSE (((t.t*var.k0 + var.o0) % 256) - 128) * 256 END) AS sum_ch0,
             SUM(CASE WHEN var.v = 0
                 THEN ((t.t*var.k1 + var.o1) % 2048) - 1024
                 WHEN var.v = 2
                 THEN (((t.t*var.k1 + var.o1) % 256) - 128) * 256 END) AS sum_ch1,
             SUM(ABS(CASE
                 WHEN var.v = 0 THEN CAST(FLOOR((
                      (((t.t*var.k0 + var.o0) % 2048) - 1024)
                    + (((t.t*var.k1 + var.o1) % 2048) - 1024)) / 2.0) AS BIGINT)
                 WHEN var.v = 1
                 THEN (((t.t*var.k0 + var.o0) % 256) - 128) * 256
                 ELSE CAST(FLOOR((
                      ((((t.t*var.k0 + var.o0) % 256) - 128) * 256)
                    + ((((t.t*var.k1 + var.o1) % 256) - 128) * 256)) / 2.0) AS BIGINT)
                 END)) AS sum_abs
      FROM var, range(650) t(t) WHERE t.t < var.m
      GROUP BY var.media_id, var.v, var.m
    ),
    vid AS (
      SELECT i AS media_id, 8 + (i % 5) AS w, 6 + (i % 4) AS h, 3 + (i % 6) AS nf
      FROM range({_REAL_MEDIA_N}) t(i) WHERE i % 3 = 2
    ),
    vid_sums AS (
      SELECT vid.media_id, vid.w, vid.h, vid.nf,
             SUM(CASE WHEN c.c = 0
                 THEN (x.x*7 + y.y*13 + c.c*29 + k.k*17 + vid.media_id*3) % 256 END) AS sum_r,
             SUM(CASE WHEN c.c = 1
                 THEN (x.x*7 + y.y*13 + c.c*29 + k.k*17 + vid.media_id*3) % 256 END) AS sum_g,
             SUM(CASE WHEN c.c = 2
                 THEN (x.x*7 + y.y*13 + c.c*29 + k.k*17 + vid.media_id*3) % 256 END) AS sum_b
      FROM vid, range(12) x(x), range(9) y(y), range(8) k(k), range(3) c(c)
      WHERE x.x < vid.w AND y.y < vid.h AND k.k < vid.nf
      GROUP BY vid.media_id, vid.w, vid.h, vid.nf
    )
    SELECT media_id, 'image' AS kind,
           CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
           CAST(NULL AS BIGINT) AS n_frames, CAST(NULL AS BIGINT) AS n_samples,
           CAST(NULL AS BIGINT) AS sample_rate, CAST(NULL AS BIGINT) AS duration_ms,
           CAST(sum_r AS BIGINT) AS sum_r, CAST(sum_g AS BIGINT) AS sum_g,
           CAST(sum_b AS BIGINT) AS sum_b, CAST(NULL AS BIGINT) AS sum_abs,
           CAST(NULL AS BIGINT) AS n_channels,
           CAST(NULL AS BIGINT) AS sum_ch0, CAST(NULL AS BIGINT) AS sum_ch1
    FROM img_sums
    UNION ALL
    SELECT media_id, 'audio',
           NULL, NULL, NULL, CAST(n AS BIGINT),
           8000, CAST(n // 8 AS BIGINT),
           NULL, NULL, NULL, CAST(sum_abs AS BIGINT),
           1, CAST(sum_sig AS BIGINT), NULL
    FROM aud_sums
    UNION ALL
    SELECT media_id, 'audio',
           NULL, NULL, NULL, CAST(m AS BIGINT),
           8000, CAST(m // 8 AS BIGINT),
           NULL, NULL, NULL, CAST(sum_abs AS BIGINT),
           CAST(CASE WHEN v = 1 THEN 1 ELSE 2 END AS BIGINT),
           CAST(sum_ch0 AS BIGINT), CAST(sum_ch1 AS BIGINT)
    FROM var_sums
    UNION ALL
    SELECT media_id, 'video',
           CAST(w AS BIGINT), CAST(h AS BIGINT), CAST(nf AS BIGINT), NULL,
           NULL, CAST(nf * 100 AS BIGINT),
           CAST(sum_r AS BIGINT), CAST(sum_g AS BIGINT), CAST(sum_b AS BIGINT), NULL,
           NULL, NULL, NULL
    FROM vid_sums
    ORDER BY media_id
"""


@register(
    "q_media_decode_stats",
    oracle=_DECODE_STATS_ORACLE,
    doc="REAL codec decode (BMP header parse / PCM WAV including "
    "stereo and 8-bit lanes / raw-video container) through one "
    "Arrow-batched mapInPandas pass, emitting per-media decoded "
    "statistics. The oracle recomputes every decoded byte's closed "
    "form in DuckDB — a genuine cross-engine check of the decode "
    "path, compared via exact integer channel sums (r9: including "
    "per-channel sums and the floor channel-mean downmix of the "
    "stereo/8-bit WAV variants).",
)
def q_media_decode_stats(spark: SparkSession, sf: str) -> DataFrame:
    from incremental_github_data_pipeline_spark.operators.multimodal import (
        decode_stats,
        make_real_media,
        make_wav_variant_media,
    )

    media = make_real_media(spark, n=_REAL_MEDIA_N).unionByName(
        make_wav_variant_media(spark, n=24)
    )
    stats = decode_stats(media)
    npix = (
        F.col("width") * F.col("height") * F.coalesce(F.col("n_frames"), F.lit(1))
    )
    return stats.select(
        "media_id",
        "kind",
        "width",
        "height",
        "n_frames",
        "n_samples",
        "sample_rate",
        "duration_ms",
        F.round(F.col("mean_r") * npix).cast("long").alias("sum_r"),
        F.round(F.col("mean_g") * npix).cast("long").alias("sum_g"),
        F.round(F.col("mean_b") * npix).cast("long").alias("sum_b"),
        F.round(F.col("mean_abs_sample") * F.col("n_samples"))
        .cast("long")
        .alias("sum_abs"),
        "n_channels",
        F.round(F.col("mean_ch0") * F.col("n_samples"))
        .cast("long")
        .alias("sum_ch0"),
        F.round(F.col("mean_ch1") * F.col("n_samples"))
        .cast("long")
        .alias("sum_ch1"),
    ).orderBy("media_id")


_FRAME_SAMPLES_ORACLE = f"""
    WITH vid AS (
      SELECT i AS media_id, 8 + (i % 5) AS w, 6 + (i % 4) AS h, 3 + (i % 6) AS nf
      FROM range({_REAL_MEDIA_N}) t(i) WHERE i % 3 = 2
    ),
    samples AS (
      SELECT vid.media_id, vid.w, vid.h,
             s.ts AS ts_ms, LEAST(s.ts // 100, vid.nf - 1) AS frame_idx
      FROM vid, range(0, 800, 250) s(ts)
      WHERE s.ts < vid.nf * 100
    )
    SELECT s.media_id, s.ts_ms, CAST(s.frame_idx AS BIGINT) AS frame_idx,
           CAST(SUM((x.x*7 + y.y*13 + c.c*29 + s.frame_idx*17 + s.media_id*3) % 256)
                AS BIGINT) AS frame_sum
    FROM samples s, range(12) x(x), range(9) y(y), range(3) c(c)
    WHERE x.x < s.w AND y.y < s.h
    GROUP BY s.media_id, s.ts_ms, s.frame_idx
    ORDER BY s.media_id, s.ts_ms
"""


@register(
    "q_media_frame_samples",
    oracle=_FRAME_SAMPLES_ORACLE,
    doc="REAL video frame sampling: decode the raw-RGB container, emit "
    "one row per sampled timestamp with the decoded frame's intensity "
    "(as the exact integer pixel sum). Expansion happens inside each "
    "partition — no shuffle; oracle recomputes each sampled frame's "
    "bytes in closed form.",
)
def q_media_frame_samples(spark: SparkSession, sf: str) -> DataFrame:
    from incremental_github_data_pipeline_spark.operators.multimodal import (
        make_real_media,
        sample_frames,
    )

    media = make_real_media(spark, n=_REAL_MEDIA_N)
    dims = media.select("media_id", "width", "height")
    return (
        sample_frames(media, every_ms=250)
        .join(F.broadcast(dims), "media_id")
        .select(
            "media_id",
            "ts_ms",
            "frame_idx",
            F.round(F.col("frame_mean") * F.col("width") * F.col("height") * 3)
            .cast("long")
            .alias("frame_sum"),
        )
        .orderBy("media_id", "ts_ms")
    )


@register(
    "q_media_jpeg_stats",
    oracle="""
    WITH m AS (
      SELECT i AS media_id, 17 + (i % 14) AS w, 9 + (i % 12) AS h
      FROM range(32) t(i)
    ),
    b AS (
      SELECT media_id, w, h, bx.i AS bx, by.i AS by,
             LEAST(8, w - bx.i * 8) AS nx,
             LEAST(8, h - by.i * 8) AS ny,
             (media_id * 3 + bx.i * 7 + by.i * 13) % 256 AS v
      FROM m, range(4) bx(i), range(3) by(i)
      WHERE bx.i * 8 < w AND by.i * 8 < h
    )
    SELECT media_id,
           CAST(MAX(w) AS BIGINT) AS width,
           CAST(MAX(h) AS BIGINT) AS height,
           CAST(SUM(nx * ny * v) AS BIGINT) AS pixel_sum,
           CAST(SUM(nx * ny * v * (bx + 1) * (by + 1)) AS BIGINT)
             AS block_weighted_sum
    FROM b GROUP BY media_id ORDER BY media_id
    """,
    doc="REAL baseline JPEG decode (operators.multimodal.decode_jpeg — "
    "T.81 marker parse, canonical Huffman entropy decode, dequantize, "
    "IDCT, crop) over genuine encoded JPEG payloads. The test images "
    "are uniform per 8x8 block with closed-form values, which round-"
    "trip EXACTLY under the flat q=8 table (DC of a flat block is "
    "8*(v-128), integral after quantization) — so DuckDB recomputes "
    "the decoded pixel sums and a block-position-weighted sum from "
    "range() with no codec, certifying every pixel the decoder "
    "produces, including the non-multiple-of-8 crop path. Decode runs "
    "in one Arrow-batched mapInPandas pass, one row per image — no "
    "shuffle until the final orderBy.",
)
def q_media_jpeg_stats(spark: SparkSession, sf: str) -> DataFrame:
    from incremental_github_data_pipeline_spark.operators.multimodal import (
        jpeg_decode_stats,
        make_jpeg_media,
    )

    return jpeg_decode_stats(make_jpeg_media(spark, n=32)).orderBy("media_id")


@register(
    "q_media_jpeg420_stats",
    oracle="""
    WITH m AS (
      SELECT i AS media_id, 17 + (i % 14) AS w, 9 + (i % 12) AS h
      FROM range(32) t(i)
    ),
    b AS (
      SELECT media_id, w, h, bx.i AS bx, by.i AS by,
             LEAST(8, w - bx.i * 8) AS nx,
             LEAST(8, h - by.i * 8) AS ny,
             (media_id * 3 + bx.i * 7 + by.i * 13) % 256 AS v
      FROM m, range(4) bx(i), range(3) by(i)
      WHERE bx.i * 8 < w AND by.i * 8 < h
    )
    SELECT media_id,
           CAST(MAX(w) AS BIGINT) AS width,
           CAST(MAX(h) AS BIGINT) AS height,
           CAST(3 * SUM(nx * ny * v) AS BIGINT) AS pixel_sum,
           CAST(3 * SUM(nx * ny * v * (bx + 1) * (by + 1)) AS BIGINT)
             AS block_weighted_sum
    FROM b GROUP BY media_id ORDER BY media_id
    """,
    doc="REAL 4:2:0 chroma-subsampled color JPEG decode — the layout "
    "virtually every camera/web JPEG uses, previously an honest "
    "NotImplementedError. MCUs interleave four Y blocks + Cb + Cr; "
    "the decoder runs general sampling-factor grids (per-component "
    "block rasters, dummy edge blocks, replicated chroma upsampling) "
    "and RESTART INTERVALS (even ids cycle DRI 0/2: RSTn markers "
    "byte-align the stream and reset DC predictors mid-image); odd "
    "ids encode PROGRESSIVE 4:2:0 — the combination that dominates "
    "real web images — so subsampled spectral-selection/refinement "
    "scans are certified too. The "
    "fixture is neutral-gray RGB (Cb=Cr=128 exactly, zero chroma "
    "coefficients), so the subsampled path round-trips EXACTLY and "
    "DuckDB recomputes every decoded pixel: channel-summed pixel and "
    "block-weighted lanes are 3x the grayscale closed form. One "
    "Arrow-batched mapInPandas pass.",
)
def q_media_jpeg420_stats(spark: SparkSession, sf: str) -> DataFrame:
    from incremental_github_data_pipeline_spark.operators.multimodal import (
        jpeg_decode_stats,
        make_jpeg420_media,
    )

    return jpeg_decode_stats(make_jpeg420_media(spark, n=32)).orderBy(
        "media_id"
    )


@register(
    "q_media_jpeg12_stats",
    oracle="""
    WITH m AS (
      SELECT i AS media_id, 17 + (i % 14) AS w, 9 + (i % 12) AS h
      FROM range(32) t(i)
    ),
    b AS (
      SELECT media_id, w, h, bx.i AS bx, by.i AS by,
             LEAST(8, w - bx.i * 8) AS nx,
             LEAST(8, h - by.i * 8) AS ny,
             (media_id * 97 + bx.i * 311 + by.i * 677) % 4096 AS v
      FROM m, range(4) bx(i), range(3) by(i)
      WHERE bx.i * 8 < w AND by.i * 8 < h
    )
    SELECT media_id,
           CAST(MAX(w) AS BIGINT) AS width,
           CAST(MAX(h) AS BIGINT) AS height,
           CAST(SUM(nx * ny * v) AS BIGINT) AS pixel_sum,
           CAST(SUM(nx * ny * v * (bx + 1) * (by + 1)) AS BIGINT)
             AS block_weighted_sum
    FROM b GROUP BY media_id ORDER BY media_id
    """,
    doc="REAL 12-bit-precision JPEG decode (SOF1 extended sequential + "
    "16-bit DQT entries, pq=1) — the scientific/medical-imaging tier, "
    "previously an honest NotImplementedError at both guard sites. "
    "Level shift is 2048 per T.81 A.3.1; DC difference categories run "
    "to 15 and AC sizes to 14, carried in self-describing DHT tables; "
    "decoded samples come back uint16 in 0..4095. The fixture blocks "
    "are uniform with 12-bit closed-form values that round-trip "
    "EXACTLY under the flat q=8 table, so DuckDB recomputes every "
    "decoded sample (pixel-sum + block-position-weighted lanes) from "
    "range() with no codec. One Arrow-batched mapInPandas pass.",
)
def q_media_jpeg12_stats(spark: SparkSession, sf: str) -> DataFrame:
    from incremental_github_data_pipeline_spark.operators.multimodal import (
        jpeg_decode_stats,
        make_jpeg12_media,
    )

    return jpeg_decode_stats(make_jpeg12_media(spark, n=32)).orderBy(
        "media_id"
    )


@register(
    "q_media_jpeg_progressive_stats",
    oracle="""
    WITH m AS (
      SELECT i AS media_id, 17 + (i % 14) AS w, 9 + (i % 12) AS h
      FROM range(32) t(i)
    ),
    b AS (
      SELECT media_id, w, h, bx.i AS bx, by.i AS by,
             LEAST(8, w - bx.i * 8) AS nx,
             LEAST(8, h - by.i * 8) AS ny,
             (media_id * 3 + bx.i * 7 + by.i * 13) % 256 AS v
      FROM m, range(4) bx(i), range(3) by(i)
      WHERE bx.i * 8 < w AND by.i * 8 < h
    )
    SELECT media_id,
           CAST(MAX(w) AS BIGINT) AS width,
           CAST(MAX(h) AS BIGINT) AS height,
           CAST(SUM(nx * ny * v) AS BIGINT) AS pixel_sum,
           CAST(SUM(nx * ny * v * (bx + 1) * (by + 1)) AS BIGINT)
             AS block_weighted_sum
    FROM b GROUP BY media_id ORDER BY media_id
    """,
    doc="REAL PROGRESSIVE JPEG decode (operators.multimodal.decode_jpeg "
    "on SOF2 payloads) — previously the top honest NotImplementedError "
    "for web-crawl images, now the full T.81 G.2 scan machinery: "
    "spectral-selection bands, interleaved DC first + refinement "
    "scans, per-component AC first scans with cross-block EOB runs "
    "(EOBn symbols — the flat test blocks force MULTI-BLOCK runs), "
    "and AC successive-approximation refinement with sign-magnitude "
    "correction bits. The encoder's scan script ends at Al=0, so "
    "decoded coefficients are bit-identical to the baseline encoding "
    "of the same pixels — the SAME closed-form oracle certifies every "
    "pixel, and a pytest pins progressive==baseline decode on random "
    "content. One Arrow-batched mapInPandas pass.",
)
def q_media_jpeg_progressive_stats(spark: SparkSession, sf: str) -> DataFrame:
    from incremental_github_data_pipeline_spark.operators.multimodal import (
        jpeg_decode_stats,
        make_jpeg_progressive_media,
    )

    return jpeg_decode_stats(make_jpeg_progressive_media(spark, n=32)).orderBy(
        "media_id"
    )


@register(
    "q_media_png_stats",
    oracle="""
    WITH m AS (
      SELECT i AS media_id, 9 + (i % 12) AS w, 7 + (i % 10) AS h,
             CASE WHEN i % 2 = 0 THEN 3 ELSE 1 END AS ch
      FROM range(48) t(i)
    ),
    px AS (
      SELECT m.media_id, m.w, m.h, m.ch, y.y,
             (x.x * 11 + y.y * 17 + c.c * 23 + m.media_id * 5) % 256 AS v
      FROM m, range(21) x(x), range(17) y(y), range(3) c(c)
      WHERE x.x < m.w AND y.y < m.h AND c.c < m.ch
    )
    SELECT media_id,
           CAST(MAX(w) AS BIGINT) AS width,
           CAST(MAX(h) AS BIGINT) AS height,
           CAST(MAX(ch) AS BIGINT) AS channels,
           CAST(SUM(v) AS BIGINT) AS pixel_sum,
           CAST(SUM(v * (y + 1)) AS BIGINT) AS row_weighted_sum
    FROM px GROUP BY media_id ORDER BY media_id
    """,
    doc="REAL PNG decode (operators.multimodal.decode_png — CRC-checked "
    "chunk walk, stdlib-zlib inflate, per-row unfilter; the encoder "
    "cycles ALL five filter types, so None/Sub/Up/Average/Paeth are "
    "each on the certified path) over genuine PNG payloads, grayscale "
    "and truecolor. Content is closed-form, so DuckDB recomputes the "
    "exact integer pixel sum and a row-position-weighted sum from "
    "range() with no codec. One Arrow-batched mapInPandas pass, no "
    "shuffle until the final orderBy.",
)
def q_media_png_stats(spark: SparkSession, sf: str) -> DataFrame:
    from incremental_github_data_pipeline_spark.operators.multimodal import (
        make_png_media,
        png_decode_stats,
    )

    return png_decode_stats(make_png_media(spark, n=48)).orderBy("media_id")


@register(
    "q_media_png_interlaced_stats",
    oracle="""
    WITH m AS (
      SELECT i AS media_id, 3 + (i % 13) AS w, 2 + (i % 11) AS h,
             CASE WHEN i % 2 = 0 THEN 3 ELSE 1 END AS ch
      FROM range(24) t(i)
    ),
    px AS (
      SELECT m.media_id, m.w, m.h, m.ch, y.y,
             (x.x * 11 + y.y * 17 + c.c * 23 + m.media_id * 5) % 256 AS v
      FROM m, range(16) x(x), range(13) y(y), range(3) c(c)
      WHERE x.x < m.w AND y.y < m.h AND c.c < m.ch
    )
    SELECT media_id,
           CAST(MAX(w) AS BIGINT) AS width,
           CAST(MAX(h) AS BIGINT) AS height,
           CAST(MAX(ch) AS BIGINT) AS channels,
           CAST(SUM(v) AS BIGINT) AS pixel_sum,
           CAST(SUM(v * (y + 1)) AS BIGINT) AS row_weighted_sum
    FROM px GROUP BY media_id ORDER BY media_id
    """,
    doc="REAL Adam7-INTERLACED PNG decode "
    "(operators.multimodal.decode_png): the seven-pass de-interlace — "
    "each pass unfilters as an independent sub-image (all five filter "
    "types cycle within every pass) and scatters onto the pass grid — "
    "previously the most commonly hit honest NotImplementedError in "
    "web-crawl image data. Fixture sizes 3..15 x 2..12 force EMPTY "
    "passes (w<5 kills pass 2, h<5 kills pass 3), which must "
    "contribute exactly zero bytes. Content is closed-form, so DuckDB "
    "recomputes exact pixel sums from range() with no codec; the "
    "row-weighted lane catches any pass scattered to the wrong rows. "
    "One Arrow-batched mapInPandas pass.",
)
def q_media_png_interlaced_stats(spark: SparkSession, sf: str) -> DataFrame:
    from incremental_github_data_pipeline_spark.operators.multimodal import (
        make_png_interlaced_media,
        png_decode_stats,
    )

    return png_decode_stats(make_png_interlaced_media(spark)).orderBy(
        "media_id"
    )


@register(
    "q_media_png16_stats",
    oracle="""
    WITH m AS (
      SELECT i AS media_id, 4 + (i % 9) AS w, 3 + (i % 7) AS h,
             CASE WHEN i % 2 = 0 THEN 3 ELSE 1 END AS ch
      FROM range(24) t(i)
    ),
    px AS (
      SELECT m.media_id, m.w, m.h, m.ch, y.y,
             (x.x * 257 + y.y * 4097 + c.c * 911 + m.media_id * 13)
               % 65536 AS v
      FROM m, range(13) x(x), range(10) y(y), range(3) c(c)
      WHERE x.x < m.w AND y.y < m.h AND c.c < m.ch
    )
    SELECT media_id,
           CAST(MAX(w) AS BIGINT) AS width,
           CAST(MAX(h) AS BIGINT) AS height,
           CAST(MAX(ch) AS BIGINT) AS channels,
           CAST(SUM(v) AS BIGINT) AS pixel_sum,
           CAST(SUM(v * (y + 1)) AS BIGINT) AS row_weighted_sum
    FROM px GROUP BY media_id ORDER BY media_id
    """,
    doc="REAL 16-bit PNG decode (operators.multimodal.decode_png, "
    "depth 16): samples are big-endian byte PAIRS and the filter "
    "delta doubles (bpp is defined in BYTES), so every unfilter "
    "branch runs with the wider stride; even ids are truecolor "
    "straight-laced, odd ids grayscale Adam7-interlaced — the "
    "16-bit x interlace COMPOSITION is on the certified path. "
    "Previously an honest NotImplementedError (the scientific/"
    "medical/scanner-output PNG variant). Content is closed-form, so "
    "DuckDB recomputes exact 16-bit pixel sums from range() with no "
    "codec. One Arrow-batched mapInPandas pass.",
)
def q_media_png16_stats(spark: SparkSession, sf: str) -> DataFrame:
    from incremental_github_data_pipeline_spark.operators.multimodal import (
        make_png16_media,
        png_decode_stats,
    )

    return png_decode_stats(make_png16_media(spark)).orderBy("media_id")


@register(
    "q_media_png_lowdepth_stats",
    oracle="""
    WITH m AS (
      SELECT i AS media_id, 5 + (i % 11) AS w, 4 + (i % 9) AS h,
             CASE i % 3 WHEN 0 THEN 2 WHEN 1 THEN 4 ELSE 16 END AS nv,
             CASE i % 3 WHEN 0 THEN 255 WHEN 1 THEN 85 ELSE 17 END AS mult,
             CASE WHEN i % 2 = 0 THEN 3 ELSE 1 END AS ch
      FROM range(24) t(i)
    ),
    px AS (
      SELECT m.media_id, m.w, m.h, m.ch, y.y,
             CASE WHEN m.ch = 1
                  THEN ((x.x * 3 + y.y * 5 + m.media_id) % m.nv) * m.mult
                  ELSE (((x.x * 3 + y.y * 5 + m.media_id) % m.nv) * 29
                        + c.c * 47 + m.media_id * 7) % 256
             END AS v
      FROM m, range(16) x(x), range(13) y(y), range(3) c(c)
      WHERE x.x < m.w AND y.y < m.h AND c.c < m.ch
    )
    SELECT media_id,
           CAST(MAX(w) AS BIGINT) AS width,
           CAST(MAX(h) AS BIGINT) AS height,
           CAST(MAX(ch) AS BIGINT) AS channels,
           CAST(SUM(v) AS BIGINT) AS pixel_sum,
           CAST(SUM(v * (y + 1)) AS BIGINT) AS row_weighted_sum
    FROM px GROUP BY media_id ORDER BY media_id
    """,
    doc="REAL sub-byte-depth PNG decode "
    "(operators.multimodal.decode_png, depths 1/2/4 — the favicon/"
    "icon/fax tier, previously the most common remaining honest "
    "NotImplementedError): MSB-first bit-packed rows unfilter at "
    "bpp=1 (filters are byte-defined regardless of depth), samples "
    "unpack per row width with pad bits dropped, grayscale scales by "
    "exactly 255/(2**depth-1) and indexed rows go through PLTE; half "
    "the fixture is Adam7-interlaced so per-PASS re-padding is "
    "certified too. Content is closed-form, so DuckDB recomputes the "
    "exact pixel sums from range() with no codec. One Arrow-batched "
    "mapInPandas pass.",
)
def q_media_png_lowdepth_stats(spark: SparkSession, sf: str) -> DataFrame:
    from incremental_github_data_pipeline_spark.operators.multimodal import (
        make_png_lowdepth_media,
        png_decode_stats,
    )

    return png_decode_stats(make_png_lowdepth_media(spark)).orderBy(
        "media_id"
    )


@register(
    "q_media_g711_stats",
    oracle="""
    WITH m AS (
      SELECT i AS media_id, 160 + 40 * (i % 8) AS n,
             CASE WHEN i % 2 = 0 THEN 'mulaw' ELSE 'alaw' END AS law
      FROM range(48) t(i)
    ),
    code AS (
      SELECT m.media_id, m.law,
             (t.t * (3 + m.media_id % 5) + m.media_id * 7) % 256 AS c
      FROM m, range(440) t(t) WHERE t.t < m.n
    ),
    pcm AS (
      SELECT media_id, law,
        CASE WHEN law = 'mulaw' THEN
          CASE WHEN (255 - c) >= 128
            THEN 132 - (((255 - c) % 16) * 8 + 132)
                 * (1 << (((255 - c) // 16) % 8))
            ELSE (((255 - c) % 16) * 8 + 132)
                 * (1 << (((255 - c) // 16) % 8)) - 132
          END
        ELSE
          CASE WHEN xor(c, 85) >= 128 THEN -1 ELSE 1 END *
          CASE WHEN ((xor(c, 85) // 16) % 8) = 0
            THEN (xor(c, 85) % 16) * 16 + 8
            ELSE ((xor(c, 85) % 16) * 16 + 264)
                 * (1 << (((xor(c, 85) // 16) % 8) - 1))
          END
        END AS s
      FROM code
    )
    SELECT media_id, MIN(law) AS law,
           CAST(8000 AS BIGINT) AS sample_rate,
           CAST(COUNT(*) AS BIGINT) AS n_samples,
           CAST(SUM(ABS(s)) AS BIGINT) AS sum_abs,
           CAST(SUM(CASE WHEN s > 0 THEN s ELSE 0 END) AS BIGINT) AS sum_pos
    FROM pcm GROUP BY media_id ORDER BY media_id
    """,
    doc="REAL G.711 telephony-audio decode (operators.multimodal."
    "decode_wav_g711 — RIFF chunk walk honoring format tags 7/6, then "
    "the ITU mu-law/A-law expand formulas). Codewords are closed-form, "
    "and the expand formulas are pure integer arithmetic, so the DuckDB "
    "oracle re-derives every decoded PCM sample IN SQL (bit shifts + "
    "xor) and checks exact |pcm| and positive-pcm sums — sign handling "
    "and magnitude both pinned, per payload.",
)
def q_media_g711_stats(spark: SparkSession, sf: str) -> DataFrame:
    from incremental_github_data_pipeline_spark.operators.multimodal import (
        g711_decode_stats,
        make_g711_media,
    )

    return g711_decode_stats(make_g711_media(spark, n=48)).orderBy("media_id")


def _adpcm_oracle() -> str:
    """Build the IMA-ADPCM recursive-CTE oracle: DuckDB replays the
    decoder's per-sample state machine (step-table lookup, magnitude
    reconstruction from the 3 low bits, sign, predictor clamp, index
    walk) over the closed-form nibble stream — a full SQL re-derivation
    of every decoded sample of a genuinely compressed codec."""
    from incremental_github_data_pipeline_spark.operators.multimodal import (
        IMA_INDEX_TABLE,
        IMA_STEP_TABLE,
    )

    steps = ", ".join(f"({j}, {int(v)})" for j, v in enumerate(IMA_STEP_TABLE))
    idxd = ", ".join(f"({n}, {int(d)})" for n, d in enumerate(IMA_INDEX_TABLE))
    nib = "(((s.t + 1) * 7 + s.media_id * 3) % 16)"
    return f"""
    WITH RECURSIVE
    steps(j, v) AS (VALUES {steps}),
    idxd(nb, d) AS (VALUES {idxd}),
    m AS (SELECT i AS media_id, 120 + 20 * (i % 6) AS n FROM range(32) t(i)),
    state AS (
      SELECT media_id, n, -1 AS t, 0 AS pred, 0 AS idx FROM m
      UNION ALL
      SELECT s.media_id, s.n, s.t + 1,
             CAST(GREATEST(-32768, LEAST(32767,
               s.pred
               + CASE WHEN {nib} >= 8 THEN -1 ELSE 1 END
               * (st.v // 8
                  + CASE WHEN {nib} % 8 >= 4 THEN st.v ELSE 0 END
                  + CASE WHEN {nib} % 4 >= 2 THEN st.v // 2 ELSE 0 END
                  + CASE WHEN {nib} % 2 = 1 THEN st.v // 4 ELSE 0 END)
             )) AS INTEGER) AS pred,
             CAST(GREATEST(0, LEAST(88, s.idx + it.d)) AS INTEGER) AS idx
      FROM state s
      JOIN steps st ON st.j = s.idx
      JOIN idxd it ON it.nb = {nib}
      WHERE s.t + 1 < s.n
    )
    SELECT media_id,
           CAST(COUNT(*) AS BIGINT) AS n_samples,
           CAST(SUM(ABS(pred)) AS BIGINT) AS sum_abs,
           CAST(SUM(CASE WHEN pred > 0 THEN pred ELSE 0 END) AS BIGINT)
             AS sum_pos,
           CAST(MAX(CASE WHEN t = n - 1 THEN pred END) AS BIGINT)
             AS last_sample
    FROM state GROUP BY media_id ORDER BY media_id
    """


@register(
    "q_media_adpcm_stats",
    oracle=_adpcm_oracle(),
    doc="REAL compressed-audio decode: IMA ADPCM (WAV format tag 17 — "
    "4-bit nibbles, 4x smaller than PCM16) through operators."
    "multimodal.decode_wav_adpcm (RIFF walk, block header, nibble "
    "unpack, IMA step-size recurrence). The DuckDB oracle replays the "
    "ENTIRE decoder state machine in a recursive CTE — step-table "
    "join, magnitude bits, predictor clamp, index walk — so every one "
    "of the ~4500 decoded samples is re-derived in SQL; the "
    "last_sample lane makes a single wrong transition anywhere in the "
    "chain visible. Decode runs in one Arrow-batched mapInPandas "
    "pass.",
)
def q_media_adpcm_stats(spark: SparkSession, sf: str) -> DataFrame:
    from incremental_github_data_pipeline_spark.operators.multimodal import (
        adpcm_decode_stats,
        make_adpcm_media,
    )

    return adpcm_decode_stats(make_adpcm_media(spark, n=32)).orderBy("media_id")


def _gif_anim_oracle_branch() -> str:
    """UNION branch replaying the animated-GIF composites (ids 32..39)
    in closed form: per (id, frame, x, y, channel) the composited
    value follows the fixture's variant rules — local palettes and a
    third frame (v0), a transparent index showing the base through
    (v1), an interlaced frame (v2, caught by the row-weighted lane),
    and a dispose-to-background sub-rect followed by a disjoint rect
    (v3). Pixel rule P(f, lx, ly, c) = ((lx*3 + ly*5 + i + f*7) % 8)
    mapped through frame-f's local palette."""

    def p(f: str, lx: str, ly: str) -> str:
        idx = f"((({lx})*3 + ({ly})*5 + i + ({f})*7) % 8)"
        return (
            f"(({idx}) * k.k + k.q + ({f})*13) % 256"
        )

    idx1 = "((x.x*3 + y.y*5 + i + 7) % 8)"
    in_rect1 = "(x.x >= 1 AND x.x < w - 3 AND y.y >= 1 AND y.y < h - 2)"
    in_rect2 = "(y.y = h - 1 AND x.x >= 1 AND x.x < w - 1)"
    val = f"""
        CASE
          WHEN f.f = 0 THEN {p('0', 'x.x', 'y.y')}
          WHEN i % 4 = 0 OR i % 4 = 2 THEN {p('f.f', 'x.x', 'y.y')}
          WHEN i % 4 = 1 THEN
            CASE WHEN {idx1} <> 0 THEN {p('1', 'x.x', 'y.y')}
                 ELSE {p('0', 'x.x', 'y.y')} END
          WHEN f.f = 1 THEN
            CASE WHEN {in_rect1}
                 THEN {p('1', 'x.x - 1', 'y.y - 1')}
                 ELSE {p('0', 'x.x', 'y.y')} END
          ELSE
            CASE WHEN {in_rect1} THEN 0
                 WHEN {in_rect2} THEN {p('2', 'x.x - 1', '0')}
                 ELSE {p('0', 'x.x', 'y.y')} END
        END"""
    return f"""
    SELECT media_id,
           CAST(MAX(w) AS BIGINT) AS width,
           CAST(MAX(h) AS BIGINT) AS height,
           CAST(MAX(nf) AS BIGINT) AS n_frames,
           CAST(SUM(CASE WHEN k.k = 37 THEN (f.f + 1) * v END)
                AS BIGINT) AS sum_r,
           CAST(SUM(CASE WHEN k.k = 59 THEN (f.f + 1) * v END)
                AS BIGINT) AS sum_g,
           CAST(SUM(CASE WHEN k.k = 83 THEN (f.f + 1) * v END)
                AS BIGINT) AS sum_b,
           CAST(SUM((f.f + 1) * v * (y.y + 1)) AS BIGINT) AS row_weighted
    FROM (
      SELECT 32 + t.i AS media_id, 32 + t.i AS i,
             11 + ((32 + t.i) % 9) AS w, 8 + ((32 + t.i) % 7) AS h,
             CASE WHEN (32 + t.i) % 4 IN (0, 3) THEN 3 ELSE 2 END AS nf
      FROM range(8) t(i)
    ) m, range(20) x(x), range(15) y(y), range(3) f(f),
      (VALUES (37, 11), (59, 23), (83, 47)) k(k, q),
      LATERAL (SELECT {val} AS v) lv
    WHERE x.x < w AND y.y < h AND f.f < nf
    GROUP BY media_id
    """


@register(
    "q_media_gif_stats",
    oracle=f"""
    WITH m AS (
      SELECT i AS media_id, 11 + (i % 9) AS w, 8 + (i % 7) AS h,
             CASE WHEN i % 2 = 0 THEN 4 ELSE 8 END AS nc
      FROM range(32) t(i)
    ),
    px AS (
      SELECT media_id, w, h, y.y AS y,
             (x.x * 3 + y.y * 5 + media_id) % nc AS c
      FROM m, range(20) x(x), range(15) y(y)
      WHERE x.x < w AND y.y < h
    )
    SELECT * FROM (
      SELECT media_id,
             CAST(MAX(w) AS BIGINT) AS width,
             CAST(MAX(h) AS BIGINT) AS height,
             CAST(1 AS BIGINT) AS n_frames,
             CAST(SUM((c * 37 + 11) % 256) AS BIGINT) AS sum_r,
             CAST(SUM((c * 59 + 23) % 256) AS BIGINT) AS sum_g,
             CAST(SUM((c * 83 + 47) % 256) AS BIGINT) AS sum_b,
             CAST(SUM(((c * 37 + 11) % 256 + (c * 59 + 23) % 256
                       + (c * 83 + 47) % 256) * (y + 1)) AS BIGINT)
               AS row_weighted
      FROM px GROUP BY media_id
      UNION ALL
      {_gif_anim_oracle_branch()}
    ) ORDER BY media_id
    """,
    doc="REAL GIF decode (operators.multimodal.decode_gif_frames): "
    "header parse, global AND local color tables, sub-block "
    "reassembly, a genuine variable-width LZW decompressor "
    "(dictionary growth, width changes, clear/end codes, the KwKwK "
    "case), and since r13 the full GIF89a animation surface — "
    "multi-frame compositing onto the logical screen, the no-global-"
    "color-table layout, transparent indices (underlying composite "
    "shows through), 4-pass INTERLACED frames, sub-rect placement, "
    "and dispose-to-background. Ids 0..31 are the r4 single-frame "
    "fixtures; ids 32..39 cycle the animation variants. Lanes are "
    "frame-index-weighted channel sums plus a frame- and row-"
    "weighted sum — the pair that catches wrong composites, frame "
    "order, and interlace row permutations. DuckDB recomputes every "
    "composited pixel from range() with no codec. One Arrow-batched "
    "mapInPandas pass.",
)
def q_media_gif_stats(spark: SparkSession, sf: str) -> DataFrame:
    from incremental_github_data_pipeline_spark.operators.multimodal import (
        gif_decode_stats,
        make_gif_media,
    )

    return gif_decode_stats(make_gif_media(spark, n=32)).orderBy("media_id")


@register(
    "q_media_qoi_stats",
    oracle="""
    WITH m AS (
      SELECT i AS media_id, 12 + (i % 7) AS w, 9 + (i % 5) AS h
      FROM range(32) t(i)
    ),
    px AS (
      SELECT media_id, w, h, x.x AS x, y.y AS y,
             CASE WHEN y.y % 5 = 0 THEN (media_id * 31) % 256
                  WHEN y.y % 5 = 1 THEN (x.x + y.y + media_id) % 256
                  ELSE (x.x * 29 + y.y * 53 + media_id) % 256 END AS r,
             CASE WHEN y.y % 5 = 0 THEN (media_id * 47) % 256
                  WHEN y.y % 5 = 1 THEN (x.x + y.y + media_id) % 256
                  ELSE (x.x * 31 + y.y * 59 + 2 * media_id) % 256 END AS g,
             CASE WHEN y.y % 5 = 0 THEN (media_id * 5) % 256
                  WHEN y.y % 5 = 1 THEN (x.x + y.y + media_id) % 256
                  ELSE (x.x * 37 + y.y * 61 + 3 * media_id) % 256 END AS b
      FROM m, range(20) x(x), range(15) y(y)
      WHERE x.x < w AND y.y < h
    )
    SELECT media_id,
           CAST(MAX(w) AS BIGINT) AS width,
           CAST(MAX(h) AS BIGINT) AS height,
           CAST(SUM(r) AS BIGINT) AS sum_r,
           CAST(SUM(g) AS BIGINT) AS sum_g,
           CAST(SUM(b) AS BIGINT) AS sum_b,
           CAST(SUM((y * w + x) * r) AS BIGINT) AS pos_r
    FROM px GROUP BY media_id ORDER BY media_id
    """,
    doc="REAL QOI decode (operators.multimodal.decode_qoi — the Quite "
    "OK Image format, full chunk state machine: 64-slot running color "
    "index, wrapped 2-bit diffs, green-relative luma diffs, run "
    "packets). Payloads come from the in-repo spec-complete encoder; "
    "content is closed-form (flat rows exercise RUN, gradient rows "
    "DIFF, jump rows RGB/LUMA/INDEX), so DuckDB recomputes every "
    "pixel from range() with no codec. The position-weighted red lane "
    "(sum (y*w+x)*r) pins pixel ORDER, which catches run/index "
    "misplacement that channel sums alone would miss. One "
    "Arrow-batched mapInPandas pass.",
)
def q_media_qoi_stats(spark: SparkSession, sf: str) -> DataFrame:
    from incremental_github_data_pipeline_spark.operators.multimodal import (
        make_qoi_media,
        qoi_decode_stats,
    )

    return qoi_decode_stats(make_qoi_media(spark, n=32)).orderBy("media_id")


@register(
    "q_media_phash_dups",
    oracle="""
    WITH ids AS (
      SELECT i AS media_id, i AS base, FALSE AS pert FROM range(24) t(i)
      UNION ALL
      SELECT 100 + i, i, TRUE FROM range(8) t2(i)
    ),
    px AS (
      SELECT media_id, x.x AS x, y.y AS y,
        CASE WHEN pert AND x.x < 2 AND y.y < 2
             THEN LEAST(255, (x.x*13 + y.y*7 + base*29) % 256 + 100)
             ELSE (x.x*13 + y.y*7 + base*29) % 256 END
        + CASE WHEN pert AND x.x < 2 AND y.y < 2
             THEN LEAST(255, (x.x*5 + y.y*11 + base*3) % 256 + 100)
             ELSE (x.x*5 + y.y*11 + base*3) % 256 END
        + CASE WHEN pert AND x.x < 2 AND y.y < 2
             THEN LEAST(255, (x.x*17 + y.y*23 + base) % 256 + 100)
             ELSE (x.x*17 + y.y*23 + base) % 256 END AS s
      FROM ids, range(16) x(x), range(16) y(y)
    ),
    cells AS (
      SELECT media_id, (y // 2) * 8 + (x // 2) AS j, SUM(s) AS cs
      FROM px GROUP BY 1, 2
    ),
    tot AS (SELECT media_id, SUM(s) AS ts FROM px GROUP BY 1),
    bits AS (
      SELECT c.media_id, c.j,
             CASE WHEN 64 * c.cs > t.ts THEN 1 ELSE 0 END AS bit
      FROM cells c JOIN tot t USING (media_id)
    ),
    hashes AS (
      SELECT media_id,
             CAST(SUM(CASE WHEN j >= 32
                           THEN bit * (1::BIGINT << (j - 32))
                           ELSE 0 END) AS BIGINT) AS hash_hi,
             CAST(SUM(CASE WHEN j < 32
                           THEN bit * (1::BIGINT << j)
                           ELSE 0 END) AS BIGINT) AS hash_lo
      FROM bits GROUP BY 1
    ),
    pairs AS (
      SELECT a.media_id,
             CAST(bit_count(xor(a.hash_hi, b.hash_hi))
                  + bit_count(xor(a.hash_lo, b.hash_lo)) AS BIGINT)
               AS partner_hamming
      FROM hashes a JOIN hashes b ON b.media_id = a.media_id + 100
      WHERE a.media_id < 8
    )
    SELECT h.media_id, h.hash_hi, h.hash_lo,
           CAST(COALESCE(p.partner_hamming, -1) AS BIGINT)
             AS partner_hamming,
           COALESCE(p.partner_hamming <= 4, FALSE) AS is_near_dup
    FROM hashes h LEFT JOIN pairs p USING (media_id)
    ORDER BY h.media_id
    """,
    doc="Perceptual image near-dup detection (average hash) on top of "
    "the real QOI codec: decode -> per-8x8-cell integer sums -> "
    "strict-majority bit (64*cell > total, division-free) -> 64-bit "
    "signature as two 32-bit halves -> Hamming distance to the "
    "planted perturbed partner via xor+bit_count. Every stage is "
    "integer-exact, so DuckDB re-derives the HASH VALUES themselves "
    "from closed-form pixels — not just an assertion — and both "
    "engines compute the partner Hamming from their own hashes. "
    "Planted near-copies (one brightened cell) land at distance 0-2 "
    "vs >=8 for unrelated images; at corpus scale the signature "
    "becomes the LSH bucket key (band the 64 bits), the same shape as "
    "the text MinHash lanes.",
)
def q_media_phash_dups(spark: SparkSession, sf: str) -> DataFrame:
    from incremental_github_data_pipeline_spark.operators.multimodal import (
        make_ahash_media,
        media_ahash,
    )

    h = media_ahash(make_ahash_media(spark))
    a = h.filter(F.col("media_id") < 8).alias("a")
    b = h.select(
        (F.col("media_id") - 100).alias("media_id"),
        F.col("hash_hi").alias("_bhi"),
        F.col("hash_lo").alias("_blo"),
    ).alias("b")
    pairs = a.join(b, "media_id").select(
        "media_id",
        (
            F.bit_count(F.col("hash_hi").bitwiseXOR(F.col("_bhi")))
            + F.bit_count(F.col("hash_lo").bitwiseXOR(F.col("_blo")))
        )
        .cast("long")
        .alias("partner_hamming"),
    )
    return (
        h.join(pairs, "media_id", "left")
        .select(
            "media_id",
            "hash_hi",
            "hash_lo",
            F.coalesce("partner_hamming", F.lit(-1))
            .cast("long")
            .alias("partner_hamming"),
            F.coalesce(F.col("partner_hamming") <= 4, F.lit(False)).alias(
                "is_near_dup"
            ),
        )
        .orderBy("media_id")
    )


@register(
    "q_media_png_palette_stats",
    oracle="""
    WITH m AS (
      SELECT i AS media_id, 10 + (i % 6) AS w, 7 + (i % 5) AS h,
             5 + (i % 3) * 60 AS nc
      FROM range(24) t(i)
    ),
    px AS (
      SELECT media_id, w, h, y.y AS y,
             (x.x * 7 + y.y * 3 + media_id) % nc AS c
      FROM m, range(16) x(x), range(12) y(y)
      WHERE x.x < w AND y.y < h
    ),
    pxc AS (
      SELECT media_id, w, h, y,
             (c*41 + 13) % 256 + (c*71 + 29) % 256 + (c*97 + 53) % 256 AS s
      FROM px
    )
    SELECT media_id,
           CAST(MAX(w) AS BIGINT) AS width,
           CAST(MAX(h) AS BIGINT) AS height,
           CAST(3 AS BIGINT) AS channels,
           CAST(SUM(s) AS BIGINT) AS pixel_sum,
           CAST(SUM(s * (y + 1)) AS BIGINT) AS row_weighted_sum
    FROM pxc GROUP BY media_id ORDER BY media_id
    """,
    doc="REAL indexed-color PNG decode (color type 3): CRC-verified "
    "chunk walk picks up the PLTE palette, the row unfilter (all five "
    "filter types, cycling, over index bytes) reconstructs the index "
    "raster, and the palette lookup yields RGB — the PNG variant "
    "icons/screenshots/charts actually use, previously an honest "
    "NotImplementedError. Content and palette are closed-form across "
    "three palette sizes, so DuckDB recomputes every pixel's mapped "
    "channel sum from range(); the row-weighted lane catches unfilter "
    "errors that preserve totals. One Arrow-batched mapInPandas pass.",
)
def q_media_png_palette_stats(spark: SparkSession, sf: str) -> DataFrame:
    from incremental_github_data_pipeline_spark.operators.multimodal import (
        make_png_palette_media,
        png_decode_stats,
    )

    return png_decode_stats(make_png_palette_media(spark)).orderBy("media_id")


@register(
    "q_media_curation_funnel",
    oracle="""
    WITH ids AS (
      SELECT i AS media_id, i AS base, 16 AS dim FROM range(24) t(i)
      UNION ALL SELECT 200 + i, i, 16 FROM range(8) t2(i)
      UNION ALL SELECT 300 + i, i, 8 FROM range(8) t3(i)
    ),
    filtered AS (SELECT * FROM ids WHERE dim >= 12),
    px AS (
      SELECT media_id, x.x AS x, y.y AS y,
             (x.x*13 + y.y*7 + base*29) % 256
             + (x.x*5 + y.y*11 + base*3) % 256
             + (x.x*17 + y.y*23 + base) % 256 AS s
      FROM filtered, range(16) x(x), range(16) y(y)
    ),
    cells AS (
      SELECT media_id, (y // 2) * 8 + (x // 2) AS j, SUM(s) AS cs
      FROM px GROUP BY 1, 2
    ),
    tot AS (SELECT media_id, SUM(s) AS ts FROM px GROUP BY 1),
    bits AS (
      SELECT c.media_id, c.j,
             CASE WHEN 64 * c.cs > t.ts THEN 1 ELSE 0 END AS bit
      FROM cells c JOIN tot t USING (media_id)
    ),
    hashes AS (
      SELECT media_id,
             CAST(SUM(CASE WHEN j >= 32
                           THEN bit * (1::BIGINT << (j - 32))
                           ELSE 0 END) AS BIGINT) AS hash_hi,
             CAST(SUM(CASE WHEN j < 32
                           THEN bit * (1::BIGINT << j)
                           ELSE 0 END) AS BIGINT) AS hash_lo
      FROM bits GROUP BY 1
    ),
    survivors AS (
      SELECT MIN(media_id) AS media_id
      FROM hashes GROUP BY hash_hi, hash_lo
    )
    SELECT * FROM (
      SELECT '1_decode' AS stage,
             CAST((SELECT COUNT(*) FROM ids) AS BIGINT) AS n_in,
             CAST((SELECT COUNT(*) FROM ids) AS BIGINT) AS n_out,
             CAST((SELECT SUM(media_id) FROM ids) AS BIGINT)
               AS surviving_id_sum
      UNION ALL
      SELECT '2_min_size',
             CAST((SELECT COUNT(*) FROM ids) AS BIGINT),
             CAST((SELECT COUNT(*) FROM filtered) AS BIGINT),
             CAST((SELECT SUM(media_id) FROM filtered) AS BIGINT)
      UNION ALL
      SELECT '3_phash_dedup',
             CAST((SELECT COUNT(*) FROM filtered) AS BIGINT),
             CAST((SELECT COUNT(*) FROM survivors) AS BIGINT),
             CAST((SELECT SUM(media_id) FROM survivors) AS BIGINT)
    ) ORDER BY stage
    """,
    doc="End-to-end multimodal curation funnel — the image twin of "
    "q_doc_curation_funnel: decode audit -> metadata min-size filter "
    "(no decode needed; pure scan-stage predicate on width/height) -> "
    "perceptual-hash dedup keep-first on the decoded survivors. Each "
    "stage emits (n_in, n_out, surviving_id_sum) — the id-sum lane "
    "pins WHICH rows survive, not just how many. The oracle re-derives "
    "the average hashes of the filtered set from closed-form pixels "
    "and replays the same keep-first grouping; the pixel-identical "
    "planted duplicates (id+200) must collapse onto their originals "
    "while all 24 distinct images survive. Scale shape: the filter "
    "runs before any decode (payload pruning), the hash is one "
    "mapInPandas pass, dedup shuffles 16 bytes per image.",
)
def q_media_curation_funnel(spark: SparkSession, sf: str) -> DataFrame:
    from incremental_github_data_pipeline_spark.operators.multimodal import (
        make_funnel_media,
        media_ahash,
    )

    media = make_funnel_media(spark)

    def audit(stage, n_in_df, out_df):
        return n_in_df.agg(
            F.count(F.lit(1)).alias("_n")
        ).crossJoin(
            out_df.agg(
                F.count(F.lit(1)).alias("_m"),
                F.sum("media_id").alias("_s"),
            )
        ).select(
            F.lit(stage).alias("stage"),
            F.col("_n").cast("long").alias("n_in"),
            F.col("_m").cast("long").alias("n_out"),
            F.col("_s").cast("long").alias("surviving_id_sum"),
        )

    filtered = media.filter((F.col("width") >= 12) & (F.col("height") >= 12))
    hashes = media_ahash(filtered)
    w = Window.partitionBy("hash_hi", "hash_lo").orderBy("media_id")
    survivors = (
        hashes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    return (
        audit("1_decode", media, media)
        .unionByName(audit("2_min_size", media, filtered))
        .unionByName(audit("3_phash_dedup", filtered, survivors))
        .orderBy("stage")
    )


@register(
    "q_media_video_motion",
    oracle=f"""
    WITH v AS (
      SELECT i AS media_id, 8 + (i % 5) AS w, 6 + (i % 4) AS h,
             3 + (i % 6) AS n
      FROM range({_REAL_MEDIA_N}) t(i) WHERE i % 3 = 2
    ),
    el AS (
      SELECT media_id, v.n, v.w, v.h, k.i AS k,
             ABS(CAST((x.i*7 + y.i*13 + c.i*29 + media_id*3
                       + (k.i+1)*17) % 256 AS BIGINT)
               - CAST((x.i*7 + y.i*13 + c.i*29 + media_id*3
                       + k.i*17) % 256 AS BIGINT)) AS d
      FROM v, range(8) k(i), range(9) y(i), range(12) x(i), range(3) c(i)
      WHERE k.i < v.n - 1 AND y.i < v.h AND x.i < v.w
    ),
    pair AS (
      SELECT media_id, n, w, h, k, SUM(d) AS pd
      FROM el GROUP BY 1, 2, 3, 4, 5
    )
    SELECT media_id,
           CAST(MAX(n) AS BIGINT) AS n_frames,
           CAST(SUM(pd) AS BIGINT) AS total_abs_diff,
           CAST(MAX(pd) AS BIGINT) AS max_pair_diff,
           CAST(SUM(CASE WHEN pd > 30 * w * h * 3 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_cuts
    FROM pair GROUP BY media_id ORDER BY media_id
    """,
    doc="Frame-delta motion statistics + scene-cut detection over REAL "
    "raw-RGB video decode (operators.multimodal.video_motion_stats): "
    "per video the exact integer sum of |frame[k+1]-frame[k]| over "
    "consecutive pairs, the max pair delta, and the count of pairs "
    "whose mean per-pixel-channel delta exceeds 30 — compared as "
    "pair_sum > 30*w*h*3, so the cut detector is integer-exact (no "
    "float mean). The synthetic frames advance by +17 mod 256 per "
    "frame, so most elements differ by 17 and wrapping ones by 239; "
    "the mean sits near the 30 threshold and pairs land on BOTH sides, "
    "exercising the detector for real. DuckDB recomputes every element "
    "from range() with no codec. One Arrow-batched mapInPandas pass, "
    "5 numbers per video, no shuffle before the final orderBy.",
)
def q_media_video_motion(spark: SparkSession, sf: str) -> DataFrame:
    from incremental_github_data_pipeline_spark.operators.multimodal import (
        make_real_media,
        video_motion_stats,
    )

    media = make_real_media(spark, n=_REAL_MEDIA_N)
    return video_motion_stats(media, cut_threshold=30).orderBy("media_id")


@register(
    "q_media_vad_segments",
    oracle=f"""
    WITH aud AS (
      SELECT i AS media_id, 400 + 80 * (i % 20) AS n, 3 + (i % 7) AS k
      FROM range({_REAL_MEDIA_N}) t(i) WHERE i % 3 = 1
    ),
    fr AS (
      SELECT media_id, t.t // 160 AS f,
             SUM(ABS(((t.t * aud.k + aud.media_id * 11) % 2048) - 1024))
               AS e
      FROM aud, range(1920) t(t)
      WHERE t.t < (aud.n // 160) * 160
      GROUP BY 1, 2
    ),
    voiced AS (
      SELECT media_id, f,
             CASE WHEN e > 512 * 160 THEN 1 ELSE 0 END AS v
      FROM fr
    ),
    marks AS (
      SELECT media_id, f, v,
             CASE WHEN v = 1 AND COALESCE(LAG(v) OVER w, 0) = 0
                  THEN 1 ELSE 0 END AS seg_start
      FROM voiced WINDOW w AS (PARTITION BY media_id ORDER BY f)
    ),
    runs AS (
      SELECT media_id, f, v, seg_start,
             SUM(seg_start) OVER (PARTITION BY media_id ORDER BY f
                  ROWS UNBOUNDED PRECEDING) AS rid
      FROM marks
    ),
    seglen AS (
      SELECT media_id, rid, SUM(v) AS len
      FROM runs WHERE v = 1 GROUP BY 1, 2
    ),
    agg AS (
      SELECT media_id, SUM(v) AS n_voiced, SUM(seg_start) AS n_segments
      FROM runs GROUP BY 1
    )
    SELECT aud.media_id,
           CAST(aud.n // 160 AS BIGINT) AS n_frames,
           CAST(COALESCE(agg.n_voiced, 0) AS BIGINT) AS n_voiced,
           CAST(COALESCE(agg.n_segments, 0) AS BIGINT) AS n_segments,
           CAST(COALESCE(sl.longest, 0) AS BIGINT) AS longest_segment
    FROM aud
    LEFT JOIN agg USING (media_id)
    LEFT JOIN (SELECT media_id, MAX(len) AS longest FROM seglen
               GROUP BY 1) sl USING (media_id)
    ORDER BY aud.media_id
    """,
    doc="Energy-based voice-activity segmentation over REAL PCM WAV "
    "decode (operators.multimodal.vad_segments): 160-sample frames are "
    "voiced when sum|s| > 512*160 (integer compare — no float mean), "
    "then run-length stats: voiced frame count, maximal-run count, "
    "longest run. The ASR-pipeline keep/drop pre-filter. The synthetic "
    "sawtooth's mean |sample| sits at ~512, so frames land on BOTH "
    "sides of the threshold and the run-length machinery is exercised "
    "for real. DuckDB recomputes every sample from range() (no codec) "
    "and replays the segmentation with window functions. One "
    "Arrow-batched mapInPandas pass, 4 numbers per recording.",
)
def q_media_vad_segments(spark: SparkSession, sf: str) -> DataFrame:
    from incremental_github_data_pipeline_spark.operators.multimodal import (
        make_real_media,
        vad_segments,
    )

    media = make_real_media(spark, n=_REAL_MEDIA_N)
    return vad_segments(media, frame_len=160, threshold=512).orderBy(
        "media_id"
    )


_FLAC_STATS_ORACLE = """
    WITH var AS (
      SELECT 2000 + i AS media_id, i % 2 AS v, 300 + 50 * (i % 8) AS m,
             3 + (i % 7) AS k0, i * 11 AS o0,
             5 + (i % 3) AS k1, i * 13 AS o1
      FROM range(24) t(i)
    ),
    sums AS (
      SELECT var.media_id, var.v, var.m,
             SUM(((t.t*var.k0 + var.o0) % 2048) - 1024) AS sum_ch0,
             SUM(CASE WHEN var.v = 0
                 THEN ((t.t*var.k1 + var.o1) % 2048) - 1024 END) AS sum_ch1,
             SUM(ABS(CASE
                 WHEN var.v = 0 THEN CAST(FLOOR((
                      (((t.t*var.k0 + var.o0) % 2048) - 1024)
                    + (((t.t*var.k1 + var.o1) % 2048) - 1024)) / 2.0) AS BIGINT)
                 ELSE (((t.t*var.k0 + var.o0) % 2048) - 1024)
                 END)) AS sum_abs
      FROM var, range(650) t(t) WHERE t.t < var.m
      GROUP BY var.media_id, var.v, var.m
    )
    SELECT media_id, CAST(m AS BIGINT) AS n_samples,
           CAST(m // 8 AS BIGINT) AS duration_ms,
           CAST(CASE WHEN v = 0 THEN 2 ELSE 1 END AS BIGINT) AS n_channels,
           CAST(sum_abs AS BIGINT) AS sum_abs,
           CAST(sum_ch0 AS BIGINT) AS sum_ch0,
           CAST(sum_ch1 AS BIGINT) AS sum_ch1
    FROM sums ORDER BY media_id
"""


@register(
    "q_media_flac_stats",
    oracle=_FLAC_STATS_ORACLE,
    doc="FLAC decode — the COMPRESSED lossless audio lane "
    "(operators/multimodal.encode_flac/decode_flac: CONSTANT/VERBATIM/"
    "FIXED/LPC(<=32, the spec max — r11 raised the encoder from 8 so "
    "flac -8's order-12 default tier is exercised) subframes, "
    "partitioned-rice residuals, left-side/right-side/mid-side stereo "
    "decorrelation with the 17-bit side channel, wasted-bits coding "
    "(r10), CRC-8/CRC-16/MD5 verified; non-16-bit depths stay an "
    "honest NotImplementedError guard). FLAC is "
    "integer-exact by format design, so unlike MP3's float filterbank "
    "a decode-stats oracle works: the generator compresses closed-form "
    "16-bit signals (mono/stereo alternating; stereo files cycle all "
    "four channel assignments, every third file LPC-coded at "
    "alternating orders 8/12) and DuckDB "
    "recomputes every decoded sample's per-channel and downmix sums — "
    "one wrong residual, prediction, decorrelation or CRC window "
    "breaks a lane.",
)
def q_media_flac_stats(spark: SparkSession, sf: str) -> DataFrame:
    from incremental_github_data_pipeline_spark.operators.multimodal import (
        decode_stats,
        make_flac_media,
    )

    stats = decode_stats(make_flac_media(spark, n=24))
    return stats.select(
        "media_id",
        "n_samples",
        "duration_ms",
        "n_channels",
        F.round(F.col("mean_abs_sample") * F.col("n_samples"))
        .cast("long")
        .alias("sum_abs"),
        F.round(F.col("mean_ch0") * F.col("n_samples"))
        .cast("long")
        .alias("sum_ch0"),
        F.round(F.col("mean_ch1") * F.col("n_samples"))
        .cast("long")
        .alias("sum_ch1"),
    ).orderBy("media_id")


_TIFF_STATS_ORACLE = """
    WITH img AS (
      SELECT 3000 + i AS media_id, i AS i, i % 2 AS gray,
             16 + (i % 13) AS w, 12 + (i % 11) AS h
      FROM range(24) t(i)
    ),
    sums AS (
      SELECT img.media_id, img.gray, img.w, img.h,
             SUM(CASE WHEN c.c = 0
                 THEN (x.x*7 + y.y*13 + c.c*29 + img.i*3) % 256 END) AS s0,
             SUM(CASE WHEN c.c = 1
                 THEN (x.x*7 + y.y*13 + c.c*29 + img.i*3) % 256 END) AS s1,
             SUM(CASE WHEN c.c = 2
                 THEN (x.x*7 + y.y*13 + c.c*29 + img.i*3) % 256 END) AS s2
      FROM img, range(28) x(x), range(22) y(y), range(3) c(c)
      WHERE x.x < img.w AND y.y < img.h
      GROUP BY img.media_id, img.gray, img.w, img.h
    )
    SELECT media_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
           CAST(s0 AS BIGINT) AS sum_r,
           CAST(CASE WHEN gray = 1 THEN s0 ELSE s1 END AS BIGINT) AS sum_g,
           CAST(CASE WHEN gray = 1 THEN s0 ELSE s2 END AS BIGINT) AS sum_b
    FROM sums
    UNION ALL
    -- CCITT bilevel lane (r12): ids 3024-3031 Group 4, 3032-3039
    -- Group 3 cycling MH-RLE / EOL-framed 1-D / 2-D MR (r13) —
    -- pixels threshold the channel-0 closed form, 255 where the
    -- formula is below 128; all three sum lanes coincide (grayscale)
    SELECT media_id, width, height, bsum AS sum_r, bsum AS sum_g,
           bsum AS sum_b
    FROM (
      SELECT g.media_id, CAST(g.w AS BIGINT) AS width,
             CAST(g.h AS BIGINT) AS height,
             CAST(SUM(CASE WHEN (x.x*7 + y.y*13 + g.i*3) % 256 < 128
                      THEN 255 ELSE 0 END) AS BIGINT) AS bsum
      FROM (
        SELECT 3000 + 24 + i AS media_id, 24 + i AS i,
               16 + ((24 + i) % 13) AS w, 12 + ((24 + i) % 11) AS h
        FROM range(16) t(i)
      ) g, range(30) x(x), range(22) y(y)
      WHERE x.x < g.w AND y.y < g.h
      GROUP BY g.media_id, g.w, g.h
    )
    ORDER BY media_id
"""


@register(
    "q_media_tiff_stats",
    oracle=_TIFF_STATS_ORACLE,
    doc="TIFF decode (operators/multimodal.encode_tiff/decode_tiff: "
    "TIFF 6.0 uncompressed + PackBits + LZW-with-horizontal-predictor "
    "+ Deflate, II+MM byte orders, multi-strip, TILED and PLANAR "
    "rasters (r10), 8-bit gray + 24-bit RGB, and since r12 CCITT "
    "Group 4 (T.6 MMR, ITU-T T.4 run tables) 1-bit bilevel strips — "
    "the fax/archival-scan tier; new-style JPEG-in-TIFF "
    "is certified separately by q_media_tiff_jpeg_stats; non-8/1-bit "
    "depths and the tiled+planar+JPEG "
    "combinations stay honest NotImplementedError guards). RGB and "
    "grayscale lanes alternate, compression cycles "
    "none/PackBits/LZW/Deflate (r10), every third file is "
    "multi-strip; the r10 fixture mix also cycles tiled and planar "
    "layouts, ids 3024-3031 are G4 bilevel and 3032-3039 Group 3 "
    "cycling all three framings (MH-RLE byte-aligned / EOL-framed "
    "1-D / 2-D MR with per-line tag bits riding the shared T.6 row "
    "coder — r13; thresholded "
    "closed form, single- and 5-row strips). DuckDB recomputes every "
    "decoded pixel's closed form, so a wrong strip/tile offset, LZW "
    "code width, zlib strip, predictor sum, byte-order, plane "
    "interleave, T.6 mode/run code or IFD walk breaks an integer "
    "sum lane.",
)
def q_media_tiff_stats(spark: SparkSession, sf: str) -> DataFrame:
    from incremental_github_data_pipeline_spark.operators.multimodal import (
        decode_stats,
        make_tiff_media,
    )

    stats = decode_stats(make_tiff_media(spark, n=24))
    npix = F.col("width") * F.col("height")
    return stats.select(
        "media_id",
        "width",
        "height",
        F.round(F.col("mean_r") * npix).cast("long").alias("sum_r"),
        F.round(F.col("mean_g") * npix).cast("long").alias("sum_g"),
        F.round(F.col("mean_b") * npix).cast("long").alias("sum_b"),
    ).orderBy("media_id")


@register(
    "q_media_tiff_jpeg_stats",
    oracle="""
    WITH img AS (
      SELECT 3100 + i AS media_id, i AS i,
             17 + (i % 14) AS w, 9 + (i % 12) AS h
      FROM range(24) t(i)
    ),
    sums AS (
      SELECT img.media_id, img.w, img.h,
             SUM((img.i*3 + (x.x//8)*7 + (y.y//8)*13) % 256) AS s
      FROM img, range(31) x(x), range(21) y(y)
      WHERE x.x < img.w AND y.y < img.h
      GROUP BY 1, 2, 3
    )
    SELECT media_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
           CAST(s AS BIGINT) AS sum_r,
           CAST(s AS BIGINT) AS sum_g,
           CAST(s AS BIGINT) AS sum_b
    FROM sums ORDER BY media_id
    """,
    doc="JPEG-in-TIFF decode (operators/multimodal): new-style "
    "compression 7 per TechNote 2 (r10) — every strip its own JPEG "
    "stream, shared DQT/DHT rejoined from the JPEGTables tag, RGB as "
    "photometric-6 YCbCr 4:4:4 — AND old-style compression 6 (r11): "
    "one complete JPEGInterchangeFormat 513/514 stream, the "
    "pre-TechNote-2 embedding legacy scan archives still carry (its "
    "per-strip-tables variant stays an honest guard). The "
    "scanned-document tier real crawl corpora are full of. Content "
    "is the flat-8x8-block closed form (uniform blocks round-trip "
    "EXACTLY through the flat-q=8 DCT, neutral-gray RGB keeps chroma "
    "coefficients at zero), so DuckDB recomputes every decoded "
    "pixel: a wrong tables rejoin, strip seam, MCU crop, 513 offset "
    "or YCbCr step breaks an integer sum lane. Gray/RGB alternate; "
    "every third file multi-strip at 8 rows, every fourth old-style.",
)
def q_media_tiff_jpeg_stats(spark: SparkSession, sf: str) -> DataFrame:
    from incremental_github_data_pipeline_spark.operators.multimodal import (
        decode_stats,
        make_tiff_jpeg_media,
    )

    stats = decode_stats(make_tiff_jpeg_media(spark, n=24))
    npix = F.col("width") * F.col("height")
    return stats.select(
        "media_id",
        "width",
        "height",
        F.round(F.col("mean_r") * npix).cast("long").alias("sum_r"),
        F.round(F.col("mean_g") * npix).cast("long").alias("sum_g"),
        F.round(F.col("mean_b") * npix).cast("long").alias("sum_b"),
    ).orderBy("media_id")


@register(
    "q_media_quarantine",
    oracle="""
    SELECT 3000 + i AS media_id,
           CAST(CASE WHEN (3000 + i) % 5 = 3 THEN 1 ELSE 0 END AS BIGINT)
             AS quarantined,
           CASE WHEN (3000 + i) % 5 = 3 THEN NULL
                ELSE CAST(16 + (i % 13) AS BIGINT) END AS width,
           CASE WHEN (3000 + i) % 5 = 3 THEN NULL
                ELSE CAST(12 + (i % 11) AS BIGINT) END AS height
    FROM range(40) t(i) ORDER BY media_id
    """,
    doc="Corrupt-payload quarantine (r10, operators/multimodal."
    "decode_stats(on_error='quarantine')): every fifth TIFF payload is "
    "truncated to 32 bytes, and the SAME single mapInPandas pass must "
    "route exactly those rows to the decode_error lane (stat lanes "
    "NULL) while every healthy file still decodes — per-file isolation "
    "with no second decode and no driver involvement. At 100 TB a "
    "crawl WILL contain corrupt files; one of them must not kill a "
    "thousand-executor batch, and the certification default "
    "(on_error='raise') keeps the oracle posture strict everywhere "
    "else. The oracle recomputes which ids are corrupt and the "
    "surviving dimensions in closed form. Since r12 the fixture "
    "tail (ids 3024-3031) is CCITT G4 bilevel — truncated G4 "
    "streams must quarantine exactly like the byte codecs.",
)
def q_media_quarantine(spark: SparkSession, sf: str) -> DataFrame:
    from incremental_github_data_pipeline_spark.operators.multimodal import (
        decode_stats,
        make_tiff_media,
    )

    media = make_tiff_media(spark, n=24)
    corrupted = media.withColumn(
        "payload",
        F.when(
            F.col("media_id") % 5 == 3, F.expr("substring(payload, 1, 32)")
        ).otherwise(F.col("payload")),
    )
    stats = decode_stats(corrupted, on_error="quarantine")
    return stats.select(
        "media_id",
        F.col("decode_error").isNotNull().cast("long").alias("quarantined"),
        "width",
        "height",
    ).orderBy("media_id")


_LEGACY_STATS_ORACLE = """
    WITH img AS (
      SELECT 4000 + i AS media_id, i AS i, i % 6 AS v,
             16 + (i % 13) AS w, 12 + (i % 11) AS h
      FROM range(24) t(i) WHERE i % 6 < 4
    ),
    img_sums AS (
      SELECT img.media_id, img.v, img.w, img.h,
             SUM(CASE WHEN c.c = 0
                 THEN (x.x*7 + y.y*13 + c.c*29 + img.i*3) % 256 END) AS s0,
             SUM(CASE WHEN c.c = 1
                 THEN (x.x*7 + y.y*13 + c.c*29 + img.i*3) % 256 END) AS s1,
             SUM(CASE WHEN c.c = 2
                 THEN (x.x*7 + y.y*13 + c.c*29 + img.i*3) % 256 END) AS s2
      FROM img, range(28) x(x), range(22) y(y), range(3) c(c)
      WHERE x.x < img.w AND y.y < img.h
      GROUP BY img.media_id, img.v, img.w, img.h
    ),
    aud AS (
      SELECT 4000 + i AS media_id, i % 6 AS v, 300 + 50 * (i % 8) AS m,
             3 + (i % 7) AS k0, i * 11 AS o0,
             5 + (i % 3) AS k1, i * 13 AS o1
      FROM range(24) t(i) WHERE i % 6 >= 4
    ),
    aud_sums AS (
      SELECT aud.media_id, aud.v, aud.m,
             SUM(((t.t*aud.k0 + aud.o0) % 2048) - 1024) AS sum_ch0,
             SUM(CASE WHEN aud.v = 5
                 THEN ((t.t*aud.k1 + aud.o1) % 2048) - 1024 END) AS sum_ch1,
             SUM(ABS(CASE
                 WHEN aud.v = 5 THEN CAST(FLOOR((
                      (((t.t*aud.k0 + aud.o0) % 2048) - 1024)
                    + (((t.t*aud.k1 + aud.o1) % 2048) - 1024)) / 2.0) AS BIGINT)
                 ELSE (((t.t*aud.k0 + aud.o0) % 2048) - 1024)
                 END)) AS sum_abs
      FROM aud, range(650) t(t) WHERE t.t < aud.m
      GROUP BY aud.media_id, aud.v, aud.m
    )
    SELECT media_id, 'image' AS kind,
           CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
           CAST(NULL AS BIGINT) AS n_samples,
           CAST(NULL AS BIGINT) AS n_channels,
           CAST(s0 AS BIGINT) AS sum_r,
           CAST(CASE WHEN v = 1 THEN s0 ELSE s1 END AS BIGINT) AS sum_g,
           CAST(CASE WHEN v = 1 THEN s0 ELSE s2 END AS BIGINT) AS sum_b,
           CAST(NULL AS BIGINT) AS sum_abs,
           CAST(NULL AS BIGINT) AS sum_ch0, CAST(NULL AS BIGINT) AS sum_ch1
    FROM img_sums
    UNION ALL
    SELECT media_id, 'audio', NULL, NULL,
           CAST(m AS BIGINT),
           CAST(CASE WHEN v = 5 THEN 2 ELSE 1 END AS BIGINT),
           NULL, NULL, NULL,
           CAST(sum_abs AS BIGINT),
           CAST(sum_ch0 AS BIGINT), CAST(sum_ch1 AS BIGINT)
    FROM aud_sums
    ORDER BY media_id
"""


@register(
    "q_media_legacy_stats",
    oracle=_LEGACY_STATS_ORACLE,
    doc="Long-tail container decode — Netpbm PPM/PGM (ASCII-header raw "
    "raster), TGA types 2 + 10 (bottom-up BGR, per-row RLE packets), "
    "AIFF mono/stereo (big-endian IFF chunks, 80-bit extended-float "
    "sample rate) — the formats crawl corpora actually contain beside "
    "the mainstream ones (operators/multimodal.decode_pnm/decode_tga/"
    "decode_aiff). All six variants carry the SAME closed-form content "
    "as the mainstream lanes, so one oracle certifies that container "
    "and compression are invisible to every decoded sum.",
)
def q_media_legacy_stats(spark: SparkSession, sf: str) -> DataFrame:
    from incremental_github_data_pipeline_spark.operators.multimodal import (
        decode_stats,
        make_legacy_media,
    )

    stats = decode_stats(make_legacy_media(spark, n=24))
    npix = F.col("width") * F.col("height")
    return stats.select(
        "media_id",
        "kind",
        "width",
        "height",
        "n_samples",
        "n_channels",
        F.round(F.col("mean_r") * npix).cast("long").alias("sum_r"),
        F.round(F.col("mean_g") * npix).cast("long").alias("sum_g"),
        F.round(F.col("mean_b") * npix).cast("long").alias("sum_b"),
        F.round(F.col("mean_abs_sample") * F.col("n_samples"))
        .cast("long")
        .alias("sum_abs"),
        F.round(F.col("mean_ch0") * F.col("n_samples"))
        .cast("long")
        .alias("sum_ch0"),
        F.round(F.col("mean_ch1") * F.col("n_samples"))
        .cast("long")
        .alias("sum_ch1"),
    ).orderBy("media_id")


_TRANSCODE_ORACLE = f"""
    WITH var AS (
      SELECT 1000 + i AS media_id, i % 3 AS v, 300 + 50 * (i % 8) AS m,
             3 + (i % 7) AS k0, i * 11 AS o0,
             5 + (i % 3) AS k1, i * 13 AS o1
      FROM range(24) t(i)
    ),
    var_sums AS (
      SELECT var.media_id, var.v, var.m,
             SUM(CASE WHEN var.v = 0
                 THEN ((t.t*var.k0 + var.o0) % 2048) - 1024
                 ELSE (((t.t*var.k0 + var.o0) % 256) - 128) * 256 END) AS sum_ch0,
             SUM(CASE WHEN var.v = 0
                 THEN ((t.t*var.k1 + var.o1) % 2048) - 1024
                 WHEN var.v = 2
                 THEN (((t.t*var.k1 + var.o1) % 256) - 128) * 256 END) AS sum_ch1,
             SUM(ABS(CASE
                 WHEN var.v = 0 THEN CAST(FLOOR((
                      (((t.t*var.k0 + var.o0) % 2048) - 1024)
                    + (((t.t*var.k1 + var.o1) % 2048) - 1024)) / 2.0) AS BIGINT)
                 WHEN var.v = 1
                 THEN (((t.t*var.k0 + var.o0) % 256) - 128) * 256
                 ELSE CAST(FLOOR((
                      ((((t.t*var.k0 + var.o0) % 256) - 128) * 256)
                    + ((((t.t*var.k1 + var.o1) % 256) - 128) * 256)) / 2.0) AS BIGINT)
                 END)) AS sum_abs
      FROM var, range(650) t(t) WHERE t.t < var.m
      GROUP BY var.media_id, var.v, var.m
    )
    SELECT media_id, CAST(m AS BIGINT) AS n_samples,
           CAST(CASE WHEN v = 1 THEN 1 ELSE 2 END AS BIGINT) AS n_channels,
           CAST(sum_abs AS BIGINT) AS sum_abs,
           CAST(sum_ch0 AS BIGINT) AS sum_ch0,
           CAST(sum_ch1 AS BIGINT) AS sum_ch1
    FROM var_sums ORDER BY media_id
"""


@register(
    "q_media_transcode_stats",
    oracle=_TRANSCODE_ORACLE,
    doc="Distributed audio format normalization (operators/multimodal."
    "transcode_audio): the stereo/8-bit WAV zoo re-encoded to FLAC "
    "inside Arrow-batched partitions, then decoded AGAIN by "
    "decode_stats — the oracle recomputes the ORIGINAL closed-form "
    "sums, so the decode→re-encode→decode chain is proven lossless "
    "end-to-end through Spark (integer PCM in, integer PCM out; the "
    "pipeline step every multi-source audio corpus runs before "
    "training).",
)
def q_media_transcode_stats(spark: SparkSession, sf: str) -> DataFrame:
    from incremental_github_data_pipeline_spark.operators.multimodal import (
        decode_stats,
        make_wav_variant_media,
        transcode_audio,
    )

    out = transcode_audio(make_wav_variant_media(spark, n=24), to="audio/flac")
    media = out.select(
        "media_id",
        F.lit("audio").alias("kind"),
        "payload",
        "mime",
        F.lit(None).cast("long").alias("width"),
        F.lit(None).cast("long").alias("height"),
        F.lit(None).cast("long").alias("duration_ms"),
    )
    return (
        decode_stats(media)
        .select(
            "media_id",
            "n_samples",
            "n_channels",
            F.round(F.col("mean_abs_sample") * F.col("n_samples"))
            .cast("long")
            .alias("sum_abs"),
            F.round(F.col("mean_ch0") * F.col("n_samples"))
            .cast("long")
            .alias("sum_ch0"),
            F.round(F.col("mean_ch1") * F.col("n_samples"))
            .cast("long")
            .alias("sum_ch1"),
        )
        .orderBy("media_id")
    )


def _webp_anim_oracle_branch() -> str:
    """UNION branch replaying the animated-WebP composites (ids
    5024..5029) in closed form: per (id, frame, x, y, channel) the
    composited RGB value — full-canvas frames (v0), a sub-rect
    overwrite (v1), and the integer alpha blend
    ``(src*128 + dst*127) // 255`` of a constant-128-alpha frame over
    the opaque base (v2). Frame rule
    P(f) = (x*7 + y*13 + c*29 + (i + f*5)*3) % 256."""

    def p(f: str, lx: str, ly: str) -> str:
        return (
            f"(({lx})*7 + ({ly})*13 + c.c*29 + (i + ({f})*5)*3) % 256"
        )

    in_rect = "(x.x >= 2 AND x.x < w - 2 AND y.y >= 2 AND y.y < h - 2)"
    val = f"""
        CASE
          WHEN f.f = 0 THEN {p('0', 'x.x', 'y.y')}
          WHEN i % 3 = 0 THEN {p('f.f', 'x.x', 'y.y')}
          WHEN i % 3 = 1 THEN
            CASE WHEN {in_rect}
                 THEN {p('1', 'x.x - 2', 'y.y - 2')}
                 ELSE {p('0', 'x.x', 'y.y')} END
          ELSE (({p('1', 'x.x', 'y.y')}) * 128
                + ({p('0', 'x.x', 'y.y')}) * 127) // 255
        END"""
    return f"""
    SELECT media_id,
           CAST(MAX(w) AS BIGINT) AS width,
           CAST(MAX(h) AS BIGINT) AS height,
           CAST(3 AS BIGINT) AS channels,
           CAST(MAX(nf) AS BIGINT) AS n_frames,
           CAST(SUM((f.f + 1) * v) AS BIGINT) AS pixel_sum,
           CAST(SUM((f.f + 1) * v * (y.y + 1)) AS BIGINT)
             AS row_weighted_sum
    FROM (
      SELECT 5024 + t.i AS media_id, 24 + t.i AS i,
             16 + ((24 + t.i) % 13) AS w, 12 + ((24 + t.i) % 11) AS h,
             CASE WHEN (24 + t.i) % 3 = 0 THEN 3 ELSE 2 END AS nf
      FROM range(6) t(i)
    ) m, range(37) x(x), range(23) y(y), range(3) f(f), range(3) c(c),
      LATERAL (SELECT {val} AS v) lv
    WHERE x.x < w AND y.y < h AND f.f < nf
    GROUP BY media_id
    """


@register(
    "q_media_webp_stats",
    oracle=f"""
    WITH m AS (
      SELECT i AS i, 5000 + i AS media_id,
             16 + (i % 13) AS w, 12 + (i % 11) AS h
      FROM range(24) t(i)
    ),
    px AS (
      SELECT m.media_id, m.w, m.h, y.y,
             CASE WHEN m.i % 6 = 4
                  THEN (((x.x * 3 + y.y * 5 + m.i * 7) % (2 + (m.i % 15)))
                        * 53 + c.c * 29 + m.i * 3) % 256
                  ELSE (x.x * 7 + y.y * 13 + c.c * 29 + m.i * 3) % 256
             END AS v
      FROM m, range(29) x(x), range(23) y(y), range(3) c(c)
      WHERE x.x < m.w AND y.y < m.h
    )
    SELECT * FROM (
      SELECT media_id,
             CAST(MAX(w) AS BIGINT) AS width,
             CAST(MAX(h) AS BIGINT) AS height,
             CAST(3 AS BIGINT) AS channels,
             CAST(1 AS BIGINT) AS n_frames,
             CAST(SUM(v) AS BIGINT) AS pixel_sum,
             CAST(SUM(v * (y + 1)) AS BIGINT) AS row_weighted_sum
      FROM px GROUP BY media_id
      UNION ALL
      {_webp_anim_oracle_branch()}
    ) ORDER BY media_id
    """,
    doc="WebP decode (r11 stills, r13 animation; operators/multimodal"
    ".decode_webp_lossless + decode_webp_frames) — the most common "
    "real-crawl image format. VP8L is integer-exact (prefix-coded "
    "ARGB + reversible integer transforms, no DCT), so the "
    "decode-stats oracle works like the PNG lanes; lossy VP8 "
    "keyframes decode too as of r14 (q_media_vp8_stats certifies "
    "that pipeline). The still cycle drives "
    "every VP8L decode path: color cache, LZ77 run references, "
    "subtract-green, all 14 predictor modes (cycling), negative-"
    "coefficient color transforms, sub-byte-bundled color indexing "
    "(palette sizes 2..16 walk all three packing widths), and "
    "two-group meta prefix codes. Ids 5024..5029 are ANIMATED "
    "(VP8X+ANIM+ANMF — the last WebP guard): full-canvas frame "
    "chains, sub-rect overwrite placement, and integer ALPHA "
    "BLENDING of a constant-128-alpha frame over the opaque base, "
    "each frame's embedded VP8L riding the shared still decoder. "
    "Lanes are frame-index-weighted RGB sums plus a frame- and "
    "row-weighted lane; DuckDB recomputes every composited pixel "
    "(including the blend arithmetic) from range(), no codec. One "
    "Arrow-batched mapInPandas pass.",
)
def q_media_webp_stats(spark: SparkSession, sf: str) -> DataFrame:
    from incremental_github_data_pipeline_spark.operators.multimodal import (
        make_webp_media,
        webp_decode_stats,
    )

    return webp_decode_stats(make_webp_media(spark, n=24)).orderBy("media_id")


@register(
    "q_media_vp8_stats",
    oracle="""
    WITH m AS (
      SELECT i AS i, 5200 + i AS media_id,
             33 + (i % 31) AS w, 21 + (i % 17) AS h
      FROM range(24) t(i)
    ),
    mb AS (
      SELECT m.media_id, m.i, m.w, m.h, bx.x AS mx, by.y AS my,
             LEAST(16, m.w - bx.x * 16) AS nx,
             LEAST(16, m.h - by.y * 16) AS ny,
             LEAST(8, (m.w + 1) // 2 - bx.x * 8) AS nxc,
             LEAST(8, (m.h + 1) // 2 - by.y * 8) AS nyc,
             CASE WHEN m.i % 6 = 5 THEN (m.i * 7) % 256
                  ELSE (m.i * 5 + bx.x * 11 + by.y * 23) % 256
             END AS vy,
             CASE WHEN m.i % 6 = 5 THEN (m.i * 13 + 40) % 256
                  ELSE (m.i * 3 + bx.x * 13 + by.y * 7 + 100) % 256
             END AS vu,
             CASE WHEN m.i % 6 = 5 THEN (m.i * 29 + 90) % 256
                  ELSE (m.i * 11 + bx.x * 5 + by.y * 17 + 50) % 256
             END AS vv
      FROM m, range(4) bx(x), range(3) by(y)
      WHERE bx.x * 16 < m.w AND by.y * 16 < m.h
    )
    SELECT media_id,
           CAST(MAX(w) AS BIGINT) AS width,
           CAST(MAX(h) AS BIGINT) AS height,
           CAST(SUM(vy * nx * ny) AS BIGINT) AS y_sum,
           CAST(SUM(vu * nxc * nyc) AS BIGINT) AS u_sum,
           CAST(SUM(vv * nxc * nyc) AS BIGINT) AS v_sum,
           CAST(SUM(vy * nx * ny * (mx + 1) * (my + 1)) AS BIGINT)
             AS mb_weighted_y_sum
    FROM mb GROUP BY media_id ORDER BY media_id
    """,
    doc="REAL lossy VP8 keyframe decode (r14, operators/multimodal."
    "decode_vp8_keyframe — RFC 6386, VERDICT r13 task 2): the single "
    "most common real-crawl WebP variant, previously an honest "
    "guard whose 'DCT/float territory' premise the spec refutes — "
    "§14 defines exact integer transforms, §7 an integer bool "
    "coder, §15 an integer loop filter. Decode is bit-reproducible: "
    "full keyframe surface (segmentation, token partitions, all "
    "intra predictors, normal+simple deblocking), CONFORMANCE-PINNED "
    "against the system libwebp both directions in tests/test_vp8.py "
    "(our streams decoded by libwebp, libwebp-encoded streams "
    "decoded by us, YUV planes bit-compared; normative tables "
    "extracted from the reference implementation by "
    "scripts/extract_vp8_tables.py). Fixtures are uniform-per-"
    "macroblock frames — the JPEG flat-block trick lifted through "
    "VP8's prediction chain (Y2/WHT level 8r, B/chroma DC level 2r "
    "at qi=0 reproduce any uniform residual exactly) — cycling all "
    "four 16x16 predictors and B_PRED per MB; the i%6==5 frames are "
    "fully uniform at loop-filter level 40, pinning §15's algebraic "
    "invariance on uniform content while the filter path runs. "
    "DuckDB recomputes every decoded plane sum (and an MB-position-"
    "weighted luma lane) from range(), no codec. One Arrow-batched "
    "mapInPandas pass; payload-isolated, scan-stage at 100 TB.",
)
def q_media_vp8_stats(spark: SparkSession, sf: str) -> DataFrame:
    from incremental_github_data_pipeline_spark.operators.multimodal import (
        make_vp8_media,
        vp8_decode_stats,
    )

    return vp8_decode_stats(make_vp8_media(spark, n=24)).orderBy("media_id")


@register(
    "q_media_wav_stats",
    oracle="""
    WITH m AS (
      SELECT i AS i, 5300 + i AS media_id,
             CASE WHEN i % 3 = 0 THEN 8
                  WHEN i % 3 = 1 THEN 16 ELSE 24 END AS depth,
             1 + (i % 2) AS ch, 240 + 40 * (i % 5) AS nf
      FROM range(24) t(i)
    ),
    s AS (
      SELECT m.media_id, m.ch, m.nf, k.k AS k, k.k % m.ch AS c,
             CASE WHEN m.depth = 8
                  THEN ((k.k * 37 + m.i * 11) % 256 - 128) * 256
                  WHEN m.depth = 16
                  THEN (k.k * 251 + m.i * 97) % 65536 - 32768
                  ELSE (k.k * 9973 + m.i * 131071) % 16777216 - 8388608
             END AS v
      FROM m, unnest(range(m.nf * m.ch)) AS k(k)
    )
    SELECT media_id,
           CAST(8000 AS BIGINT) AS sample_rate,
           CAST(MAX(nf) AS BIGINT) AS n_frames,
           CAST(MAX(ch) AS BIGINT) AS n_channels,
           CAST(SUM(abs(v)) AS BIGINT) AS sum_abs,
           CAST(SUM(v) FILTER (WHERE c = 0) AS BIGINT) AS sum_ch0,
           CAST(CASE WHEN MAX(ch) = 2
                THEN SUM(v) FILTER (WHERE c = 1) END AS BIGINT)
             AS sum_ch1
    FROM s GROUP BY media_id ORDER BY media_id
    """,
    doc="PCM WAV decode across bit depths (r14 stretch, operators/"
    "multimodal.decode_wav): the 8/16-bit crawl zoo plus the 24-bit "
    "archive-master tier behind the former '8/16-bit PCM supported' "
    "guard. 24-bit is integer-exact by construction — low three "
    "bytes little-endian onto the int32 lattice, NO lossy downshift "
    "— so the oracle replays every decoded sample from range(): "
    "per-payload |sample| sums plus per-channel sums (the de-"
    "interleave catch), mono and stereo, three frame counts. Float "
    "WAV stays loud (no integer oracle exists for it). One Arrow-"
    "batched mapInPandas pass; payload-isolated, scan-stage at "
    "100 TB.",
)
def q_media_wav_stats(spark: SparkSession, sf: str) -> DataFrame:
    from incremental_github_data_pipeline_spark.operators.multimodal import (
        make_wav_depth_media,
        wav_depth_stats,
    )

    return wav_depth_stats(make_wav_depth_media(spark, n=24)).orderBy(
        "media_id"
    )


@register(
    "q_media_webp_alpha_stats",
    oracle="""
    WITH m AS (
      SELECT i AS i, 5400 + i AS media_id,
             33 + (i % 31) AS w, 21 + (i % 17) AS h
      FROM range(24) t(i)
    ),
    mb AS (  -- uniform-per-MB color, converted per the documented
             -- integer BT.601 form (>> is arithmetic in both engines)
      SELECT m.media_id, bx.x AS mx, by.y AS my,
             LEAST(16, m.w - bx.x * 16) AS nx,
             LEAST(16, m.h - by.y * 16) AS ny,
             298 * ((m.i * 5 + bx.x * 11 + by.y * 23) % 256 - 16) AS c,
             (m.i * 3 + bx.x * 13 + by.y * 7 + 100) % 256 - 128 AS d,
             (m.i * 11 + bx.x * 5 + by.y * 17 + 50) % 256 - 128 AS e
      FROM m, range(4) bx(x), range(3) by(y)
      WHERE bx.x * 16 < m.w AND by.y * 16 < m.h
    ),
    rgb AS (
      SELECT media_id,
             SUM((LEAST(255, GREATEST(0, (c + 409 * e + 128) >> 8))
                  + LEAST(255, GREATEST(0,
                      (c - 100 * d - 208 * e + 128) >> 8))
                  + LEAST(255, GREATEST(0, (c + 516 * d + 128) >> 8)))
                 * nx * ny) AS rgb_sum
      FROM mb GROUP BY media_id
    ),
    al AS (  -- per-pixel lossless alpha
      SELECT m.media_id,
             SUM((m.i * 7 + x.x * 3 + y.y * 5 + 13) % 256) AS a_sum,
             SUM(((m.i * 7 + x.x * 3 + y.y * 5 + 13) % 256)
                 * (y.y + 1)) AS a_rw
      FROM m, range(64) x(x), range(38) y(y)
      WHERE x.x < m.w AND y.y < m.h
      GROUP BY m.media_id
    )
    SELECT m.media_id,
           CAST(m.w AS BIGINT) AS width,
           CAST(m.h AS BIGINT) AS height,
           CAST(4 AS BIGINT) AS channels,
           CAST(rgb.rgb_sum AS BIGINT) AS rgb_sum,
           CAST(al.a_sum AS BIGINT) AS alpha_sum,
           CAST(al.a_rw AS BIGINT) AS alpha_row_weighted_sum
    FROM m JOIN rgb USING (media_id) JOIN al USING (media_id)
    ORDER BY media_id
    """,
    doc="Transparent lossy WebP decode (r14, operators/multimodal."
    "decode_alph + decode_vp8_keyframe): the VP8X + ALPH + VP8 "
    "container layout real transparent crawl images use (CPython's "
    "own test webp files have exactly this shape, and the test suite "
    "decodes one end-to-end). The ALPH chunk cycles BOTH compression "
    "methods — raw and headerless-VP8L (alpha in the green channel, "
    "decoded by the same RFC 9649 stream decoder as stills) — and "
    "all four prediction filters (none/horizontal/vertical/gradient, "
    "mod-256 deltas with the spec's border fallbacks), conformance-"
    "pinned against libwebp in both directions in tests/test_vp8.py. "
    "Color is the uniform-per-MB lossy posture of q_media_vp8_stats "
    "pushed through the documented integer BT.601 YUV→RGB form, "
    "which DuckDB replays exactly (>> is arithmetic shift in both "
    "engines); alpha is lossless so the oracle replays every PIXEL. "
    "Finding this lane also surfaced a latent r11 VP8L conformance "
    "bug (kCodeLengthCodeOrder places 16 after 5; every self-round-"
    "trip masked it because encoder and reader shared the wrong "
    "order) — fixed and now cross-checked against libwebp. One "
    "Arrow-batched mapInPandas pass; payload-isolated, scan-stage "
    "at 100 TB.",
)
def q_media_webp_alpha_stats(spark: SparkSession, sf: str) -> DataFrame:
    from incremental_github_data_pipeline_spark.operators.multimodal import (
        make_webp_alpha_media,
        webp_alpha_stats,
    )

    return webp_alpha_stats(make_webp_alpha_media(spark, n=24)).orderBy(
        "media_id"
    )


@register(
    "q_media_vp8_anim_stats",
    oracle="""
    WITH m AS (
      SELECT i AS i, 5500 + i AS media_id,
             49 + (i % 13) AS w, 37 + (i % 9) AS h
      FROM range(6) t(i)
    ),
    px AS (
      SELECT m.media_id, m.i, m.w, m.h, x.x AS x, y.y AS y, f.f AS f,
             -- overwrite compositing: odd ids place frames 1-2 as a
             -- sub-rect at (8,4); pixels outside keep frame 0
             CASE WHEN m.i % 2 = 1 AND f.f > 0
                       AND NOT (x.x >= 8 AND x.x < 8 + m.w - 16
                                AND y.y >= 4 AND y.y < 4 + m.h - 8)
                  THEN 0 ELSE f.f END AS af,
             CASE WHEN m.i % 2 = 1 AND f.f > 0
                       AND (x.x >= 8 AND x.x < 8 + m.w - 16
                            AND y.y >= 4 AND y.y < 4 + m.h - 8)
                  THEN x.x - 8 ELSE x.x END AS lx,
             CASE WHEN m.i % 2 = 1 AND f.f > 0
                       AND (x.x >= 8 AND x.x < 8 + m.w - 16
                            AND y.y >= 4 AND y.y < 4 + m.h - 8)
                  THEN y.y - 4 ELSE y.y END AS ly
      FROM m, range(62) x(x), range(46) y(y), range(3) f(f)
      WHERE x.x < m.w AND y.y < m.h
    ),
    v AS (
      SELECT media_id, y, f,
             298 * ((i * 5 + af * 31 + (lx // 16) * 11
                     + (ly // 16) * 23) % 256 - 16) AS c,
             (i * 3 + af * 17 + (lx // 16) * 13
              + (ly // 16) * 7 + 100) % 256 - 128 AS d,
             (i * 11 + af * 7 + (lx // 16) * 5
              + (ly // 16) * 17 + 50) % 256 - 128 AS e
      FROM px
    ),
    s AS (
      SELECT media_id, y, f,
             LEAST(255, GREATEST(0, (c + 409 * e + 128) >> 8))
             + LEAST(255, GREATEST(0,
                 (c - 100 * d - 208 * e + 128) >> 8))
             + LEAST(255, GREATEST(0, (c + 516 * d + 128) >> 8)) AS rgb
      FROM v
    )
    SELECT m.media_id,
           CAST(m.w AS BIGINT) AS width,
           CAST(m.h AS BIGINT) AS height,
           CAST(3 AS BIGINT) AS channels,
           CAST(3 AS BIGINT) AS n_frames,
           CAST(SUM((s.f + 1) * s.rgb) AS BIGINT) AS pixel_sum,
           CAST(SUM((s.f + 1) * s.rgb * (s.y + 1)) AS BIGINT)
             AS row_weighted_sum
    FROM m JOIN s USING (media_id)
    GROUP BY m.media_id, m.w, m.h ORDER BY m.media_id
    """,
    doc="ANIMATED lossy-VP8 WebP decode (r14 — the last WebP frame "
    "variant; operators/multimodal.decode_webp_frames + "
    "encode_webp_animation_lossy): VP8X+ANIM+ANMF chains whose "
    "frames are RFC 6386 keyframes, decoded through the shared "
    "conformance-pinned VP8 decoder and composited by the SAME "
    "integer compositor the r13 animated-VP8L lanes certify "
    "(overwrite placement here; blend/dispose arithmetic is "
    "certified there and the code path is shared). Even ids chain "
    "full-canvas frames; odd ids place frames 2-3 as sub-rects at "
    "(8,4) with their OWN macroblock grids — the placement catch. "
    "Lanes are the frame-index-weighted RGB sums of "
    "webp_decode_stats; DuckDB replays every composited pixel "
    "through the uniform-per-MB rules + the integer BT.601 form. "
    "One Arrow-batched mapInPandas pass; payload-isolated, "
    "scan-stage at 100 TB.",
)
def q_media_vp8_anim_stats(spark: SparkSession, sf: str) -> DataFrame:
    from incremental_github_data_pipeline_spark.operators.multimodal import (
        make_vp8_anim_media,
        webp_decode_stats,
    )

    return webp_decode_stats(make_vp8_anim_media(spark, n=6)).orderBy(
        "media_id"
    )


def _resample_oracle() -> str:
    """DuckDB twin of decode→resample(8000→12000)→encode over the FLAC
    fixture lanes: output sample j sits at source position j·8000, so
    i0 = (2j)//3 and num = (j·8000) mod 12000; the interpolation runs
    in the +32768-shifted non-negative domain so `//` is floor in
    every dialect (Spark div / DuckDB // / numpy // disagree on
    negative operands — the offset discipline from the time-series
    lanes)."""

    def y(k: str, o: str) -> str:
        x0 = f"(((i0*{k} + {o}) % 2048) - 1024)"
        x1 = f"(((i1*{k} + {o}) % 2048) - 1024)"
        return (
            f"((({x0} + 32768) * (12000 - num) + ({x1} + 32768) * num)"
            f" // 12000 - 32768)"
        )

    y0, y1 = y("k0", "o0"), y("k1", "o1")
    return f"""
    WITH var AS (
      SELECT 2000 + i AS media_id, i % 2 AS v, 300 + 50 * (i % 8) AS m,
             3 + (i % 7) AS k0, i * 11 AS o0,
             5 + (i % 3) AS k1, i * 13 AS o1
      FROM range(24) t(i)
    ),
    grid AS (
      SELECT var.*, j.j,
             LEAST((j.j * 2) // 3, var.m - 1) AS i0,
             LEAST((j.j * 2) // 3 + 1, var.m - 1) AS i1,
             (j.j * 8000) % 12000 AS num
      FROM var, range(975) j(j) WHERE j.j < (var.m * 3 + 1) // 2
    ),
    sums AS (
      SELECT media_id, v, MAX((m * 3 + 1) // 2) AS n_out,
             SUM({y0}) AS sum_ch0,
             SUM(CASE WHEN v = 0 THEN {y1} END) AS sum_ch1,
             SUM(ABS(CASE WHEN v = 0
                 THEN CAST(FLOOR(({y0} + {y1}) / 2.0) AS BIGINT)
                 ELSE {y0} END)) AS sum_abs
      FROM grid GROUP BY media_id, v
    )
    SELECT media_id,
           CAST(n_out AS BIGINT) AS n_samples,
           CAST(CASE WHEN v = 0 THEN 2 ELSE 1 END AS BIGINT) AS n_channels,
           CAST(sum_abs AS BIGINT) AS sum_abs,
           CAST(sum_ch0 AS BIGINT) AS sum_ch0,
           CAST(sum_ch1 AS BIGINT) AS sum_ch1
    FROM sums ORDER BY media_id
    """


@register(
    "q_media_resample_stats",
    oracle=_resample_oracle(),
    doc="Sample-rate normalization (r11, operators/multimodal."
    "resample_audio + resample_linear_fixed): decode the FLAC fixture "
    "lanes, resample 8000→12000 Hz with INTEGER-EXACT linear "
    "interpolation (y[j] = x[i] + (Δ·num) div 12000 in the shifted "
    "non-negative domain — bit-reproducible, unlike float "
    "sinc/polyphase whose rounding is implementation-defined), and "
    "re-encode WAV at the target rate. DuckDB recomputes every "
    "resampled sample from the closed form and the same fixed-point "
    "formula, so the whole decode→resample→encode chain is certified "
    "end-to-end — the per-source 8/16/44.1 kHz zoo → one model rate "
    "step every audio training pipeline runs. One Arrow-batched "
    "mapInPandas pass.",
)
def q_media_resample_stats(spark: SparkSession, sf: str) -> DataFrame:
    from incremental_github_data_pipeline_spark.operators.multimodal import (
        decode_stats,
        make_flac_media,
        resample_audio,
    )

    out = resample_audio(make_flac_media(spark, n=24), target_rate=12000)
    media = out.select(
        "media_id",
        F.lit("audio").alias("kind"),
        "payload",
        "mime",
        F.lit(None).cast("long").alias("width"),
        F.lit(None).cast("long").alias("height"),
        F.lit(None).cast("long").alias("duration_ms"),
    )
    return (
        decode_stats(media)
        .select(
            "media_id",
            "n_samples",
            "n_channels",
            F.round(F.col("mean_abs_sample") * F.col("n_samples"))
            .cast("long")
            .alias("sum_abs"),
            F.round(F.col("mean_ch0") * F.col("n_samples"))
            .cast("long")
            .alias("sum_ch0"),
            F.round(F.col("mean_ch1") * F.col("n_samples"))
            .cast("long")
            .alias("sum_ch1"),
        )
        .orderBy("media_id")
    )


@register(
    "q_media_augment_stats",
    oracle="""
    WITH m AS (
      SELECT i AS i, 5000 + i AS media_id,
             16 + (i % 13) AS w, 12 + (i % 11) AS h,
             CASE CAST((5000 + i) % 6 AS INTEGER)
               WHEN 0 THEN 'hflip' WHEN 1 THEN 'vflip'
               WHEN 2 THEN 'rot90' WHEN 3 THEN 'rot180'
               WHEN 4 THEN 'rot270' ELSE 'crop' END AS op
      FROM range(24) t(i)
    ),
    px AS (
      SELECT m.*, x.x AS x, y.y AS y,
             CASE WHEN m.i % 6 = 4
                  THEN (((x.x * 3 + y.y * 5 + m.i * 7) % (2 + (m.i % 15)))
                        * 53 + c.c * 29 + m.i * 3) % 256
                  ELSE (x.x * 7 + y.y * 13 + c.c * 29 + m.i * 3) % 256
             END AS v
      FROM m, range(29) x(x), range(23) y(y), range(3) c(c)
      WHERE x.x < m.w AND y.y < m.h
    ),
    mapped AS (
      SELECT media_id, op, v,
             CASE op WHEN 'hflip' THEN y WHEN 'vflip' THEN h - 1 - y
                     WHEN 'rot90' THEN w - 1 - x
                     WHEN 'rot180' THEN h - 1 - y
                     WHEN 'rot270' THEN x ELSE y - 2 END AS yp,
             CASE op WHEN 'hflip' THEN w - 1 - x WHEN 'vflip' THEN x
                     WHEN 'rot90' THEN y WHEN 'rot180' THEN w - 1 - x
                     WHEN 'rot270' THEN h - 1 - y ELSE x - 3 END AS xp,
             CASE op WHEN 'rot90' THEN h WHEN 'rot270' THEN h
                     WHEN 'crop' THEN w - 6 ELSE w END AS wp,
             CASE op WHEN 'rot90' THEN w WHEN 'rot270' THEN w
                     WHEN 'crop' THEN h - 4 ELSE h END AS hp
      FROM px
      WHERE op <> 'crop'
         OR (x >= 3 AND x < w - 3 AND y >= 2 AND y < h - 2)
    )
    SELECT media_id, op,
           CAST(MAX(wp) AS BIGINT) AS width,
           CAST(MAX(hp) AS BIGINT) AS height,
           CAST(SUM(v) AS BIGINT) AS pixel_sum,
           CAST(SUM(v * (yp + 1)) AS BIGINT) AS row_weighted_sum,
           CAST(SUM(v * (xp + 1)) AS BIGINT) AS col_weighted_sum
    FROM mapped GROUP BY media_id, op ORDER BY media_id
    """,
    doc="Image augmentation (r11, operators/multimodal.augment_image + "
    "augment_decode_stats): the training-data multiplier — flips, all "
    "three rotations and a fixed-margin crop, each an INTEGER-EXACT "
    "pixel permutation/selection (no interpolation), applied over the "
    "WebP fixture lanes so the VP8L decode sits inside the certified "
    "chain. The oracle recomputes every augmented pixel's OUTPUT "
    "position from the op's index mapping in closed form; the row- "
    "AND column-weighted sum pair pins orientation exactly (a flip "
    "around the wrong axis preserves totals and one weighted lane — "
    "never both). One Arrow-batched mapInPandas pass; the permutation "
    "is free next to the decode.",
)
def q_media_augment_stats(spark: SparkSession, sf: str) -> DataFrame:
    from incremental_github_data_pipeline_spark.operators.multimodal import (
        augment_decode_stats,
        make_webp_media,
    )

    # anim=0: the augmentation lane is a stills contract; animated
    # composites are certified by q_media_webp_stats's frame lanes
    return augment_decode_stats(
        make_webp_media(spark, n=24, anim=0)
    ).orderBy("media_id")


@register(
    "q_media_exif_stats",
    oracle="""
    WITH m AS (
      SELECT i AS i, 8100 + i AS media_id,
             17 + (i % 14) AS w, 9 + (i % 12) AS h,
             CASE CAST(i % 8 AS INTEGER)
               WHEN 0 THEN 1 WHEN 1 THEN 3 WHEN 2 THEN 6 WHEN 3 THEN 8
               WHEN 4 THEN 2 WHEN 5 THEN 4 WHEN 6 THEN 5 ELSE 7
             END AS o
      FROM range(16) t(i)
    ),
    px AS (
      SELECT m.media_id, m.o, m.w, m.h, x.x AS x, y.y AS y,
             (m.i * 3 + (x.x // 8) * 7 + (y.y // 8) * 13) % 256 AS v
      FROM m, range(31) x(x), range(21) y(y)
      WHERE x.x < m.w AND y.y < m.h
    ),
    mapped AS (
      -- upright position of each STORED pixel under the orientation
      SELECT media_id, o, v,
             CASE o WHEN 1 THEN y WHEN 2 THEN y
                    WHEN 3 THEN h - 1 - y WHEN 4 THEN h - 1 - y
                    WHEN 5 THEN x WHEN 6 THEN x
                    WHEN 7 THEN w - 1 - x ELSE w - 1 - x END AS yp,
             CASE o WHEN 1 THEN x WHEN 2 THEN w - 1 - x
                    WHEN 3 THEN w - 1 - x WHEN 4 THEN x
                    WHEN 5 THEN y WHEN 6 THEN h - 1 - y
                    WHEN 7 THEN h - 1 - y ELSE y END AS xp,
             CASE WHEN o >= 5 THEN h ELSE w END AS wp,
             CASE WHEN o >= 5 THEN w ELSE h END AS hp
      FROM px
    )
    SELECT media_id, CAST(o AS BIGINT) AS orientation,
           CAST(MAX(wp) AS BIGINT) AS width,
           CAST(MAX(hp) AS BIGINT) AS height,
           CAST(SUM(v) AS BIGINT) AS pixel_sum,
           CAST(SUM(v * (yp + 1)) AS BIGINT) AS row_weighted_sum,
           CAST(SUM(v * (xp + 1)) AS BIGINT) AS col_weighted_sum
    FROM mapped GROUP BY media_id, o ORDER BY media_id
    """,
    doc="EXIF orientation honored in JPEG decode (r12, operators/"
    "multimodal.apply_exif_orientation + set_exif_orientation + the "
    "APP1 TIFF-IFD parse inside decode_jpeg): real camera/crawl JPEGs "
    "carry orientation 3/6/8 constantly and every downstream hash, "
    "crop and augmentation is wrong without the upright permutation. "
    "Fixtures cycle all eight orientations (1/3/6/8 then the mirrored "
    "2/4/5/7) over flat-block exact JPEGs; the oracle recomputes each "
    "stored pixel's UPRIGHT position in closed form, so the row- and "
    "column-weighted sum pair catches a wrong-axis transpose, a "
    "missed flip, or an un-swapped width/height. One Arrow-batched "
    "mapInPandas pass (the noop augmentation lane — decode already "
    "returns upright rasters).",
)
def q_media_exif_stats(spark: SparkSession, sf: str) -> DataFrame:
    from incremental_github_data_pipeline_spark.operators.multimodal import (
        _EXIF_ORIENT_CYCLE,
        augment_decode_stats,
        make_exif_media,
    )

    stats = augment_decode_stats(
        make_exif_media(spark, n=16), ops=("noop",)
    )
    orient = F.element_at(
        F.array(*[F.lit(v) for v in _EXIF_ORIENT_CYCLE]),
        (((F.col("media_id") - 8100) % 8) + 1).cast("int"),
    )
    return stats.select(
        "media_id",
        orient.cast("long").alias("orientation"),
        "width",
        "height",
        "pixel_sum",
        "row_weighted_sum",
        "col_weighted_sum",
    ).orderBy("media_id")


@register(
    "q_media_avi_stats",
    oracle="""
    WITH m AS (
      SELECT i AS i, 6000 + i AS media_id,
             17 + (i % 14) AS w, 9 + (i % 12) AS h,
             3 + (i % 4) AS nf, 40 + 10 * (i % 3) AS fms
      FROM range(16) t(i)
    ),
    px AS (
      SELECT m.media_id, m.nf, m.w, m.h, m.fms, k.k,
             (m.i * 3 + k.k * 5 + (x.x // 8) * 7 + (y.y // 8) * 13)
               % 256 AS v
      FROM m, range(6) k(k), range(31) x(x), range(21) y(y)
      WHERE k.k < m.nf AND x.x < m.w AND y.y < m.h
    )
    SELECT media_id,
           CAST(MAX(nf) AS BIGINT) AS n_frames,
           CAST(MAX(w) AS BIGINT) AS width,
           CAST(MAX(h) AS BIGINT) AS height,
           CAST(MAX(fms) AS BIGINT) AS frame_ms,
           CAST(SUM(v) AS BIGINT) AS pixel_sum,
           CAST(SUM(v * (k + 1)) AS BIGINT) AS frame_weighted_sum
    FROM px GROUP BY media_id ORDER BY media_id
    """,
    doc="AVI Motion-JPEG decode (r11, operators/multimodal."
    "encode_avi_mjpeg/decode_avi_mjpeg): the real RIFF container "
    "legacy web video clips arrive in — LIST hdrl (avih/strh/strf), "
    "movi '00dc' chunks each a complete baseline-JPEG stream, idx1 "
    "index; audio interleave and non-MJPG fourccs fail loud. Frames "
    "are flat-block closed forms with the frame index mixed in, so "
    "DuckDB recomputes every pixel of every frame; the "
    "frame-position-weighted lane catches frames decoded out of "
    "order (a total survives reordering, (k+1)-weighting cannot). "
    "Frame duration comes from avih microseconds-per-frame. One "
    "Arrow-batched mapInPandas pass.",
)
def q_media_avi_stats(spark: SparkSession, sf: str) -> DataFrame:
    from incremental_github_data_pipeline_spark.operators.multimodal import (
        avi_decode_stats,
        make_avi_media,
    )

    return avi_decode_stats(make_avi_media(spark, n=16)).orderBy("media_id")


@register(
    "q_media_ico_stats",
    oracle="""
    WITH m AS (
      SELECT i AS i, 7000 + i AS media_id,
             16 + (i % 13) AS w, 12 + (i % 11) AS h
      FROM range(24) t(i)
    ),
    px AS (
      SELECT m.media_id, m.w, m.h, y.y,
             (x.x * 7 + y.y * 13 + c.c * 29 + m.i * 3) % 256 AS v
      FROM m, range(29) x(x), range(23) y(y), range(3) c(c)
      WHERE x.x < m.w AND y.y < m.h
    )
    SELECT media_id,
           CAST(MAX(w) AS BIGINT) AS width,
           CAST(MAX(h) AS BIGINT) AS height,
           CAST(3 AS BIGINT) AS channels,
           CAST(SUM(v) AS BIGINT) AS pixel_sum,
           CAST(SUM(v * (y + 1)) AS BIGINT) AS row_weighted_sum
    FROM px GROUP BY media_id ORDER BY media_id
    """,
    doc="ICO favicon decode (r11, operators/multimodal.encode_ico/"
    "decode_ico) — the one image format every web crawl collects "
    "millions of. PNG-entry (modern) and 32-bit BGRA DIB-entry "
    "(classic, doubled-height XOR/AND mask) forms alternate; every "
    "third file is multi-size and the decoder must pick the LARGEST "
    "entry (the 8x8 thumbnail planted first breaks both sum lanes if "
    "entry selection regresses); palettized DIB entries fail loud. "
    "Content is the BMP closed form, so DuckDB recomputes exact "
    "pixel + row-weighted sums. One Arrow-batched mapInPandas pass.",
)
def q_media_ico_stats(spark: SparkSession, sf: str) -> DataFrame:
    from incremental_github_data_pipeline_spark.operators.multimodal import (
        PNG_STATS_SCHEMA,
        decode_ico,
        make_ico_media,
        pixel_sum_row,
    )

    return per_row_stage(
        make_ico_media(spark, n=24), PNG_STATS_SCHEMA,
        lambda r: [pixel_sum_row(r.media_id, decode_ico(r.payload))],
        F.col("mime") == "image/x-icon",
    ).orderBy("media_id")


_AU_PCX_STATS_ORACLE = """
    WITH img AS (
      SELECT 8000 + i AS media_id, i AS i, i % 6 AS v,
             16 + (i % 13) AS w, 12 + (i % 11) AS h
      FROM range(24) t(i) WHERE i % 6 < 2
    ),
    img_sums AS (
      SELECT img.media_id, img.v, img.w, img.h,
             SUM(CASE WHEN c.c = 0
                 THEN (x.x*7 + y.y*13 + c.c*29 + img.i*3) % 256 END) AS s0,
             SUM(CASE WHEN c.c = 1
                 THEN (x.x*7 + y.y*13 + c.c*29 + img.i*3) % 256 END) AS s1,
             SUM(CASE WHEN c.c = 2
                 THEN (x.x*7 + y.y*13 + c.c*29 + img.i*3) % 256 END) AS s2
      FROM img, range(28) x(x), range(22) y(y), range(3) c(c)
      WHERE x.x < img.w AND y.y < img.h
      GROUP BY img.media_id, img.v, img.w, img.h
    ),
    pcm AS (
      SELECT 8000 + i AS media_id, i % 6 AS v, 300 + 50 * (i % 8) AS m,
             3 + (i % 7) AS k0, i * 11 AS o0,
             5 + (i % 3) AS k1, i * 13 AS o1
      FROM range(24) t(i) WHERE i % 6 IN (2, 3, 5)
    ),
    pcm_vals AS (
      SELECT pcm.media_id, pcm.v, pcm.m,
             CASE WHEN pcm.v = 5
               THEN CAST(FLOOR((((t.t*pcm.k0 + pcm.o0) % 2048) - 1024)
                    / 256.0) AS BIGINT) * 256
               ELSE ((t.t*pcm.k0 + pcm.o0) % 2048) - 1024 END AS c0,
             CASE WHEN pcm.v = 3
               THEN ((t.t*pcm.k1 + pcm.o1) % 2048) - 1024 END AS c1
      FROM pcm, range(650) t(t) WHERE t.t < pcm.m
    ),
    pcm_sums AS (
      SELECT media_id, v, m,
             SUM(c0) AS sum_ch0, SUM(c1) AS sum_ch1,
             SUM(ABS(CASE WHEN v = 3
                 THEN CAST(FLOOR((c0 + c1) / 2.0) AS BIGINT)
                 ELSE c0 END)) AS sum_abs
      FROM pcm_vals GROUP BY 1, 2, 3
    ),
    ulaw AS (
      SELECT 8000 + i AS media_id, 160 + 40 * (i % 8) AS n,
             i AS i
      FROM range(24) t(i) WHERE i % 6 = 4
    ),
    ulaw_pcm AS (
      SELECT ulaw.media_id, ulaw.n,
        CASE WHEN (255 - c.c) >= 128
          THEN 132 - (((255 - c.c) % 16) * 8 + 132)
               * (1 << (((255 - c.c) // 16) % 8))
          ELSE (((255 - c.c) % 16) * 8 + 132)
               * (1 << (((255 - c.c) // 16) % 8)) - 132
        END AS s
      FROM ulaw, (
        SELECT ulaw2.i AS i, t.t AS t,
               (t.t * (3 + ulaw2.i % 5) + ulaw2.i * 7) % 256 AS c
        FROM (SELECT i FROM range(24) t0(i) WHERE i % 6 = 4) ulaw2,
             range(440) t(t)
      ) c
      WHERE c.i = ulaw.i AND c.t < ulaw.n
    ),
    ulaw_sums AS (
      SELECT media_id, MAX(n) AS m, SUM(s) AS sum_ch0,
             SUM(ABS(s)) AS sum_abs
      FROM ulaw_pcm GROUP BY 1
    )
    SELECT media_id, 'image' AS kind,
           CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
           CAST(NULL AS BIGINT) AS n_samples,
           CAST(NULL AS BIGINT) AS n_channels,
           CAST(s0 AS BIGINT) AS sum_r,
           CAST(CASE WHEN v = 1 THEN s0 ELSE s1 END AS BIGINT) AS sum_g,
           CAST(CASE WHEN v = 1 THEN s0 ELSE s2 END AS BIGINT) AS sum_b,
           CAST(NULL AS BIGINT) AS sum_abs,
           CAST(NULL AS BIGINT) AS sum_ch0, CAST(NULL AS BIGINT) AS sum_ch1
    FROM img_sums
    UNION ALL
    SELECT media_id, 'audio', NULL, NULL,
           CAST(m AS BIGINT),
           CAST(CASE WHEN v = 3 THEN 2 ELSE 1 END AS BIGINT),
           NULL, NULL, NULL,
           CAST(sum_abs AS BIGINT),
           CAST(sum_ch0 AS BIGINT), CAST(sum_ch1 AS BIGINT)
    FROM pcm_sums
    UNION ALL
    SELECT media_id, 'audio', NULL, NULL,
           CAST(m AS BIGINT), CAST(1 AS BIGINT),
           NULL, NULL, NULL,
           CAST(sum_abs AS BIGINT),
           CAST(sum_ch0 AS BIGINT), CAST(NULL AS BIGINT)
    FROM ulaw_sums
    ORDER BY media_id
"""


@register(
    "q_media_au_pcx_stats",
    oracle=_AU_PCX_STATS_ORACLE,
    doc="Sun AU and ZSoft PCX decode (r11, operators/multimodal."
    "decode_au/decode_pcx) — the remaining archive-tier containers: "
    "PCX 24-bit 3-plane and 8-bit paletted-gray RLE scanlines (runs "
    "pinned to never cross line boundaries, even bytes-per-line pad "
    "column cropped), AU big-endian 16-bit mono/stereo, G.711 mu-law "
    "through the same ITU expand closed form the WAV G.711 oracle "
    "replays, and 8-bit linear on the top-byte lattice; every fourth "
    "AU file plants an annotation block so the variable data offset "
    "rides the certified path. Same closed-form content rules as "
    "every other generator — container invisibility is the theorem.",
)
def q_media_au_pcx_stats(spark: SparkSession, sf: str) -> DataFrame:
    from incremental_github_data_pipeline_spark.operators.multimodal import (
        decode_stats,
        make_au_pcx_media,
    )

    stats = decode_stats(make_au_pcx_media(spark, n=24))
    npix = F.col("width") * F.col("height")
    return stats.select(
        "media_id",
        "kind",
        "width",
        "height",
        "n_samples",
        "n_channels",
        F.round(F.col("mean_r") * npix).cast("long").alias("sum_r"),
        F.round(F.col("mean_g") * npix).cast("long").alias("sum_g"),
        F.round(F.col("mean_b") * npix).cast("long").alias("sum_b"),
        F.round(F.col("mean_abs_sample") * F.col("n_samples"))
        .cast("long")
        .alias("sum_abs"),
        F.round(F.col("mean_ch0") * F.col("n_samples"))
        .cast("long")
        .alias("sum_ch0"),
        F.round(F.col("mean_ch1") * F.col("n_samples"))
        .cast("long")
        .alias("sum_ch1"),
    ).orderBy("media_id")
