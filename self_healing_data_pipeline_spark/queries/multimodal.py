"""Multimodal queries (SURVEY.md §2 multimodal).

Image, audio and video feature extraction and perceptual / binary media
deduplication over the binary fixtures.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from self_healing_data_pipeline_spark.registry import query
from self_healing_data_pipeline_spark.sources.readers import read_table


@query(
    "q_multimodal_features",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id,
             (n_chars % 24 + 8) AS w,
             (doc_id % 16 + 8) AS h,
             doc_id % 4 AS kind
      FROM documents
    ), px AS (
      SELECT media_id, kind, w, h,
             ((yy * 7 + xx * 13 + media_id) % 256) AS v
      FROM m,
           generate_series(0, 23) AS ty(yy),
           generate_series(0, 31) AS tx(xx)
      WHERE yy < h AND xx < w
    ), agg AS (
      SELECT media_id, kind, w, h,
             SUM(v) AS s_gray,
             SUM(v + (v * 3) % 256 + (v * 7) % 256) AS s_rgb
      FROM px GROUP BY media_id, kind, w, h
    )
    SELECT media_id,
           CASE kind WHEN 0 THEN 'png' WHEN 1 THEN 'gif'
                     WHEN 2 THEN 'jpeg' ELSE 'bmp' END AS format,
           CAST(w AS INT) AS width,
           CAST(h AS INT) AS height,
           CASE WHEN kind = 2 THEN NULL
                WHEN kind = 1 THEN CAST(s_rgb AS DOUBLE) / (w * h * 3)
                ELSE CAST(s_gray AS DOUBLE) / (w * h)
           END AS pixel_mean_lossless,
           TRUE AS dims_ok, TRUE AS pixels_ok, TRUE AS entropy_ok,
           TRUE AS bytes_ok, TRUE AS feature_norm_ok
    FROM agg ORDER BY media_id
    """,
)
def q_multimodal_features(spark, sf_dir):
    """Multimodal feature-extraction pipeline as a query — with REAL
    pixel decode across all four formats (round 4), PROMOTED to a
    hash-exact oracle in round 11 via the closed-form-fixture trick
    (the q_scan_binaryfile pattern): the synthesized pixels follow the
    exact integer gradient law ``(y*7 + x*13 + doc_id) % 256`` (GIF
    additionally maps through the closed-form palette ``(v, 3v%256,
    7v%256)``), so the DuckDB oracle derives format, parsed dims, and
    the LOSSLESS formats' decoded pixel mean straight from the law —
    while the Spark side earns them from the real byte path
    (encode -> header parse -> full pixel decode). ``pixel_mean`` of a
    uint8 array is an exact-integer float64 sum (< 2^53) divided once,
    so Spark's numpy mean and the oracle's SUM::DOUBLE/count are
    bit-identical; JPEG is DCT-lossy, so its mean column is NULL on
    both sides and its accuracy lives in the ``pixels_ok`` witness
    (|decoded mean − law mean| <= 3). The byte-level quantities that
    are genuinely not SQL (stream size, byte entropy, fake-feature
    norm) hash as boolean range witnesses the oracle pins TRUE; their
    raw values stay asserted in tests/test_extras3.py. A codec, parse,
    or decode defect now breaks the driver hash, not just an in-row
    witness.

    The fixture set carries no real media, so each document is encoded
    as a genuine image whose pixels derive deterministically from the
    document (a gradient seeded by doc_id): PNG (doc_id%4==0, stdlib
    zlib), GIF (==1, real LZW), JPEG (==2 — rotating the FULL T.81
    matrix, one residue per cell: sequential ARITHMETIC SOF9
    (doc_id%16==2), PROGRESSIVE Huffman SOF2 (==6), progressive
    ARITHMETIC SOF10 (==10), BASELINE SOF0 (==14)), BMP (==3) —
    encoders in ``operators/codecs.py``. Extraction
    then runs the real path end to end: Arrow-batched mapInPandas parses
    headers (format/width/height), computes byte entropy, and DECODES
    THE ACTUAL PIXELS (``operators.multimodal.decode_pixels``) for
    pixel_mean / pixel_entropy. Witnesses per row: ``dims_ok`` (parsed
    dims == synthesized dims) and ``pixels_ok`` (decoded pixel mean
    within 3 counts of the mean the synthesizer computed from the true
    pixel array — exact for the lossless formats, DCT-rounding tolerance
    for JPEG).
    """
    from pyspark.sql.functions import pandas_udf

    from self_healing_data_pipeline_spark.operators.codecs import (
        bmp_bytes_with_pixels,
        gif_bytes_with_pixels,
        jpeg_arith_bytes_with_pixels,
        jpeg_arith_progressive_bytes_with_pixels,
        jpeg_bytes_with_pixels,
        jpeg_progressive_bytes_with_pixels,
    )
    from self_healing_data_pipeline_spark.operators.multimodal import (
        extract_features,
        png_bytes_with_pixels,
    )

    def _gradient(d: int, wi: int, hi: int):
        import numpy as np

        yy, xx = np.mgrid[0:hi, 0:wi]
        return ((yy * 7 + xx * 13 + d) % 256).astype(np.uint8)

    def _gif_palette():
        import numpy as np

        return np.stack(
            [np.arange(256), (np.arange(256) * 3) % 256,
             (np.arange(256) * 7) % 256], axis=1
        ).astype(np.uint8)

    def _synth(doc_id, w, h):
        payloads = []
        for d, wi, hi in zip(doc_id, w, h):
            d, wi, hi = int(d), int(wi), int(hi)
            px = _gradient(d, wi, hi)
            kind = d % 4
            if kind == 0:
                blob = png_bytes_with_pixels(px)
            elif kind == 1:
                blob = gif_bytes_with_pixels(
                    px, _gif_palette(), interlace=bool(d % 8 == 1)
                )
            elif kind == 2:
                # rotate the FULL JPEG matrix (round 8: the QM-coder
                # decodes for real, so all four {sequential,
                # progressive} x {Huffman, arithmetic} combinations run
                # through the in-pipeline decode path). kind==2 means
                # d%16 ∈ {2, 6, 10, 14}: map one residue to each cell
                # so every path — including baseline — stays reachable.
                if d % 16 == 2:
                    blob = jpeg_arith_bytes_with_pixels(px)
                elif d % 16 == 6:
                    blob = jpeg_progressive_bytes_with_pixels(px)
                elif d % 16 == 10:
                    blob = jpeg_arith_progressive_bytes_with_pixels(px)
                else:  # d % 16 == 14
                    blob = jpeg_bytes_with_pixels(px)
            else:
                blob = bmp_bytes_with_pixels(px)
            payloads.append(blob)
        return pd.Series(payloads)

    def _true_mean(doc_id, w, h):
        # expected pixel mean from the gradient alone — no encode pass, so
        # the witness branch of the join costs O(pixels) numpy, not codecs
        means = []
        for d, wi, hi in zip(doc_id, w, h):
            d, wi, hi = int(d), int(wi), int(hi)
            px = _gradient(d, wi, hi)
            if d % 4 == 1:
                px = _gif_palette()[px]
            means.append(float(px.mean()))
        return pd.Series(means)

    synth = pandas_udf(_synth, "binary")
    true_mean_udf = pandas_udf(_true_mean, "double")

    docs = (
        read_table(spark, sf_dir, "documents")
        .select(
            F.col("doc_id").alias("media_id"),
            F.lit("image").alias("kind"),
            # small real rasters: pure-Python JPEG entropy decode is the
            # slow path, so bound pixels/doc
            (F.col("n_chars") % 24 + 8).cast("int").alias("exp_width"),
            (F.col("doc_id") % 16 + 8).cast("int").alias("exp_height"),
        )
        # fixture parquet is one input split, which would serialize the
        # decode kernel on one core; at warehouse scale the scan itself
        # yields many splits and this repartition is a no-op cost-wise
        # (tiny pre-payload rows), so fan out before the pandas stages
        .repartition(spark.sparkContext.defaultParallelism, "media_id")
    )
    media = docs.select(
        "media_id",
        "kind",
        synth(F.col("media_id"), F.col("exp_width"), F.col("exp_height")).alias(
            "payload"
        ),
        F.struct(
            F.col("exp_width").alias("width"),
            F.col("exp_height").alias("height"),
            F.lit(None).cast("int").alias("sample_rate"),
            F.lit(None).cast("int").alias("duration_ms"),
            F.element_at(
                F.array(F.lit("png"), F.lit("gif"), F.lit("jpeg"), F.lit("bmp")),
                (F.col("media_id") % 4 + 1).cast("int"),
            ).alias("format"),
        ).alias("meta"),
    )
    feats = extract_features(media.select("media_id", "kind", "payload", "meta"))
    expected = docs.select(
        "media_id",
        "exp_width",
        "exp_height",
        true_mean_udf(
            F.col("media_id"), F.col("exp_width"), F.col("exp_height")
        ).alias("true_mean"),
    )
    # flat law-derivable output (round-11 promotion): exact columns the
    # oracle recomputes from the gradient law, plus boolean range
    # witnesses for the byte-level quantities that are not SQL
    return (
        feats.withColumn(
            "feature_norm",
            F.sqrt(
                F.aggregate(
                    "feature",
                    F.lit(0.0),
                    lambda acc, x: acc + x.cast("double") * x.cast("double"),
                )
            ),
        )
        .join(expected, "media_id")
        .select(
            "media_id",
            "format",
            F.col("width").cast("int").alias("width"),
            F.col("height").cast("int").alias("height"),
            F.when(F.col("format") == "jpeg", F.lit(None).cast("double"))
            .otherwise(F.col("pixel_mean"))
            .alias("pixel_mean_lossless"),
            (
                (F.col("width") == F.col("exp_width"))
                & (F.col("height") == F.col("exp_height"))
            ).alias("dims_ok"),
            (
                F.col("pixel_mean").isNotNull()
                & (F.abs(F.col("pixel_mean") - F.col("true_mean")) <= 3.0)
            ).alias("pixels_ok"),
            (
                (F.col("byte_entropy") > 0.0) & (F.col("byte_entropy") <= 8.0)
            ).alias("entropy_ok"),
            (F.col("n_bytes") > 16).alias("bytes_ok"),
            (F.col("feature_norm") > 0.0).alias("feature_norm_ok"),
        )
        .orderBy("media_id")
    )


@query(
    "q_multimodal_audio",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id,
             CASE CAST(doc_id % 3 AS INT)
                  WHEN 0 THEN 8000 WHEN 1 THEN 16000 ELSE 44100
             END AS rate,
             (n_chars % 500 + 100) * 4 AS n_samp,
             (doc_id % 2 + 1) AS ch,
             (n_chars % 500 + 100) * 4 * (doc_id % 2 + 1) AS n
      FROM documents
    ), v AS (
      SELECT media_id, n,
             (((i + media_id) % 256) - 128) * 100 AS val
      FROM m, generate_series(0, 4791) AS t(i)
      WHERE i < n
    ), agg AS (
      SELECT media_id, SUM(val * val) AS sum_sq, MAX(ABS(val)) AS vmax
      FROM v GROUP BY media_id
    )
    SELECT m.media_id,
           CAST(44 + 2 * n AS BIGINT) AS n_bytes,
           'wav' AS format,
           CAST(rate AS INT) AS sample_rate,
           CAST(ch AS INT) AS channels,
           CAST((n_samp * 1000) // rate AS INT) AS duration_ms,
           SQRT(CAST(sum_sq AS DOUBLE) / n) / 32768.0 AS rms,
           CAST(vmax AS DOUBLE) / 32768.0 AS peak,
           TRUE AS roundtrip_ok
    FROM m JOIN agg ON m.media_id = agg.media_id
    ORDER BY m.media_id
    """,
)
def q_multimodal_audio(spark, sf_dir):
    """Audio-column pipeline as a query — and unlike the image path, the
    decode here is FULLY REAL: payloads are valid RIFF/WAVE 16-bit PCM
    (deterministic sawtooth synthesized per document), and raw PCM needs
    no codec library, so metadata (chunk-walk header parse) AND signal
    features (RMS, normalized peak over the actual samples) both run the
    genuine path through Arrow-batched mapInPandas.

    Round-11 PROMOTION to a hash-exact oracle (the closed-form-fixture
    trick): the sawtooth sample law ``((i + media_id) % 256 − 128) ×
    100`` is exact integer arithmetic both engines can evaluate, so
    DuckDB derives n_bytes (44-byte RIFF header + 2 bytes/sample),
    parsed rate/channels/duration (data_ms = n_samp·1000 // rate — the
    chunk-walk's own integer law), and the signal stats straight from
    the law — while Spark earns them from the real byte path
    (struct-pack synth → chunk-walk parse → PCM decode). RMS is
    bit-identical because the kernel folds EXACT int64 squared samples
    and applies one correctly-rounded divide + sqrt + power-of-two
    scale (operators.multimodal.extract_audio_features); peak is an
    integer over 2^15, exact in float64 by construction. A synth,
    parse, or decode defect now breaks the driver hash, not just the
    in-row ``roundtrip_ok`` witness (retained, oracle-pinned TRUE)."""
    from pyspark.sql.functions import pandas_udf

    from self_healing_data_pipeline_spark.operators.multimodal import (
        extract_audio_features,
        wav_bytes,
    )

    def _synth(media_id, sr, n_samp, ch):
        return pd.Series(
            [
                wav_bytes(int(s), int(n), channels=int(c), seed=int(m))
                for m, s, n, c in zip(media_id, sr, n_samp, ch)
            ]
        )

    synth_payload = pandas_udf(_synth, "binary")

    docs = read_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"),
        F.expr("element_at(array(8000, 16000, 44100), CAST(doc_id % 3 AS INT) + 1)")
        .cast("int")
        .alias("exp_rate"),
        ((F.col("n_chars") % 500 + 100) * 4).cast("int").alias("n_samp"),
        (F.col("doc_id") % 2 + 1).cast("int").alias("exp_channels"),
    )
    media = docs.select(
        "media_id",
        synth_payload(
            F.col("media_id"),
            F.col("exp_rate"),
            F.col("n_samp"),
            F.col("exp_channels"),
        ).alias("payload"),
    )
    feats = extract_audio_features(media)
    expected = docs.select(
        "media_id",
        "exp_rate",
        "exp_channels",
        # duration the synthesizer implies: n_samp frames at exp_rate
        (F.col("n_samp").cast("bigint") * 1000 / F.col("exp_rate"))
        .cast("int")
        .alias("exp_duration_ms"),
    )
    return feats.join(expected, "media_id").select(
        "media_id",
        "n_bytes",
        "format",
        "sample_rate",
        "channels",
        "duration_ms",
        "rms",
        "peak",
        (
            (F.col("sample_rate") == F.col("exp_rate"))
            & (F.col("channels") == F.col("exp_channels"))
            & (F.col("duration_ms") == F.col("exp_duration_ms"))
            & (F.col("rms") > 0.0)
        ).alias("roundtrip_ok"),
    )


@query(
    "q_multimodal_video",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id,
             (doc_id % 3 * 8 + 16) AS w,
             (doc_id % 2 * 8 + 8) AS h,
             (doc_id % 5 + 4) AS nf
      FROM documents
    ), d AS (
      SELECT media_id, w, h, nf,
             w * h * 3 AS len,
             (nf + 1) // 2 AS n_sampled
      FROM m
    ), px AS (
      SELECT media_id,
             ((j + 7 * f + media_id) % 256) AS v
      FROM d,
           generate_series(0, 7) AS tf(f),
           generate_series(0, 1535) AS tj(j)
      WHERE f < nf AND f % 2 = 0 AND j < len
    ), agg AS (
      SELECT media_id, SUM(v) AS tot, COUNT(*) AS cnt
      FROM px GROUP BY media_id
    )
    SELECT d.media_id,
           CAST(100 + nf * (8 + len) AS BIGINT) AS n_bytes,
           'avi' AS format,
           CAST(w AS INT) AS width,
           CAST(h AS INT) AS height,
           CAST(nf AS INT) AS n_frames,
           CAST(100 AS INT) AS frame_ms,
           CAST(n_sampled AS INT) AS n_sampled,
           CAST(tot AS DOUBLE) / cnt AS mean_intensity,
           TRUE AS roundtrip_ok
    FROM d JOIN agg ON d.media_id = agg.media_id
    ORDER BY d.media_id
    """,
)
def q_multimodal_video(spark, sf_dir):
    """Video-column pipeline as a query — the third modality leg
    (image: header-parse + stubbed pixel decode; audio: real PCM; video:
    REAL container walk AND real frame sampling, since uncompressed DIB
    frames need no codec). Deterministic RIFF/AVI payloads are
    synthesized per document, then mapInPandas extracts container
    metadata (width/height/frame count/frame interval from the avih
    header) and samples every 2nd raw frame for mean pixel intensity.

    Round-11 PROMOTION to a hash-exact oracle (the closed-form-fixture
    trick): the frame pixel law ``(j + 7f + media_id) % 256`` is exact
    integer arithmetic, so DuckDB derives the container byte length
    (100 fixed header bytes + nf·(8 + w·h·3) frame chunks), the parsed
    avih metadata, the sampled-frame count, and the mean intensity
    straight from the law — while Spark earns them from the real byte
    path (struct-pack synth → container walk → raw-frame decode). The
    mean is bit-identical because sampled frames share one size, so
    mean-of-frames = (exact int pixel total) / (exact int count) — one
    correctly-rounded division on both engines
    (operators.multimodal.sample_video_frames now yields exact sums).
    A synth, parse, or frame-walk defect now breaks the driver hash,
    not just the in-row ``roundtrip_ok`` witness (retained,
    oracle-pinned TRUE)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from self_healing_data_pipeline_spark.operators.multimodal import (
        avi_bytes,
        extract_video_features,
    )

    def _synth(media_id, w, h, nf):
        return pd.Series(
            [
                avi_bytes(int(wi), int(hi), int(nfi), fps=10, seed=int(m))
                for m, wi, hi, nfi in zip(media_id, w, h, nf)
            ]
        )

    synth_payload = pandas_udf(_synth, "binary")

    docs = read_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"),
        (F.col("doc_id") % 3 * 8 + 16).cast("int").alias("exp_w"),
        (F.col("doc_id") % 2 * 8 + 8).cast("int").alias("exp_h"),
        (F.col("doc_id") % 5 + 4).cast("int").alias("exp_frames"),
    )
    media = docs.select(
        "media_id",
        synth_payload(
            F.col("media_id"), F.col("exp_w"), F.col("exp_h"), F.col("exp_frames")
        ).alias("payload"),
    )
    feats = extract_video_features(media, every_k=2)
    return feats.join(docs, "media_id").select(
        "media_id",
        "n_bytes",
        "format",
        "width",
        "height",
        "n_frames",
        "frame_ms",
        "n_sampled",
        "mean_intensity",
        (
            (F.col("width") == F.col("exp_w"))
            & (F.col("height") == F.col("exp_h"))
            & (F.col("n_frames") == F.col("exp_frames"))
            & (F.col("n_sampled") == F.ceil(F.col("exp_frames") / 2).cast("int"))
            & F.col("mean_intensity").between(0.0001, 254.9999)
        ).alias("roundtrip_ok"),
    )


#: Closed-form pixel law for the dHash fixture (round-11 promotion —
#: the q_scan_binaryfile trick): base luminance and twin noise are
#: Knuth-multiplicative-hash mixes of (doc_id, row, col) that BOTH
#: engines can evaluate in exact 64-bit integer arithmetic, so the
#: DuckDB oracle derives every dhash bit straight from the law while
#: the Spark path still earns it the honest way (PNG encode -> real
#: zlib/filter decode -> box sums). All terms stay < 2^63.
_DHASH_H, _DHASH_W = 24, 36
# SQUARED mix (middle-square family), not a linear-times-constant one:
# with v = top8((s * K) % 2^32), two docs' s differ by a CONSTANT, so
# after the multiply the pixel deltas are near-constant and CANCEL in
# the dhash gradient compare — every image near-dups every other
# (measured: 880 pairs at sf0.001). Squaring makes the cross-doc delta
# 2*s*C + C^2 — varying with s — and a 250-image simulation yields
# exactly the 50 planted pairs and zero accidental ones.
# The square is computed mod 2^32 AFTER reducing the mix mod 2^32 —
# mathematically identical ((s*s) mod m == ((s mod m)*(s mod m)) mod m)
# but total for any fixture doc_id: squaring the raw mix overflows
# BIGINT/int64 once s > isqrt(2^63-1) = 3,037,000,499, i.e. doc_id >
# 28,662 for the noise mix (104729*d dominates) — numpy would wrap
# silently while DuckDB raises (r11 advisor). Reduced, the square is
# < 2^64 and exact in HUGEINT here / uint64 in the Spark kernel.
_PX_LAW = (
    "CAST((CAST((d * 7919 + r * 104729 + c * 1299709 + 12345)"
    " % 4294967296 AS HUGEINT)"
    " * ((d * 7919 + r * 104729 + c * 1299709 + 12345) % 4294967296))"
    " % 4294967296 AS BIGINT) // 16777216"
)
_NOISE_LAW = (
    "(CAST((CAST((d * 104729 + r * 7919 + c * 999331 + 54321)"
    " % 4294967296 AS HUGEINT)"
    " * ((d * 104729 + r * 7919 + c * 999331 + 54321) % 4294967296))"
    " % 4294967296 AS BIGINT) % 3) - 1"
)
# 9 uneven bands over 64 bits (8x7 + 1x8): 8 differing bits across 9
# bands leave >= 1 band clean by pigeonhole, so the banded join is
# LOSSLESS at Hamming <= 8 and the oracle may brute-force all pairs.
_DHASH_BANDS = [(b * 7, 7) for b in range(8)] + [(56, 8)]


@query(
    "q_image_dhash",
    oracle=f"""
    WITH imgs AS (
      SELECT doc_id AS d, doc_id * 2 AS img_id, 0 AS is_twin
      FROM documents WHERE doc_id % 5 = 0
      UNION ALL
      SELECT doc_id, doc_id * 2 + 1, 1
      FROM documents WHERE doc_id % 20 = 0
    ), px AS (
      SELECT img_id,
             r, c,
             CASE WHEN is_twin = 0 THEN {_PX_LAW}
                  ELSE LEAST(255, GREATEST(0, ({_PX_LAW}) + ({_NOISE_LAW})))
             END AS v
      FROM imgs,
           generate_series(0, {_DHASH_H - 1}) AS tr(r),
           generate_series(0, {_DHASH_W - 1}) AS tc(c)
    ), grid AS (
      SELECT img_id, r // 3 AS gr, c // 4 AS gc, SUM(v) AS s
      FROM px GROUP BY img_id, r // 3, c // 4
    ), bits AS (
      SELECT a.img_id, a.gr, a.gc,
             CASE WHEN b.s > a.s THEN 1 ELSE 0 END AS bit
      FROM grid a
      JOIN grid b ON a.img_id = b.img_id AND a.gr = b.gr
                 AND b.gc = a.gc + 1
    ), pairs AS (
      SELECT x.img_id AS img_a, y.img_id AS img_b,
             CAST(SUM(CASE WHEN x.bit <> y.bit THEN 1 ELSE 0 END) AS INT)
               AS hamming
      FROM bits x
      JOIN bits y ON x.gr = y.gr AND x.gc = y.gc AND x.img_id < y.img_id
      GROUP BY x.img_id, y.img_id
    )
    SELECT img_a, img_b, hamming,
           (img_b = img_a + 1 AND img_a % 2 = 0
            AND (img_a // 2) % 20 = 0) AS is_planted
    FROM pairs WHERE hamming <= 8 ORDER BY img_a, img_b
    """,
)
def q_image_dhash(spark, sf_dir):
    """Perceptual near-duplicate IMAGE detection: difference-hash
    (dHash) over REAL decoded pixels — the visual twin of SimHash text
    dedup, closing the multimodal dedup story (the public method used
    by image-dedup tooling: 9×8 luminance grid, 64 horizontal-gradient
    sign bits, near-dups = small Hamming distance).

    Fixtures carry no media, so every 5th document synthesizes a 36×24
    grayscale PNG (encoder twin `operators/codecs.py` — the 1-in-5
    sampling bounds the pure-Python codec cost of FIXTURE SYNTHESIS,
    not of the operator, which is linear in images and Arrow-parallel),
    and every 4th sampled doc plants a NEAR-DUP TWIN (same pixels ±1
    noise). Round-11 PROMOTION to hash-exact: pixels follow the
    CLOSED-FORM integer law ``_PX_LAW``/``_NOISE_LAW`` (a multiplicative
    -hash mix both engines evaluate exactly), so the DuckDB oracle
    derives every grid sum, dhash bit, and Hamming distance from the
    law alone — while the Spark path still runs the honest bytes:
    encode the PNG, decode it (real zlib/filter decode), box-sum to the
    9×8 grid in exact integers, build the 64-bit hash, band it into 9
    uneven bands (8×7 + 1×8 bits), and self-join per (band, bucket).
    Pigeonhole makes the banding LOSSLESS at the Hamming ≤ 8 gate
    (8 differing bits across 9 bands leave ≥ 1 band agreeing exactly),
    so banded-engine ≡ brute-force-oracle is an identity, not a recall
    bet — the same proof that promoted q_dedup_simhash_pairs. A codec
    or box-sum defect now breaks the driver hash, not just an in-row
    witness.

    Witnesses per row: ``is_planted`` (the pair is a planted twin) and
    ``hamming``; every image also carries a decode round-trip check
    inside the kernel (a failed round trip raises — lossless PNG).
    Scale: the shuffle carries (band, ≤8-bit bucket, id, hash) only;
    candidate volume is Σ|bucket|² per band — at corpus scale the
    128/256-value bucket space is the first stage of the standard
    multi-probe cascade (widen bands or add a second LSH level before
    the verify join; the verify gate itself stays bit_count(xor) ≤ 8,
    JVM-side)."""
    from self_healing_data_pipeline_spark.operators.multimodal import (
        decode_png_pixels,
        png_bytes_with_pixels,
    )

    docs = (
        read_table(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") % 5 == 0)
    )
    schema = "img_id long, dhash long"

    def hash_batches(it):
        h, w = _DHASH_H, _DHASH_W  # 9×8 grid of exact 4×3 boxes
        rr, cc = np.mgrid[0:h, 0:w]
        rr = rr.astype(np.int64)
        cc = cc.astype(np.int64)
        for pdf in it:
            ids, hashes = [], []
            for d in pdf["doc_id"]:
                d = int(d)
                # the closed-form laws the oracle mirrors (_PX_LAW /
                # _NOISE_LAW): reduce mod 2^32, square in uint64 —
                # (s mod 2^32)^2 < 2^64 so the product is exact, and
                # identical mod 2^32 to s*s for ANY doc_id (the raw
                # square overflows int64 past doc_id 28,662)
                s = d * 7919 + rr * 104729 + cc * 1299709 + 12345
                sm = (s % 2**32).astype(np.uint64)
                base = ((sm * sm) % 2**32 // 2**24).astype(np.uint8)
                variants = [(d * 2, base)]
                if d % 20 == 0:  # plant a near-dup twin
                    t = d * 104729 + rr * 7919 + cc * 999331 + 54321
                    tm = (t % 2**32).astype(np.uint64)
                    noise = (((tm * tm) % 2**32) % 3).astype(np.int64) - 1
                    twin = np.clip(base.astype(np.int64) + noise, 0, 255)
                    variants.append((d * 2 + 1, twin.astype(np.uint8)))
                for img_id, px in variants:
                    # filter-0 scanlines: the all-filters round trip is
                    # q_multimodal_features' job; here the codec is the
                    # transport, not the thing under test
                    blob = png_bytes_with_pixels(
                        px[:, :, None], filters=[0] * h
                    )
                    dec = decode_png_pixels(blob)
                    dec2 = dec[:, :, 0] if dec.ndim == 3 else dec
                    if not np.array_equal(dec2, px):  # round-trip witness
                        raise AssertionError(f"PNG round trip failed {img_id}")
                    # exact integer 4×3 box sums on the 9×8 grid
                    g = (
                        dec2.astype(np.int64)
                        .reshape(8, 3, 9, 4)
                        .sum(axis=(1, 3))
                    )
                    bits = (g[:, 1:] > g[:, :-1]).astype(np.uint8)
                    hv = int.from_bytes(
                        np.packbits(bits.reshape(-1)).tobytes(), "big"
                    )
                    ids.append(img_id)
                    hashes.append(np.int64(np.uint64(hv).astype(np.int64)))
            yield pd.DataFrame({"img_id": ids, "dhash": hashes})

    sigs = docs.mapInPandas(hash_batches, schema)
    # 9 uneven bands (8x7 + 1x8 bits): lossless at Hamming <= 8 by
    # pigeonhole, so the banded join returns EXACTLY the brute-force
    # pair set the oracle computes. Bit i (big-endian packbits) has
    # weight 2^(63-i); band at (start, width) covers bits
    # [start, start+width) -> shift right by 64 - start - width.
    bands = sigs.select(
        "img_id",
        "dhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned(
                            F.col("dhash"), 64 - start - width
                        )
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("bucket"),
                    )
                    for b, (start, width) in enumerate(_DHASH_BANDS)
                ]
            )
        ).alias("bk"),
    ).select("img_id", "dhash", "bk.band", "bk.bucket")
    # Shared LSH skeleton with the LOUD bucket cap (round-11): the
    # 9-band split leaves only 7/8-bit bucket spaces, so a degenerate
    # corpus (many near-identical images) can concentrate a bucket;
    # the promoted COMPLETE-pairs oracle makes silence unacceptable —
    # on_oversize="error" fails the job (widen bands / raise the cap)
    # exactly like q_dedup_simhash_pairs.
    from self_healing_data_pipeline_spark.operators.dedup import (
        pairs_within_buckets,
    )

    pairs = pairs_within_buckets(
        bands.select(F.col("img_id").alias("__id"), "dhash", "band", "bucket"),
        ["band", "bucket"],
        max_bucket=10_000,
        payload="dhash",
        on_oversize="error",
    ).select(
        F.col("id_l").alias("img_a"),
        F.col("id_r").alias("img_b"),
        F.col("dhash_l").alias("h_a"),
        F.col("dhash_r").alias("h_b"),
    )
    hamming = F.expr("bit_count(h_a ^ h_b)").cast("int")
    return (
        pairs.select("img_a", "img_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= 8)
        .withColumn(
            "is_planted",
            (F.col("img_b") == F.col("img_a") + 1)
            & (F.col("img_a") % 2 == 0)
            & ((F.col("img_a") / 2).cast("long") % 20 == 0),
        )
        .orderBy("img_a", "img_b")
    )


# SURVEY.md §2 multimodal / dedup: EXACT BINARY MEDIA DEDUP —
# content-hash deduplication of opaque media payloads (the byte-level
# first pass every multimodal corpus runs before perceptual near-dup
# like q_image_dhash). Rows-only with a planted-duplicate witness:
# payload synthesis PLANTS exact duplicates at a known pattern, and
# every reported cluster must match its planted family bit-for-bit —
# codec bytes are not ANSI-SQL-expressible, so the witness, not an
# oracle, carries the check (the q_multimodal_* discipline).


# Every 5th doc re-encodes the SAME pixels as doc_id-4 (same seed →
# same deterministic PNG bytes): planted exact duplicates.
_FAMILY = 5


@query(
    "q_media_dedup",
    oracle="""
    WITH fam AS (
      SELECT doc_id,
             CASE WHEN doc_id % 5 = 4 THEN doc_id - 4 ELSE doc_id END AS seed
      FROM documents
    ), cl AS (
      SELECT seed,
             CAST(COUNT(*) AS BIGINT) AS n_members,
             CAST(MIN(doc_id) AS BIGINT) AS canonical_id
      FROM fam GROUP BY seed HAVING COUNT(*) > 1
    )
    SELECT canonical_id, n_members, TRUE AS witness_ok, TRUE AS digest_ok
    FROM cl ORDER BY canonical_id
    """,
)
def q_media_dedup(spark, sf_dir):
    """EXACT BINARY DEDUP of media payloads by content hash: group by
    sha2(payload), keep the smallest doc_id as canonical, report every
    duplicate cluster. Payloads are real PNGs (operators/codecs.py)
    whose pixels derive from a SEED = doc_id rounded down to its
    family start (doc_id%5==4 re-uses doc_id-4's seed) — so the
    planted truth is known per row and the witness ``witness_ok``
    asserts cluster-by-hash ≡ cluster-by-seed: same members, same
    canonical, same size. A hash collision, a non-deterministic
    encoder byte, or a grouping bug each break it.

    Round-11 PROMOTION to a hash-exact oracle: the seed law IS the
    cluster law (dedup-by-content ≡ dedup-by-seed when synthesis is
    injective in the seed), so DuckDB derives every cluster —
    canonical id, member count — from ``doc_id%5`` arithmetic alone,
    while Spark earns it from real bytes (encode → sha2 → groupBy).
    Injectivity is now GUARANTEED, not probabilistic: the first eight
    pixels carry the seed's little-endian bytes (the pure gradient
    collided for seeds 768 apart — same w/h and pixel values mod 256 —
    which would have merged distinct families at sf0.1 and beyond).
    The non-SQL digest column hashes as a boolean shape witness
    (``digest_ok`` = 64 hex chars); a collision, encoder flake, or
    grouping bug still breaks ``witness_ok`` and with it the driver
    hash.

    Scale shape: synthesis and hashing are Arrow-batched mapInPandas /
    JVM sha2 over one pass; the dedup is ONE partial-aggregated
    groupBy on the 64-hex digest (shuffle carries doc_id + digest,
    never payload bytes — the q_dedup_normalized fingerprint
    discipline); the witness joins the hash-cluster and seed-family
    aggregates on the canonical id (both cluster-grain)."""
    from pyspark.sql.functions import pandas_udf

    from self_healing_data_pipeline_spark.operators.multimodal import (
        png_bytes_with_pixels,
    )

    def _gradient(d: int, wi: int, hi: int):
        import numpy as np

        yy, xx = np.mgrid[0:hi, 0:wi]
        px = ((yy * 7 + xx * 13 + d) % 256).astype(np.uint8)
        # seed-injective stamp: first 8 pixels = seed little-endian
        # bytes (w >= 8 by construction), so distinct seeds can NEVER
        # encode to identical bytes — the oracle's seed-family law is
        # exact, not collision-probabilistic
        px[0, :8] = np.frombuffer(
            int(d).to_bytes(8, "little"), dtype=np.uint8
        )
        return px

    def _synth(seed, w, h):
        out = []
        for s, wi, hi in zip(seed, w, h):
            out.append(
                png_bytes_with_pixels(_gradient(int(s), int(wi), int(hi)))
            )
        return pd.Series(out)

    synth = pandas_udf(_synth, "binary")

    docs = (
        read_table(spark, sf_dir, "documents")
        .select(
            F.col("doc_id"),
            (
                F.col("doc_id")
                - F.when(F.pmod("doc_id", F.lit(_FAMILY)) == _FAMILY - 1,
                         F.lit(_FAMILY - 1)).otherwise(F.lit(0))
            ).alias("seed"),
        )
        .withColumn("w", (F.col("seed") % 24 + 8).cast("int"))
        .withColumn("h", (F.col("seed") % 16 + 8).cast("int"))
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
    )
    hashed = docs.select(
        "doc_id",
        "seed",
        F.sha2(synth(F.col("seed"), F.col("w"), F.col("h")), 256).alias(
            "digest"
        ),
    )
    by_hash = hashed.groupBy("digest").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
        F.min("doc_id").cast("bigint").alias("canonical_id"),
        F.max("doc_id").cast("bigint").alias("max_id"),
    )
    by_seed = hashed.groupBy("seed").agg(
        F.count(F.lit(1)).cast("bigint").alias("family_size"),
        F.min("doc_id").cast("bigint").alias("family_canonical"),
        F.max("doc_id").cast("bigint").alias("family_max"),
    )
    return (
        by_hash.join(
            by_seed,
            by_hash["canonical_id"] == by_seed["family_canonical"],
            "left",
        )
        .select(
            "canonical_id",
            "n_members",
            (
                (F.col("n_members") == F.col("family_size"))
                & (F.col("max_id") == F.col("family_max"))
                & (F.col("canonical_id") == F.col("seed"))
            ).alias("witness_ok"),
            F.col("digest").rlike("^[0-9a-f]{64}$").alias("digest_ok"),
        )
        .where(F.col("n_members") > 1)
        .orderBy("canonical_id")
    )
