"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata, processed via Arrow-batched Pandas UDFs. A media
table has ``media_id`` (long), ``kind`` (image | audio | video),
``format``, ``content`` (binary) and, for the frame plan, ``duration_ms``.

Decode: no codec runs here. ``extract_features`` and ``audio_features``
derive their features from a deterministic md5 stand-in for the decoded
payload (``fake_decode``), which keeps the Spark-side contract — schema,
Arrow batch shape, one row per item or window — exact and testable. A
real codec would replace that stand-in inside the batch function.

Scale notes: binary payloads ride in the DataFrame as parquet binary
columns; per-batch processing (Arrow RecordBatch in, RecordBatch out)
keeps the Python boundary amortized. Re-partition by expected payload
size before heavy decode (`spark.sql.files.maxPartitionBytes` governs
scan-side splits; decode-side use ``df.repartition`` on row-count-
balanced keys).
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("kind", StringType(), False),
        StructField("n_bytes", LongType(), True),
        StructField("content_hash", StringType(), True),
        StructField("feat_mean", LongType(), True),  # fake-decoded feature
        StructField("feat_dim", IntegerType(), True),
    ]
)


def fake_decode(content: bytes) -> tuple[int, int]:
    """Deterministic stand-in for decode+feature-extract: (feature mean,
    feature dim) derived from the payload bytes. Lets every downstream
    assertion be exact while the real decoder is absent."""
    import hashlib

    if content is None:
        return (0, 0)
    digest = hashlib.md5(content).digest()
    return (int.from_bytes(digest[:4], "big"), len(content) % 512 + 1)


def extract_features(media: DataFrame, batch_hint: int | None = None) -> DataFrame:
    """mapInPandas feature extraction over the media table. Arrow batches
    flow in/out; one output row per input row, with ``feat_mean`` and
    ``feat_dim`` from the ``fake_decode`` stand-in (see module docstring).

    The fake-decode logic is re-declared LOCALLY so cloudpickle ships it
    by value: a module-level reference would make every Python worker
    import this package, which fails when the driver's cwd isn't the
    repo root (the driver-contract deployment mode). Kept in sync with
    ``fake_decode`` by test_extensions.test_multimodal_plumbing."""

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import hashlib

        import pandas as pd

        def _fake_decode(content):
            if content is None:
                return (0, 0)
            digest = hashlib.md5(content).digest()
            return (int.from_bytes(digest[:4], "big"), len(content) % 512 + 1)

        for pdf in batches:
            feat = pdf["content"].map(
                lambda c: _fake_decode(bytes(c) if c is not None else None)
            )
            out = pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": pdf["content"].map(lambda c: len(c) if c is not None else 0),
                    "content_hash": pdf["content"].map(
                        lambda c: hashlib.md5(bytes(c)).hexdigest() if c is not None else None
                    ),
                    "feat_mean": feat.map(lambda t: t[0]),
                    "feat_dim": feat.map(lambda t: t[1]),
                }
            )
            yield out

    return media.mapInPandas(run, schema=FEATURE_SCHEMA)


def frame_sample_plan(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling PLAN: expands each video row into the frame
    timestamps that a real decoder would extract (sequence expression —
    JVM-side), with the per-frame decode left to ``extract_features``."""
    return (
        media.where(F.col("kind") == "video")
        .where(F.col("duration_ms").isNotNull())
        .select(
            "media_id",
            "format",
            F.explode(
                F.sequence(F.lit(0), F.col("duration_ms"), F.lit(every_ms))
            ).alias("frame_ts_ms"),
        )
    )


AUDIO_FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("window_start_ms", LongType(), False),
        StructField("window_end_ms", LongType(), False),
        StructField("n_samples", LongType(), True),
        StructField("sum_abs", LongType(), True),
        StructField("peak", LongType(), True),
        StructField("energy", LongType(), True),
    ]
)


def audio_features(
    media: DataFrame,
    window_ms: int = 1000,
    hop_ms: int = 500,
) -> DataFrame:
    """mapInPandas audio feature extraction: decode each audio payload
    once per row, then emit one row per analysis window at ``hop_ms``
    stride — the STFT-feature fan-out, with the decode performed inside
    the batch UDF.

    Features are EXACT integers (no float summation anywhere), so tests
    and cross-run comparisons are bit-stable: ``n_samples`` (interleaved
    samples in the window), ``sum_abs``, ``peak`` (max |sample|) and
    ``energy`` (sum of squares — Python ints never overflow).

    The decode is a deterministic stand-in (8 md5-derived samples at
    1 kHz per payload) with the ``(n_channels, sample_rate, samples)``
    shape a real audio codec returns. Windows start while >= 1 ms of
    audio remains and the last one may be short (clamped end); sample
    index = ms * rate // 1000 over frame positions (channel-interleaved
    samples of one frame always share a window)."""
    win, hop = int(window_ms), int(hop_ms)

    def run(batches):
        import hashlib

        import pandas as pd

        def _fake_decode_audio(content, fmt):
            # 8 deterministic md5-derived samples at 1 kHz per payload
            if content is None:
                return (1, 1000, [])
            digest = hashlib.md5(bytes(content)).digest()
            return (1, 1000, [b - 128 for b in digest[:8]])

        for pdf in batches:
            out = {k: [] for k in (
                "media_id", "window_start_ms", "window_end_ms",
                "n_samples", "sum_abs", "peak", "energy",
            )}
            for mid, content, fmt in zip(
                pdf["media_id"], pdf["content"], pdf["format"]
            ):
                if content is None:
                    continue
                n_ch, rate, samples = _fake_decode_audio(bytes(content), fmt)
                n_frames = len(samples) // max(1, n_ch)
                duration_ms = n_frames * 1000 // max(1, rate)
                start = 0
                while start < duration_ms:
                    end = min(start + win, duration_ms)
                    f0 = start * rate // 1000
                    f1 = end * rate // 1000
                    w = samples[f0 * n_ch : f1 * n_ch]
                    out["media_id"].append(mid)
                    out["window_start_ms"].append(start)
                    out["window_end_ms"].append(end)
                    out["n_samples"].append(len(w))
                    out["sum_abs"].append(sum(abs(s) for s in w))
                    out["peak"].append(max((abs(s) for s in w), default=0))
                    out["energy"].append(sum(s * s for s in w))
                    start += hop
            # skip all-filtered batches: a frame of empty lists has
            # float64 columns, not the schema's types
            if out["media_id"]:
                yield pd.DataFrame(out)

    return media.where(F.col("kind") == "audio").mapInPandas(
        run, schema=AUDIO_FEATURE_SCHEMA
    )



# ---------------------------------------------------------------------------
# Perceptual average-hash (aHash) for media dedup — real algorithm over the
# deterministic fake decode (the documented codec stub)
# ---------------------------------------------------------------------------
AHASH_BITS = 48  # 3 md5 digests x 16 bytes = 48 "pixels" (pigeonhole-bandable)
AHASH_BANDS = 4


def ahash_pixel_digests(text_col):
    """The fake-decoded 'grayscale pixels': 3 md5 digests of the payload
    with a counter suffix, 16 bytes each — deterministic, engine-portable
    (DuckDB computes the identical hex). A real decoder would replace
    this with an 8x8 downscale; everything downstream (mean threshold,
    bit packing, Hamming banding) is the actual aHash algorithm."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return [F.md5(F.concat(c, F.lit(str(d)))) for d in range(AHASH_BITS // 16)]


def media_ahash(media_text: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(media_id, ahash): 48-bit perceptual average-hash — bit j set iff
    pixel_j >= mean, tested in exact integers as pixel_j * 48 >= sum
    (no float mean, no rounding ambiguity). Pure generated expressions:
    two projections (digests, then pixels+pack), no UDF, no shuffle."""
    h = media_text.select(
        F.col(id_col).alias("media_id"),
        *[d.alias(f"_h{i}") for i, d in enumerate(ahash_pixel_digests(text_col))],
    )
    pixels = [
        F.conv(F.substring(f"_h{d}", 2 * i + 1, 2), 16, 10).cast("long")
        for d in range(AHASH_BITS // 16)
        for i in range(16)
    ]
    p = h.select("media_id", *[px.alias(f"_p{j}") for j, px in enumerate(pixels)])
    total = sum((F.col(f"_p{j}") for j in range(AHASH_BITS)), F.lit(0))
    s = p.withColumn("_total", total)
    packed = sum(
        (
            F.when(F.col(f"_p{j}") * AHASH_BITS >= F.col("_total"), F.lit(1 << j)).otherwise(
                F.lit(0)
            )
            for j in range(AHASH_BITS)
        ),
        F.lit(0),
    )
    return s.select("media_id", packed.cast("long").alias("ahash"))


def media_dup_pairs(
    media_text: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """Perceptual near-dup media pairs: band the 48-bit aHash into 4
    12-bit keys (pigeonhole: Hamming <= 3 pairs agree on >= 1 band —
    LOSSLESS for the threshold), hash-join bands, verify with
    bit_count(xor) exactly. Same scale shape as the SimHash text pairs:
    the shuffle carries (band, key) rows, never all pairs.

    The aHash relation is persisted before the self-join: both join
    sides re-project it under different aliases, so without the cache
    the decode + hash chain runs once PER SIDE (AQE cannot reuse the
    differently-aliased exchanges — measured 2x at sf3). Rows are
    (media_id, ahash) = ~16 bytes, thousands of times smaller than the
    media bytes, so caching it is the 100-TB shape too.

    Cache contract (ADVICE r8): that relation stays persisted in the
    returned plan — sweep with ``session.sweep_caches(spark)`` in
    long-lived sessions, always before re-running over a rewritten
    input table (a stale CacheManager entry can serve dead rows for an
    identical analyzed plan)."""
    from pyspark import StorageLevel

    ah = media_ahash(media_text, text_col, id_col).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    bits_per_band = AHASH_BITS // AHASH_BANDS
    mask = (1 << bits_per_band) - 1
    keyed = ah.select(
        "media_id",
        "ahash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright("ahash", b * bits_per_band)
                        .bitwiseAND(mask)
                        .alias("bkey"),
                    )
                    for b in range(AHASH_BANDS)
                ]
            )
        ).alias("_bk"),
    ).select("media_id", "ahash", "_bk.band", "_bk.bkey")
    a = keyed.select(
        F.col("media_id").alias("id_a"), F.col("ahash").alias("ha"), "band", "bkey"
    )
    b = keyed.select(
        F.col("media_id").alias("id_b"), F.col("ahash").alias("hb"), "band", "bkey"
    )
    hamming = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    # verify BEFORE dedup: the bit_count filter is map-side and free,
    # while dropDuplicates shuffles its input — filtering first shrinks
    # the distinct to the true near-dup pairs instead of every band
    # collision (band collisions scale with corpus density; measured 4x
    # at sf3 where ~11M candidates reduce to a handful of survivors)
    return (
        a.join(b, ["band", "bkey"])
        .where(F.col("id_a") < F.col("id_b"))
        .where(hamming <= max_hamming)
        .select("id_a", "id_b", hamming.cast("long").alias("hamming"))
        .dropDuplicates(["id_a", "id_b"])
    )
