"""Multimodal (binary) column plumbing.

Treats image/audio/video payloads as opaque ``binary`` columns with typed
metadata, processed by Arrow-batched ``mapInPandas`` kernels. The decode
step is STUBBED (media libraries are not available in this environment):
``decode=deterministic_fake`` produces a seeded, content-derived feature
vector so the Spark-side plumbing — schema, batching, partitioning, UDF
signature — is real and testable; ``decode=strict`` raises
``NotImplementedError`` where a real decoder (PIL/ffmpeg/torchaudio) would
plug in.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql import functions as F

from .cache import cache

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image | audio | video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.LongType(), True),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("n_bytes", T.IntegerType(), True),
        T.StructField("feature", T.ArrayType(T.FloatType()), True),
    ]
)


def documents_as_media(docs: DataFrame) -> DataFrame:
    """Deterministic media view of the ``documents`` fixture: the text bytes
    stand in for an opaque media payload (kind cycles image/audio/video by
    doc_id), with typed metadata columns per MEDIA_SCHEMA. Native
    expressions only, so filters/pruning push through to the scan."""
    kind = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    is_image = F.col("doc_id") % 3 == 0
    return docs.select(
        F.col("doc_id").alias("media_id"),
        kind.alias("kind"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.when(is_image, (F.col("n_chars") % 64 + 10).cast("int")).alias("width"),
        F.when(is_image, (F.col("n_chars") % 48 + 10).cast("int")).alias("height"),
        F.when(~is_image, F.col("n_chars").cast("long") * 10).alias("duration_ms"),
    )


def extract_features(
    df: DataFrame, dim: int = 8, decode: str = "deterministic_fake"
) -> DataFrame:
    """Decode + feature-extract binary payloads via mapInPandas.

    Batches stream through Arrow; no per-row Python call overhead. The
    deterministic fake derives ``dim`` floats from a rolling hash of the
    payload bytes so tests can assert exact values.
    """
    if decode not in ("deterministic_fake", "strict"):
        raise ValueError(decode)
    strict = decode == "strict"

    def kernel(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import numpy as np
        import pandas as pd

        # vectorized FNV-1a over byte strides: the per-byte recurrence
        # acc = (acc ^ byte) * p mod 2^32 is sequential WITHIN a row, so
        # the batch is processed in lockstep ACROSS rows — one masked
        # numpy op per byte position (iterations = max stride length),
        # uint32 arithmetic wrapping supplies the mod. Bit-identical to
        # the per-byte Python loop it replaced, ~15x faster.
        for pdf in batches:
            if strict:
                raise NotImplementedError(
                    "real media decoding requires PIL/ffmpeg; plug a decoder in here"
                )
            n = len(pdf)
            arrs = [
                None if p is None else np.frombuffer(bytes(p), dtype=np.uint8)
                for p in pdf["payload"]
            ]
            acc = np.full(n, 2166136261, dtype=np.uint32)
            feats = np.zeros((n, dim), dtype=np.float64)
            for j in range(dim):
                # empty stride (short/empty payload) processes one 0 byte,
                # matching `b[j::dim] or b"\x00"`
                strides = [
                    a[j::dim]
                    if (a is not None and len(a) > j)
                    else np.zeros(1, np.uint8)
                    for a in arrs
                ]
                slens = np.array([len(s) for s in strides])
                m = int(slens.max()) if n else 0
                stacked = np.zeros((n, m), dtype=np.uint8)
                for i, s in enumerate(strides):
                    stacked[i, : len(s)] = s
                for k in range(m):
                    mask = k < slens
                    upd = (acc ^ stacked[:, k].astype(np.uint32)) * np.uint32(16777619)
                    acc = np.where(mask, upd, acc)
                feats[:, j] = (acc % np.uint32(1000)).astype(np.float64) / 1000.0
            valid = np.array([a is not None for a in arrs], dtype=bool)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": [
                        len(a) if a is not None else None for a in arrs
                    ],
                    "feature": [
                        list(feats[i]) if valid[i] else None for i in range(n)
                    ],
                }
            )

    return df.mapInPandas(kernel, schema=FEATURE_SCHEMA)


def perceptual_hash(
    df: DataFrame, n_bits: int = 64, decode: str = "deterministic_fake"
) -> DataFrame:
    """64-bit perceptual-hash per media row (``media_id, phash``) — the
    image-dedup primitive (pHash-style: a compact content fingerprint
    whose Hamming distance tracks visual similarity). The decode step is
    the stubbed one: the payload's utf-32 codepoint stream stands in for
    the decoded pixel/sample stream (``decode='strict'`` raises where a
    real image decoder would plug in); bit j is an FNV-1a fold of the
    j-th codepoint stride — same lockstep-vectorized kernel shape as
    :func:`extract_features`, and exact integer arithmetic end-to-end so
    the DuckDB oracle replays every bit.

    One Arrow map pass, no shuffle; at 100 TB the hash is what you
    persist (8 bytes/image) and the payload never moves again."""
    if decode not in ("deterministic_fake", "strict"):
        raise ValueError(decode)
    if n_bits != 64:
        raise ValueError("phash is a packed int64: n_bits must be 64")
    strict = decode == "strict"

    def kernel(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if strict:
                raise NotImplementedError(
                    "real image decoding requires PIL; plug a decoder in here"
                )
            n = len(pdf)
            if n == 0:
                continue
            cps = [
                None
                if p is None
                else np.frombuffer(
                    bytes(p).decode("utf-8").encode("utf-32-le"), dtype=np.uint32
                )
                for p in pdf["payload"]
            ]
            bits = np.zeros((n, 64), dtype=np.uint64)
            for j in range(64):
                strides = [
                    a[j::64]
                    if (a is not None and len(a) > j)
                    else np.zeros(1, np.uint32)
                    for a in cps
                ]
                slens = np.array([len(s) for s in strides])
                m = int(slens.max())
                stacked = np.zeros((n, m), dtype=np.uint32)
                for i, s in enumerate(strides):
                    stacked[i, : len(s)] = s
                acc = np.full(n, 2166136261, dtype=np.uint32)
                for k in range(m):
                    mask = k < slens
                    upd = (acc ^ stacked[:, k]) * np.uint32(16777619)
                    acc = np.where(mask, upd, acc)
                bits[:, j] = (acc % np.uint32(1000)) >= 500
            packed = (bits << np.arange(64, dtype=np.uint64)).sum(
                axis=1, dtype=np.uint64
            ).view(np.int64)
            valid = np.array([a is not None for a in cps], dtype=bool)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "phash": [
                        int(packed[i]) if valid[i] else None for i in range(n)
                    ],
                }
            )

    return df.mapInPandas(kernel, schema="media_id long, phash long")


def phash_pairs(df: DataFrame, radius: int = 3) -> DataFrame:
    """Near-duplicate media pairs within Hamming distance ``radius`` of
    their perceptual hashes — banded exactly like the SimHash text path
    (Manku et al. 2007): the 64-bit hash splits into ``radius+1`` 16-bit
    bands; by pigeonhole any pair within the radius agrees on at least
    one band, so the equi-join candidate generation is EXACT, never
    all-pairs. ``df`` is ``(media_id, phash)``; output
    ``(media_a, media_b, hamming)`` with ``media_a < media_b``.

    ``(phash >> s) & 0xFFFF`` reads the same 16 bits under arithmetic or
    logical shift (the mask discards the filled high bits), so negative
    packed hashes band identically in Spark and the SQL oracle."""
    n_bands = radius + 1
    if n_bands * 16 != 64:
        raise ValueError("radius must be 3 (4 x 16-bit bands) for int64 hashes")
    # cache: both sides of the banded self-join read this frame and Spark
    # reuses no aliased exchange, so an uncached upstream (the per-bit
    # FNV decode kernel) would run twice — the dedup_simhash_hamming
    # finding, same fix (one row per media id, LRU-evictable)
    ph = cache(df.where(F.col("phash").isNotNull()))
    bands = ph.select(
        "media_id",
        "phash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("phash"), 16 * b)
                        .bitwiseAND(F.lit(65535))
                        .alias("bv"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select("media_id", "phash", F.col("bk.band").alias("band"), F.col("bk.bv").alias("bv"))
    a = bands.select(
        F.col("media_id").alias("media_a"), F.col("phash").alias("ph_a"), "band", "bv"
    )
    b = bands.select(
        F.col("media_id").alias("media_b"), F.col("phash").alias("ph_b"), "band", "bv"
    )
    return (
        a.join(b, ["band", "bv"])
        .where(F.col("media_a") < F.col("media_b"))
        .select(
            "media_a",
            "media_b",
            F.bit_count(F.col("ph_a").bitwiseXOR(F.col("ph_b"))).alias("hamming"),
        )
        .where(F.col("hamming") <= radius)
        .distinct()
    )


def sample_frames(df: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Frame-sample plan for video rows: one output row per sampled frame
    offset (native explode over a computed sequence — the decode itself is
    the stubbed step above)."""
    return (
        df.where(F.col("kind") == "video")
        .withColumn(
            "frame_ms",
            F.explode(
                F.sequence(
                    F.lit(0).cast("long"),
                    F.greatest(F.col("duration_ms") - F.lit(1), F.lit(0).cast("long")),
                    F.lit(every_ms).cast("long"),
                )
            ),
        )
        .select("media_id", "frame_ms", "payload")
    )


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("out_width", T.IntegerType(), False),
        T.StructField("out_height", T.IntegerType(), False),
        T.StructField("n_bytes_in", T.IntegerType(), True),
        T.StructField("n_bytes_out", T.IntegerType(), True),
    ]
)


def resize_images(
    df: DataFrame,
    target_w: int = 32,
    target_h: int = 32,
    decode: str = "deterministic_fake",
) -> DataFrame:
    """Resize plan for image rows via the same Arrow ``mapInPandas`` shape
    a real PIL/opencv kernel would use: batch in, per-row decode ->
    resample -> re-encode, batch out. The deterministic fake materializes
    a real ``target_w x target_h x 3`` RGB buffer derived from the payload
    bytes (so buffer sizing, batch memory and Arrow transfer are
    exercised) and reports byte counts; ``decode="strict"`` raises at the
    plug-in point. Output is metadata-only — at scale you'd write the
    resized payload column straight to the sink rather than return it
    through the driver.
    """
    if decode not in ("deterministic_fake", "strict"):
        raise ValueError(decode)
    strict = decode == "strict"

    def kernel(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import pandas as pd

        for pdf in batches:
            if strict:
                raise NotImplementedError(
                    "real media decoding requires PIL/opencv; plug a decoder in here"
                )
            rows = []
            for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None:
                    rows.append((media_id, target_w, target_h, None, None))
                    continue
                b = bytes(payload)
                # fake "resample": tile the source bytes into the target buffer
                need = target_w * target_h * 3
                buf = (b * (need // max(len(b), 1) + 1))[:need] if b else b"\x00" * need
                rows.append((media_id, target_w, target_h, len(b), len(buf)))
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "out_width", "out_height", "n_bytes_in", "n_bytes_out",
                ],
            )

    return df.where(F.col("kind") == "image").mapInPandas(kernel, schema=RESIZED_SCHEMA)


def chunk_audio(df: DataFrame, chunk_ms: int = 500) -> DataFrame:
    """Fixed-size chunking plan for audio rows: one row per chunk with
    clamped end bounds (the shape a transcription/feature pipeline feeds
    its per-chunk decoder). Native sequence + explode — no Python."""
    n_chunks = F.ceil(F.col("duration_ms") / F.lit(chunk_ms)).cast("long")
    # Guard: sequence(0, n-1) steps downward when duration yields 0 chunks.
    idx = F.when(
        n_chunks > 0, F.sequence(F.lit(0).cast("long"), n_chunks - F.lit(1))
    ).otherwise(F.array().cast("array<long>"))
    return (
        df.where(F.col("kind") == "audio")
        .withColumn("chunk_idx", F.explode(idx))
        .select(
            "media_id",
            "chunk_idx",
            (F.col("chunk_idx") * chunk_ms).alias("chunk_start_ms"),
            F.least(
                (F.col("chunk_idx") + 1) * F.lit(chunk_ms).cast("long"),
                F.col("duration_ms"),
            ).alias("chunk_end_ms"),
        )
    )
