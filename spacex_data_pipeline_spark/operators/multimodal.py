"""Multimodal columns (driver north-star extension; SURVEY.md §2.5).

Images/audio/video ride in the same DataFrame as opaque BINARY columns with
typed metadata — parquet keeps binary columnar and the metadata prunable, so
a filter on (modality, byte_len) never touches payload bytes.

The decode step is STUBBED (no image/audio libs in this container): the
Spark-side plumbing — schema, Arrow batch shape, ``mapInPandas`` signature,
partition sizing — is real and tested; ``decode_image_meta`` computes a
deterministic fake decode from the payload so results are verifiable; a
real decoder (Pillow, torchaudio) would slot into the same ``mapInPandas``
batch function.

At 100 TB: binary payloads dominate bytes → size partitions by
``spark.sql.files.maxPartitionBytes`` (payload-aware), keep metadata in
separate small row groups, and never explode payloads through a shuffle —
extract features first (map-only), shuffle features.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DECODED_SCHEMA = (
    "doc_id bigint, width int, height int, n_pixels bigint, checksum_md5 string"
)


def documents_as_media(docs: DataFrame) -> DataFrame:
    """Adapter: treat each document's UTF-8 bytes as an opaque media payload
    (the fixtures carry no real images; the column plumbing is identical).
    byte_len/checksum are metadata computed once at ingest — queries
    filter on them without reading payloads."""
    payload = F.encode(F.col("text"), "UTF-8")
    return docs.select(
        F.col("doc_id"),
        payload.alias("media"),
        F.lit("image/fake").alias("modality"),
        F.length(payload).cast("int").alias("byte_len"),
        F.md5(payload).alias("checksum_md5"),
    )


def decode_image_meta(media: DataFrame) -> DataFrame:
    """'Decode' every payload via mapInPandas — Arrow-batched, zero-copy
    into pandas, the exact shape a Pillow decode would use.

    The fake decode is deterministic arithmetic on byte_len (so the DuckDB
    oracle can verify the plumbing end-to-end):
        width  = byte_len % 640 + 1
        height = byte_len % 480 + 1
        n_pixels = width * height
    """

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            blen = pdf["media"].map(len).astype("int64")
            width = (blen % 640 + 1).astype("int32")
            height = (blen % 480 + 1).astype("int32")
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": width,
                    "height": height,
                    "n_pixels": (width.astype("int64") * height.astype("int64")),
                    "checksum_md5": pdf["checksum_md5"],
                }
            )

    return media.mapInPandas(decode, schema=DECODED_SCHEMA)


RESIZED_SCHEMA = (
    "doc_id bigint, media binary, width int, height int, "
    "out_width int, out_height int, out_bytes int"
)


def resize_image_plan(media: DataFrame) -> DataFrame:
    """Image-resize plumbing: cap the longer side at 64 px
    preserving aspect ratio (the standard thumbnail/training-input
    normalization), via the same Arrow ``mapInPandas`` batch shape a
    Pillow ``Image.resize`` would run in.

    The pixel work is STUBBED like decode_image_meta (no imaging libs in
    this container): source dims come from the same deterministic
    byte_len arithmetic, the scale rule is real —
        scale      = min(1, 64 / max(w, h))
        out_w/out_h = max(1, floor(w·scale)) / max(1, floor(h·scale))
        out_bytes  = out_w · out_h  (1 byte/px fake payload)
    — and the emitted payload is a deterministic out_bytes-long slice so
    downstream code sees a real binary column of the post-resize size.
    All of it integer arithmetic the DuckDB oracle replicates, so the
    batch plumbing is verified end-to-end; with Pillow present the batch
    loop body is the only line that changes. Map-only: at 100 TB resize
    NEVER follows a shuffle — payloads stream scan→resize→sink."""

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            blen = pdf["media"].map(len).astype("int64")
            width = (blen % 640 + 1).astype("int64")
            height = (blen % 480 + 1).astype("int64")
            side = width.where(width >= height, height)
            # integer floor(w*64/side), exact — no float rounding
            # to mirror in SQL; no-op when already within bounds
            out_w = (width * 64 // side).clip(lower=1).where(side > 64, width)
            out_h = (height * 64 // side).clip(lower=1).where(side > 64, height)
            out_bytes = (out_w * out_h).astype("int64")
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media": [
                        (bytes(m) * ((n // max(len(m), 1)) + 1))[:n]
                        for m, n in zip(pdf["media"], out_bytes)
                    ],
                    "width": width.astype("int32"),
                    "height": height.astype("int32"),
                    "out_width": out_w.astype("int32"),
                    "out_height": out_h.astype("int32"),
                    "out_bytes": out_bytes.astype("int32"),
                }
            )

    return media.mapInPandas(resize, schema=RESIZED_SCHEMA)


def extract_byte_features(media: DataFrame) -> DataFrame:
    """REAL feature extraction over the payload bytes (not a stub): an
    L1-normalized 16-bin byte-value histogram per payload — the
    cheap content signature used for corruption triage, format
    clustering, and near-dup blocking of binaries before any expensive
    decode. numpy ``frombuffer``+``bincount`` per Arrow batch — the
    exact compute shape a CNN-embedding extractor would use, with the
    model swapped in for the histogram. Returns
    (doc_id, features array<double>) — feed it straight into the
    embedding near-dup / similarity operators. Map-only; features
    (16 doubles) shuffle downstream, payloads never do."""
    import numpy as np

    width = 256 // 16  # byte values per bin

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for m in pdf["media"]:
                arr = np.frombuffer(bytes(m), dtype=np.uint8)
                if len(arr) == 0:
                    feats.append([0.0] * 16)
                    continue
                hist = np.bincount(arr // width, minlength=16).astype(np.float64)
                feats.append(list(hist / hist.sum()))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "features": feats})

    return media.mapInPandas(
        extract, schema="doc_id bigint, features array<double>"
    )


def frame_sample_plan(media: DataFrame) -> DataFrame:
    """Video-frame-sampling plumbing: explode a deterministic frame index
    per payload (fake: one frame per 100 bytes), keep every nth — shows the
    explode-then-filter shape a real ffmpeg-based sampler would use, with
    the filter applied BEFORE any decode cost."""
    n_frames = (F.col("byte_len") / F.lit(100)).cast("int") + 1
    return (
        media.select(
            "doc_id",
            F.explode(F.sequence(F.lit(0), n_frames - 1)).alias("frame_idx"),
        )
        .filter(F.col("frame_idx") % 10 == 0)
    )


def dhash56_profile(media: DataFrame) -> DataFrame:
    """56-bit difference-hash (dHash) of each media payload over its
    byte-value PROFILE — the perceptual-hash stage of a multimodal dedup
    pipeline, with the pixel grid replaced by a content-LOCAL
    deterministic stand-in (no imaging libs in this container): the
    payload's bytes are split into 63 cells by ``cell = 63·pos // n``
    (the same formula the oracle applies to hex-decoded bytes, so both
    engines bin identically with no boundary-rounding trap), each
    cell's brightness is the exact integer SUM of its byte values, and
    bit (r, c) of the 7-row × 8-bit hash is set iff cell r·9+c is
    darker than its right neighbour — the gradient-sign encoding a
    real dHash takes from a 9-wide downscaled image. Because the
    profile is local, a small edit perturbs only nearby cells: true
    near-duplicate payloads land within a few hamming bits while
    unrelated payloads sit near the binomial mean (~28 of 56). A REAL
    decoder drops into this exact mapInPandas slot (numpy resize →
    row-wise gradient signs); 56 bits keeps the hash positive in a
    signed BIGINT so banding/XOR never touch the sign bit. Arrow-
    batched numpy (cumsum + O(1) per cell), payloads never shuffle —
    only (id, 8-byte hash) rows leave the scan."""

    import numpy as np

    def hash_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        shifts = np.array(
            [r * 8 + c for r in range(7) for c in range(8)], dtype=np.int64
        )
        lhs_idx = np.array(
            [r * 9 + c for r in range(7) for c in range(8)], dtype=np.int64
        )
        for pdf in batches:
            hashes = []
            for m in pdf["media"]:
                arr = np.frombuffer(bytes(m), dtype=np.uint8)
                n = len(arr)
                if n == 0:
                    hashes.append(0)
                    continue
                cells = (63 * np.arange(n, dtype=np.int64)) // n
                sums = np.bincount(
                    cells, weights=arr.astype(np.float64), minlength=63
                ).astype(np.int64)
                bits = (sums[lhs_idx] < sums[lhs_idx + 1]).astype(np.int64)
                hashes.append(int(np.sum(bits << shifts)))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "phash": hashes})

    return media.select("doc_id", "media").mapInPandas(
        hash_batch, schema="doc_id bigint, phash bigint"
    )


def phash_neardup_pairs(hashed: DataFrame, max_hamming: int = 10) -> DataFrame:
    """Near-duplicate pairs among perceptual hashes via LSH banding —
    the media twin of the SimHash text path: split each 56-bit hash
    into 4×14-bit bands, bucket-join on (band, value) so only hashes
    agreeing EXACTLY on some band ever meet (a pair within hamming
    distance d collides on ≥1 band whenever d < 4 by pigeonhole),
    then verify the survivors with the exact popcount of the XOR.
    Never all-pairs: the join fans out per bucket, and with real
    near-dup-heavy media the band buckets are what you'd cap (the
    audited simhash/minhash skew-cap pattern). The hash input is
    materialized first (:func:`dedup.materialize`) so the
    self-join's two sides read one computed hash table instead of
    running the upstream decode/hash stage twice. Returns
    (id_a, id_b, hamming) for verified pairs."""
    from .dedup import materialize

    hashed = materialize(hashed.select("doc_id", "phash"))
    mask = (1 << 14) - 1
    b = hashed.select(
        F.col("doc_id").alias("__id"),
        F.col("phash").alias("__h"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("bk"),
                        F.shiftright(F.col("phash"), 14 * k)
                        .bitwiseAND(F.lit(mask))
                        .alias("bv"),
                    )
                    for k in range(4)
                ]
            )
        ).alias("b"),
    ).select("__id", "__h", F.col("b.bk").alias("__bk"), F.col("b.bv").alias("__bv"))
    lhs = b.select(
        F.col("__id").alias("id_a"),
        F.col("__h").alias("__ha"),
        "__bk",
        "__bv",
    )
    rhs = b.select(
        F.col("__id").alias("id_b"),
        F.col("__h").alias("__hb"),
        "__bk",
        "__bv",
    )
    pairs = (
        lhs.join(rhs, ["__bk", "__bv"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "__ha", "__hb")
        .distinct()
    )
    hamming = F.bit_count(F.col("__ha").bitwiseXOR(F.col("__hb"))).cast("long")
    return (
        pairs.select("id_a", "id_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )
