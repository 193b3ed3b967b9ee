"""Multimodal column plumbing (extension layer).

Image/audio/video payloads are opaque `binary` columns with a typed
metadata struct. Decode / feature-extract run as Arrow-batched
`mapInPandas` — the Spark-side contract (schema, batch shape, UDF
signature, partitioning) is real and tested; the actual media decode
is STUBBED (decode libs are not in this container): `decode_image`
raises NotImplementedError unless a deterministic fake is requested.

At scale: payloads stay columnar in parquet, `mapInPandas` streams
Arrow batches (no per-row pickling), and feature extraction is a
narrow transformation — no shuffle until a downstream aggregate.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_SCHEMA = "doc_id bigint, byte_len bigint, n_spaces bigint, head_md5 string"
DECODE_SCHEMA = "doc_id bigint, width int, height int, n_channels int, mean_px double"


def to_binary_table(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Model a multimodal table: (id, payload BINARY, meta STRUCT).
    Here the payload is the utf-8 text bytes standing in for an
    image/audio blob."""
    return docs.select(
        F.col(id_col),
        F.encode(F.col(text_col), "UTF-8").alias("payload"),
        F.struct(
            F.col("n_chars").cast("bigint").alias("n_bytes_meta"),
            F.col("lang").alias("lang"),
        ).alias("meta"),
    )


def extract_features(binary_df: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over the binary payload."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "byte_len": [len(b) for b in payloads],
                    "n_spaces": [bytes(b).count(b" ") for b in payloads],
                    "head_md5": [hashlib.md5(bytes(b)[:16]).hexdigest() for b in payloads],
                }
            )

    return binary_df.mapInPandas(fn, FEATURE_SCHEMA)


FRAME_SCHEMA = "doc_id bigint, frame_idx int, frame_bytes bigint, frame_md5 string"


def frame_sample(binary_df: DataFrame, frame_size: int = 64, every_k: int = 4) -> DataFrame:
    """Frame-sampling stub for video-shaped payloads: treat the payload
    as consecutive `frame_size`-byte frames, keep every k-th, emit one
    row per sampled frame (UDTF-shaped: rows out > rows in). The
    Spark-side contract (explode inside mapInPandas, per-frame hashes)
    is the real thing; only the codec is fake."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "frame_idx": [], "frame_bytes": [], "frame_md5": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(payload)
                n_frames = max(1, (len(b) + frame_size - 1) // frame_size)
                for i in range(0, n_frames, every_k):
                    chunk = b[i * frame_size : (i + 1) * frame_size]
                    out["doc_id"].append(doc_id)
                    out["frame_idx"].append(i)
                    out["frame_bytes"].append(len(chunk))
                    out["frame_md5"].append(hashlib.md5(chunk).hexdigest())
            yield pd.DataFrame(out)

    return binary_df.mapInPandas(fn, FRAME_SCHEMA)


# ----------------------------------------------- perceptual-hash near-dup
# aHash/blockhash-style image signature over the deterministic decode
# stub (the dedup x multimodal intersection, round 11): a real aHash
# resizes the decoded image to a fixed pixel grid and thresholds each
# cell; the stub's "resize" divides the payload into AHASH_BITS
# equal byte-chunks (the fixed grid) and its "pixel" is an md5-derived
# stat of the chunk (the same md5-stub discipline as decode_image's
# mean_px) thresholded at mid-range. Locality is real: payloads
# sharing most chunks share most bits, so banded Hamming join finds
# near-identical payloads — only the pixel decode is fake.
#
# 56 bits = 7 bands x 8 bits: DuckDB's << overflows at bit 63, so the
# signature stays strictly positive on both engines (no sign-extension
# corner anywhere); 7 bands give the exact pigeonhole guarantee for
# max_hamming = 6 (d <= 6 differing bits across 7 bands leave one band
# identical — candidates are a guaranteed superset, filtered exactly,
# same contract as dedup.simhash_pairs).
AHASH_BITS = 56
AHASH_BAND_W = 8  # bits per band; n_bands = AHASH_BITS / 8 = 7

_MD5_INT_SPARK = "CAST(conv(substring(md5({x}), 1, 15), 16, 10) AS BIGINT)"


def ahash56_expr(text_col: str = "text") -> str:
    """Spark SQL expression for the 56-bit chunk-hash signature of a
    text payload (pure function of the bytes — no UDF, stays in
    whole-stage codegen). Chunk width w = ceil(len/56) re-normalizes
    any payload onto the fixed 56-cell grid (the resize analog);
    chunks past the end hash the empty string — a constant cell shared
    by both engines."""
    w = f"greatest(1, CAST(ceil(char_length({text_col}) / {AHASH_BITS}.0) AS INT))"
    chunk = f"substring({text_col}, b * {w} + 1, {w})"
    bit = _MD5_INT_SPARK.format(x=chunk)
    return (
        f"aggregate(sequence(0, {AHASH_BITS - 1}), CAST(0 AS BIGINT), "
        f"(acc, b) -> acc + IF(pmod({bit}, 256) >= 128, "
        f"shiftleft(CAST(1 AS BIGINT), b), CAST(0 AS BIGINT)))"
    )


def ahash56_duck(text_col: str = "text") -> str:
    """DuckDB twin of ahash56_expr (bit-identical: 60-bit md5 prefix
    is positive on both engines, so % == pmod; list_sum promotes to
    HUGEINT and casts back exactly — every addend is a distinct power
    of two below 2^56)."""
    w = f"greatest(1, CAST(ceil(length({text_col}) / {AHASH_BITS}.0) AS INT))"
    chunk = f"substr({text_col}, b * {w} + 1, {w})"
    return (
        f"CAST(list_sum(list_transform(range(0, {AHASH_BITS}), b -> "
        f"CASE WHEN CAST('0x' || substr(md5({chunk}), 1, 15) AS BIGINT) "
        f"% 256 >= 128 THEN (CAST(1 AS BIGINT) << b) "
        f"ELSE CAST(0 AS BIGINT) END)) AS BIGINT)"
    )


def phash_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 6,
    brute: bool = False,
    band_w: int = AHASH_BAND_W,
) -> DataFrame:
    """Near-dup payload pairs with hamming(ahash_a, ahash_b) <=
    max_hamming — the image near-dup shape (pHash + banded Hamming
    join), over the deterministic signature above.

    Banded like dedup.simhash_pairs: ceil(56/band_w) bands of band_w
    bits, equi-join on (band, key), hamming filter before the
    distinct so only survivors shuffle. `brute=True` runs the O(n²)
    self-join instead — the banded==brute golden's reference path,
    never the default.

    Scale contract: the signature is map-side (one codegen'd
    expression, no explode per chunk); the join is an equi-key
    shuffle. Band width is the selectivity knob IN CODE, not prose:
    banded candidates grow ~n_bands·N²/2^band_w, so the default
    8-bit keys (256 buckets/band, guarantee h<=6) are fine to ~1e6
    payloads, and past that pass a wider band — e.g. band_w=14
    (4 bands, 16,384 buckets/band) trades the guarantee down to
    h<=3 for ~64x fewer candidates per bucket-pair. Any
    (band_w, max_hamming) with max_hamming < n_bands keeps the exact
    pigeonhole superset (golden-pinned at both configurations); the
    result depends only on max_hamming, never on band_w."""
    n_bands = -(-AHASH_BITS // band_w)  # ceil; last band may be narrower
    # ValueError, not assert: the exactness contract (pigeonhole
    # superset) must hold under `python -O` too — a stripped assert
    # would silently return an incomplete pair set (ADVICE r11)
    if max_hamming >= n_bands:
        raise ValueError(
            f"pigeonhole needs max_hamming < n_bands: "
            f"max_hamming={max_hamming}, band_w={band_w} -> n_bands={n_bands}"
        )
    # cache the signature table: both sides of the self-join read it,
    # and without the cache the plan computes the 56-md5-per-row
    # signature expression TWICE (once per side) — the single most
    # expensive scan in the sweep (guide §2.4: share the subtree, not
    # recompute it). Same discipline as simhash_pairs' sh.cache().
    # (id, phash) is 16 bytes/row however large the payloads.
    ph = docs.select(
        F.col(id_col), F.expr(ahash56_expr(text_col)).alias("phash")
    ).cache()
    if brute:
        a = ph.select(F.col(id_col).alias("id_a"), F.col("phash").alias("ha"))
        b = ph.select(F.col(id_col).alias("id_b"), F.col("phash").alias("hb"))
        pairs = a.crossJoin(b)
    else:
        band_structs = [
            F.struct(
                F.lit(j).alias("band"),
                (
                    F.shiftright(F.col("phash"), j * band_w)
                    .bitwiseAND(F.lit((1 << band_w) - 1))
                ).alias("key"),
            )
            for j in range(n_bands)
        ]
        banded = ph.select(
            F.col(id_col),
            "phash",
            F.explode(F.array(*band_structs)).alias("bk"),
        ).select(
            F.col(id_col),
            "phash",
            F.col("bk.band").alias("band"),
            F.col("bk.key").alias("key"),
        )
        a = banded.select(
            F.col(id_col).alias("id_a"), F.col("phash").alias("ha"), "band", "key"
        )
        b = banded.select(
            F.col(id_col).alias("id_b"), F.col("phash").alias("hb"), "band", "key"
        )
        pairs = a.join(b, ["band", "key"])
    return (
        pairs.filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "hamming",
            F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))).cast("int"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .distinct()
    )


def decode_image(binary_df: DataFrame, fake: bool = False) -> DataFrame:
    """Decode stub: real decode needs PIL/libjpeg (NOT in this
    container). With fake=True, emits deterministic pseudo-image stats
    derived from the bytes so the downstream plumbing is testable."""
    try:
        import PIL.Image  # noqa: F401

        have_pil = True
    except ImportError:
        have_pil = False

    if not have_pil and not fake:
        raise NotImplementedError(
            "image decode requires PIL/libjpeg which is not installed; "
            "pass fake=True for deterministic pseudo-decode"
        )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [bytes(b) for b in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    # fake "header": dims from byte length, pseudo mean
                    # from the payload md5 — every stat is a pure
                    # function of the bytes, so the pipeline is
                    # cross-engine checkable (DuckDB md5(VARCHAR)
                    # hashes the same UTF-8 bytes)
                    "width": [max(1, len(b) % 640) for b in payloads],
                    "height": [max(1, (len(b) * 7) % 480) for b in payloads],
                    "n_channels": [3] * len(payloads),
                    "mean_px": [
                        (int(hashlib.md5(b).hexdigest()[:12], 16) % 25600) / 100.0
                        for b in payloads
                    ],
                }
            )

    return binary_df.mapInPandas(fn, DECODE_SCHEMA)
