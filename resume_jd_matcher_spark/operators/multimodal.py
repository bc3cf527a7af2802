"""Multimodal columns (SURVEY.md §2.H U6; north-star multimodal ops).

Media (image/audio/video) live as opaque BINARY columns beside typed
metadata in the same table — the engine treats decode / feature
extraction / resize / frame-sampling as ``mapInPandas`` stages over
Arrow-batched bytes. The Spark-side plumbing (schema, batch shape,
partitioning) is real and tested; the codec itself is pluggable:

- ``bytestats``: dependency-free deterministic decoder (byte-level
  features) — used by tests and the oracle-checked query.
- ``pillow`` / ``soundfile`` etc.: real decoders, import-gated because
  the media libraries are not in this environment. Calling them here
  raises NotImplementedError by design (STUB, clearly marked).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("modality", T.StringType()),
        T.StructField("byte_len", T.LongType()),
        T.StructField("first_byte", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
    ]
)


def attach_media(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Build a multimodal table from the documents fixture: the text
    bytes stand in for an encoded media payload, with typed metadata.
    (Real ingestion: ``spark.read.format('binaryFile')`` →
    sources/io.py scan_binary_files.)"""
    modality = (
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
    )
    return df.select(
        "doc_id",
        F.encode(F.col(text_col), "utf-8").alias("media"),
        F.struct(
            modality.alias("modality"),
            F.lit("raw").alias("codec"),
            F.col("source").alias("source"),
        ).alias("meta"),
    )


def _decode_bytestats(pdf: pd.DataFrame) -> pd.DataFrame:
    blobs = pdf["media"]
    byte_len = blobs.map(len)
    first = blobs.map(lambda b: b[0] if len(b) else 0)
    return pd.DataFrame(
        {
            "doc_id": pdf["doc_id"],
            "modality": pdf["modality"],
            "byte_len": byte_len.astype("int64"),
            "first_byte": first.astype("int32"),
            "width": (16 + byte_len % 64).astype("int32"),
            "height": (16 + (byte_len * 7) % 64).astype("int32"),
            "n_frames": (1 + first % 8).astype("int32"),
        }
    )


def decode_features(df: DataFrame, codec: str = "bytestats") -> DataFrame:
    """Decode/feature-extract stage over BINARY media. Arrow batches of
    raw bytes in, typed feature rows out; one decoder instance per
    worker. Unknown/real codecs are import-gated stubs."""
    if codec != "bytestats":
        raise NotImplementedError(
            f"codec {codec!r} requires media libraries not present in this "
            "environment; the bytestats decoder exercises the identical "
            "Spark plumbing (STUB by design)"
        )

    flat = df.select("doc_id", "media", F.col("meta.modality").alias("modality"))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf):
                yield _decode_bytestats(pdf)

    return flat.mapInPandas(gen, FEATURES_SCHEMA)


def sample_frames(df: DataFrame, every: int = 64) -> DataFrame:
    """Frame-sampling plumbing demo: explode each media blob into
    chunk offsets (one row per sampled "frame"), keeping lineage to
    the source row. Real video codecs plug into the same shape."""
    n = F.floor(F.length("media") / every).cast("int")
    return df.select(
        "doc_id",
        F.posexplode(F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)))).alias(
            "frame_idx", "offset_mult"
        ),
    ).select(
        "doc_id",
        F.col("frame_idx").cast("int").alias("frame_idx"),
        (F.col("offset_mult") * every).cast("long").alias("byte_offset"),
    )


# container magic numbers (public file-format signatures): PNG's
# 8-byte signature, RIFF's 4CC, and ISO-BMFF's 'ftyp' brand at byte
# offset 4 — enough to exercise offset-0 and offset-4 dispatch
MAGIC_HEX = {
    "image": "89504E470D0A1A0A",  # PNG
    "audio": "52494646",  # RIFF (WAV container)
    "video": "0000001866747970",  # MP4 ftyp box header
}


def attach_media_encoded(df: DataFrame, text_col: str = "text") -> DataFrame:
    """attach_media variant whose payloads carry REAL container magic
    bytes: each blob is the modality's magic prefix + the text bytes,
    except every 7th doc which ships headerless (a truncated/corrupt
    upload) so the dispatcher's 'unknown' arm is non-vacuous."""
    modality = (
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
    )
    magic = (
        F.when(F.col("doc_id") % 7 == 0, F.unhex(F.lit("")))
        .when(F.col("doc_id") % 3 == 0, F.unhex(F.lit(MAGIC_HEX["image"])))
        .when(F.col("doc_id") % 3 == 1, F.unhex(F.lit(MAGIC_HEX["audio"])))
        .otherwise(F.unhex(F.lit(MAGIC_HEX["video"])))
    )
    return df.select(
        "doc_id",
        F.concat(magic, F.encode(F.col(text_col), "utf-8")).alias("media"),
        F.struct(
            modality.alias("modality"),
            F.lit("raw").alias("codec"),
            F.col("source").alias("source"),
        ).alias("meta"),
    )


def magic_dispatch(media_df: DataFrame) -> DataFrame:
    """U6/SRC4: container dispatch by MAGIC BYTES, not by declared
    metadata — the binary-column extension of the filename-extension
    dispatcher (sources/io.py format_dispatch): detect the container
    from the payload's leading bytes (PNG signature, RIFF 4CC, the
    ISO-BMFF 'ftyp' brand at offset 4) and reconcile against the
    declared modality. A declared/detected mismatch is the corrupt /
    mislabeled-upload signal ingest quarantines on.

    Pure narrow projection (one hex + prefix compares per row) — at
    100 TB this pushes down to the scan with zero shuffles before the
    tiny (|declared| x |detected|)-bounded rollup.
    Output: (declared, detected, n, avg_bytes, mismatch)."""
    hx = F.hex(F.col("media"))
    detected = (
        F.when(hx.startswith("89504E470D0A1A0A"), "png")
        .when(hx.startswith("52494646"), "riff")
        .when(F.substring(hx, 9, 8) == "66747970", "mp4")
        .otherwise("unknown")
    )
    return (
        media_df.select(
            F.col("meta.modality").alias("declared"),
            detected.alias("detected"),
            (F.length(hx) / 2).cast("bigint").alias("_bytes"),
        )
        .groupBy("declared", "detected")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.round(F.avg("_bytes") + F.lit(1e-9), 2).alias("avg_bytes"),
        )
        .withColumn(
            "mismatch",
            (F.col("detected") == "unknown")
            | (
                F.col("declared")
                != F.when(F.col("detected") == "png", "image")
                .when(F.col("detected") == "riff", "audio")
                .otherwise("video")
            ),
        )
    )


MEDIA_FORMATS = ("png", "wav", "mp4")

_EXT_BY_MODALITY = {"image": "png", "audio": "wav", "video": "mp4"}
# the wrong-extension plant: each modality's file named with the NEXT
# modality's extension (image→.wav, audio→.mp4, video→.png)
_ROTATED_EXT = {"image": "wav", "audio": "mp4", "video": "png"}


def attach_media_paths(df: DataFrame) -> DataFrame:
    """Synthesize upload filenames for the media fixture with two
    planted defect classes: every 11th doc gets an UNSUPPORTED
    extension ('.bin' → the dispatcher's quarantine route) and every
    13th (not 11th) doc gets the WRONG-but-supported extension (the
    next modality's — an extension/content mismatch only the magic
    bytes can catch). Adds ``path`` to ``attach_media_encoded``'s
    (doc_id, media, meta)."""
    modality = F.col("meta.modality")
    right = (
        F.when(modality == "image", _EXT_BY_MODALITY["image"])
        .when(modality == "audio", _EXT_BY_MODALITY["audio"])
        .otherwise(_EXT_BY_MODALITY["video"])
    )
    rotated = (
        F.when(modality == "image", _ROTATED_EXT["image"])
        .when(modality == "audio", _ROTATED_EXT["audio"])
        .otherwise(_ROTATED_EXT["video"])
    )
    ext = (
        F.when(F.col("doc_id") % 11 == 0, F.lit("bin"))
        .when(F.col("doc_id") % 13 == 0, rotated)
        .otherwise(right)
    )
    return df.withColumn(
        "path",
        F.concat(
            F.lit("uploads/doc_"),
            F.col("doc_id").cast("string"),
            F.lit("."),
            ext,
        ),
    )


def ext_magic_quarantine(media_df: DataFrame) -> DataFrame:
    """U6/SRC4 [EXT]: reconcile the filename-extension route (the
    SRC4 dispatcher, sources/io.format_dispatch with the media
    whitelist) against the payload's MAGIC-BYTE container — the
    ingest admission screen that catches (a) unsupported extensions,
    (b) supported extensions on the wrong container (renamed files),
    and (c) headerless/corrupt payloads that no extension can vouch
    for. Everything is a narrow per-row projection on one scan — the
    dispatcher adds route columns, the magic probe is prefix
    compares — followed by one bounded (route × detected) hash agg.

    Output: (route, detected, n, quarantined) — quarantined iff the
    dispatcher routed to quarantine, the magic is unknown, or the
    route's implied container disagrees with the detected one."""
    from resume_jd_matcher_spark.sources.io import format_dispatch

    routed = format_dispatch(media_df, path_col="path", formats=MEDIA_FORMATS)
    hx = F.hex(F.col("media"))
    detected = (
        F.when(hx.startswith(MAGIC_HEX["image"]), "png")
        .when(hx.startswith(MAGIC_HEX["audio"]), "riff")
        .when(F.substring(hx, 9, 8) == "66747970", "mp4")
        .otherwise("unknown")
    )
    return (
        routed.select("route", detected.alias("detected"))
        .groupBy("route", "detected")
        .agg(F.count("*").cast("bigint").alias("n"))
        .withColumn(
            "quarantined",
            (F.col("route") == "quarantine")
            | (F.col("detected") == "unknown")
            | (
                F.col("detected")
                != F.when(F.col("route") == "png", "png")
                .when(F.col("route") == "wav", "riff")
                .when(F.col("route") == "mp4", "mp4")
                .otherwise("quarantine")
            ),
        )
    )


def attach_media_with_ihdr(df: DataFrame, text_col: str = "text") -> DataFrame:
    """``attach_media_encoded`` variant whose IMAGE payloads carry a
    structurally-valid PNG header through the IHDR chunk: 8-byte
    signature, 4-byte chunk length (13), 'IHDR', 4-byte BIG-ENDIAN
    width and height, bit-depth/color-type/compression/filter/
    interlace bytes, and a placeholder CRC — followed by the text
    bytes as the 'pixel data'. Dimensions are deterministic functions
    of doc_id (width = 16·(1 + doc_id mod 40), height =
    16·(1 + doc_id mod 30)), so widths span 16..640 and exercise
    multi-byte big-endian decoding. Audio/video docs keep their flat
    container magic; every 7th doc ships headerless (corrupt-upload
    arm), matching ``attach_media_encoded``'s census."""
    modality = (
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
    )
    width = (16 * (1 + F.col("doc_id") % 40)).cast("int")
    height = (16 * (1 + F.col("doc_id") % 30)).cast("int")
    ihdr_hex = F.concat(
        F.lit(MAGIC_HEX["image"]),  # PNG signature
        F.lit("0000000D"),  # IHDR chunk length = 13
        F.lit("49484452"),  # 'IHDR'
        F.lpad(F.hex(width), 8, "0"),  # width, 4B big-endian
        F.lpad(F.hex(height), 8, "0"),  # height, 4B big-endian
        F.lit("0806000000"),  # depth 8, RGBA, deflate, std, none
        F.lit("00000000"),  # placeholder CRC
    )
    magic = (
        F.when(F.col("doc_id") % 7 == 0, F.unhex(F.lit("")))
        .when(F.col("doc_id") % 3 == 0, F.unhex(ihdr_hex))
        .when(F.col("doc_id") % 3 == 1, F.unhex(F.lit(MAGIC_HEX["audio"])))
        .otherwise(F.unhex(F.lit(MAGIC_HEX["video"])))
    )
    return df.select(
        "doc_id",
        F.concat(magic, F.encode(F.col(text_col), "utf-8")).alias("media"),
        F.struct(
            modality.alias("modality"),
            F.lit("raw").alias("codec"),
            F.col("source").alias("source"),
        ).alias("meta"),
    )


def attach_media_with_wav_fmt(
    df: DataFrame, text_col: str = "text"
) -> DataFrame:
    """``attach_media_encoded`` variant whose AUDIO payloads carry a
    structurally-valid WAV header through the ``fmt `` chunk: RIFF
    4CC, 4-byte LITTLE-endian riff size, 'WAVE', 'fmt ', LE chunk
    size 16, PCM tag 1, then deterministic functions of doc_id —
    channels = 1 + doc_id mod 2 (LE16), sample_rate = 8000 ·
    (1 + doc_id mod 5) (LE32), the derived byte_rate (LE32) and
    block_align (LE16), bits = 8 · (1 + doc_id mod 2) (LE16) —
    followed by the text bytes as 'samples'. The little-endian
    counterpart of ``attach_media_with_ihdr``: together they cover
    both byte orders real container metadata uses. Image/video docs
    keep flat magic; every 7th doc ships headerless."""
    modality = (
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
    )
    channels = (1 + F.col("doc_id") % 2).cast("int")
    rate = (8000 * (1 + F.col("doc_id") % 5)).cast("int")
    bits = (8 * (1 + F.col("doc_id") % 2)).cast("int")
    block_align = (channels * bits / 8).cast("int")
    byte_rate = (rate * block_align).cast("int")

    def le(col, nbytes):
        # hex the int big-endian, pad, then reverse the byte pairs
        be = F.lpad(F.hex(col), nbytes * 2, "0")
        pairs = [F.substring(be, i * 2 + 1, 2) for i in range(nbytes)]
        return F.concat(*reversed(pairs))

    fmt_hex = F.concat(
        F.lit(MAGIC_HEX["audio"]),  # 'RIFF'
        le(F.lit(36), 4),  # riff size (payload-free placeholder)
        F.lit("57415645"),  # 'WAVE'
        F.lit("666D7420"),  # 'fmt '
        le(F.lit(16), 4),  # fmt chunk size
        le(F.lit(1), 2),  # PCM
        le(channels, 2),
        le(rate, 4),
        le(byte_rate, 4),
        le(block_align, 2),
        le(bits, 2),
    )
    magic = (
        F.when(F.col("doc_id") % 7 == 0, F.unhex(F.lit("")))
        .when(F.col("doc_id") % 3 == 0, F.unhex(F.lit(MAGIC_HEX["image"])))
        .when(F.col("doc_id") % 3 == 1, F.unhex(fmt_hex))
        .otherwise(F.unhex(F.lit(MAGIC_HEX["video"])))
    )
    return df.select(
        "doc_id",
        F.concat(magic, F.encode(F.col(text_col), "utf-8")).alias("media"),
        F.struct(
            modality.alias("modality"),
            F.lit("raw").alias("codec"),
            F.col("source").alias("source"),
        ).alias("meta"),
    )


def _le_int(hx, hex_offset: int, nbytes: int):
    """Decode an unsigned little-endian integer from a hex string at
    1-based hex char offset ``hex_offset`` — reverse the byte pairs,
    then one base-16 conv. Pure codegen expression, no UDF."""
    pairs = [
        F.substring(hx, hex_offset + i * 2, 2) for i in range(nbytes)
    ]
    return F.conv(F.concat(*reversed(pairs)), 16, 10).cast("int")


def wav_fmt_fields(media_df: DataFrame) -> DataFrame:
    """U6 [EXT]: fixed-offset LITTLE-endian field extraction from the
    binary column — channels (byte 22), sample_rate (byte 24, 4B),
    byte_rate (byte 28, 4B), block_align (byte 32), bits (byte 34)
    out of a canonical RIFF/WAVE ``fmt `` chunk, plus the PCM
    consistency verdict byte_rate == sample_rate · block_align (the
    ingest screen that catches truncated or doctored headers). A
    payload parses iff it leads with 'RIFF', carries 'WAVE' at byte
    8 and 'fmt ' at byte 12. Narrow per-row projection; non-WAV and
    headerless payloads drop. Output: (doc_id, modality, channels,
    sample_rate_hz, bits, rate_consistent)."""
    hx = F.hex(F.col("media"))
    is_wav = (
        hx.startswith(MAGIC_HEX["audio"])
        & (F.substring(hx, 17, 8) == F.lit("57415645"))
        & (F.substring(hx, 25, 8) == F.lit("666D7420"))
    )
    channels = _le_int(hx, 45, 2)
    rate = _le_int(hx, 49, 4)
    byte_rate = _le_int(hx, 57, 4)
    block_align = _le_int(hx, 65, 2)
    bits = _le_int(hx, 69, 2)
    return (
        media_df.select(
            "doc_id",
            F.col("meta.modality").alias("modality"),
            F.when(is_wav, channels).alias("channels"),
            F.when(is_wav, rate).alias("sample_rate_hz"),
            F.when(is_wav, bits).alias("bits"),
            F.when(
                is_wav, byte_rate == rate * block_align
            ).alias("rate_consistent"),
        )
        .filter(F.col("channels").isNotNull())
    )


def ihdr_dimensions(media_df: DataFrame) -> DataFrame:
    """U6 [EXT]: fixed-offset header FIELD extraction from the binary
    column — the decode-free metadata probe multimodal ingest runs
    before any image library is loaded (pixel dimensions gate
    resize/filter routing and GPU batch shaping). A payload parses
    iff it starts with the PNG signature AND carries 'IHDR' at byte
    offset 12; width/height are then the 4-byte big-endian integers
    at offsets 16 and 20 (hex chars 33-40 / 41-48, decoded with a
    base-16 conv — no UDF).

    Pure narrow projection per row; non-PNG and headerless payloads
    yield NULL dims and are dropped. Output: (doc_id, modality,
    width INT, height INT)."""
    hx = F.hex(F.col("media"))
    is_png = hx.startswith(MAGIC_HEX["image"]) & (
        F.substring(hx, 25, 8) == F.lit("49484452")
    )
    width = F.conv(F.substring(hx, 33, 8), 16, 10).cast("int")
    height = F.conv(F.substring(hx, 41, 8), 16, 10).cast("int")
    return (
        media_df.select(
            "doc_id",
            F.col("meta.modality").alias("modality"),
            F.when(is_png, width).alias("width"),
            F.when(is_png, height).alias("height"),
        )
        .filter(F.col("width").isNotNull())
    )


def dimension_histogram(parsed: DataFrame, band: int = 128) -> DataFrame:
    """Roll the parsed (width, height) grain into a banded dimension
    histogram per modality — the ingest-side census that sizes
    decoder batches and flags absurd dimensions. Bounded output
    (|modality| × bands²); one hash agg."""
    return (
        parsed.groupBy(
            "modality",
            F.floor(F.col("width") / band).cast("int").alias("wband"),
            F.floor(F.col("height") / band).cast("int").alias("hband"),
        )
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.min("width").cast("int").alias("min_w"),
            F.max("width").cast("int").alias("max_w"),
            F.min("height").cast("int").alias("min_h"),
            F.max("height").cast("int").alias("max_h"),
        )
    )


def payload_entropy(media_df: DataFrame) -> DataFrame:
    """U6 [EXT]: byte-level Shannon entropy per modality — the
    decode-free compressed/encrypted-vs-plain screen multimodal
    ingest runs (plain text ~4-5 bits/byte, compressed media ~8;
    an 'image' blob at text entropy is a mislabel). Per doc: hex the
    payload once, explode to one row per BYTE (hex pair), one
    (doc, byte) hash agg, entropy = log2(n) - sum(c*log2(c))/n per
    doc, then the per-modality rollup. Linear in payload bytes, two
    bounded hash aggs, no joins.
    Output: (modality, n_docs, avg_entropy_bits)."""
    from resume_jd_matcher_spark.plans.optimize import ensure_parallelism

    # the per-BYTE explode multiplies rows ~300x; the documents scan
    # is a handful of splits at test sfs, which would pin the explode
    # and the (doc, byte) agg to as many cores (at real scale the scan
    # has hundreds of splits and this is a no-op)
    hexed = ensure_parallelism(
        media_df.select(
            "doc_id",
            F.col("meta.modality").alias("modality"),
            F.hex(F.col("media")).alias("_hx"),
        )
    )
    # sequence(1, 0) counts DOWN in Spark (the shingles_all pitfall):
    # an empty blob would emit two bogus empty-substring byte rows
    # where the oracle's generate_series(1, 0) emits none — guard it
    # (r12 ADVICE).
    byte_grams = F.when(
        F.length("_hx") >= 2,
        F.transform(
            F.sequence(F.lit(1), (F.length("_hx") / 2).cast("int")),
            lambda i: F.col("_hx").substr((i - 1) * 2 + 1, F.lit(2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    bytes_long = hexed.select(
        "doc_id",
        "modality",
        F.explode(byte_grams).alias("_b"),
    )
    counts = bytes_long.groupBy("doc_id", "modality", "_b").agg(
        F.count("*").cast("double").alias("_c")
    )
    per_doc = counts.groupBy("doc_id", "modality").agg(
        (
            F.log2(F.sum("_c"))
            - F.sum(F.col("_c") * F.log2("_c")) / F.sum("_c")
        ).alias("_h")
    )
    return (
        per_doc.groupBy("modality")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.round(F.avg("_h") + F.lit(1e-9), 4).alias("avg_entropy_bits"),
        )
    )


def media_simhash_neardup(
    media_df: DataFrame,
    gram_bytes: int = 4,
    max_hamming: int = 3,
    n_bits: int = 16,
    id_col: str = "doc_id",
    media_col: str = "media",
) -> DataFrame:
    """Byte-level fuzzy near-dup over BINARY media columns — the
    decode-free first-pass dedup multimodal pipelines run (the ssdeep/
    fuzzy-hash role): SimHash over sliding byte 4-grams of the raw
    payload, so re-encoded-but-mostly-identical blobs pair without any
    media library in the loop.

    The blob is hexed once (native, codegen'd) and grams are substring
    slices of the hex string; fingerprinting and the banded candidate
    join reuse the text SimHash core (operators/dedup.py:
    simhash_from_tokens / simhash_pairs) — identical scale shape:
    per-(doc, gram) md5 with count weighting, map-side-combined
    bitsums, (band_id, band_val) equi-join candidates, popcount
    verify. Output: (left_id, right_id, hamming).
    """
    from resume_jd_matcher_spark.operators.dedup import (
        simhash_from_tokens,
        simhash_pairs,
    )
    from resume_jd_matcher_spark.operators import dedup as _dedup

    hexed = media_df.select(
        F.col(id_col), F.hex(F.col(media_col)).alias("hx")
    )
    width = 2 * gram_bytes
    n_grams = (F.length("hx") - width) / 2 + 1  # sliding by one byte
    grams = hexed.select(
        id_col,
        F.explode(
            F.when(
                F.length("hx") >= width,
                F.transform(
                    F.sequence(F.lit(0), n_grams.cast("int") - 1),
                    lambda i: F.col("hx").substr(i * 2 + 1, F.lit(width)),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("tok"),
    )
    sh = simhash_from_tokens(grams, n_bits, id_col).persist()
    _dedup._PERSISTED.append(sh)
    return simhash_pairs(sh, max_hamming, n_bits, id_col)
