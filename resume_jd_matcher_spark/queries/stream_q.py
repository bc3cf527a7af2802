"""Multimodal queries (SURVEY.md §2.H U6): decode, fingerprint and
dispatch the binary payload attached to each document.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from resume_jd_matcher_spark.operators.multimodal import attach_media, decode_features
from resume_jd_matcher_spark.queries import register
from resume_jd_matcher_spark.sources.io import load_table


@register(
    "multimodal_features",
    """
SELECT doc_id,
       CASE WHEN doc_id % 3 = 0 THEN 'image'
            WHEN doc_id % 3 = 1 THEN 'audio'
            ELSE 'video' END AS modality,
       octet_length(encode(text))::BIGINT AS byte_len,
       ascii(substr(text, 1, 1))::INT AS first_byte,
       (16 + octet_length(encode(text)) % 64)::INT AS width,
       (16 + (octet_length(encode(text)) * 7) % 64)::INT AS height,
       (1 + ascii(substr(text, 1, 1)) % 8)::INT AS n_frames
FROM documents
""",
)
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U6: binary media column + typed metadata → mapInPandas decode /
    feature-extract (bytestats codec; real codecs are an import-gated
    plug). The oracle recomputes the byte-level features in SQL."""
    d = load_table(spark, sf_dir, "documents")
    return decode_features(attach_media(d), codec="bytestats")


@register(
    "multimodal_frames",
    """
SELECT doc_id,
       (f - 1)::INT AS frame_idx,
       ((f - 1) * 64)::BIGINT AS byte_offset
FROM documents,
     LATERAL (SELECT unnest(generate_series(1,
        greatest(octet_length(encode(text)) // 64, 1))) AS f) frames
""",
)
def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U6: frame-sampling plumbing — one row per sampled chunk of each
    media blob, lineage preserved."""
    from resume_jd_matcher_spark.operators.multimodal import sample_frames

    d = load_table(spark, sf_dir, "documents")
    return sample_frames(attach_media(d), every=64)


@register(
    "media_binary_neardup",
    """
WITH m AS (
  SELECT doc_id, hex(encode(text)) AS hx
  FROM documents WHERE doc_id < 300
), g AS (
  SELECT doc_id, substr(hx, i * 2 + 1, 8) AS tok
  FROM m, unnest(generate_series(0, (length(hx) - 8) // 2)) AS t(i)
  WHERE length(hx) >= 8
), h AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS hv FROM g
), b AS (
  SELECT doc_id, bit,
         sum(CASE WHEN (hv >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS bitsum
  FROM h, (SELECT unnest(generate_series(0, 15)) AS bit) bits
  GROUP BY doc_id, bit
), sh AS (
  SELECT doc_id,
         sum(CASE WHEN bitsum > 0 THEN (1::BIGINT << bit) ELSE 0 END)::BIGINT
           AS simhash
  FROM b GROUP BY doc_id
)
SELECT a.doc_id AS left_id, b.doc_id AS right_id,
       bit_count(xor(a.simhash, b.simhash))::INT AS hamming
FROM sh a, sh b
WHERE a.doc_id < b.doc_id
  AND bit_count(xor(a.simhash, b.simhash)) <= 3
""",
)
def q_media_binary_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U6 [EXT]: decode-free fuzzy near-dup over the BINARY media
    column — SimHash on sliding byte 4-grams of the raw payload (the
    ssdeep/fuzzy-hash role in multimodal ingest, run before any
    decoder). Engine path reuses the text SimHash core (banded
    equi-join candidates, popcount verify); the oracle is the
    all-pairs hamming spec the banded plan must equal exactly
    (operators/multimodal.py:media_simhash_neardup)."""
    from resume_jd_matcher_spark.operators.multimodal import (
        attach_media,
        media_simhash_neardup,
    )

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    media = attach_media(d)
    return media_simhash_neardup(media)


_MAGIC_CASE = """CASE WHEN doc_id % 7 = 0 THEN ''
          WHEN doc_id % 3 = 0 THEN '89504E470D0A1A0A'
          WHEN doc_id % 3 = 1 THEN '52494646'
          ELSE '0000001866747970' END"""

_MODALITY_CASE = """CASE WHEN doc_id % 3 = 0 THEN 'image'
          WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END"""


@register(
    "media_magic_dispatch",
    f"""
WITH m AS (
  SELECT doc_id, {_MODALITY_CASE} AS declared,
         {_MAGIC_CASE} || hex(encode(text)) AS hx
  FROM documents
), det AS (
  SELECT declared,
         CASE WHEN starts_with(hx, '89504E470D0A1A0A') THEN 'png'
              WHEN starts_with(hx, '52494646') THEN 'riff'
              WHEN substr(hx, 9, 8) = '66747970' THEN 'mp4'
              ELSE 'unknown' END AS detected,
         (length(hx) // 2)::BIGINT AS bytes
  FROM m
), g AS (
  SELECT declared, detected, count(*)::BIGINT AS n,
         round(avg(bytes) + 1e-9, 2) AS avg_bytes
  FROM det GROUP BY 1, 2
)
SELECT declared, detected, n, avg_bytes,
       (detected = 'unknown' OR declared <>
          CASE WHEN detected = 'png' THEN 'image'
               WHEN detected = 'riff' THEN 'audio'
               ELSE 'video' END) AS mismatch
FROM g
""",
)
def q_media_magic_dispatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U6/SRC4 [EXT]: container dispatch by MAGIC BYTES over the
    binary media column — detect PNG / RIFF / ISO-BMFF('ftyp') from
    the payload's leading bytes and reconcile against the declared
    modality; every 7th payload ships headerless so the 'unknown'
    quarantine arm is exercised. The binary-column extension of the
    filename dispatcher (sources/io.py format_dispatch)
    (operators/multimodal.py:magic_dispatch)."""
    from resume_jd_matcher_spark.operators.multimodal import (
        attach_media_encoded,
        magic_dispatch,
    )

    d = load_table(spark, sf_dir, "documents")
    return magic_dispatch(attach_media_encoded(d))


@register(
    "media_payload_entropy",
    f"""
WITH m AS (
  SELECT doc_id, {_MODALITY_CASE} AS modality,
         {_MAGIC_CASE} || hex(encode(text)) AS hx
  FROM documents
), b AS (
  SELECT doc_id, modality, substr(hx, (i - 1) * 2 + 1, 2) AS byte
  FROM m, unnest(generate_series(1, length(hx) // 2)) AS t(i)
), c AS (
  SELECT doc_id, modality, byte, count(*)::DOUBLE AS c
  FROM b GROUP BY 1, 2, 3
), h AS (
  SELECT doc_id, modality,
         log2(sum(c)) - sum(c * log2(c)) / sum(c) AS h
  FROM c GROUP BY 1, 2
)
SELECT modality, count(*)::BIGINT AS n_docs,
       round(avg(h) + 1e-9, 4) AS avg_entropy_bits
FROM h GROUP BY 1
""",
)
def q_media_payload_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U6 [EXT]: byte-level Shannon entropy of the binary media
    payloads per modality — the decode-free compressed/encrypted-vs-
    plain screen multimodal ingest runs before routing to decoders
    (plain text ~4-5 bits/byte; real compressed media ~8; an 'image'
    blob at text entropy is a mislabel). Linear in payload bytes, two
    bounded hash aggs, no joins
    (operators/multimodal.py:payload_entropy)."""
    from resume_jd_matcher_spark.operators.multimodal import (
        attach_media_encoded,
        payload_entropy,
    )

    d = load_table(spark, sf_dir, "documents")
    return payload_entropy(attach_media_encoded(d))


@register(
    "media_ihdr_histogram",
    """
WITH img AS (
  SELECT doc_id,
         16 * (1 + doc_id % 40) AS width,
         16 * (1 + doc_id % 30) AS height
  FROM documents
  WHERE doc_id % 3 = 0 AND doc_id % 7 <> 0
)
SELECT 'image' AS modality,
       (width // 128)::INT AS wband,
       (height // 128)::INT AS hband,
       count(*)::BIGINT AS n_docs,
       min(width)::INT AS min_w, max(width)::INT AS max_w,
       min(height)::INT AS min_h, max(height)::INT AS max_h
FROM img GROUP BY 2, 3
""",
)
def q_media_ihdr_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U6 [EXT]: fixed-offset HEADER FIELD extraction from the binary
    media column — parse width/height out of the PNG IHDR chunk
    (4-byte big-endian ints at payload offsets 16/20, decoded with a
    base-16 conv, no UDF) and roll into a banded dimension histogram
    per modality. The decode-free metadata probe that sizes decoder
    batches before any image library loads. The oracle recomputes
    the dimensions from the fixture's doc_id arithmetic — a full
    round-trip check of the big-endian encode+parse
    (operators/multimodal.py: attach_media_with_ihdr,
    ihdr_dimensions, dimension_histogram). Narrow per-row parse,
    one bounded hash agg."""
    from resume_jd_matcher_spark.operators.multimodal import (
        attach_media_with_ihdr,
        dimension_histogram,
        ihdr_dimensions,
    )

    d = load_table(spark, sf_dir, "documents")
    return dimension_histogram(ihdr_dimensions(attach_media_with_ihdr(d)))


@register(
    "media_ext_quarantine",
    f"""
WITH m AS (
  SELECT doc_id,
         {_MODALITY_CASE} AS declared,
         {_MAGIC_CASE} || hex(encode(text)) AS hx
  FROM documents
), r AS (
  SELECT doc_id, hx,
         CASE WHEN doc_id % 11 = 0 THEN 'quarantine'
              WHEN doc_id % 13 = 0 THEN
                CASE declared WHEN 'image' THEN 'wav'
                              WHEN 'audio' THEN 'mp4'
                              ELSE 'png' END
              ELSE CASE declared WHEN 'image' THEN 'png'
                                 WHEN 'audio' THEN 'wav'
                                 ELSE 'mp4' END END AS route,
         CASE WHEN starts_with(hx, '89504E470D0A1A0A') THEN 'png'
              WHEN starts_with(hx, '52494646') THEN 'riff'
              WHEN substr(hx, 9, 8) = '66747970' THEN 'mp4'
              ELSE 'unknown' END AS detected
  FROM m
)
SELECT route, detected, count(*)::BIGINT AS n,
       (route = 'quarantine' OR detected = 'unknown' OR
        detected <> CASE route WHEN 'png' THEN 'png'
                               WHEN 'wav' THEN 'riff'
                               WHEN 'mp4' THEN 'mp4'
                               ELSE 'quarantine' END) AS quarantined
FROM r GROUP BY 1, 2
""",
)
def q_media_ext_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U6/SRC4 [EXT]: extension-vs-magic admission screen — the SRC4
    filename dispatcher (sources/io.format_dispatch, media
    whitelist) routes by extension, the payload's magic bytes name
    the actual container, and disagreement is the quarantine
    verdict. Catches the three planted defect classes: unsupported
    extensions (doc_id%11), renamed files (supported extension,
    wrong container, doc_id%13), and headerless payloads (doc_id%7).
    All per-row narrow projections on one scan + one bounded
    (route × detected) hash agg (operators/multimodal.py:
    attach_media_paths, ext_magic_quarantine)."""
    from resume_jd_matcher_spark.operators.multimodal import (
        attach_media_encoded,
        attach_media_paths,
        ext_magic_quarantine,
    )

    d = load_table(spark, sf_dir, "documents")
    return ext_magic_quarantine(attach_media_paths(attach_media_encoded(d)))


@register(
    "media_wav_census",
    """
WITH a AS (
  SELECT doc_id,
         (1 + doc_id % 2)::INT AS channels,
         (8000 * (1 + doc_id % 5))::INT AS sample_rate_hz,
         (8 * (1 + doc_id % 2))::INT AS bits
  FROM documents
  WHERE doc_id % 3 = 1 AND doc_id % 7 <> 0
)
SELECT channels, sample_rate_hz, bits, TRUE AS rate_consistent,
       count(*)::BIGINT AS n_docs
FROM a GROUP BY 1, 2, 3
""",
)
def q_media_wav_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U6 [EXT]: fixed-offset LITTLE-endian header extraction — parse
    channels / sample_rate / bits / byte_rate out of the WAV 'fmt '
    chunk (LE byte-pair-reversed base-16 conv, no UDF) and roll into
    the audio format census with the PCM byte_rate consistency
    verdict. The little-endian complement of media_ihdr_histogram:
    together they cover both byte orders container metadata uses.
    The oracle recomputes every field from the fixture's doc_id
    arithmetic — a full round-trip of the LE encode+parse
    (operators/multimodal.py: attach_media_with_wav_fmt,
    wav_fmt_fields). Narrow per-row parse, one bounded hash agg."""
    from resume_jd_matcher_spark.operators.multimodal import (
        attach_media_with_wav_fmt,
        wav_fmt_fields,
    )

    d = load_table(spark, sf_dir, "documents")
    f = wav_fmt_fields(attach_media_with_wav_fmt(d))
    return f.groupBy(
        "channels", "sample_rate_hz", "bits", "rate_consistent"
    ).agg(F.count("*").cast("bigint").alias("n_docs"))
