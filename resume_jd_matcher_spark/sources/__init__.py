from resume_jd_matcher_spark.sources.io import (
    load_table,
    scan_text_files,
    scan_binary_files,
    format_dispatch,
    concat_pages,
    write_parquet,
)

__all__ = [
    "load_table",
    "scan_text_files",
    "scan_binary_files",
    "format_dispatch",
    "concat_pages",
    "write_parquet",
]
