"""resume_jd_matcher_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first re-expression of the capabilities of the
reference repo ``ShekharK23/resume_jd_matcher`` (a Flask + LangChain +
FAISS resume/job-description matcher): document ingestion, regex
sectioning, batch embedding, vector top-k similarity search, score
normalization, ranking/shortlisting, LLM prompt-templated scoring with
structured-output parsing — plus the large-scale LLM-data-pipeline
operators its domain implies (dedup, similarity join, text analysis,
multimodal columns).

Design principles (SURVEY.md §4, §7):
- DataFrame/SQL first; Catalyst + Tungsten pick the physical strategy.
- Pandas UDFs only where built-ins genuinely can't express semantics
  (span-based section chunking, pluggable model inference, binary decode).
- No driver-side collect on data paths; everything is a
  ``DataFrame -> DataFrame`` function designed to survive 100 TB.
"""

from pyspark.core.files import SparkFiles

__version__ = "0.1.0"

# Unpickling any engine UDF imports this package inside a Python worker:
# make that worker's per-task import-cache invalidation cheap from then on.
if SparkFiles._is_running_on_worker:
    from resume_jd_matcher_spark.functions import worker

    worker.install()
