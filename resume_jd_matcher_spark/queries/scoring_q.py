"""The reference's core lifecycle as oracle-checked queries
(SURVEY.md §2.A SRC6, §2.B T1-T5, §2.D A1, §2.H U1-U3, §3.1-3.3).

Synthetic-resume construction: the fixture `documents` table is word
salad with no section headers (verified: zero occurrences of the
header vocabulary), so resume-shaped inputs are BUILT deterministically
from document text slices — identically in Spark and in the oracle SQL
— and the operators under test (span chunker UDF, parser, assembler)
must reproduce the construction's known expected output. Construction:

    intro {source}\\n          ← preamble (dropped by chunker)
    Summary:\\n{s1}\\n          ← s1 = substr(text, 1, 80)
    Work History:\\n{s2}\\n     ← s2 = substr(text, 81, 160); canon → experience
    skills\\n{s3}\\n            ← s3 = substr(text, 241, 80); newline header form
    SKILLS:\\n{s1} extra\\n     ← duplicate header → keep-last wins
    Education:\\n{s2}           ← runs to EOF

Expected sections: summary=trim(s1), experience=trim(s2),
skills=trim(s1||' extra'), education=trim(s2).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from resume_jd_matcher_spark.functions.parsing import (
    PROMPT_PARTS,
    assemble_prompt,
    canonical_section,
    mean_score,
    parse_scores,
)
from resume_jd_matcher_spark.operators.embedding import embed_documents
from resume_jd_matcher_spark.operators.scoring import (
    explain_match,
    llm_transform,
    resume_feedback,
)
from resume_jd_matcher_spark.operators.sectioner import chunk_by_section
from resume_jd_matcher_spark.queries import register
from resume_jd_matcher_spark.sources.io import concat_pages, load_table

JD_TEXT = "spark table data query join sort window group stream batch"

_SQL_BASE = """
  SELECT doc_id, source,
         substr(text, 1, 80) AS s1,
         substr(text, 81, 160) AS s2,
         substr(text, 241, 80) AS s3
  FROM documents
"""

_SQL_SECTIONS = f"""
base AS ({_SQL_BASE}),
sections AS (
  SELECT doc_id, 'summary' AS section, trim(s1) AS body FROM base
  UNION ALL SELECT doc_id, 'experience', trim(s2) FROM base
  UNION ALL SELECT doc_id, 'skills', trim(s1 || ' extra') FROM base
  UNION ALL SELECT doc_id, 'education', trim(s2) FROM base
)
"""


def _synthetic_resumes(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    s1 = F.substring("text", 1, 80)
    s2 = F.substring("text", 81, 160)
    s3 = F.substring("text", 241, 80)
    resume = F.concat(
        F.lit("intro "), F.col("source"), F.lit("\n"),
        F.lit("Summary:\n"), s1, F.lit("\n"),
        F.lit("Work History:\n"), s2, F.lit("\n"),
        F.lit("skills\n"), s3, F.lit("\n"),
        F.lit("SKILLS:\n"), s1, F.lit(" extra\n"),
        F.lit("Education:\n"), s2,
    )
    return d.select("doc_id", resume.alias("resume"))


def _expected_sections(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Construction-known sections (for operators downstream of T1)."""
    d = load_table(spark, sf_dir, "documents")
    s1 = F.substring("text", 1, 80)
    s2 = F.substring("text", 81, 160)
    secs = F.array(
        F.struct(F.lit("summary").alias("section"), F.trim(s1).alias("body")),
        F.struct(F.lit("experience").alias("section"), F.trim(s2).alias("body")),
        F.struct(
            F.lit("skills").alias("section"),
            F.trim(F.concat(s1, F.lit(" extra"))).alias("body"),
        ),
        F.struct(F.lit("education").alias("section"), F.trim(s2).alias("body")),
    )
    return d.select("doc_id", F.explode(secs).alias("sec")).select(
        "doc_id", F.col("sec.section").alias("section"), F.col("sec.body").alias("body")
    )


@register(
    "section_chunk",
    f"""
WITH {_SQL_SECTIONS}
SELECT doc_id, section, body FROM sections
""",
)
def q_section_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1: the span-based chunker UDF over synthetic resumes — covers
    preamble drop, ':' and newline header forms, synonym
    canonicalization (Work History → experience), and keep-last
    duplicate handling (rag_model.py:18-42)."""
    return chunk_by_section(
        _synthetic_resumes(spark, sf_dir), id_col="doc_id", text_col="resume"
    )


_RAW_HEADERS = [
    "Summary", "OBJECTIVE", "about me", "Work History", "experience",
    "professional experience", "skills", "Technical Skills", "TECHNOLOGIES",
    "portfolio", "Projects", "academics", "Education", "qualifications",
    "ACHIEVEMENTS", "endorsements", "certifications", "strengths",
    "capabilities", "abilities", "merits", "hobbies", "references", "",
]

_SQL_CANON_CASE = """
  CASE
    WHEN regexp_full_match(lower(trim(raw_header)), '(summary|objective|about me)') THEN 'summary'
    WHEN regexp_full_match(lower(trim(raw_header)), '(experience|work history|professional experience)') THEN 'experience'
    WHEN regexp_full_match(lower(trim(raw_header)), '(skills|technologies|technical skills)') THEN 'skills'
    WHEN regexp_full_match(lower(trim(raw_header)), '(projects|portfolio)') THEN 'projects'
    WHEN regexp_full_match(lower(trim(raw_header)), '(education|academics)') THEN 'education'
    WHEN regexp_full_match(lower(trim(raw_header)), '(certifications|qualifications|achievements|endorsements)') THEN 'certifications'
    WHEN regexp_full_match(lower(trim(raw_header)), '(strengths|capabilities|abilities|merits)') THEN 'strengths'
    ELSE NULL
  END
"""


@register(
    "header_canon",
    f"""
SELECT raw_header, {_SQL_CANON_CASE} AS canonical
FROM (VALUES {", ".join(f"('{h}')" for h in _RAW_HEADERS)}) t(raw_header)
""",
)
def q_header_canon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2: raw header → canonical section key (vocabulary full-match,
    rag_model.py:31-35; unknowns → NULL)."""
    df = spark.createDataFrame([(h,) for h in _RAW_HEADERS], ["raw_header"])
    return df.select(
        "raw_header", canonical_section(F.col("raw_header")).alias("canonical")
    )


def _sql_quote(s: str) -> str:
    return "$TPL$" + s + "$TPL$"


def _sql_prompt(fields: dict[str, str]) -> str:
    """The template as one ``||`` chain of literal pieces and field
    expressions — the SQL twin of assemble_prompt's single concat."""
    pieces = []
    for literal, field in PROMPT_PARTS:
        pieces.append(_sql_quote(literal))
        if field is not None:
            pieces.append(fields[field])
    return " || ".join(pieces)


@register(
    "prompt_assembly",
    f"""
WITH {_SQL_SECTIONS},
agg AS (
  SELECT doc_id,
         string_agg('[' || section || ']' || chr(10) || body,
                    chr(10) || chr(10) ORDER BY section) AS sections_text,
         string_agg('- ' || section, chr(10) ORDER BY section) AS section_names_list
  FROM sections GROUP BY doc_id
)
SELECT doc_id,
       {_sql_prompt({
           "section_names_list": "section_names_list",
           "sections_text": "sections_text",
           "jd_text": f"'{JD_TEXT}'",
       })} AS prompt
FROM agg
""",
)
def q_prompt_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3: sections → [name]\\nbody blocks + bullet list, formatted into
    the reference's scoring template (rag_model.py:67-79)."""
    return assemble_prompt(_expected_sections(spark, sf_dir), JD_TEXT)


def _canned_response(did: Column) -> Column:
    """Deterministic SCORES: responses with malformed variants:
    doc_id%10==0 → no SCORES: header (whole doc drops);
    doc_id%7==3 → one non-integer score (whole doc drops, matching the
    reference's all-or-nothing dict comprehension);
    every response carries a separator-less junk line (skipped)."""
    ok = F.concat(
        F.lit("SCORES:\n"),
        F.lit("summary: "), (did % 11).cast("string"), F.lit("\n"),
        F.lit("skills: "), ((did * 3) % 11).cast("string"), F.lit("\n"),
        F.when(did % 7 == 3, F.lit("experience: N/A\n")).otherwise(
            F.concat(F.lit("experience: "), ((did * 5) % 11).cast("string"), F.lit("\n"))
        ),
        F.lit("junk line without separator\n"),
        F.lit("education: "), ((did * 7) % 11).cast("string"),
    )
    return F.when(did % 10 == 0, F.lit("the model refused to answer")).otherwise(ok)


_SQL_VALID_DOCS = "SELECT doc_id FROM documents WHERE doc_id % 10 != 0 AND doc_id % 7 != 3"


@register(
    "score_parse",
    f"""
WITH v AS ({_SQL_VALID_DOCS})
SELECT doc_id, 'summary' AS section, (doc_id % 11)::INT AS score FROM v
UNION ALL SELECT doc_id, 'skills', ((doc_id * 3) % 11)::INT FROM v
UNION ALL SELECT doc_id, 'experience', ((doc_id * 5) % 11)::INT FROM v
UNION ALL SELECT doc_id, 'education', ((doc_id * 7) % 11)::INT FROM v
""",
)
def q_score_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4: parse the SCORES: contract from canned responses, including
    the degradation paths (rag_model.py:83-98). The oracle reconstructs
    the expected output from the response-construction formula."""
    d = load_table(spark, sf_dir, "documents")
    responses = d.select("doc_id", _canned_response(F.col("doc_id")).alias("response"))
    return parse_scores(responses)


@register(
    "mean_score",
    f"""
SELECT doc_id,
       round_even(((doc_id % 11) + ((doc_id * 3) % 11) + ((doc_id * 5) % 11)
            + ((doc_id * 7) % 11)) / 4.0, 2) AS final_score
FROM ({_SQL_VALID_DOCS}) v
""",
)
def q_mean_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: final score = round(avg(section scores), 2) (app.py:94),
    half-even like Python's ``round``, chained after the T4 parser."""
    d = load_table(spark, sf_dir, "documents")
    responses = d.select("doc_id", _canned_response(F.col("doc_id")).alias("response"))
    return mean_score(parse_scores(responses))


_JD_TOKS_SQL = "[" + ", ".join(f"'{t}'" for t in sorted(set(JD_TEXT.split()))) + "]"


@register(
    "scoring_e2e",
    f"""
WITH {_SQL_SECTIONS},
scored AS (
  SELECT doc_id,
         least(10, len(list_intersect(
           list_distinct(string_split_regex(trim(lower(body)), '\\s+')),
           {_JD_TOKS_SQL}))) AS score
  FROM sections
)
SELECT doc_id, round_even(avg(score), 2) AS final_score
FROM scored GROUP BY doc_id
""",
)
def q_scoring_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1 end-to-end (the /result lifecycle, SURVEY.md §3.1): chunker
    UDF (T1) → prompt assembly (T3, the real reference template) →
    stub LLM (U1 — reads sections+JD back OUT of the prompt, answers
    in the SCORES: contract) → T4 parse → A1 mean. Every stage is the
    real operator; only the model behind the prompt is the stub."""
    sections = chunk_by_section(
        _synthetic_resumes(spark, sf_dir), id_col="doc_id", text_col="resume"
    )
    prompts = assemble_prompt(sections, JD_TEXT)
    responses = llm_transform(prompts, task="score_prompt")
    return mean_score(parse_scores(responses))


@register(
    "page_concat",
    """
SELECT doc_id,
       substr(text, 1, 100) || chr(10) || substr(text, 101, 100)
         || chr(10) || substr(text, 201) AS text
FROM documents
""",
)
def q_page_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRC6: page re-assembly in page order (app.py:82,155) — pages
    arrive deliberately reversed; the order-preserving aggregate must
    restore page order under shuffle."""
    d = load_table(spark, sf_dir, "documents")
    pages = d.select(
        "doc_id",
        F.posexplode(
            F.array(
                F.expr("substring(text, 201)"),
                F.substring("text", 101, 100),
                F.substring("text", 1, 100),
            )
        ).alias("pos", "page_text"),
    ).select("doc_id", (F.lit(3) - F.col("pos")).alias("page"), "page_text")
    return concat_pages(pages, doc_col="doc_id", page_col="page", text_col="page_text")


@register(
    "embed_documents",
    """
SELECT doc_id, d::INT AS dim,
       round((('0x' || substr(md5(text || '#dim' || d), 1, 8))::BIGINT
              / 4294967296.0) * 2.0 - 1.0, 6) AS v
FROM documents, (SELECT unnest(generate_series(0, 7)) AS d) dims
""",
)
def q_embed_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V1: iterator-pandas_udf corpus embedding (deterministic hash
    backend; the sentence-transformers backend plugs into the same
    seam). Long-form (doc, dim, v) output for oracle comparison."""
    emb = embed_documents(load_table(spark, sf_dir, "documents"), backend="hash", dim=8)
    return emb.select(
        "doc_id", F.posexplode("embedding").alias("dim", "v")
    ).select("doc_id", F.col("dim").cast("int").alias("dim"), "v")


@register("llm_feedback", None)
def q_llm_feedback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2 (rows-only): per-resume feedback bullets vs the JD through the
    batch-inference harness (stub backend; rag_model.py:100-114)."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").alias("resume_text"), F.lit(JD_TEXT).alias("jd_text")
    )
    return resume_feedback(d)


@register("llm_explain", None)
def q_llm_explain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U3 (rows-only): exactly-5-bullet match explanation
    (rag_model_mass.py:50-63), stub backend."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").alias("resume_text"), F.lit(JD_TEXT).alias("jd_text")
    )
    return explain_match(d)
