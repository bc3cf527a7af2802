"""Prompt assembly and structured-output parsing (SURVEY.md §2.B
T2/T3/T4) — the reference's LLM I/O contract as native expressions.

Reference sites: prompt assembly ``rag_model.py:67-79`` (sections →
``[name]\\nbody`` blocks + bullet name list + str.format); score parse
``rag_model.py:83-98`` (``SCORES:`` regex → line split on first ':' →
int(), any failure degrading the whole dict to {}); templates
``constants.py:7-114``; section vocabulary ``constants.py:116-124``.
"""

from __future__ import annotations

import string

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# The 7-key section vocabulary (reference constants.py:116-124).
SECTION_PATTERNS: dict[str, str] = {
    "summary": r"(summary|objective|about me)",
    "experience": r"(experience|work history|professional experience)",
    "skills": r"(skills|technologies|technical skills)",
    "projects": r"(projects|portfolio)",
    "education": r"(education|academics)",
    "certifications": r"(certifications|qualifications|achievements|endorsements)",
    "strengths": r"(strengths|capabilities|abilities|merits)",
}

# Structured-scoring prompt (reference constants.py:82-114). The engine
# treats the template as data: T3 is pure string assembly.
SCORE_ALL_SECTIONS_PROMPT = """
You are a strict and concise evaluator.

You will receive:
1. A resume broken into **PRE-DEFINED sections**.
2. A job description (JD).

Your task:
- Evaluate each resume section **exactly as labeled**.
- Use **ONLY these section names** (do NOT rename or invent new ones):
{section_names_list}

- Assign a score from 0 (poor match) to 10 (perfect match) for each section's relevance to the JD.
- Output in this format ONLY:

SCORES:
<Section Name>: <score>
<Section Name>: <score>
...

DO NOT:
- Generate new sections
- Modify section names
- Provide explanation or commentary

Now evaluate:

RESUME SECTIONS:
{sections_text}

JOB DESCRIPTION:
\"\"\"{jd_text}\"\"\"
"""

# The template split once at its placeholders, exactly as str.format
# parses it: [(literal, field or None), ...]. Assembly concatenates the
# pieces, so a placeholder inside user text is never expanded again.
PROMPT_PARTS: list[tuple[str, str | None]] = [
    (literal, field)
    for literal, field, _, _ in string.Formatter().parse(SCORE_ALL_SECTIONS_PROMPT)
]


def canonical_section(raw: Column | str) -> Column:
    """T2: raw header → canonical section key via full-match against the
    vocabulary (reference rag_model.py:31-35); unknown → NULL."""
    c = F.col(raw) if isinstance(raw, str) else raw
    out = F.lit(None).cast("string")
    for key, pattern in reversed(SECTION_PATTERNS.items()):
        out = F.when(
            F.lower(F.trim(c)).rlike(f"^(?:{pattern})$"), F.lit(key)
        ).otherwise(out)
    return out


def assemble_prompt(
    sections: DataFrame,
    jd_text: str,
    id_col: str = "doc_id",
    section_col: str = "section",
    body_col: str = "body",
) -> DataFrame:
    """T3: per document, join sections as ``[name]\\nbody`` blocks
    separated by blank lines, plus the ``- name`` bullet list, formatted
    into SCORE_ALL_SECTIONS_PROMPT with ``str.format`` semantics
    (reference rag_model.py:67-79).

    Section order: ascending by name (deterministic under shuffle; the
    reference used dict insertion order, which is not reproducible in a
    distributed agg).

    Output: (id, prompt).
    """
    per_doc = (
        sections.groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col(section_col), F.col(body_col)))
            ).alias("secs")
        )
        .select(
            id_col,
            F.concat_ws(
                "\n\n",
                F.transform(
                    F.col("secs"),
                    lambda s: F.format_string("[%s]\n%s", s[section_col], s[body_col]),
                ),
            ).alias("sections_text"),
            F.concat_ws(
                "\n",
                F.transform(
                    F.col("secs"), lambda s: F.concat(F.lit("- "), s[section_col])
                ),
            ).alias("section_names_list"),
        )
    )
    fields = {
        "section_names_list": F.col("section_names_list"),
        "sections_text": F.col("sections_text"),
        "jd_text": F.lit(jd_text),
    }
    pieces = []
    for literal, field in PROMPT_PARTS:
        pieces.append(F.lit(literal))
        if field is not None:
            pieces.append(fields[field])
    return per_doc.select(F.col(id_col), F.concat(*pieces).alias("prompt"))


# Every line boundary str.splitlines honours (the reference splits the
# SCORES body with it), as a Java regex.
_LINE_BREAKS = r"\r\n|[\n\r\x0b\x0c\x1c\x1d\x1e\x85\u2028\u2029]"

# Every character str.isspace accepts, i.e. what the reference's
# str.strip() removes; F.trim alone strips only U+0020.
_WHITESPACE = (
    "\t\n\x0b\x0c\r\x1c\x1d\x1e\x1f \x85\xa0\u1680"
    "\u2000\u2001\u2002\u2003\u2004\u2005\u2006\u2007\u2008\u2009\u200a"
    "\u2028\u2029\u202f\u205f\u3000"
)


def _strip(c: Column) -> Column:
    """``str.strip()``: drop leading and trailing whitespace."""
    return F.btrim(c, F.lit(_WHITESPACE))


def parse_scores(
    responses: DataFrame, id_col: str = "doc_id", resp_col: str = "response"
) -> DataFrame:
    """T4: parse the ``SCORES:\\n<name>: <int>`` contract
    (reference rag_model.py:83-98) with its exact degradation
    semantics: no ``SCORES:`` header → no rows for the document;
    lines without ':' skipped; ANY non-integer score on a ':' line
    voids the WHOLE document (the reference's dict comprehension
    throws and is caught, yielding {}).

    Duplicate section lines keep the LAST occurrence (dict-comprehension
    semantics in the reference).

    Each response is parsed inside its own row with array functions and
    only then exploded: the input is read once, with no aggregate or
    join, so an upstream LLM call runs once per document and a
    document's validity and scores come from the same response.

    Output: (id, section, score INT) for valid documents only.
    """
    body = F.regexp_extract(F.col(resp_col), r"(?s)SCORES:\s*(.*)", 1)
    lines = F.filter(
        F.split(_strip(body), _LINE_BREAKS), lambda line: line.contains(":")
    )
    parsed = responses.select(
        F.col(id_col),
        F.transform(
            lines,
            lambda line: F.struct(
                _strip(F.element_at(F.split(line, ":", 2), 1)).alias("section"),
                _strip(F.element_at(F.split(line, ":", 2), 2))
                .try_cast("int")
                .alias("score"),
            ),
        ).alias("parsed"),
    )
    # keep-last per section = no later entry names the same section
    kept = F.filter(
        "parsed",
        lambda e, i: ~F.exists(
            F.slice("parsed", i + 2, F.size("parsed")),
            lambda later: later["section"] == e["section"],
        ),
    )
    return (
        parsed.filter(F.forall("parsed", lambda e: e["score"].isNotNull()))
        .select(F.col(id_col), F.explode(kept).alias("e"))
        .select(id_col, "e.section", "e.score")
    )


def mean_score(
    scores: DataFrame, id_col: str = "doc_id", score_col: str = "score"
) -> DataFrame:
    """A1: final score = round(mean(section scores), 2) (reference
    app.py:94), rounding half-even like Python's ``round``: eight
    lines summing to 57 give 7.12 (half-up would give 7.13). Empty
    group → no row (the reference raised ValueError; at scale absence
    is the signal).

    Output: (id, final_score DOUBLE)."""
    return scores.groupBy(id_col).agg(
        F.bround(F.avg(score_col), 2).alias("final_score")
    )
