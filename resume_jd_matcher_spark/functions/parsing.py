"""Prompt assembly and structured-output parsing (SURVEY.md §2.B
T2/T3/T4) — the reference's LLM I/O contract. Prompts and means are
native expressions with Python twins (``prompt_one``, ``mean_one``) for
the scoring pass (``operators.score_pass``); responses are parsed by
one Python function, ``parse_one``, on either route.

Reference sites: prompt assembly ``rag_model.py:67-79`` (sections →
``[name]\\nbody`` blocks + bullet name list + str.format); score parse
``rag_model.py:83-98`` (``SCORES:`` regex → line split on first ':' →
int(), any failure degrading the whole dict to {}); templates
``constants.py:7-114``; section vocabulary ``constants.py:116-124``.
"""

from __future__ import annotations

import re
import string
from decimal import ROUND_HALF_EVEN, Decimal

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from resume_jd_matcher_spark.operators import score_pass

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

    Given exactly a ``chunk_by_section`` frame, uncached and with these
    column names, it joins that frame's scoring pass
    (``operators.score_pass``) and builds each prompt with
    ``prompt_one``.

    Output: (id, prompt).
    """
    fused = score_pass.extend(
        sections,
        (id_col, section_col, body_col),
        score_pass.Step(
            "prompts",
            (T.StructField("prompt", T.StringType()),),
            lambda docs: [prompt_one(secs, jd_text) for secs in docs],
            lambda prompt: [(prompt,)],
        ),
    )
    if fused is not None:
        return fused
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


def prompt_one(sections: list[tuple[str, str]], jd_text: str) -> str:
    """One document's prompt from its (section, body) pairs: the Python
    twin of ``assemble_prompt``'s Spark route, blocks ascending by
    (section, body)."""
    ordered = sorted(sections)
    fields = {
        "section_names_list": "\n".join(f"- {name}" for name, _ in ordered),
        "sections_text": "\n\n".join(f"[{name}]\n{body}" for name, body in ordered),
        "jd_text": jd_text,
    }
    return "".join(
        literal + (fields[field] if field is not None else "")
        for literal, field in PROMPT_PARTS
    )


_SCORES_BODY = re.compile(r"SCORES:\s*(.*)", re.DOTALL)
# A score: ASCII digits with an optional sign. The bytes around it that
# Spark's string-to-int cast also trimmed (ASCII controls) still pass.
_SCORE = re.compile(r"[\x00-\x20\x7f]*([+-]?[0-9]+)[\x00-\x20\x7f]*")
_INT_MIN, _INT_MAX = -(2**31), 2**31 - 1


def parse_one(response: str | None) -> list[tuple[str, int]]:
    """T4 for one response: its (section, score) pairs, keep-last per
    section, or [] when it has no ``SCORES:`` header or any ':' line
    carries no integer within int32 (reference rag_model.py:83-98)."""
    m = _SCORES_BODY.search(response) if response is not None else None
    if m is None:
        return []
    scores: dict[str, int] = {}
    for line in m.group(1).strip().splitlines():
        if ":" not in line:
            continue
        section, raw = line.split(":", 1)
        score = _SCORE.fullmatch(raw.strip())
        value = int(score[1]) if score else None
        if value is None or not _INT_MIN <= value <= _INT_MAX:
            return []
        scores[section.strip()] = value
    return list(scores.items())


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

    Each response is parsed by ``parse_one`` inside one ``mapInArrow``:
    the input is read once, with no aggregate or join, so an upstream
    LLM call runs once per document and a document's validity and
    scores come from the same response. Given exactly an
    ``llm_transform`` frame of a scoring pass (``operators.score_pass``),
    uncached and with these column names, it joins that pass instead.

    Output: (id, section, score INT) for valid documents only.
    """
    out_fields = (
        T.StructField("section", T.StringType()),
        T.StructField("score", T.IntegerType()),
    )
    fused = score_pass.extend(
        responses,
        (id_col, resp_col),
        score_pass.Step(
            "scores", out_fields, lambda docs: [parse_one(r) for r in docs], lambda pairs: pairs
        ),
    )
    if fused is not None:
        return fused
    import pyarrow as pa

    schema = T.StructType([responses.schema[id_col], *out_fields])

    def gen(batches):
        for batch in batches:
            out_i, out_s, out_v = [], [], []
            for the_id, resp in zip(batch.column(0).to_pylist(), batch.column(1).to_pylist()):
                for section, score in parse_one(resp):
                    out_i.append(the_id)
                    out_s.append(section)
                    out_v.append(score)
            if out_i:
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(out_i, batch.column(0).type),
                        pa.array(out_s, pa.string()),
                        pa.array(out_v, pa.int32()),
                    ],
                    names=[id_col, "section", "score"],
                )

    return responses.select(id_col, resp_col).mapInArrow(gen, schema)


def mean_one(total: int, n: int) -> float:
    """The Python twin of ``mean_score``'s ``bround(avg, 2)`` for n
    scores summing to ``total``. Spark rounds half-even on the decimal
    digits ``Double.toString`` prints, not on the double's exact value:
    107/40 prints 2.675 and gives 2.68 where Python's ``round`` gives
    2.67. ``repr`` prints the same digits on the grid pinned in
    ``tests/test_score_pass.py``. ``+ 0.0`` turns -0.0 into 0.0, as
    Java's BigDecimal has no negative zero."""
    cents = Decimal(repr(total / n)).quantize(Decimal("0.01"), ROUND_HALF_EVEN)
    return float(cents) + 0.0


def mean_score(
    scores: DataFrame, id_col: str = "doc_id", score_col: str = "score"
) -> DataFrame:
    """A1: final score = round(mean(section scores), 2) (reference
    app.py:94), rounding half-even: eight lines summing to 57 give
    7.12 like Python's ``round`` (half-up would give 7.13). Empty
    group → no row (the reference raised ValueError; at scale absence
    is the signal).

    Given exactly a ``parse_scores`` frame of a scoring pass
    (``operators.score_pass``), uncached and with these column names,
    it joins that pass and computes each mean with ``mean_one``.

    Output: (id, final_score DOUBLE)."""
    fused = score_pass.extend(
        scores,
        (id_col, "section", score_col),
        score_pass.Step(
            "final",
            (T.StructField("final_score", T.DoubleType()),),
            lambda docs: [
                mean_one(sum(v for _, v in pairs), len(pairs)) if pairs else None
                for pairs in docs
            ],
            lambda final: [] if final is None else [(final,)],
        ),
    )
    if fused is not None:
        return fused
    return scores.groupBy(id_col).agg(
        F.bround(F.avg(score_col), 2).alias("final_score")
    )
