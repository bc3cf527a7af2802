"""T4 parser degradation semantics + T2 canonicalization + T3/A1
(reference rag_model.py:83-98 contract)."""

from __future__ import annotations

import pytest

from resume_jd_matcher_spark.functions.parsing import (
    SCORE_ALL_SECTIONS_PROMPT,
    assemble_prompt,
    canonical_section,
    mean_score,
    parse_scores,
)


def _parse(spark, rows):
    df = spark.createDataFrame(rows, ["doc_id", "response"])
    out = parse_scores(df)
    return {(r.doc_id, r.section): r.score for r in out.collect()}


def test_happy_path(spark):
    got = _parse(spark, [(1, "SCORES:\nsummary: 7\nskills: 9")])
    assert got == {(1, "summary"): 7, (1, "skills"): 9}


def test_missing_scores_header_drops_doc(spark):
    assert _parse(spark, [(1, "summary: 7\nskills: 9")]) == {}


def test_any_bad_int_voids_whole_doc(spark):
    got = _parse(spark, [(1, "SCORES:\nsummary: 7\nskills: N/A")])
    assert got == {}


def test_junk_lines_without_colon_skipped(spark):
    got = _parse(spark, [(1, "SCORES:\nsummary: 7\nthis line has no separator\nskills: 3")])
    assert got == {(1, "summary"): 7, (1, "skills"): 3}


def test_whitespace_tolerated(spark):
    got = _parse(spark, [(1, "SCORES:\n  summary :  7  ")])
    assert got == {(1, "summary"): 7}


def test_per_doc_isolation(spark):
    got = _parse(
        spark,
        [(1, "SCORES:\nsummary: 7"), (2, "SCORES:\nsummary: bad"), (3, "garbage")],
    )
    assert got == {(1, "summary"): 7}


@pytest.mark.parametrize("sep", ["\r", "\r\n", "\x0c", "\x1e", "\u2028"])
def test_lines_split_like_str_splitlines(spark, sep):
    """Any str.splitlines boundary separates score lines; splitting on
    '\\n' alone read the whole body as one line and voided the doc."""
    got = _parse(spark, [(1, f"SCORES:{sep}Skills: 7{sep}Experience: 8")])
    assert got == {(1, "Skills"): 7, (1, "Experience"): 8}


@pytest.mark.parametrize("pad", ["\t", "\xa0", "\u3000"])
def test_whitespace_stripped_like_str_strip(spark, pad):
    """Section names and scores lose every str.isspace character at
    both ends, so a padded duplicate still overrides the earlier line;
    F.trim stripped only ' ', which split 'Skills' in two or voided
    the document."""
    resp = f"SCORES:\n{pad}Skills{pad}:{pad}7{pad}\nExperience: 8\n{pad}Skills:{pad}3"
    got = _parse(spark, [(1, resp)])
    assert got == {(1, "Skills"): 3, (1, "Experience"): 8}


def test_mean_score_rounding(spark):
    df = spark.createDataFrame(
        [(1, "a", 7), (1, "b", 8), (2, "a", 1)], ["doc_id", "section", "score"]
    )
    out = {r.doc_id: r.final_score for r in mean_score(df).collect()}
    assert out == {1: 7.5, 2: 1.0}


def test_mean_score_rounds_half_even_like_python(spark):
    """Eight section lines, seven 7s and one 8: the mean 7.125 is an
    exact binary tie, and the reference's round(57 / 8, 2) gives 7.12."""
    names = ["Summary", "Experience", "Skills", "Projects", "Education",
             "Certifications", "Strengths"]
    resp = "SCORES:\n" + "".join(f"{n}: 7\n" for n in names) + "Overall: 8"
    df = spark.createDataFrame([(1, resp)], ["doc_id", "response"])
    out = mean_score(parse_scores(df)).collect()
    assert [r.final_score for r in out] == [round(57 / 8, 2)] == [7.12]


def test_canonical_section(spark):
    df = spark.createDataFrame(
        [("Work History",), ("TECHNOLOGIES",), ("about me",), ("hobbies",)], ["raw"]
    )
    got = [r[0] for r in df.select(canonical_section("raw")).collect()]
    assert got == ["experience", "skills", "summary", None]


@pytest.mark.parametrize(
    "body",
    [
        "my notes mention {jd_text} verbatim",
        "see {sections_text} and {section_names_list} here",
    ],
)
def test_assemble_prompt_matches_str_format(spark, body):
    """The prompt equals the reference's ``str.format`` result even when
    user text contains the template's own placeholders: each field is
    filled exactly once, never re-expanded inside another field."""
    jd = "spark engineer {sections_text}"
    sections = [("skills", "python, " + body), ("summary", body)]
    df = spark.createDataFrame(
        [(1, name, text) for name, text in sections],
        ["doc_id", "section", "body"],
    )
    [row] = assemble_prompt(df, jd).collect()
    ordered = sorted(sections)
    want = SCORE_ALL_SECTIONS_PROMPT.format(
        section_names_list="\n".join(f"- {name}" for name, _ in ordered),
        sections_text="\n\n".join(f"[{name}]\n{text}" for name, text in ordered),
        jd_text=jd,
    )
    assert row.prompt == want
