"""Metamorphic properties of the T1 chunker (SURVEY.md §5.4),
exercised through the same code path the queries use."""

from __future__ import annotations

import re
from unittest import mock

from hypothesis import given, settings, strategies as st

from resume_jd_matcher_spark.functions.parsing import SECTION_PATTERNS
from resume_jd_matcher_spark.operators import sectioner
from resume_jd_matcher_spark.operators.sectioner import _chunk_one


def chunks(text: str) -> dict[str, str]:
    return dict(_chunk_one(text))


def test_basic_sections():
    out = chunks("Summary:\nI build engines\nSkills:\npython spark")
    assert out == {"summary": "I build engines", "skills": "python spark"}


def test_preamble_dropped():
    out = chunks("John Doe\nsome address\nSummary:\nhello")
    assert out == {"summary": "hello"}


def test_headerless_text_empty():
    assert chunks("no headers anywhere in this text") == {}
    assert chunks("") == {}


def test_duplicate_header_keeps_last():
    out = chunks("Skills:\nfirst\nSKILLS:\nsecond")
    assert out == {"skills": "second"}


def test_synonym_canonicalization():
    out = chunks("Objective:\ngoal\nWork History:\njob\nAcademics:\nschool")
    assert out == {"summary": "goal", "experience": "job", "education": "school"}


def test_synonym_overwrites_canonical_twin():
    # 'objective' and 'summary' canonicalize to the same key → keep last
    out = chunks("Summary:\nfirst\nObjective:\nsecond")
    assert out == {"summary": "second"}


def test_newline_header_form():
    out = chunks("Skills\npython")
    assert out == {"skills": "python"}


def test_unknown_header_folds_into_previous_body():
    # 'Hobbies' is not in the vocabulary → not a boundary; its text
    # stays inside the preceding section's span.
    out = chunks("Skills:\npython\nHobbies:\nchess")
    assert out == {"skills": "python\nHobbies:\nchess"}


def test_permutation_invariance():
    a = "Summary:\nsss\nSkills:\nkkk\nEducation:\neee"
    b = "Education:\neee\nSummary:\nsss\nSkills:\nkkk"
    assert chunks(a) == chunks(b)


def test_bodies_stripped():
    out = chunks("Summary:\n   padded body   \nSkills:\nx")
    assert out["summary"] == "padded body"


def test_multiword_header():
    out = chunks("Professional Experience:\nbuilt things")
    assert out == {"experience": "built things"}


# The header pattern without its first-letter lookahead: the reference
# for ``_HEADER_RE``'s prefilter.
_UNPREFIXED_HEADER_RE = re.compile(
    r"(?P<header>(" + "|".join(SECTION_PATTERNS.values()) + r"))\s*[:\n]",
    re.IGNORECASE,
)

# Vocabulary words, case variants, separators and characters whose case
# folding is special (long s, Kelvin sign, dotted I, sharp s, ff ligature).
_piece = st.one_of(
    st.sampled_from(
        [w for p in SECTION_PATTERNS.values() for w in p.strip("()").split("|")]
    ).map(lambda w: w.upper() if len(w) % 2 else w.title()),
    st.sampled_from(["ſkills", "ſummary", "ſtrengths", "\u212aey", "\u0130", "ß", "\ufb00"]),
    st.sampled_from([":", "\n", " ", "\t", " :\n"]),
    st.text(alphabet="acemopqstwſ\u212a\u0130ß\ufb00 :\nxyz", max_size=12),
)


@settings(max_examples=300, deadline=None)
@given(st.lists(_piece, max_size=30).map("".join))
def test_header_prefilter_matches_unprefixed_pattern(text):
    got = _chunk_one(text)
    with mock.patch.object(sectioner, "_HEADER_RE", _UNPREFIXED_HEADER_RE):
        want = _chunk_one(text)
    assert got == want
