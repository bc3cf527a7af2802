"""Hypothesis fuzz: the T4 parser never crashes and honors the
all-or-nothing contract on arbitrary response text."""

from __future__ import annotations

import re

from hypothesis import given, settings, strategies as st

from resume_jd_matcher_spark.functions import parsing


def _reference_parse(response: str) -> dict[str, int]:
    """Straight re-expression of rag_model.py:83-98 semantics."""
    try:
        m = re.search(r"SCORES:\s*(.*)", response, re.DOTALL)
        score_text = m.group(1).strip()
        return {
            section.strip(): int(score.strip())
            for section, score in [
                line.strip().split(":", 1)
                for line in score_text.splitlines()
                if ":" in line
            ]
        }
    except Exception:
        return {}


# The contract's scope is LLM output: printable ASCII without '_'
# (Python's int() accepts unicode digits and underscores; the engine's
# try_cast intentionally doesn't chase those).
_ascii = st.characters(
    min_codepoint=32, max_codepoint=126, exclude_characters="_"
)

# Padding str.strip() removes but F.trim would not (except " ").
_pad = st.sampled_from([" ", "\t", "\xa0", "\u3000"])

_line = st.one_of(
    st.just("summary: 7"),
    st.just("skills:10"),
    st.just("  experience :  3  "),
    st.just("bad: N/A"),
    st.just("no separator here"),
    st.just(""),
    st.just("summary: 2"),  # duplicate section → keep-last
    st.builds(
        lambda p, a, q, b: f"{p}{a}{q}:{p}{b}{q}",
        _pad,
        st.text("abcd ", max_size=8),
        _pad,
        st.integers(-20, 20),
    ),
)

# Every line boundary str.splitlines honours.
_sep = st.sampled_from(
    ["\n", "\r\n", "\r", "\x0b", "\x0c", "\x1c", "\x1d", "\x1e", "\x85",
     "\u2028", "\u2029"]
)

_response = st.one_of(
    st.builds(
        lambda sep, ls: "SCORES:" + sep + sep.join(ls),
        _sep,
        st.lists(_line, max_size=6),
    ),
    st.text(alphabet=_ascii, max_size=40),
)


@settings(max_examples=30, deadline=None)
@given(st.lists(_response, min_size=1, max_size=5))
def test_parser_matches_reference_semantics(spark, responses):
    df = spark.createDataFrame(list(enumerate(responses)), ["doc_id", "response"])
    got: dict[int, dict[str, int]] = {}
    for r in parsing.parse_scores(df).collect():
        got.setdefault(r.doc_id, {})[r.section] = r.score
    for i, resp in enumerate(responses):
        want = _reference_parse(resp)
        assert got.get(i, {}) == want, f"response {resp!r}"
