"""T1: span-based section chunker (SURVEY.md §2.B T1).

The reference's ``chunk_by_section`` (``/root/reference/rag_model.py:
18-42``) finds section headers with a compiled alternation of the
7-key vocabulary followed by ``[:\\n]`` (case-insensitive), and each
section body spans from the header match's end to the next match's
start (or EOF), stripped. Later duplicate headers overwrite earlier
ones; text before the first header and unrecognized headers are
dropped (unrecognized header text folds into the preceding body,
since only vocabulary headers are boundaries).

Span extraction over the whole string is inherently scalar — per
SURVEY.md §7 this is one of the few legitimate Python stages. The
stage is Arrow-batched (``mapInArrow``) and regex state compiles once
per executor interpreter, so the hot loop is C-regex over each batch.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from resume_jd_matcher_spark.functions.parsing import SECTION_PATTERNS
from resume_jd_matcher_spark.operators import score_pass

# Every vocabulary word starts with one of these letters. A leading
# lookahead on them lets the regex engine skip other positions fast;
# under the same IGNORECASE it accepts exactly the alternation's first
# characters (``ſ`` still matches ``s``), so the matches are unchanged.
_FIRST_LETTERS = sorted(
    {word[0] for p in SECTION_PATTERNS.values() for word in p.strip("()").split("|")}
)
_HEADER_RE = re.compile(
    r"(?=[" + "".join(_FIRST_LETTERS) + r"])"
    r"(?P<header>(" + "|".join(SECTION_PATTERNS.values()) + r"))\s*[:\n]",
    re.IGNORECASE,
)
_FULLMATCH = [
    (key, re.compile(pattern, re.IGNORECASE))
    for key, pattern in SECTION_PATTERNS.items()
]


def _chunk_one(text: str) -> list[tuple[str, str]]:
    if text is None:
        return []
    matches = list(_HEADER_RE.finditer(text))
    chunks: dict[str, str] = {}
    for i, match in enumerate(matches):
        header = match.group("header").strip().lower()
        section_key = None
        for key, rx in _FULLMATCH:
            if rx.fullmatch(header):
                section_key = key
                break
        end = matches[i + 1].start() if i + 1 < len(matches) else len(text)
        if section_key:
            chunks[section_key] = text[match.end() : end].strip()
    return list(chunks.items())


def chunk_by_section(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Documents → long-form (id, section, body), one row per canonical
    section present (keep-last on duplicate headers).

    r13 (guide §4.2): emitted via ``mapInArrow`` as the LONG FORM
    directly — same ``_chunk_one`` spans, same keep-last dict — with
    three flat columns per batch. The previous pandas_udf returned an
    ``array<struct<...>>`` per row plus an explode; serializing the
    nested type through pandas cost ~2× the regex work itself
    (measured: 5000 rows chunked in 0.9 s of pure Python but ~2.3 s
    as a stage). Flat Arrow arrays + a cardinality-changing batch
    keep the boundary cheap; only (id, text) cross into Python.

    The frame returned over a LongType id starts a scoring pass
    (``operators.score_pass``): ``assemble_prompt`` given exactly this
    frame, uncached, joins it and runs ``_chunk_one`` inside its own
    Python node instead of after this one.
    """
    import pyarrow as pa

    out_schema = T.StructType(
        [
            df.schema[id_col],
            T.StructField("section", T.StringType()),
            T.StructField("body", T.StringType()),
        ]
    )

    def gen(batches):
        for batch in batches:
            ids, texts = batch.column(0), batch.column(1)
            out_i, out_s, out_b = [], [], []
            for i in range(batch.num_rows):
                t = texts[i].as_py()
                the_id = ids[i].as_py()
                for sec, body in _chunk_one(t):
                    out_i.append(the_id)
                    out_s.append(sec)
                    out_b.append(body)
            if out_i:
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(out_i, ids.type),
                        pa.array(out_s, pa.string()),
                        pa.array(out_b, pa.string()),
                    ],
                    names=[id_col, "section", "body"],
                )

    source = df.select(id_col, text_col)
    return score_pass.record_sections(
        source.mapInArrow(gen, out_schema), out_schema, source, _chunk_one
    )
