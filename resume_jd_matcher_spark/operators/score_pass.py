"""The batch scoring chain as one Python pass (SURVEY.md §3.1).

``mean_score(parse_scores(llm_transform(assemble_prompt(
chunk_by_section(df)), "score_prompt")))`` is five operators. Planned
one by one, they cross into Python twice and shuffle twice: to group
the sections per document for the prompt, and again for the mean.

Here they compose instead. ``chunk_by_section`` records the frame it
returns as "steps over (source, id, text)". When the next operator
receives exactly such a frame (the same object, not cached, with the
column names it carries), it returns a new recorded frame that runs
every step so far as one ``mapInArrow`` over the source, instead of
planning a stage of its own. Any other input takes the operator's
standalone route. A cached frame is never extended, so its steps
(the model calls above all) never run twice.

Rows that share an id are one document, as ``assemble_prompt``'s
``groupBy`` makes them, and null ids form one group. So the pass
hash-partitions the source on id, with a fixed partition count that
adaptive execution does not coalesce, and each task groups its rows by
id. The plan has one Exchange below the one Python node and none above
it, and the model is called once per document, in parallel tasks.

Each step keeps one definition: the operators hand in the same
per-document functions that their standalone routes use or are pinned
to (``tests/test_score_pass.py``).
"""

from __future__ import annotations

import weakref
from dataclasses import dataclass
from typing import Any, Callable, Iterable, Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

# What a recorded frame holds, in chain order; a step extends a pass
# only from the kind just before its own.
KINDS = ("sections", "prompts", "responses", "scores", "final")

# Documents handed to the steps at a time; each chunk's rows form one
# output batch.
_CHUNK_DOCS = 1024


@dataclass(frozen=True)
class Step:
    """What one operator adds to a pass. ``run`` maps a chunk of
    documents' values to their next values, one for one (the first
    step gets each document's sections); ``rows`` turns one document's
    value into its output rows, without the id."""

    kind: str
    fields: tuple[T.StructField, ...]
    run: Callable[[list], list]
    rows: Callable[[Any], Iterable[tuple]]


@dataclass(frozen=True)
class _Pass:
    source: DataFrame  # the chunker's (id, text) input, partitioned on id once a step joins
    id_field: T.StructField
    chunk: Callable[[str | None], list[tuple[str, str]]]
    kind: str
    columns: tuple[str, ...]
    steps: tuple[Step, ...]


_PASSES: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def record_sections(
    frame: DataFrame,
    schema: T.StructType,
    source: DataFrame,
    chunk: Callable[[str | None], list[tuple[str, str]]],
) -> DataFrame:
    """Record ``frame``, the chunker's output (id, section, body) with
    ``schema`` over ``source`` (id, text), as the start of a pass;
    return it. Only a LongType id starts a pass: it is the type the
    model step gives every later frame."""
    id_field, section, body = schema.fields
    if id_field.dataType == T.LongType():
        _PASSES[frame] = _Pass(
            source, id_field, chunk, "sections", (id_field.name, section.name, body.name), ()
        )
    return frame


def extend(df: DataFrame, columns: tuple[str, ...], step: Step) -> DataFrame | None:
    """The frame that runs ``df``'s pass plus ``step``, or None when
    ``df`` is not a recorded frame of the kind before ``step``'s, is
    cached, or carries other column names than ``columns``."""
    p = _PASSES.get(df)
    if (
        p is None
        or df.is_cached
        or p.columns != columns
        or KINDS.index(step.kind) != KINDS.index(p.kind) + 1
    ):
        return None
    steps = p.steps + (step,)
    id_col = p.columns[0]
    schema = T.StructType([p.id_field, *step.fields])
    arrow_schema = to_arrow_schema(schema)
    chunk = p.chunk

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        docs: dict = {}
        for batch in batches:
            ids, texts = batch.column(0).to_pylist(), batch.column(1).to_pylist()
            for doc_id, text in zip(ids, texts):
                docs.setdefault(doc_id, []).extend(chunk(text))
        grouped = [(doc_id, secs) for doc_id, secs in docs.items() if secs]
        for start in range(0, len(grouped), _CHUNK_DOCS):
            part = grouped[start : start + _CHUNK_DOCS]
            values = [secs for _, secs in part]
            for s in steps:
                values = s.run(values)
            cols: list[list] = [[] for _ in arrow_schema]
            for (doc_id, _), value in zip(part, values):
                for row in step.rows(value):
                    cols[0].append(doc_id)
                    for col, x in zip(cols[1:], row):
                        col.append(x)
            if cols[0]:
                yield pa.RecordBatch.from_arrays(
                    [pa.array(c, f.type) for c, f in zip(cols, arrow_schema)],
                    schema=arrow_schema,
                )

    source = p.source
    if not p.steps:
        # REPARTITION_BY_NUM: adaptive execution keeps all n partitions
        n = source.sparkSession.sparkContext.defaultParallelism
        source = source.repartition(n, id_col)
    out = source.mapInArrow(gen, schema)
    _PASSES[out] = _Pass(
        source, p.id_field, chunk, step.kind, (id_col, *(f.name for f in step.fields)), steps
    )
    return out
