"""U1-U3: LLM-backed operators with a deterministic stub backend
(SURVEY.md §2.H, §5.3).

The reference makes one Ollama (gemma3:1b) call per scoring/feedback/
explanation request (``rag_model.py:81,107``; ``rag_model_mass.py:57``).
The engine treats LLM inference as a batch operator: prompts flow
through ``mapInPandas`` so one executor worker holds one client and
batches requests; the backend is pluggable by name.

The ``stub`` backend is a deterministic fake that honors each task's
output CONTRACT (``SCORES:\\n<name>: <int>`` for scoring; "- " bullets
for feedback/explanation), so the full DAG — prompt assembly → invoke
→ parse → aggregate — runs and is testable with no model anywhere
(SURVEY.md §7 hard-part (d)). Scores are a clamped token-overlap
between section body and JD, reproducible in SQL for the oracle.
"""

from __future__ import annotations

from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from resume_jd_matcher_spark.operators import score_pass


def _stub_tokens(s: str) -> set[str]:
    return set(s.lower().split())


def _stub_scores(sections: list[tuple[str, str]], jd: str) -> str:
    """Deterministic SCORES: response — per section, score = clamped
    count of distinct section tokens also present in the JD."""
    jd_toks = _stub_tokens(jd)
    lines = ["SCORES:"]
    for name, body in sections:
        lines.append(f"{name}: {min(10, len(_stub_tokens(body) & jd_toks))}")
    return "\n".join(lines)


def _parse_prompt_sections(prompt: str) -> tuple[list[tuple[str, str]], str]:
    """Recover ([(section, body)...], jd_text) from an assembled
    SCORE_ALL_SECTIONS_PROMPT — the stub 'reads' the prompt exactly as
    a real model would, so T3 is genuinely in the loop."""
    import re as _re

    sections: list[tuple[str, str]] = []
    jd = ""
    body_part = prompt.split("RESUME SECTIONS:\n", 1)
    if len(body_part) == 2:
        blocks_txt = body_part[1].split("\n\nJOB DESCRIPTION:", 1)[0]
        # split only at separators followed by a '[header]' — an empty
        # body would otherwise swallow the next block's bracket line
        for block in _re.split(r"\n\n(?=\[)", blocks_txt):
            if block.startswith("[") and "]\n" in block:
                name, body = block[1:].split("]\n", 1)
                sections.append((name, body.strip()))
    jd_part = prompt.split('JOB DESCRIPTION:\n"""', 1)
    if len(jd_part) == 2:
        jd = jd_part[1].split('"""', 1)[0]
    return sections, jd


def _stub_backend(task: str) -> Callable[[pd.DataFrame], pd.Series]:
    def generate(pdf: pd.DataFrame) -> pd.Series:
        if task == "score_prompt":
            # Full-fidelity U1: input is the ASSEMBLED PROMPT (T3
            # output); the stub recovers sections + JD from it and
            # answers in the SCORES: contract.
            def sp(row):
                return _stub_scores(*_parse_prompt_sections(row["prompt"]))

            return pdf.apply(sp, axis=1)
        if task == "score":
            # SCORES: contract (constants.py:95-100); one line per section.
            def sc(row):
                return _stub_scores(
                    [(s["section"], s["body"]) for s in row["sections"]],
                    row["jd_text"],
                )

            return pdf.apply(sc, axis=1)
        if task == "feedback":
            # "- " bullets naming JD tokens missing from the resume
            # (contract of RESUME_FEEDBACK_QUERY, constants.py:7-30).
            def fb(row):
                missing = sorted(
                    _stub_tokens(row["jd_text"]) - _stub_tokens(row["resume_text"])
                )[:10]
                return "\n".join(f"- add: {m}" for m in missing) or "- no gaps found"

            return pdf.apply(fb, axis=1)
        if task == "explain":
            # exactly 5 bullets (contract of EXPLAIN_RESUME_MATCH_PROMPT,
            # constants.py:32-54).
            def ex(row):
                common = sorted(
                    _stub_tokens(row["jd_text"]) & _stub_tokens(row["resume_text"])
                )
                bullets = (common + ["experience", "skills", "projects", "education", "strengths"])[:5]
                return "\n".join(f"- matches on: {b}" for b in bullets)

            return pdf.apply(ex, axis=1)
        raise ValueError(f"unknown stub task: {task}")

    return generate


def _task_prompt(task: str, row: pd.Series) -> str:
    """Prompt text a real model sees for each task. ``score_prompt``
    rows carry the fully-assembled T3 prompt; the other tasks get the
    reference's ask re-stated over the row's raw fields
    (rag_model.py:100-114, rag_model_mass.py:50-63)."""
    if task == "score_prompt":
        return row["prompt"]
    if task == "feedback":
        return (
            "Suggest resume improvements as '- ' bullets.\n"
            f"RESUME:\n{row['resume_text']}\n\nJOB DESCRIPTION:\n{row['jd_text']}"
        )
    if task == "explain":
        return (
            "Explain this match in exactly 5 '- ' bullets.\n"
            f"RESUME:\n{row['resume_text']}\n\nJOB DESCRIPTION:\n{row['jd_text']}"
        )
    raise ValueError(f"unknown http task: {task}")


def _http_backend(
    task: str, url: str, model: str
) -> Callable[[pd.DataFrame], pd.Series]:
    """Ollama-protocol generation client (POST {url}/api/generate with
    {model, prompt, stream: false} → {"response": ...}) — the protocol
    the reference speaks through langchain-ollama (rag_model.py:15,81;
    constants.py:3 localhost:11434). stdlib-only so the seam works in
    any environment; one urllib opener per worker, rows posted
    sequentially within the Arrow batch (Ollama serializes generation
    per model anyway)."""
    import json
    import urllib.request

    def generate(pdf: pd.DataFrame) -> pd.Series:
        def call(row: pd.Series) -> str:
            body = json.dumps(
                {"model": model, "prompt": _task_prompt(task, row), "stream": False}
            ).encode("utf-8")
            req = urllib.request.Request(
                f"{url.rstrip('/')}/api/generate",
                data=body,
                headers={"Content-Type": "application/json"},
            )
            with urllib.request.urlopen(req, timeout=120) as resp:
                return json.loads(resp.read().decode("utf-8"))["response"]

        return pdf.apply(call, axis=1)

    return generate


def _backend(
    task: str, backend: str, backend_url: str, model: str
) -> Callable[[pd.DataFrame], pd.Series]:
    if backend == "stub":
        return _stub_backend(task)
    return _http_backend(task, backend_url, model)


def llm_transform(
    df: DataFrame,
    task: str,
    out_col: str = "response",
    backend: str = "stub",
    id_col: str = "doc_id",
    backend_url: str = "http://localhost:11434",
    model: str = "gemma3:1b",
) -> DataFrame:
    """Batch LLM inference harness: (id, resume_text, jd_text) →
    (id, response). mapInPandas so the backend/client is constructed
    once per worker and sees whole Arrow batches.

    ``backend='stub'`` is deterministic (CI / oracle path);
    ``backend='http'`` speaks the Ollama /api/generate protocol to
    ``backend_url`` (reference default localhost:11434, constants.py:3)
    — same DAG, same schema, contract-tested against a fake server in
    tests/test_llm_http.py.

    With ``task='score_prompt'``, given exactly an ``assemble_prompt``
    frame of a scoring pass (``operators.score_pass``), uncached and
    with this id column, it joins that pass: the same backend answers
    each task's prompts inside the pass's Python node."""
    if backend not in ("stub", "http"):
        raise NotImplementedError(
            "backends: 'stub' (deterministic) or 'http' (Ollama protocol); "
            f"got {backend!r}"
        )
    if task == "score_prompt":
        fused = score_pass.extend(
            df,
            (id_col, "prompt"),
            score_pass.Step(
                "responses",
                (T.StructField(out_col, T.StringType()),),
                lambda prompts: list(
                    _backend(task, backend, backend_url, model)(
                        pd.DataFrame({"prompt": prompts})
                    )
                ),
                lambda response: [(response,)],
            ),
        )
        if fused is not None:
            return fused

    schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField(out_col, T.StringType()),
        ]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        fn = _backend(task, backend, backend_url, model)
        for pdf in batches:
            if not len(pdf):
                continue
            yield pd.DataFrame({id_col: pdf[id_col], out_col: fn(pdf)})

    return df.mapInPandas(gen, schema)


def resume_feedback(
    df: DataFrame, id_col: str = "doc_id", backend: str = "stub"
) -> DataFrame:
    """U2: per-resume improvement bullets vs the JD
    (reference rag_model.py:100-114)."""
    return llm_transform(df, "feedback", "feedback", backend, id_col)


def explain_match(
    df: DataFrame, id_col: str = "doc_id", backend: str = "stub"
) -> DataFrame:
    """U3: exactly-5-bullet match explanation
    (reference rag_model_mass.py:50-63)."""
    return llm_transform(df, "explain", "explanation", backend, id_col)
