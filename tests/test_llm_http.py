"""Contract tests for the HTTP (Ollama-protocol) backend seams.

The reference talks to a live Ollama at localhost:11434
(rag_model.py:15,81; vectorDB.py:7; constants.py:3). No model runs in
this environment, so a stdlib ThreadingHTTPServer fakes the protocol —
POST /api/generate and /api/embeddings with deterministic responses —
proving that ``backend="http"`` slots into llm_transform /
embedder_udf with no DAG or schema change: the same mapInPandas /
pandas_udf plans execute, only the per-worker client differs. Executor
Python workers reach the server over loopback, concurrently.
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest

# One entry per /api/generate request the fake has served (list.append
# is atomic, so concurrent executor workers may post at once).
_GENERATE_CALLS: list[str] = []


class _FakeOllama(BaseHTTPRequestHandler):
    """Deterministic Ollama-protocol fake: generation echoes a SCORES:
    contract derived from the prompt; embeddings hash the prompt into a
    fixed-dim vector."""

    def do_POST(self):  # noqa: N802 (http.server API)
        n = int(self.headers.get("Content-Length", 0))
        req = json.loads(self.rfile.read(n).decode("utf-8"))
        if self.path == "/api/generate":
            _GENERATE_CALLS.append(req["prompt"])
            # visible marker + prompt-dependent payload
            out = {"model": req["model"], "response": f"SCORES:\nechoed: {len(req['prompt']) % 10}"}
        elif self.path == "/api/embeddings":
            h = sum(ord(c) for c in req["prompt"])
            out = {"embedding": [round((h % (d + 7)) / 10.0, 1) for d in range(4)]}
        else:
            self.send_error(404)
            return
        body = json.dumps(out).encode("utf-8")
        self.send_response(200)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def log_message(self, *a):  # silence per-request stderr noise
        pass


@pytest.fixture(scope="module")
def fake_ollama():
    srv = ThreadingHTTPServer(("127.0.0.1", 0), _FakeOllama)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()


def test_llm_transform_http_backend_same_dag(spark, fake_ollama):
    """backend='http' runs the identical mapInPandas DAG as 'stub' —
    same schema, responses from the wire."""
    from resume_jd_matcher_spark.operators.scoring import llm_transform

    df = spark.createDataFrame(
        [(1, "spark sql resume", "needs spark"), (2, "golang resume", "needs spark")],
        ["doc_id", "resume_text", "jd_text"],
    )
    stub = llm_transform(df, "feedback", backend="stub")
    http = llm_transform(df, "feedback", backend="http", backend_url=fake_ollama)
    assert http.schema == stub.schema
    rows = {r.doc_id: r.response for r in http.collect()}
    assert set(rows) == {1, 2}
    assert all(v.startswith("SCORES:\nechoed:") for v in rows.values())


def test_llm_transform_http_score_prompt_round_trip(spark, fake_ollama):
    """The assembled-prompt task posts the T3 prompt verbatim and the
    response parses through the normal T4 path shape."""
    from resume_jd_matcher_spark.operators.scoring import llm_transform

    df = spark.createDataFrame([(7, "PROMPT BODY")], ["doc_id", "prompt"])
    got = llm_transform(df, "score_prompt", backend="http", backend_url=fake_ollama).collect()
    assert got[0].doc_id == 7
    # len("PROMPT BODY") % 10 == 1 — response is prompt-dependent,
    # proving the prompt column reached the server
    assert got[0].response == "SCORES:\nechoed: 1"


def test_scoring_chain_calls_the_llm_once_per_document(spark, fake_ollama):
    """The batch scoring chain posts each document's prompt exactly
    once: parse_scores reads the LLM output once, so no second Python
    node re-runs the model for another branch of the plan, and a
    document's validity and scores come from one response."""
    from resume_jd_matcher_spark.functions.parsing import (
        assemble_prompt,
        mean_score,
        parse_scores,
    )
    from resume_jd_matcher_spark.operators.scoring import llm_transform
    from resume_jd_matcher_spark.operators.sectioner import chunk_by_section

    n = 20
    df = spark.createDataFrame(
        [(i, f"Skills:\npython spark {i}\nExperience:\n{i} years") for i in range(n)],
        ["doc_id", "text"],
    )
    prompts = assemble_prompt(chunk_by_section(df), "needs spark")
    chain = mean_score(
        parse_scores(
            llm_transform(prompts, "score_prompt", backend="http", backend_url=fake_ollama)
        )
    )
    _GENERATE_CALLS.clear()
    rows = chain.collect()
    assert len(rows) == n
    assert len(_GENERATE_CALLS) == n


def test_a_persisted_llm_frame_is_parsed_without_calling_the_llm_again(spark, fake_ollama):
    """A cached frame never joins a scoring pass: parsing and averaging
    a persisted ``llm_transform`` frame reads the cache, so the model
    sees each document once in all, not once more per consumer."""
    from resume_jd_matcher_spark.functions.parsing import (
        assemble_prompt,
        mean_score,
        parse_scores,
    )
    from resume_jd_matcher_spark.operators.scoring import llm_transform
    from resume_jd_matcher_spark.operators.sectioner import chunk_by_section

    n = 20
    df = spark.createDataFrame(
        [(i, f"Skills:\npython spark {i}\nExperience:\n{i} years") for i in range(n)],
        ["doc_id", "text"],
    )
    prompts = assemble_prompt(chunk_by_section(df), "needs spark")
    responses = llm_transform(
        prompts, "score_prompt", backend="http", backend_url=fake_ollama
    ).persist()
    _GENERATE_CALLS.clear()
    try:
        assert responses.count() == n
        rows = mean_score(parse_scores(responses)).collect()
    finally:
        responses.unpersist()
    assert len(rows) == n
    assert len(_GENERATE_CALLS) == n


def test_llm_transform_unknown_backend_still_rejected(spark):
    from resume_jd_matcher_spark.operators.scoring import llm_transform

    df = spark.createDataFrame([(1, "a", "b")], ["doc_id", "resume_text", "jd_text"])
    with pytest.raises(NotImplementedError):
        llm_transform(df, "feedback", backend="openai")


def test_embedder_http_backend_same_dag(spark, fake_ollama):
    """embed_documents with backend='http' keeps the iterator
    pandas_udf plan and ARRAY<DOUBLE> schema; vectors come off the
    wire, deterministically."""
    from resume_jd_matcher_spark.operators.embedding import embed_documents

    df = spark.createDataFrame([(1, "alpha"), (2, "beta")], ["doc_id", "text"])
    hashed = embed_documents(df, backend="hash")
    http = embed_documents(df, backend="http", backend_url=fake_ollama)
    assert http.schema == hashed.schema
    got = {r.doc_id: r.embedding for r in http.collect()}
    assert len(got) == 2 and all(len(v) == 4 for v in got.values())
    # deterministic fake: same text → same vector
    again = {r.doc_id: r.embedding for r in embed_documents(df, backend="http", backend_url=fake_ollama).collect()}
    assert got == again


def test_http_embeddings_flow_into_topk(spark, fake_ollama):
    """End-to-end: HTTP-embedded corpus + query run the flagship top-k
    similarity operator unchanged — the backend swap is invisible to
    the vector DAG."""
    from resume_jd_matcher_spark.operators.embedding import embed_documents, embed_query
    from resume_jd_matcher_spark.operators.similarity import topk_similarity

    docs = spark.createDataFrame(
        [(i, f"document number {i}") for i in range(6)], ["doc_id", "text"]
    )
    corpus = embed_documents(docs, backend="http", backend_url=fake_ollama).withColumnRenamed(
        "doc_id", "vec_id"
    )
    q = embed_query(spark, "a query", backend="http", backend_url=fake_ollama)
    got = topk_similarity(corpus, q, k=3).collect()
    assert len(got) == 3
