"""The batch scoring pass (``operators.score_pass``): the chain
``mean_score(parse_scores(llm_transform(assemble_prompt(
chunk_by_section(df)), "score_prompt")))`` runs as one Python node over
one Exchange on id, and every layer of it gives the same rows as the
standalone route each operator takes on any other input."""

from __future__ import annotations

import random
import re
import sys
from collections import Counter
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from conftest import physical_plan
from resume_jd_matcher_spark.functions.parsing import (
    assemble_prompt,
    mean_one,
    mean_score,
    parse_one,
    parse_scores,
)
from resume_jd_matcher_spark.operators.scoring import llm_transform
from resume_jd_matcher_spark.operators.sectioner import chunk_by_section

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "perfbench"))
import gen  # noqa: E402

LAYERS = ("sections", "prompts", "responses", "scores", "final")


def _upload():
    """~300 generated resumes, plus ids shared by two rows (one
    document), null ids (one group) and null, empty and headerless
    texts."""
    batch = gen.upload_batch(971, 0, 300)
    rows = [(r.doc_id, r.text) for r in batch.resumes]
    rows += [
        (rows[0][0], rows[1][1]),
        (rows[2][0], rows[2][1]),
        (rows[3][0], None),
        (None, "Skills: spark sql\nEducation: MSc"),
        (None, "Summary: data engineer\nSkills: python"),
        (10**6, None),
        (10**6 + 1, ""),
        (10**6 + 2, "no header in this one"),
        (10**6 + 3, "Hobbies: chess"),
    ]
    return batch.jd, rows


def _layers(df, jd, standalone):
    """Every layer of the chain; ``standalone`` checkpoints each input,
    so no operator receives a frame it could extend."""
    cut = (lambda d: d.localCheckpoint()) if standalone else (lambda d: d)
    out = {"sections": chunk_by_section(df)}
    out["prompts"] = assemble_prompt(cut(out["sections"]), jd)
    out["responses"] = llm_transform(cut(out["prompts"]), "score_prompt")
    out["scores"] = parse_scores(cut(out["responses"]))
    out["final"] = mean_score(cut(out["scores"]))
    return out


def _rows(df):
    return Counter(tuple(r) for r in df.collect())


@pytest.mark.parametrize("partitions", [1, 3, 8])
def test_pass_and_standalone_chain_give_the_same_rows(spark, partitions):
    jd, rows = _upload()
    df = spark.createDataFrame(rows, "doc_id bigint, text string").repartition(partitions)
    fused, standalone = _layers(df, jd, False), _layers(df, jd, True)
    assert len(_python_nodes(physical_plan(fused["final"]))) == 1
    for layer in LAYERS:
        got, want = _rows(fused[layer]), _rows(standalone[layer])
        assert got == want, layer
        assert fused[layer].columns == standalone[layer].columns, layer
    final = {r[0] for r in want}
    assert None in final and rows[0][0] in final and 10**6 not in final


def _python_nodes(plan: str) -> list[str]:
    return re.findall(r"\b\w*(?:MapIn(?:Arrow|Pandas)|EvalPython|InPandas)\w*", plan)


def test_untraced_chain_plans_one_python_node_over_one_exchange_on_id(spark):
    jd, rows = _upload()
    df = spark.createDataFrame(rows, "doc_id bigint, text string").persist()
    try:
        df.count()
        prompts = assemble_prompt(chunk_by_section(df), jd)
        final = mean_score(parse_scores(llm_transform(prompts, "score_prompt")))
        plan = physical_plan(final)
    finally:
        df.unpersist()
    assert len(_python_nodes(plan)) == 1, plan
    exchanges = re.findall(r"Exchange (\w+)\((\w+)#", plan)
    assert exchanges == [("hashpartitioning", "doc_id")], plan
    assert plan.index(_python_nodes(plan)[0]) < plan.index("Exchange"), plan


def test_other_inputs_keep_the_standalone_route(spark):
    df = spark.createDataFrame([(1, "Skills: spark")], "doc_id bigint, text string")
    secs = chunk_by_section(df)
    # another column name, a cached frame, a non-long id: no pass
    renamed = assemble_prompt(secs, "jd", section_col="body", body_col="section")
    assert "Aggregate" in physical_plan(renamed)
    secs.persist()
    try:
        assert "Aggregate" in physical_plan(assemble_prompt(secs, "jd"))
    finally:
        secs.unpersist()
    ints = spark.createDataFrame([(1, "Skills: spark")], "doc_id int, text string")
    assert "Aggregate" in physical_plan(assemble_prompt(chunk_by_section(ints), "jd"))


@pytest.mark.parametrize("score", ["1_0", "٣", "５", "2147483648", "-2147483649", "5.0", "", "+"])
def test_scores_are_ascii_int32(spark, score):
    resp = f"SCORES:\nskills: 3\nexperience: {score}"
    assert parse_one(resp) == []
    df = spark.createDataFrame([(1, resp)], ["doc_id", "response"])
    assert parse_scores(df).collect() == []


@pytest.mark.parametrize(
    "score,want",
    [("+7", 7), ("-0", 0), ("007", 7), ("2147483647", 2**31 - 1), ("-2147483648", -(2**31))],
)
def test_scores_accept_signs_and_int32_bounds(score, want):
    assert parse_one(f"SCORES:\nskills: {score}") == [("skills", want)]


def test_mean_one_is_mean_score_on_a_grid(spark):
    """``mean_one`` equals ``mean_score``'s Spark route for every
    (sum, n) on the grid, computed in one query: n = 1..64 scores per
    point, with small and negative sums, int32 extremes and random
    sums up to n times them."""
    lo, hi = -(2**31), 2**31 - 1
    rnd = random.Random(0)
    grid = []
    for n in range(1, 65):
        sums = set(range(-130, 131))
        sums |= {n * hi, n * lo, n * hi - 1, n * lo + 1}
        sums |= {rnd.randint(n * lo, n * hi) for _ in range(20)}
        grid += [(s, n) for s in sorted(sums)]
    points = spark.createDataFrame(
        [(g, s, n) for g, (s, n) in enumerate(grid)], "g bigint, s bigint, n int"
    )
    # n int32 scores summing to s: pmod(s, n) of them are one above s div n
    scores = points.select(
        F.col("g").alias("doc_id"),
        F.expr("(s - pmod(s, n)) div n").alias("q"),
        F.expr("pmod(s, n)").alias("r"),
        F.explode(F.sequence(F.lit(0), F.col("n") - 1)).alias("k"),
    ).select(
        "doc_id",
        (F.col("q") + (F.col("k") < F.col("r")).cast("long")).cast("int").alias("score"),
    )
    got = {r.doc_id: r.final_score for r in mean_score(scores).collect()}
    assert len(got) == len(grid)
    bad = [
        (s, n, got[g], mean_one(s, n))
        for g, (s, n) in enumerate(grid)
        if got[g] != mean_one(s, n)
    ]
    assert bad == []
    # an exact tie rounds to even; an inexact half rounds on its printed digits
    assert mean_one(57, 8) == 7.12 and mean_one(107, 40) == 2.68 != round(107 / 40, 2)
