"""The distributed prefix scan (operators/prefix.py) and invariants
of the mining_q document-profiling queries: ARI readability,
boilerplate n-grams and stratified k-fold assignment."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


class TestGlobalPrefix:
    def test_rank_and_cumsum_match_sequential(self, spark):
        """Exact equality with the naive single-partition spelling on
        a shuffled fixture with duplicate keys."""
        from resume_jd_matcher_spark.operators.prefix import global_prefix

        rows = [(i, (i * 37) % 101, ((i * 13) % 7) + 1) for i in range(500)]
        df = spark.createDataFrame(rows, "id long, key long, v long").repartition(16)
        got = {
            r["id"]: (r["rank"], r["cum_sum"])
            for r in global_prefix(df, ["key", "id"], "v", sum_type="bigint").collect()
        }
        seq = sorted(rows, key=lambda r: (r[1], r[0]))
        run = 0
        for rnk, (i, _k, v) in enumerate(seq, start=1):
            run += v
            assert got[i] == (rnk, run), f"id {i}"

    def test_no_data_sized_unpartitioned_window(self, spark):
        """The data-sized window must be PARTITIONED BY the monotone
        bucket; the only unpartitioned window runs over the bounded
        per-bucket summary (n_buckets rows)."""
        from resume_jd_matcher_spark.operators.prefix import global_prefix
        from resume_jd_matcher_spark.plans.optimize import physical_plan

        df = spark.range(1000).select(
            F.col("id"), (F.col("id") % 97).alias("v")
        )
        out = global_prefix(df, ["v", "id"], "v", sum_type="bigint")
        plan = physical_plan(out)
        import re

        lines = plan.splitlines()
        win = [ln for ln in lines if re.search(r"\bWindow \[", ln)]
        assert len(win) == 2, plan

        # In the plan text a partitioned window spec starts with bare
        # partition columns — windowspecdefinition(_bkt#10L, v#1L ASC…)
        # — while an UNPARTITIONED one starts directly with an ordering
        # — windowspecdefinition(_bkt#32L ASC NULLS FIRST, frame…).
        def is_unpartitioned(ln: str) -> bool:
            m = re.search(r"windowspecdefinition\(([^,]+),", ln)
            assert m, ln
            return " ASC" in m.group(1) or " DESC" in m.group(1)

        unp = [ln for ln in win if is_unpartitioned(ln)]
        part = [ln for ln in win if not is_unpartitioned(ln)]

        # Exactly ONE unpartitioned window, ordered on the bucket id …
        assert len(unp) == 1, plan
        assert re.search(r"windowspecdefinition\(_bkt#\d+L? ASC", unp[0]), unp[0]
        # … and it runs over the n_buckets-row per-bucket summary: its
        # child chain is Sort -> Exchange SinglePartition -> final
        # HashAggregate keyed on _bkt, never the raw input.
        i = lines.index(unp[0])
        tail = "\n".join(lines[i : i + 4])
        assert "Exchange SinglePartition" in tail, tail
        assert re.search(r"HashAggregate\(keys=\[_bkt#\d+", tail), tail

        # The data-sized window MUST be partitioned by the bucket.
        assert len(part) == 1, plan
        assert re.search(r"windowspecdefinition\(_bkt#\d+L?,", part[0]), part[0]

        # Exactly two hashpartitioning-on-_bkt exchanges: the single
        # data-sized shuffle feeding the partitioned window, plus the
        # BOUNDED partial->final exchange of the per-bucket totals
        # (n_buckets rows per map task). A third would mean a new data
        # shuffle crept in; one would mean the map-side combine died.
        ex = [
            ln
            for ln in lines
            if "Exchange hashpartitioning" in ln and "_bkt" in ln
        ]
        assert len(ex) == 2, plan

    def test_height_bounds_match_sequential_under_skew(self, spark):
        """bounds='height' must give identical ranks/cumsums on a
        Zipf-ish key where 90% of mass sits in 1% of the range (the
        distribution equal-width handles worst)."""
        from resume_jd_matcher_spark.operators.prefix import global_prefix

        rows = [
            (i, (i * 7) % 10 if i % 10 else (i * 131) % 100_000, (i % 5) + 1)
            for i in range(600)
        ]
        df = spark.createDataFrame(rows, "id long, key long, v long").repartition(16)
        got = {
            r["id"]: (r["rank"], r["cum_sum"])
            for r in global_prefix(
                df, ["key", "id"], "v", sum_type="bigint", bounds="height"
            ).collect()
        }
        seq = sorted(rows, key=lambda r: (r[1], r[0]))
        run = 0
        for rnk, (i, _k, v) in enumerate(seq, start=1):
            run += v
            assert got[i] == (rnk, run), f"id {i}"

    def test_height_bounds_spread_skewed_keys(self, spark):
        """Under 90%-of-mass-in-1%-of-range skew, equal-width places
        ZERO bucket bounds inside the dense region (one bucket holds
        ~90% of rows); the sampled equal-height bounds concentrate most
        splits there, restoring balance."""
        from pyspark.sql import functions as F

        rows = [
            (i, (i * 7) % 10 if i % 10 else (i * 131) % 100_000, 1)
            for i in range(2000)
        ]
        df = spark.createDataFrame(rows, "id long, key long, v long")
        fracs = F.array(*[F.lit(i / 64) for i in range(1, 64)])
        bnds = df.agg(
            F.percentile_approx(F.col("key").cast("double"), fracs, F.lit(10_000))
        ).collect()[0][0]
        dense = [b for b in bnds if b <= 9]
        # equal-width over [0, ~100k) has bucket width ~1562: zero
        # bounds land in [0, 9]; equal-height must put most there.
        assert len(dense) >= 40, bnds

    def test_null_leading_key_fails_fast(self, spark):
        """A NULL leading order key must raise, not silently drop the
        row from the offsets join and corrupt every global rank."""
        from resume_jd_matcher_spark.operators.prefix import global_prefix

        df = spark.createDataFrame([(1, 10), (None, 20)], "k long, v long")
        with pytest.raises(Exception, match="non-null"):
            global_prefix(df, ["k"], "v", sum_type="bigint").collect()

    def test_descending_order(self, spark):
        from resume_jd_matcher_spark.operators.prefix import global_prefix

        df = spark.createDataFrame(
            [(1, 10), (2, 30), (3, 20)], "id long, v long"
        )
        got = {
            r["id"]: r["rank"]
            for r in global_prefix(
                df, ["v", "id"], "v", ascending=False, sum_type="bigint"
            ).collect()
        }
        assert got == {2: 1, 3: 2, 1: 3}


class TestTextProfiling:
    def test_ari_known_text(self, spark, monkeypatch):
        from resume_jd_matcher_spark.queries import mining_q

        docs = spark.createDataFrame(
            [(1, "The cat sat. The dog ran!", "en", "s", 25)],
            "doc_id long, text string, lang string, source string, n_chars long",
        )
        monkeypatch.setattr(mining_q, "load_table", lambda *a: docs)
        r = mining_q.q_readability_ari(spark, SF).collect()[0]
        # chars=18 alnum, words=6, sentences=2
        assert (r["n_alnum"], r["n_words"], r["n_sentences"]) == (18, 6, 2)
        expect = 4.71 * 18 / 6 + 0.5 * 6 / 2 - 21.43
        assert r["ari"] == pytest.approx(round(expect + 1e-9, 4), abs=1e-9)

    def test_boilerplate_finds_planted_template(self, spark, monkeypatch):
        from resume_jd_matcher_spark.queries import mining_q

        docs = spark.createDataFrame(
            [(i, f"copyright acme corp unique{i} words", "en", "s", 30) for i in range(6)],
            "doc_id long, text string, lang string, source string, n_chars long",
        )
        monkeypatch.setattr(mining_q, "load_table", lambda *a: docs)
        rows = mining_q.q_boilerplate_ngrams(spark, SF).collect()
        top = [r for r in rows if r["rn"] == 1][0]
        assert top["gram"] in ("acme corp", "copyright acme")
        assert top["df"] == 6 and top["doc_share"] == pytest.approx(1.0, abs=1e-6)


class TestKfold:
    def test_folds_deterministic_and_partition(self, spark, sf_dir):
        from resume_jd_matcher_spark.queries.mining_q import q_kfold_assign

        a = sorted(map(tuple, q_kfold_assign(spark, sf_dir).collect()))
        b = sorted(map(tuple, q_kfold_assign(spark, sf_dir).collect()))
        assert a == b  # reproducible
        # per-language fractions sum to 1
        from collections import defaultdict

        tot = defaultdict(float)
        for lang, fold, n, frac in a:
            assert 0 <= fold < 5
            tot[lang] += frac
        for lang, s in tot.items():
            assert abs(s - 1.0) < 0.01, (lang, s)


class TestGlobalPrefixRankOnly:
    def test_sum_col_none_ranks_match(self, spark):
        from resume_jd_matcher_spark.operators.prefix import global_prefix

        rows = [(i, (i * 37) % 101) for i in range(300)]
        df = spark.createDataFrame(rows, "id long, key long").repartition(8)
        out = global_prefix(df, ["key", "id"], None)
        assert "cum_sum" not in out.columns
        got = {r["id"]: r["rank"] for r in out.collect()}
        seq = sorted(rows, key=lambda r: (r[1], r[0]))
        for rnk, (i, _k) in enumerate(seq, start=1):
            assert got[i] == rnk
