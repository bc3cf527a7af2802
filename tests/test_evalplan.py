"""The ANSI-mode division guard of ops_q's degree assortativity: a
degenerate input must yield NULL (matching the DuckDB oracle) instead
of DIVIDE_BY_ZERO."""

from __future__ import annotations

import datetime as dt

SF = "/root/testdata/sf0.001"

_LI_SCHEMA = (
    "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
    "l_quantity double, l_extendedprice double, l_discount double, "
    "l_tax double, l_returnflag string, l_linestatus string, "
    "l_shipdate timestamp"
)


class TestDegenerateGuards:
    def test_assortativity_null_on_constant_degrees(self, spark, monkeypatch):
        from resume_jd_matcher_spark.queries import ops_q

        d0 = dt.datetime(2024, 1, 1)
        # 4 parts x 1 supplier each, every supplier once: d_part = 1
        # and d_supp = 1 everywhere -> zero variance on both sides
        lines = [
            (k, 100 + k, 200 + k, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", d0)
            for k in range(1, 5)
        ]
        li = spark.createDataFrame(lines, _LI_SCHEMA)
        monkeypatch.setattr(ops_q, "load_table", lambda *a: li)
        r = ops_q.q_degree_assortativity(spark, SF).collect()[0]
        assert r["n_edges"] == 4
        assert r["assortativity"] is None
