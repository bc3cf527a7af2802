"""Registry-vs-ledger invariant (r7 verdict task #3, tightened per r8
verdict task #2): every registered query must carry NON-VACUOUS driver
signal — either a row in some committed CORRECTNESS_r*/SELFCHECK_r*
artifact showing ``spark_rows > 0`` (or ``MATCH/rows_only: N>0``), or
a slot inside the driver's first-50 window so the CURRENT round will
produce one.

Two historical failure modes this guards:

- round 7 ``silhouette_score``: registered late, never rotated into
  ``_DRIVER_PRIORITY``, zero driver rows for a full round;
- round 8 ``kaplan_meier``: green rows at EVERY sf that hash-matched
  the EMPTY set (0 == 0 rows) — the censoring rule was unsatisfiable
  on the fixture, so the signal was vacuous. A 0-row ledger entry now
  counts as NO signal.

Legacy SELFCHECK artifacts (r8 and earlier) record a bare "MATCH"
with no row count; those carry NO signal under this invariant (their
row counts are unknowable, and the r8 kaplan_meier sweep proves a
bare MATCH can be the empty set) — verified at tightening time that
every registered query still has a row-counted CORRECTNESS entry or
a window slot, so dropping them creates no false orphans. Every
artifact from r9 on embeds "MATCH: N rows" (tools/driver_sim.py).

Pure-ledger test: reads the registry and the JSON artifacts, starts
no SparkSession.
"""

from __future__ import annotations

import glob
import json
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DRIVER_WINDOW = 50

_ROWS_RE = re.compile(r"^(?:MATCH|rows_only):\s*(\d+) rows")


def row_is_signal(value) -> bool:
    """Does one ledger entry certify the query ran and produced
    rows? 0-row entries are vacuous — an empty-set hash match can't
    distinguish a correct query from an unsatisfiable predicate."""
    if isinstance(value, dict):  # CORRECTNESS rows
        if value.get("err"):
            return False
        if not (value.get("hash_match") or value.get("rows_match")):
            return False
        return value.get("spark_rows", 0) > 0
    if isinstance(value, str):  # SELFCHECK rows
        m = _ROWS_RE.match(value)
        if m:
            return int(m.group(1)) > 0
        # legacy bare "MATCH" (pre-r9 artifacts): row count unknowable
        # -> no signal; the r8 kaplan_meier sweeps were bare-MATCH on
        # the empty set, exactly the case this invariant exists for
        return False
    return False


def _signal_names() -> set[str]:
    names: set[str] = set()
    for path in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")) + glob.glob(
        os.path.join(REPO, "SELFCHECK_r*.json")
    ):
        with open(path) as f:
            data = json.load(f)
        # CORRECTNESS files map name -> row dict; SELFCHECK files nest
        # the same mapping under "results".
        rows = data.get("results", data)
        names.update(k for k, v in rows.items() if row_is_signal(v))
    return names


def test_every_registered_query_has_nonvacuous_driver_signal():
    from resume_jd_matcher_spark import queries as Q

    registered = list(Q.queries().keys())
    window = set(registered[:DRIVER_WINDOW])
    ledger = _signal_names()

    orphans = [n for n in registered if n not in ledger and n not in window]
    assert not orphans, (
        f"{len(orphans)} registered queries have no committed NON-VACUOUS "
        f"driver signal AND sit outside the first-{DRIVER_WINDOW} window — "
        f"rotate them into _DRIVER_PRIORITY or run the SELFCHECK sweep: "
        f"{orphans}"
    )


def test_zero_row_ledger_entries_are_not_signal():
    """The kaplan_meier lesson, pinned as a unit check: every 0-row
    spelling an artifact can contain must classify as NO signal."""
    assert not row_is_signal(
        {
            "rows_match": True,
            "schema_match": True,
            "hash_match": True,
            "spark_rows": 0,
            "oracle_rows": 0,
            "err": None,
        }
    )
    assert not row_is_signal("MATCH: 0 rows")
    assert not row_is_signal("rows_only: 0 rows")
    assert not row_is_signal("MISMATCH: rowcount 3 != 4")
    assert not row_is_signal("SPARK_ERROR: boom")
    # legacy bare MATCH (pre-r9, no row count): NOT signal — the r8
    # kaplan_meier SELFCHECK rows were bare-MATCH on the empty set
    assert not row_is_signal("MATCH")
    # and the positive spellings still count
    assert row_is_signal("MATCH: 17 rows")
    assert row_is_signal("rows_only: 500 rows")
    assert row_is_signal(
        {"rows_match": True, "hash_match": True, "spark_rows": 1, "err": None}
    )


def test_zero_row_entries_need_compensating_signal():
    """Audit every committed artifact for 0-row entries. A 0-row row
    is tolerable ONLY when the same query shows rows > 0 at some
    other scale factor / round (scale-dependent emptiness — e.g.
    `decontaminate` finds no 8-gram collisions in sf0.1's doc slice,
    `join_theta_band` has no in-band pairs at sf0.001; both carry
    positive rows at the driver's sf0.01). A query whose EVERY ledger
    row is 0-row is the r8 kaplan_meier failure: green paint over an
    unsatisfiable predicate — hard fail."""
    zero_rows: dict[str, list[str]] = {}
    positive: set[str] = set()
    for path in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")) + glob.glob(
        os.path.join(REPO, "SELFCHECK_r*.json")
    ):
        with open(path) as f:
            rows = json.load(f)
        rows = rows.get("results", rows)
        for name, v in rows.items():
            is_zero = (isinstance(v, dict) and v.get("spark_rows") == 0) or (
                isinstance(v, str)
                and _ROWS_RE.match(v)
                and not row_is_signal(v)
            )
            if is_zero:
                zero_rows.setdefault(name, []).append(os.path.basename(path))
            elif row_is_signal(v):
                positive.add(name)
    all_vacuous = {n: ps for n, ps in zero_rows.items() if n not in positive}
    assert not all_vacuous, (
        f"queries with ONLY 0-row ledger entries (the kaplan_meier "
        f"failure mode): {all_vacuous}"
    )
    # the audited, explained scale-edge empties; anything new here
    # must be investigated (is the empty CORRECT at that sf?) before
    # being added
    known_scale_edges = {
        "kaplan_meier",      # r8 history only (re-specced in r9)
        "decontaminate",     # no 8-gram train/bench collision at sf0.1
        "join_theta_band",   # no in-band pairs in the 15-user sf0.001
    }
    unexplained = {n for n in zero_rows if n not in known_scale_edges}
    assert not unexplained, (
        f"unexplained 0-row ledger entries (investigate before "
        f"whitelisting): { {n: zero_rows[n] for n in unexplained} }"
    )


def test_driver_priority_covers_the_window():
    """The explicit rotation list must fully determine the window —
    if it is shorter than 50, registry order silently decides the
    tail and the rotation policy stops being authoritative."""
    from resume_jd_matcher_spark import queries as Q

    assert len(Q._DRIVER_PRIORITY) >= min(DRIVER_WINDOW, len(Q.queries())), (
        "_DRIVER_PRIORITY no longer fills the driver's window; "
        "extend it so rotation stays explicit"
    )


def test_every_window_query_has_an_oracle():
    """The driver hash-checks the first-50 window against DuckDB, so a
    rows-only query there spends a slot on a check that cannot fail.
    Rows-only names queue below the boundary."""
    from resume_jd_matcher_spark import queries as Q

    window = list(Q.queries())[:DRIVER_WINDOW]
    oracled = Q.oracle_sql()
    rows_only = [n for n in window if n not in oracled]
    assert not rows_only, (
        f"rows-only queries inside the driver's first-{DRIVER_WINDOW} "
        f"window (move them below the boundary in _DRIVER_PRIORITY): "
        f"{rows_only}"
    )
