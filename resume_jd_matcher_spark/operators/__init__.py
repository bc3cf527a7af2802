"""Operator library: every module exposes plain
``DataFrame -> DataFrame`` functions (no custom plan nodes, no
wrappers around Spark's API — SURVEY.md §7)."""
