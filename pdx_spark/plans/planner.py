"""Plan-inspection helpers and the selectivity threshold.

PDX has no query optimizer; its physical adaptivity is (a) nprobe
cluster ranking and (b) a selectivity-adaptive filtered scan
(selectivity_threshold = 0.80, /root/reference/include/pdx/
searcher.hpp:57,321-345,401-409: gather-only scan under low selectivity,
full vertical scan above 20%). Our analogs:

  SELECTIVITY_THRESHOLD — Searcher._filter_mode ships the *smaller* side
                        of a predicate to the scorer: passing doc ids
                        ("allow") under low selectivity, failing doc ids
                        ("deny") under high — the F3 analog, decided from
                        a cached docs sample, never a per-batch count.
  explain_checks      — assert the physical plan really pushed filters /
                        pruned columns (used by tests + bench).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

SELECTIVITY_THRESHOLD = 0.80  # mirror reference searcher.hpp:57


def plan_string(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted")


def assert_pushed_filter(df: DataFrame, fragment: str) -> bool:
    """True if the formatted physical plan shows `fragment` inside a scan's
    PushedFilters — the check that term pruning reaches parquet."""
    s = plan_string(df)
    for line in s.splitlines():
        if "PushedFilters" in line and fragment in line:
            return True
    return False


def scan_read_schema(df: DataFrame) -> list[str]:
    """ReadSchema column lists from every parquet scan in the plan (column
    pruning check: a 2-column projection must not read 15 columns)."""
    out = []
    for line in plan_string(df).splitlines():
        if "ReadSchema" in line:
            out.append(line.strip())
    return out
