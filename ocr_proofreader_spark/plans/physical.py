"""Physical-plan introspection helpers (SURVEY.md section 4).

The engine's scale story rests on plan shapes, not hope: the fast path
must be shuffle-free, aggregations must be partial+final, small joins must
broadcast.  These helpers let tests pin those properties so a regression
that sneaks an Exchange into the hot path fails CI."""

from __future__ import annotations

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    """Executed physical plan tree (one line per operator)."""
    return str(df._jdf.queryExecution().executedPlan())


def formatted_plan(df: DataFrame) -> str:
    import io
    from contextlib import redirect_stdout
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def count_exchanges(df: DataFrame) -> int:
    """Shuffle Exchange operators in the plan (BroadcastExchange — the
    cheap kind — excluded)."""
    return sum(1 for line in physical_plan(df).splitlines()
               if "Exchange" in line and "BroadcastExchange" not in line)


def has_partial_aggregate(df: DataFrame) -> bool:
    # partial_count / partial_min / ... = map-side combine present
    return "partial_" in physical_plan(df)


def pushed_filters(df: DataFrame) -> str:
    for line in formatted_plan(df).splitlines():
        if "PushedFilters" in line:
            return line.strip()
    return ""
