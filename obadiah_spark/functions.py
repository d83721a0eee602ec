"""Scalar/utility functions (SURVEY §2.8).

Reference parity:
- F5 ``obanalytics._level3_uuid`` — md5 of (ts, order_id, event_no, pair,
  exchange) (reference db/obanalytics_schema.sql:909-911). We hash epoch-µs
  text with '#' separators so Spark and DuckDB produce identical digests.
- F9 bps-return: ``(exp(±log_return)−1)*±10⁴`` (reference R/obanalytics.R:809-810).

All are pure Column expressions — JVM-side, codegen-friendly, no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def level3_uuid(ts: Column, order_id: Column, event_no: Column,
                pair_id: Column, exchange_id: Column) -> Column:
    """F5: deterministic event UUID (md5 hex) — identical text on DuckDB via
    ``level3_uuid_sql``."""
    return F.md5(F.concat_ws(
        "#",
        F.unix_micros(ts).cast("string"),
        order_id.cast("string"),
        event_no.cast("string"),
        pair_id.cast("string"),
        exchange_id.cast("string"),
    ))


def level3_uuid_sql(ts: str, order_id: str, event_no: str,
                    pair_id: str, exchange_id: str) -> str:
    """DuckDB text equivalent of ``level3_uuid`` (epoch_us == unix_micros)."""
    return (
        "md5(concat_ws('#', "
        f"CAST(epoch_us({ts}) AS VARCHAR), CAST({order_id} AS VARCHAR), "
        f"CAST({event_no} AS VARCHAR), CAST({pair_id} AS VARCHAR), "
        f"CAST({exchange_id} AS VARCHAR)))"
    )


_MAX_RANGE_US = (31 * 24 * 3600 + 60) * 1_000_000  # one month + one minute


def validate_parameters(start: str, end: str) -> None:
    """F6 ``get._validate_parameters``: reject query ranges longer than one
    month + one minute (reference db/get_schema.sql:150-159)."""
    import datetime as _dt

    s = _dt.datetime.fromisoformat(start)
    e = _dt.datetime.fromisoformat(end)
    if e < s:
        raise ValueError(f"end {end!r} precedes start {start!r}")
    if (e - s).total_seconds() * 1_000_000 > _MAX_RANGE_US:
        raise ValueError(
            f"requested range {start!r}..{end!r} exceeds one month + one minute"
        )


def bps_return(log_return: Column, sign: Column) -> Column:
    """F9: ``(exp(±log_return) − 1) * ±10⁴`` where sign = +1 long / −1 short."""
    return (F.exp(log_return * sign) - F.lit(1.0)) * sign * F.lit(10000.0)
