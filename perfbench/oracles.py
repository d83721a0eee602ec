"""DuckDB oracle checks over the same generated ``events`` file.

Each check runs the library's own ``*_oracle_sql`` builder, wrapped by
``synth.level3_matches_cte`` so that DuckDB derives level3 and matches
from the raw events itself, and compares with ``tools/verify_local.compare``
(schema, dtype kinds, row count and order-insensitive values). Checks run
after the timed region.
"""

from __future__ import annotations

import duckdb

from obadiah_spark.operators.depth import (
    get_depth_oracle_sql, get_spread_oracle_sql, spread_at_oracle_sql)
from obadiah_spark.operators.events import events_oracle_sql, trades_oracle_sql
from obadiah_spark.operators.matching import inferred_trades_oracle_sql
from obadiah_spark.operators.order_book import order_book_oracle_sql
from obadiah_spark.operators.resample import queues_oracle_sql
from obadiah_spark.operators.trading import trading_strategy_mid_oracle_sql
from obadiah_spark.synth import level3_matches_cte
from tools.verify_local import compare

# trading-strategy commission (a log return) shared by the engine call
# and its oracle
STRATEGY_PHI = 0.0001


def oracle_sql(kind: str, start: str | None = None,
               end: str | None = None) -> str:
    """The oracle query for one operation kind (and its window)."""
    body = {
        "order_book": lambda: order_book_oracle_sql(start),
        "spread_at": lambda: spread_at_oracle_sql(start),
        "get_spread": lambda: get_spread_oracle_sql(start, end),
        "get_depth": lambda: get_depth_oracle_sql(start, end),
        "get_events": lambda: events_oracle_sql(start, end),
        "get_trades": lambda: trades_oracle_sql(start, end),
        "queues": queues_oracle_sql,
        "trading_strategy": lambda: trading_strategy_mid_oracle_sql(
            phi=STRATEGY_PHI),
    }[kind]()
    return level3_matches_cte(body)


class Oracle:
    """One DuckDB database with ``events`` bound to the generated file."""

    def __init__(self, events_path: str):
        if "'" in events_path:
            raise ValueError(f"unsupported path {events_path!r}")
        self.con = duckdb.connect()
        self.con.execute("CREATE VIEW events AS SELECT * FROM "
                         f"read_parquet('{events_path}')")

    def _query(self, sql: str):
        cur = self.con.cursor()
        try:
            return cur.execute(sql).df()
        finally:
            cur.close()

    def trade_count(self) -> int:
        """Number of inferred trades in the log (the sweep's input)."""
        return int(self._query(level3_matches_cte(
            f"SELECT count(*) AS n FROM ({inferred_trades_oracle_sql()}) t")
        )["n"][0])

    def check_all(self, checks: list) -> None:
        """Run the oracle of every ``(op, kind, got)`` check, a few at a
        time, and add each mismatch to its op's problems. ``got`` is a
        pandas frame or a callable returning one."""
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=4) as pool:
            wants = [pool.submit(self._query, oracle_sql(kind, op.start, op.end))
                     for op, kind, _ in checks]
            for (op, kind, got), want in zip(checks, wants):
                try:
                    got = got() if callable(got) else got
                    op.problems += compare(f"{op.kind}/{kind}", got,
                                           want.result())
                except Exception as e:  # noqa: BLE001 - counted as a failure
                    op.problems.append(
                        f"check raised {type(e).__name__}: {e}")

    def close(self) -> None:
        self.con.close()

    def __enter__(self):
        return self

    def __exit__(self, *exc) -> None:
        self.close()
