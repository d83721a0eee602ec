"""Property-based check of the fold's in-memory book (_Book): the
heap-backed incremental structure must agree with a brute-force
recomputation after EVERY event, under adversarial add/amend/delete
sequences (SURVEY §5 extends the reference's fixture-only test story with
randomized coverage; the reference has no property tests)."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from obadiah_spark.fold import _Book

event = st.tuples(
    st.integers(min_value=1, max_value=8),                  # order_id
    st.sampled_from(["b", "s"]),                            # side
    st.sampled_from([99.0, 99.5, 100.0, 100.5, 101.0]),     # price
    st.sampled_from([0.25, 0.5, 1.0, 2.0]),                 # amount
    st.booleans(),                                          # delete?
)


def _brute(orders):
    levels: dict = {}
    for side, price, amount in orders.values():
        levels[(side, price)] = levels.get((side, price), 0.0) + amount
    levels = {k: v for k, v in levels.items() if abs(v) > 1e-12}
    bids = [p for (s, p) in levels if s == "b"]
    asks = [p for (s, p) in levels if s == "s"]
    bb = max(bids) if bids else None
    ba = min(asks) if asks else None
    return (levels,
            (bb, levels.get(("b", bb)) if bb is not None else None),
            (ba, levels.get(("s", ba)) if ba is not None else None))


@settings(max_examples=200, deadline=None)
@given(st.lists(event, min_size=1, max_size=60))
def test_book_matches_brute_force(events):
    book = _Book()
    orders: dict = {}
    for oid, side, price, amount, delete in events:
        book.apply(oid, side, price, amount, delete)
        if delete:
            orders.pop(oid, None)
        else:
            orders[oid] = (side, price, amount)
        levels, (bb, bbq), (ba, baq) = _brute(orders)
        assert {k: v for k, v in book.levels.items()} == levels
        gb = book.best("b")
        gs = book.best("s")
        assert gb == (bb, bbq) if bb is not None else gb == (None, None)
        assert gs == (ba, baq) if ba is not None else gs == (None, None)
