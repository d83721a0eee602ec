"""Z-order layout: Morton-key pins, the DuckDB value differential (the
r13 gate oracle), and the pruning property the layout exists for —
a rectangle predicate touches ~sqrt-fraction of Z-ordered chunks vs all
chunks under a single-column sort."""

from __future__ import annotations

from tools.verify_local import canonicalize


def test_morton_key_hand_pins(spark):
    from obadiah_spark.sources.layout import zorder_keys

    # 2-bit toy space: x=0b10, y=0b01 -> key bits x->(0,2), y->(1,3):
    # x bit0=0, x bit1=1 -> bit2; y bit0=1 -> bit1; key = 0b0110 = 6
    df = spark.createDataFrame(
        [(1, 0, 0), (2, 3, 0), (3, 0, 3), (4, 3, 3), (5, 2, 1)],
        "id long, x long, y long")
    out = {r.id: r for r in zorder_keys(df, ["x", "y"], bits=2).collect()}
    # min=0 max=3 over both cols -> buckets equal raw values
    assert (out[1].zb_x, out[1].zb_y, out[1].zkey) == (0, 0, 0)
    assert out[2].zkey == 0b0101            # x=3 -> bits 0,2
    assert out[3].zkey == 0b1010            # y=3 -> bits 1,3
    assert out[4].zkey == 0b1111
    assert out[5].zkey == 0b0110            # the worked pin above


def test_zorder_duckdb_differential(spark, sf_dir, duck):
    from pyspark.sql import functions as F

    from obadiah_spark.session import read_table
    from obadiah_spark.sources.layout import (zorder_keys,
                                              zorder_keys_oracle_sql)

    ev = (read_table(spark, sf_dir, "events")
          .select("event_id", F.unix_micros("ts").alias("ts_us"),
                  "user_id"))
    got = (zorder_keys(ev, ["ts_us", "user_id"])
           .select("event_id", "zb_ts_us", "zb_user_id", "zkey")
           .toPandas())
    duck.execute("""CREATE OR REPLACE VIEW _ev_z AS
        SELECT event_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us, user_id
        FROM events""")
    want = duck.execute(
        zorder_keys_oracle_sql(["ts_us", "user_id"], table="_ev_z")).df()
    assert canonicalize(got).equals(canonicalize(want))


def test_zorder_prunes_both_predicate_orientations(spark, sf_dir):
    """The layout property, stated as the worst case over a workload:
    chunk the table into G contiguous chunks (stand-ins for files/row
    groups) and count chunks whose min/max zone map intersects the
    predicate.  A ts-sorted layout prunes ts predicates perfectly but
    scatters user_id (a user-only predicate touches EVERY chunk);
    Z-order keeps both dimensions compact, so its WORST predicate
    orientation beats the single-sort layout's worst orientation."""
    from pyspark.sql import functions as F

    from obadiah_spark.session import read_table
    from obadiah_spark.sources.layout import zorder_keys

    ev = (read_table(spark, sf_dir, "events")
          .select("event_id", F.unix_micros("ts").alias("ts_us"),
                  "user_id"))
    pdf = zorder_keys(ev, ["ts_us", "user_id"]).toPandas()
    n_chunks = 16

    def chunks_touched(order_col, lo_ts, hi_ts, lo_u, hi_u):
        s = pdf.sort_values(order_col, kind="mergesort").reset_index(
            drop=True)
        size = (len(s) + n_chunks - 1) // n_chunks
        touched = 0
        for g in range(0, len(s), size):
            c = s.iloc[g:g + size]
            # zone-map intersection test, exactly what parquet does
            if (c.ts_us.min() <= hi_ts and c.ts_us.max() >= lo_ts
                    and c.user_id.min() <= hi_u
                    and c.user_id.max() >= lo_u):
                touched += 1
        return touched

    lo_ts, hi_ts = pdf.ts_us.quantile([0.40, 0.55])
    lo_u, hi_u = pdf.user_id.min(), pdf.user_id.min() + 1
    wide_ts = (pdf.ts_us.min(), pdf.ts_us.max())
    wide_u = (pdf.user_id.min(), pdf.user_id.max())

    # predicate A: narrow ts, all users; predicate B: two users, all ts
    ts_sorted = [chunks_touched("ts_us", lo_ts, hi_ts, *wide_u),
                 chunks_touched("ts_us", *wide_ts, lo_u, hi_u)]
    z_sorted = [chunks_touched("zkey", lo_ts, hi_ts, *wide_u),
                chunks_touched("zkey", *wide_ts, lo_u, hi_u)]
    # ts-sort is perfect on A but degenerates to a full scan on B
    assert ts_sorted[1] == n_chunks
    # z-order's worst orientation beats ts-sort's worst orientation
    assert max(z_sorted) < max(ts_sorted), (z_sorted, ts_sorted)


def test_zorder_write_roundtrip(spark, sf_dir, tmp_path):
    """zorder_write drops the layout columns and preserves the rows."""
    from pyspark.sql import functions as F

    from obadiah_spark.session import read_table
    from obadiah_spark.sources.layout import zorder_write

    ev = (read_table(spark, sf_dir, "events")
          .select("event_id", F.unix_micros("ts").alias("ts_us"),
                  "user_id"))
    path = str(tmp_path / "ev_z")
    zorder_write(ev, ["ts_us", "user_id"], path, n_files=4)
    back = spark.read.parquet(path)
    assert set(back.columns) == {"event_id", "ts_us", "user_id"}
    assert back.count() == ev.count()
    assert back.select(F.sum("event_id")).first()[0] == \
        ev.select(F.sum("event_id")).first()[0]


def test_geometry_validation():
    """bits * n_cols must fit a signed BIGINT key; both the operator
    and the oracle builder reject an overflowing layout."""
    import pytest

    from obadiah_spark.sources.layout import (zorder_keys,
                                              zorder_keys_oracle_sql)

    with pytest.raises(ValueError, match="63"):
        zorder_keys_oracle_sql(["a", "b", "c", "d"], bits=16)
    # 4 columns fit at 15 bits
    assert "zkey" in zorder_keys_oracle_sql(list("abcd"), bits=15)
    with pytest.raises(ValueError):
        zorder_keys_oracle_sql([], bits=16)


def _xy2d_ref(order_bits, x, y):
    """Independent reference xy2d (the classic iterative form)."""
    d = 0
    s = 1 << (order_bits - 1)
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x, y = s - 1 - x, s - 1 - y
            x, y = y, x
        s >>= 1
    return d


def test_hilbert_matches_reference_and_is_adjacent(spark):
    """Full 4-bit grid: every cell's hkey equals the independent xy2d,
    and consecutive keys are ALWAYS unit Manhattan steps — the locality
    property Z-order lacks (its seams jump)."""
    from obadiah_spark.sources.layout import hilbert_keys

    rows = [(i, x, y) for i, (x, y) in enumerate(
        (x, y) for x in range(16) for y in range(16))]
    df = spark.createDataFrame(rows, "id long, x long, y long")
    out = hilbert_keys(df, ["x", "y"], bits=4).collect()
    inv = {}
    for r in out:
        assert r.hkey == _xy2d_ref(4, r.zb_x, r.zb_y)
        inv[r.hkey] = (r.zb_x, r.zb_y)
    assert sorted(inv) == list(range(256))
    assert all(abs(inv[d][0] - inv[d + 1][0])
               + abs(inv[d][1] - inv[d + 1][1]) == 1 for d in range(255))
    # z-order provably jumps somewhere on the same grid
    zinv = {}
    for r in out:
        zkey = sum((((r.zb_x >> i) & 1) << (2 * i))
                   + (((r.zb_y >> i) & 1) << (2 * i + 1))
                   for i in range(4))
        zinv[zkey] = (r.zb_x, r.zb_y)
    assert any(abs(zinv[d][0] - zinv[d + 1][0])
               + abs(zinv[d][1] - zinv[d + 1][1]) > 1 for d in range(255))


def test_hilbert_duckdb_differential(spark, sf_dir, duck):
    from pyspark.sql import functions as F

    from obadiah_spark.session import read_table
    from obadiah_spark.sources.layout import (hilbert_keys,
                                              hilbert_keys_oracle_sql)

    ev = (read_table(spark, sf_dir, "events")
          .select("event_id", F.unix_micros("ts").alias("ts_us"),
                  "user_id"))
    got = (hilbert_keys(ev, ["ts_us", "user_id"])
           .select("event_id", "zb_ts_us", "zb_user_id", "hkey")
           .toPandas())
    duck.execute("""CREATE OR REPLACE VIEW _ev_h AS
        SELECT event_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us, user_id
        FROM events""")
    want = duck.execute(
        hilbert_keys_oracle_sql(["ts_us", "user_id"], table="_ev_h")).df()
    assert canonicalize(got).equals(canonicalize(want))


def test_hilbert_rejects_non_2d():
    import pytest

    from obadiah_spark.sources.layout import hilbert_keys_oracle_sql

    with pytest.raises(ValueError, match="2-D"):
        hilbert_keys_oracle_sql(["a", "b", "c"])


def test_write_hilbert_curve_roundtrip(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from obadiah_spark.session import read_table
    from obadiah_spark.sources.layout import zorder_write

    ev = (read_table(spark, sf_dir, "events")
          .select("event_id", F.unix_micros("ts").alias("ts_us"),
                  "user_id"))
    path = str(tmp_path / "ev_h")
    zorder_write(ev, ["ts_us", "user_id"], path, n_files=4,
                 curve="hilbert")
    back = spark.read.parquet(path)
    assert set(back.columns) == {"event_id", "ts_us", "user_id"}
    assert back.count() == ev.count()
    import pytest

    with pytest.raises(ValueError, match="curve"):
        zorder_write(ev, ["ts_us", "user_id"], path, curve="peano")
