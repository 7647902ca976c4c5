"""Rounded revenue totals are exact: q5_region_volume, q10_returned_items
and promo_bracket_revenue's bracket_revenue row sum each row's
``l_extendedprice * (1 - l_discount)`` as DECIMAL(30,10) before rounding
half-up, on the Spark side and in the DuckDB oracle alike.

The fixture's two line items have exact revenues 408123.04 and
397288.765, summing to exactly 805411.805 (which rounds to 805411.81),
while their double sum is 805411.8049999999 (which rounds to
805411.80)."""

from __future__ import annotations

from datetime import datetime

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

from stock_bars_data_engineering_project_spark.plans.tpch import (
    promo_bracket_revenue,
    q5_region_volume,
    q10_returned_items,
)

EXACT = 805411.81
PRICES = (429603.2, 418198.7)  # both at l_discount 0.05


def _write_fixture(root) -> str:
    us = pa.timestamp("us")
    lineitem_rows = []
    # order 1: q5's 1999 window and the Brand#12 bracket (quantity 5);
    # order 2: q10's returned items, outside the bracket (quantity 50)
    for orderkey, qty, flag, ship in (
        (1, 5.0, "N", datetime(1999, 6, 2)),
        (2, 50.0, "R", datetime(2000, 3, 5)),
    ):
        for line, price in enumerate(PRICES, 1):
            lineitem_rows.append(
                (orderkey, 1, 1, line, qty, price, 0.05, 0.0, flag, "F", ship)
            )
    tables = {
        "region": (
            [("r_regionkey", pa.int32()), ("r_name", pa.string())],
            [(0, "ASIA")],
        ),
        "nation": (
            [("n_nationkey", pa.int32()), ("n_name", pa.string()),
             ("n_regionkey", pa.int32())],
            [(1, "JAPAN", 0)],
        ),
        "customer": (
            [("c_custkey", pa.int64()), ("c_name", pa.string()),
             ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
             ("c_mktsegment", pa.string())],
            [(1, "Customer#1", 1, 0.0, "BUILDING")],
        ),
        "supplier": (
            [("s_suppkey", pa.int64()), ("s_name", pa.string()),
             ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64())],
            [(1, "Supplier#1", 1, 0.0)],
        ),
        "part": (
            [("p_partkey", pa.int64()), ("p_name", pa.string()),
             ("p_brand", pa.string()), ("p_type", pa.string()),
             ("p_size", pa.int32()), ("p_retailprice", pa.float64())],
            [(1, "part 1", "Brand#12", "PROMO", 5, 1.0)],
        ),
        "orders": (
            [("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
             ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
             ("o_orderdate", us), ("o_orderpriority", pa.string())],
            [(1, 1, "F", 0.0, datetime(1999, 6, 1), "1-URGENT"),
             (2, 1, "F", 0.0, datetime(2000, 3, 1), "1-URGENT")],
        ),
        "lineitem": (
            [("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
             ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
             ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
             ("l_discount", pa.float64()), ("l_tax", pa.float64()),
             ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
             ("l_shipdate", us)],
            lineitem_rows,
        ),
    }
    for name, (fields, rows) in tables.items():
        schema = pa.schema(fields)
        cols = list(zip(*rows))
        pq.write_table(
            pa.Table.from_arrays(
                [pa.array(c, type=f.type) for c, f in zip(cols, schema)],
                schema=schema,
            ),
            root / f"{name}.parquet",
        )
    return str(root)


def test_revenue_totals_round_the_exact_sum(spark, tmp_path):
    # the fixture's premise: its double sum lies below the exact .805
    assert sum(p * (1 - 0.05) for p in PRICES) == 805411.8049999999
    sf = _write_fixture(tmp_path)
    [q5] = q5_region_volume(spark, sf).collect()
    assert (q5.n_name, q5.revenue) == ("JAPAN", EXACT)
    [q10] = q10_returned_items(spark, sf).collect()
    assert (q10.c_custkey, q10.revenue) == (1, EXACT)
    got = {r.metric: r.value for r in promo_bracket_revenue(spark, sf).collect()}
    assert got["bracket_revenue"] == EXACT

    import __spark_entry__ as entrymod

    oracles = entrymod.oracle_sql()
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')"
        )
    assert con.sql(oracles["q5_region_volume"]).fetchall() == [("JAPAN", EXACT)]
    assert con.sql(oracles["q10_returned_items"]).fetchall() == [
        (1, "Customer#1", EXACT, "JAPAN")
    ]
    bracket = dict(con.sql(oracles["promo_bracket_revenue"]).fetchall())
    assert bracket["bracket_revenue"] == EXACT
    assert bracket["promo_pct"] == got["promo_pct"]
