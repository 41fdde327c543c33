"""The benchmark's lake: TPC-H-shaped parquet tables made from a seed.

Row counts follow TPC-H at scale factor 0.1 (lineitem 600,000 rows,
orders 150,000, ...). Every value is integer arithmetic over the row number
and the seed (a Lehmer step, below), so one seed gives byte-identical
tables on any machine. DuckDB writes the files; the engine only reads them.
"""

import os

import duckdb

ROWS = {
    "region": 5, "nation": 25, "supplier": 1_000, "customer": 15_000,
    "part": 20_000, "orders": 150_000, "lineitem": 600_000,
}

# mix(i, s): two Lehmer steps mod 2^31-1 over (row, salt); every product
# stays below 2^63, so BIGINT arithmetic is exact.
MIX = ("CREATE MACRO mix(a, b) AS "
       "((((((a * 40503 + b) % 2147483647) * 48271) % 2147483647) "
       "* 48271 + a) % 2147483647)")


def _dec(expr):
    """An integer number of cents as DECIMAL(15,2)."""
    return f"CAST(CAST(({expr}) AS DECIMAL(18,0)) * 0.01::DECIMAL(3,2) AS DECIMAL(15,2))"


def _pick(values, expr):
    arr = ", ".join(f"'{v}'" for v in values)
    return f"[{arr}][1 + ({expr}) % {len(values)}]"


def table_sql(seed):
    s = lambda k: seed * 7919 + k * 104729  # one salt per column
    n = ROWS
    return {
        "region": f"""SELECT i AS r_regionkey,
            {_pick(['AFRICA', 'AMERICA', 'ASIA', 'EUROPE', 'MIDDLE EAST'], 'i')} AS r_name
            FROM range({n['region']}) t(i)""",
        "nation": f"""SELECT i AS n_nationkey, 'NATION_' || i AS n_name,
            mix(i, {s(1)}) % 5 AS n_regionkey
            FROM range({n['nation']}) t(i)""",
        "supplier": f"""SELECT i + 1 AS s_suppkey, 'Supplier#' || lpad(CAST(i + 1 AS VARCHAR), 9, '0') AS s_name,
            mix(i, {s(2)}) % 25 AS s_nationkey,
            {_dec(f'mix(i, {s(3)}) % 1100000 - 100000')} AS s_acctbal
            FROM range({n['supplier']}) t(i)""",
        "customer": f"""SELECT i + 1 AS c_custkey, 'Customer#' || lpad(CAST(i + 1 AS VARCHAR), 9, '0') AS c_name,
            mix(i, {s(4)}) % 25 AS c_nationkey,
            {_pick(['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD', 'MACHINERY'], f'mix(i, {s(5)})')} AS c_mktsegment,
            {_dec(f'mix(i, {s(6)}) % 1100000 - 100000')} AS c_acctbal
            FROM range({n['customer']}) t(i)""",
        "part": f"""SELECT i + 1 AS p_partkey, 'part ' || (i + 1) AS p_name,
            'Brand#' || (1 + mix(i, {s(7)}) % 5) || (1 + mix(i, {s(8)}) % 5) AS p_brand,
            CAST(1 + mix(i, {s(9)}) % 50 AS INTEGER) AS p_size,
            {_dec(f'90000 + mix(i, {s(10)}) % 110000')} AS p_retailprice
            FROM range({n['part']}) t(i)""",
        "orders": f"""SELECT i + 1 AS o_orderkey, 1 + mix(i, {s(11)}) % {n['customer']} AS o_custkey,
            {_pick(['F', 'O', 'P'], f'mix(i, {s(12)})')} AS o_orderstatus,
            {_dec(f'100000 + mix(i, {s(13)}) % 50000000')} AS o_totalprice,
            DATE '1992-01-01' + CAST(mix(i, {s(14)}) % 2400 AS INTEGER) AS o_orderdate,
            {_pick(['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'], f'mix(i, {s(15)})')} AS o_orderpriority
            FROM range({n['orders']}) t(i)""",
        "lineitem": f"""SELECT 1 + mix(i, {s(16)}) % {n['orders']} AS l_orderkey,
            1 + mix(i, {s(17)}) % {n['part']} AS l_partkey,
            1 + mix(i, {s(18)}) % {n['supplier']} AS l_suppkey,
            CAST(1 + i % 7 AS INTEGER) AS l_linenumber,
            {_dec(f'100 * (1 + mix(i, {s(19)}) % 50)')} AS l_quantity,
            {_dec(f'90000 + mix(i, {s(20)}) % 10400000')} AS l_extendedprice,
            {_dec(f'mix(i, {s(21)}) % 11')} AS l_discount,
            {_dec(f'mix(i, {s(22)}) % 9')} AS l_tax,
            {_pick(['A', 'N', 'R'], f'mix(i, {s(23)})')} AS l_returnflag,
            {_pick(['F', 'O'], f'mix(i, {s(24)})')} AS l_linestatus,
            DATE '1992-01-02' + CAST(mix(i, {s(25)}) % 2500 AS INTEGER) AS l_shipdate,
            {_pick(['AIR', 'FOB', 'MAIL', 'RAIL', 'REG AIR', 'SHIP', 'TRUCK'], f'mix(i, {s(26)})')} AS l_shipmode
            FROM range({n['lineitem']}) t(i)""",
    }


def generate(out_dir, seed):
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        con.execute(MIX)
        for name, sql in table_sql(seed).items():
            path = os.path.join(out_dir, f"{name}.parquet")
            con.execute(f"COPY ({sql}) TO '{path}' (FORMAT PARQUET)")
    finally:
        con.close()
