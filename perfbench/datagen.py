"""Seeded TPC-H-shaped tables, written as parquet by DuckDB.

Every value is a hash of (row, column, seed), so one seed always yields the
same files. Order dates rise with the order key, and lineitem is stored in
order-key order, so date filters prune files of the lakehouse copies the
engine writes from these tables.
"""

import os

import duckdb

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SHIPMODES = ["AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
COLORS = ["almond", "blue", "coral", "green", "ivory", "khaki", "lime", "navy",
          "olive", "peach", "plum", "rose", "tan", "violet"]
TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
CONTAINERS = ["SM BOX", "SM CASE", "MED BAG", "MED BOX", "LG CASE", "LG DRUM"]
BRANDS = ["Brand#%d%d" % (a, b) for a in range(1, 6) for b in range(1, 6)]
FIRST_DATE = "1992-01-01"
ORDER_DAYS = 2400


def _list(values):
    return "[" + ", ".join("'%s'" % v for v in values) + "]"


def _pick(values, h):
    return "(%s)[1 + (%s) %% %d]" % (_list(values), h, len(values))


def generate(out_dir, sf, seed, tables=None):
    """Write `<table>.parquet` files for scale factor `sf` into `out_dir`.

    `tables` limits the output to the named tables. Returns the row counts.
    """
    os.makedirs(out_dir, exist_ok=True)
    n_cust = int(150000 * sf)
    n_orders = int(1500000 * sf)
    n_part = int(200000 * sf)
    n_supp = max(10, int(10000 * sf))
    s = int(seed)

    def h(expr, salt):
        return "(hash(%s, %d, %d) >> 1)::BIGINT" % (expr, s, salt)

    queries = {
        "region": """
            SELECT i::BIGINT AS r_regionkey, %s[i + 1] AS r_name
            FROM range(5) t(i)""" % _list(REGIONS),
        "nation": """
            SELECT i::BIGINT AS n_nationkey, 'NATION_' || lpad(i::VARCHAR, 2, '0') AS n_name,
                   (i % 5)::BIGINT AS n_regionkey
            FROM range(25) t(i)""",
        "supplier": """
            SELECT i::BIGINT AS s_suppkey, 'Supplier#' || lpad(i::VARCHAR, 9, '0') AS s_name,
                   (%s %% 25)::BIGINT AS s_nationkey,
                   ((%s %% 1100000)::DECIMAL(12, 2) / 100 - 999.99)::DECIMAL(12, 2) AS s_acctbal
            FROM range(1, %d) t(i)""" % (h("i", 1), h("i", 2), n_supp + 1),
        "customer": """
            SELECT i::BIGINT AS c_custkey, 'Customer#' || lpad(i::VARCHAR, 9, '0') AS c_name,
                   (%s %% 25)::BIGINT AS c_nationkey,
                   round(((%s %% 1100000) / 100.0) - 999.99, 2)::DOUBLE AS c_acctbal,
                   %s AS c_mktsegment
            FROM range(1, %d) t(i)""" % (h("i", 3), h("i", 4), _pick(SEGMENTS, h("i", 5)), n_cust + 1),
        "part": """
            SELECT i::BIGINT AS p_partkey,
                   %s || ' ' || %s AS p_name,
                   %s AS p_brand,
                   %s || ' ' || %s AS p_type,
                   (1 + %s %% 50)::INTEGER AS p_size,
                   %s AS p_container,
                   ((90000 + i %% 20001 + 100 * (i %% 1000)) / 100.0)::DECIMAL(12, 2) AS p_retailprice
            FROM range(1, %d) t(i)""" % (
            _pick(COLORS, h("i", 6)), _pick(COLORS, h("i", 7)), _pick(BRANDS, h("i", 8)),
            _pick(TYPES, h("i", 9)), _pick(["ANODIZED", "BRUSHED", "PLATED", "POLISHED"], h("i", 10)),
            h("i", 11), _pick(CONTAINERS, h("i", 12)), n_part + 1),
        "orders": """
            SELECT i::BIGINT AS o_orderkey,
                   (1 + %s %% %d)::BIGINT AS o_custkey,
                   %s AS o_orderstatus,
                   ((1000 + %s %% 40000000) / 100.0)::DECIMAL(12, 2) AS o_totalprice,
                   (DATE '%s' + (((i - 1) * %d) // %d)::INTEGER) AS o_orderdate,
                   %s AS o_orderpriority,
                   (%s %% 2)::INTEGER AS o_shippriority
            FROM range(1, %d) t(i)""" % (
            h("i", 13), n_cust, _pick(["F", "O", "P"], h("i", 14)), h("i", 15), FIRST_DATE,
            ORDER_DAYS, n_orders, _pick(PRIORITIES, h("i", 16)), h("i", 17), n_orders + 1),
    }
    # lineitem: 1 to 7 lines per order, dates after the order's date
    queries["lineitem"] = """
        WITH o AS (
            SELECT i AS k, (DATE '%s' + (((i - 1) * %d) // %d)::INTEGER) AS od,
                   1 + %s %% 7 AS nlines
            FROM range(1, %d) t(i)),
        l AS (
            SELECT k, od, j, %s AS hq, %s AS hp, %s AS hs, %s AS hd, %s AS hx
            FROM o, range(1, 8) r(j) WHERE j <= nlines)
        SELECT k::BIGINT AS l_orderkey,
               (1 + hp %% %d)::BIGINT AS l_partkey,
               (1 + hs %% %d)::BIGINT AS l_suppkey,
               j::INTEGER AS l_linenumber,
               (1 + hq %% 50)::DECIMAL(12, 2) AS l_quantity,
               ((1 + hq %% 50) * (900 + hp %% 1200))::DECIMAL(12, 2) AS l_extendedprice,
               ((hd %% 11) / 100.0)::DECIMAL(12, 2) AS l_discount,
               ((hd // 11 %% 9) / 100.0)::DECIMAL(12, 2) AS l_tax,
               %s AS l_returnflag,
               CASE WHEN od + 61 > DATE '1995-06-17' THEN 'O' ELSE 'F' END AS l_linestatus,
               od + (1 + hx %% 121)::INTEGER AS l_shipdate,
               od + (30 + hx // 121 %% 61)::INTEGER AS l_commitdate,
               od + (1 + hx %% 121 + 1 + hx // 7321 %% 30)::INTEGER AS l_receiptdate,
               %s AS l_shipmode
        FROM l ORDER BY k, j""" % (
        FIRST_DATE, ORDER_DAYS, n_orders, h("i", 18), n_orders + 1,
        h("k * 8 + j", 19), h("k * 8 + j", 20), h("k * 8 + j", 21), h("k * 8 + j", 22),
        h("k * 8 + j", 23), n_part, n_supp, _pick(["A", "N", "R"], h("k * 8 + j", 24)),
        _pick(SHIPMODES, h("k * 8 + j", 25)))

    con = duckdb.connect()
    con.execute("SET threads = 2")
    counts = {}
    for name, sql in queries.items():
        if tables is not None and name not in tables:
            continue
        path = os.path.join(out_dir, name + ".parquet")
        con.execute("COPY (%s) TO '%s' (FORMAT PARQUET)" % (sql, path))
        counts[name] = con.execute("SELECT count(*) FROM '%s'" % path).fetchone()[0]
    con.close()
    return counts
