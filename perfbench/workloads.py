"""The workloads: each builds a driver plan from a seed and checks the
driver's answers against DuckDB over the same parquet files.

An op is one statement or one micro-batch. Ops carry a `group`: `read` for
row-returning statements, `write` for micro-batches. The op order of every
workload is fixed and only the parameters come from the seed, so every seed
runs the same mix.
"""

import datetime
import json
import random

import duckdb

import datagen

DAY0 = datetime.date(1992, 1, 1)


def _date(d):
    return d.isoformat()


def _days(rng, lo, hi):
    """A date `lo`..`hi` days after the first order date."""
    return DAY0 + datetime.timedelta(days=rng.randint(lo, hi))


def op(kind, group, sql="", check=True, **extra):
    o = {"kind": kind, "group": group, "sql": " ".join(sql.split()), "check": check}
    o.update(extra)
    return o


# warm-up length in cycles of a workload's op pattern: one cycle leaves the
# first timed cycle still measurably slower while the JIT catches up
WARMUP_CYCLES = 2


class Workload:
    name = ""
    sf = 0.1
    tables = ()
    # the percentile op_tail_ms reports: the highest with at least ten
    # samples beyond it at the op count a run of this workload reaches
    tail_pct = 90
    # the timed loop ends on a multiple of this many ops
    cycle = 1

    def __init__(self, seed, data_dir):
        self.seed = seed
        self.data = data_dir
        self.rng = random.Random("%s:%d" % (self.name, seed))

    def generate_data(self):
        return datagen.generate(self.data, self.sf, self.seed, self.tables)

    def parquet(self, table):
        return "%s/%s.parquet" % (self.data, table)

    def attach_parquet(self, names):
        return [{"attach": alias, "format": "parquet", "files": self.parquet(table)}
                for alias, table in names]

    def duck_views(self, con):
        for t in self.tables:
            con.execute("CREATE OR REPLACE VIEW %s AS SELECT * FROM read_parquet('%s')"
                        % (t, self.parquet(t)))

    def expected_table(self, name):
        """DuckDB query for the rows lakehouse table `name` must hold after
        the run; `check` leaves a same-named DuckDB table where it replays."""
        return "SELECT * FROM " + name


# ---------------------------------------------------------------- olap_scan

FORMATS = [("", ""), ("_d", "delta"), ("_i", "iceberg")]


def _olap_templates(rng):
    """(name, engine SQL with {L}/{O} placeholders) for one draw of params."""
    seg = rng.choice(datagen.SEGMENTS)
    region = rng.choice(datagen.REGIONS)
    y = rng.randint(1993, 1997)
    d = _days(rng, 1100, 1300)
    m = datetime.date(rng.randint(1993, 1997), rng.randint(1, 12), 1)
    m2 = (m + datetime.timedelta(days=32)).replace(day=1)
    disc = rng.randint(2, 9) / 100.0
    w1 = _days(rng, 200, 2000)
    w2 = w1 + datetime.timedelta(days=rng.randint(60, 240))
    t1 = _days(rng, 0, 2300)
    t2 = t1 + datetime.timedelta(days=rng.randint(20, 90))
    return [
        ("q01_pricing", """
            SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
                   sum(l_extendedprice) AS sum_base_price,
                   sum(l_extendedprice * (1 - l_discount)) AS sum_disc_price,
                   sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS sum_charge,
                   avg(l_quantity) AS avg_qty, avg(l_discount) AS avg_disc, count(*) AS count_order
            FROM {L} WHERE l_shipdate <= DATE '%s'
            GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"""
         % _date(_days(rng, 1800, 2450))),
        ("q03_shipping", """
            SELECT l_orderkey, sum(l_extendedprice * (1 - l_discount)) AS revenue,
                   o_orderdate, o_shippriority
            FROM customer, {O}, {L}
            WHERE c_mktsegment = '%s' AND c_custkey = o_custkey AND l_orderkey = o_orderkey
              AND o_orderdate < DATE '%s' AND l_shipdate > DATE '%s'
            GROUP BY l_orderkey, o_orderdate, o_shippriority
            ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10""" % (seg, _date(d), _date(d))),
        ("q06_forecast", """
            SELECT sum(l_extendedprice * l_discount) AS revenue FROM {L}
            WHERE l_shipdate >= DATE '%d-01-01' AND l_shipdate < DATE '%d-01-01'
              AND l_discount BETWEEN %.2f AND %.2f AND l_quantity < %d"""
         % (y, y + 1, disc - 0.01, disc + 0.01, rng.randint(20, 30))),
        ("q08_market_share", """
            SELECT o_year, sum(CASE WHEN nation = '%s' THEN volume ELSE 0 END) / sum(volume) AS mkt_share
            FROM (SELECT year(o_orderdate) AS o_year, l_extendedprice * (1 - l_discount) AS volume,
                         n2.n_name AS nation
                  FROM part, supplier, {L}, {O}, customer, nation n1, nation n2, region
                  WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey AND l_orderkey = o_orderkey
                    AND o_custkey = c_custkey AND c_nationkey = n1.n_nationkey
                    AND n1.n_regionkey = r_regionkey AND r_name = '%s'
                    AND s_nationkey = n2.n_nationkey
                    AND o_orderdate BETWEEN DATE '1995-01-01' AND DATE '1996-12-31'
                    AND p_type LIKE '%s%%') AS all_nations
            GROUP BY o_year ORDER BY o_year"""
         % ("NATION_%02d" % rng.randint(0, 24), region, rng.choice(datagen.TYPES))),
        ("q14_promo", """
            SELECT 100.00 * sum(CASE WHEN p_type LIKE 'PROMO%%'
                                     THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
                   / sum(l_extendedprice * (1 - l_discount)) AS promo_revenue
            FROM {L}, part
            WHERE l_partkey = p_partkey AND l_shipdate >= DATE '%s' AND l_shipdate < DATE '%s'"""
         % (_date(m), _date(m2))),
        ("q17_small_quantity", """
            SELECT sum(l_extendedprice) / 7.0 AS avg_yearly FROM {L}, part
            WHERE p_partkey = l_partkey AND p_brand = '%s' AND p_container = '%s'
              AND l_quantity < (SELECT 0.2 * avg(l_quantity) FROM {L} WHERE l_partkey = p_partkey)"""
         % (rng.choice(datagen.BRANDS), rng.choice(datagen.CONTAINERS))),
        ("w01_top_customers", """
            SELECT c_mktsegment, o_custkey, total, rn
            FROM (SELECT c_mktsegment, o_custkey, sum(o_totalprice) AS total,
                         row_number() OVER (PARTITION BY c_mktsegment
                                            ORDER BY sum(o_totalprice) DESC, o_custkey) AS rn
                  FROM {O} JOIN customer ON c_custkey = o_custkey
                  WHERE o_orderdate >= DATE '%s' AND o_orderdate < DATE '%s'
                  GROUP BY c_mktsegment, o_custkey) AS r
            WHERE rn <= 5 ORDER BY c_mktsegment, rn""" % (_date(w1), _date(w2))),
        ("t01_top_orders", """
            SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate FROM {O}
            WHERE o_orderdate >= DATE '%s' AND o_orderdate < DATE '%s' AND o_orderpriority = '%s'
            ORDER BY o_totalprice DESC, o_orderkey LIMIT 20"""
         % (_date(t1), _date(t2), rng.choice(datagen.PRIORITIES))),
        ("m01_lakehouse_stats", """
            SELECT count(*) AS n, min(l_shipdate) AS first_ship, max(l_shipdate) AS last_ship,
                   max(l_quantity) AS top_qty
            FROM {L}"""),
    ]


class OlapScan(Workload):
    """Analytic SELECTs over parquet foreign tables and Delta and Iceberg
    copies of lineitem and orders. Op j runs template j mod 9, and a window
    holds whole cycles of the nine templates. The count/min/max template
    (the metadata-aggregate path) runs on a lakehouse copy only."""
    name = "olap_scan"
    sf = 0.01
    tables = ("region", "nation", "supplier", "customer", "part", "orders", "lineitem")
    tail_pct = 60
    cycle = 9

    def _op(self, j, rng):
        templates = _olap_templates(rng)
        name, sql = templates[j % len(templates)]
        # the format shifts by one each cycle, so every template meets every format
        suffix = FORMATS[(j + j // len(templates)) % len(FORMATS)][0]
        kind = "select"
        if name.startswith("m01"):
            kind, suffix = "metaagg", suffix or "_d"
        return op(kind, "read", sql.replace("{L}", "lineitem" + suffix)
                  .replace("{O}", "orders" + suffix), template=name,
                  duck=" ".join(sql.replace("{L}", "lineitem").replace("{O}", "orders").split()))

    def plan(self, n_ops, run_dir):
        setup = self.attach_parquet((t, t) for t in self.tables)
        for base in ("lineitem", "orders"):
            for suffix, fmt in FORMATS[1:]:
                setup.append({"sql": "COPY (SELECT * FROM %s) TO '{fx}/%s%s' (FORMAT %s)"
                                     % (base, base, suffix, fmt)})
                setup.append({"attach": base + suffix, "format": fmt,
                              "files": "{fx}/%s%s" % (base, suffix)})
        warm = random.Random("%s:warm:%d" % (self.name, self.seed))
        warmup = [self._op(j, warm) for j in range(WARMUP_CYCLES * self.cycle)]
        ops = [self._op(j, self.rng) for j in range(n_ops)]
        lake = [{"name": b + s, "format": f, "root": b + s}
                for b in ("lineitem", "orders") for s, f in FORMATS[1:]]
        return {"setup": setup, "warmup": warmup, "ops": ops, "lakehouse": lake}

    def check(self, con, plan, result):
        return check_selects(con, plan, result, lambda o: o["duck"])

    def expected_table(self, name):
        return "SELECT * FROM " + name.rsplit("_", 1)[0]


# ----------------------------------------------------------- answer checks

def _norm(v):
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    if isinstance(v, bool) or v is None or isinstance(v, str):
        return v
    return float(v)


def same_rows(got, want):
    """Ordered row lists equal, numbers within 1e-5 absolute plus 1e-9
    relative (engine decimals arrive as doubles; DuckDB averages as doubles)."""
    if len(got) != len(want):
        return "row count %d, expected %d" % (len(got), len(want))
    for i, (g, w) in enumerate(zip(got, want)):
        if len(g) != len(w):
            return "row %d has %d columns, expected %d" % (i, len(g), len(w))
        for a, b in zip(g, [_norm(x) for x in w]):
            if isinstance(b, float) and isinstance(a, (int, float)) and not isinstance(a, bool):
                if abs(a - b) > 1e-5 + 1e-9 * abs(b):
                    return "row %d: %r, expected %r" % (i, g, w)
            elif a != b:
                return "row %d: %r, expected %r" % (i, g, w)
    return None


def check_selects(con, plan, result, duck_sql):
    """Checks every executed op that has `check` against DuckDB, one query per
    distinct statement. Returns {op index: mismatch}."""
    cache = {}
    bad = {}
    for rec in result["ops"]:
        o = plan["ops"][rec["i"]]
        if "err" in rec or not o.get("check") or "rows" not in rec:
            continue
        sql = duck_sql(o)
        if sql is None:
            continue
        if sql not in cache:
            cache[sql] = con.execute(sql).fetchall()
        why = same_rows(rec["rows"], cache[sql])
        if why:
            bad[rec["i"]] = why
    return bad


def table_diff(con, dump, want_sql):
    """Rows in the re-attached dump but not expected, and the reverse."""
    got = "read_parquet('%s/*.parquet')" % dump
    extra = con.execute("SELECT count(*) FROM (SELECT * FROM %s EXCEPT ALL %s)"
                        % (got, want_sql)).fetchone()[0]
    missing = con.execute("SELECT count(*) FROM (%s EXCEPT ALL SELECT * FROM %s)"
                          % (want_sql, got)).fetchone()[0]
    if extra or missing:
        return "%d rows not expected, %d expected rows missing" % (extra, missing)
    return None


# ------------------------------------------------------------ stream_upsert

SINKS = (("cust_sd", "delta"), ("cust_si", "iceberg"))
# sink of each op in one cycle: an Iceberg batch costs about half a Delta
# batch, so two Iceberg batches per Delta batch give both sinks about the same
# share of the window, and the median op falls inside one sink's latencies
# rather than between the two
STREAM_PATTERN = (0, 1, 1)


class StreamUpsert(Workload):
    """Change batches of BATCH rows: BATCH * 4 / 5 updates of distinct
    existing keys and the rest new keys. Each op feeds its own batch to the
    sink STREAM_PATTERN names, and a window holds whole cycles of it."""
    name = "stream_upsert"
    sf = 0.01
    tables = ("customer",)
    tail_pct = 50
    cycle = len(STREAM_PATTERN)
    BATCH = 200

    def plan(self, n_ops, run_dir):
        batch_file = run_dir + "/batches.json"
        con = duckdb.connect()
        seed_rows = con.execute("SELECT c_custkey, c_acctbal, c_mktsegment FROM read_parquet('%s') "
                                "ORDER BY c_custkey" % self.parquet("customer")).fetchall()
        con.close()
        keys = [r[0] for r in seed_rows]
        next_key = 10000000
        batches = []
        n_warm = WARMUP_CYCLES * self.cycle
        for _ in range(n_warm + n_ops):
            upd = self.rng.sample(keys, self.BATCH * 4 // 5)
            new = list(range(next_key, next_key + self.BATCH - len(upd)))
            next_key += len(new)
            batches.append([[k, self.rng.randint(-99999, 999999) / 100.0, self.rng.choice(datagen.SEGMENTS)]
                            for k in upd + new])
        with open(batch_file, "w") as f:
            json.dump({"seed": [list(r) for r in seed_rows], "batches": batches}, f)
        self.batches = batches
        targets = [SINKS[STREAM_PATTERN[j % self.cycle]] for j in range(n_warm + n_ops)]
        ops = [op("batch", "write", batch=j, table=table, strategy="stream_" + fmt, check=False)
               for j, (table, fmt) in enumerate(targets)]
        sinks = [{"name": n, "format": f, "root": n} for n, f in SINKS]
        return {"setup": [], "warmup": ops[:n_warm], "ops": ops[n_warm:],
                "lakehouse": sinks, "stream": {"batches": batch_file, "sinks": sinks}}

    def check(self, con, plan, result):
        """Replays the upserts each sink received (MERGE as UPDATE+INSERT, as
        DuckDB 1.0 has no MERGE) and records rows changed per batch."""
        for name, _ in SINKS:
            con.execute("CREATE TABLE %s AS SELECT c_custkey, c_acctbal, c_mktsegment FROM customer"
                        % name)
        self.rows_changed = {}

        def apply(o):
            con.execute("CREATE OR REPLACE TEMP TABLE b (c_custkey BIGINT, c_acctbal DOUBLE, "
                        "c_mktsegment VARCHAR)")
            con.executemany("INSERT INTO b VALUES (?, ?, ?)", self.batches[o["batch"]])
            con.execute("UPDATE %s t SET c_acctbal = b.c_acctbal, c_mktsegment = b.c_mktsegment "
                        "FROM b WHERE t.c_custkey = b.c_custkey" % o["table"])
            con.execute("INSERT INTO %s SELECT * FROM b WHERE NOT EXISTS "
                        "(SELECT 1 FROM %s t WHERE t.c_custkey = b.c_custkey)" % (o["table"], o["table"]))
            return len(self.batches[o["batch"]])

        for o in plan["warmup"]:
            apply(o)
        for rec in result["ops"]:
            if "err" not in rec:
                self.rows_changed[rec["i"]] = apply(plan["ops"][rec["i"]])
        return {}


WORKLOADS = {w.name: w for w in (OlapScan, StreamUpsert)}
