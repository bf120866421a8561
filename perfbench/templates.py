"""The eight parameterised Datalog query templates and their DuckDB
oracles.

Each template has ``params(rng)`` (a seeded parameter draw), ``build(t,
p)`` (the ``q(...)`` query over the source DataFrames in ``t``) and
``sql(p)`` (the oracle over the same parquet files).  Outputs carry no
rounding on either side; the checker compares floats with a relative
tolerance instead.
"""

from __future__ import annotations

import datetime as dt

from cascalog_spark import c, column_op, q
from pyspark.sql import functions as F

from datagen import PART_TYPES, PRIORITIES, REGIONS, SEGMENTS


def _d(year: int, month: int = 1, day: int = 1) -> dt.datetime:
    return dt.datetime(year, month, day)


def _lit(v: dt.datetime) -> str:
    return f"TIMESTAMP '{v:%Y-%m-%d %H:%M:%S}'"


# -- Q1 pricing summary ------------------------------------------------------

def q1_params(r):
    return {"cutoff": _d(2001, 9, 1) - dt.timedelta(
        days=int(r.integers(60, 900)))}


def q1_build(t, p):
    return q(["?l_returnflag", "?l_linestatus", "?sum_qty", "?sum_base_price",
              "?sum_disc_price", "?avg_qty", "?avg_price", "?count_order"],
             (t["lineitem"], {"l_returnflag": "?l_returnflag",
                              "l_linestatus": "?l_linestatus",
                              "l_quantity": "?qty",
                              "l_extendedprice": "?price",
                              "l_discount": "?disc", "l_shipdate": "?sd"}),
             (c.lte, "?sd", p["cutoff"]),
             (c.sub, 1.0, "?disc", ":>", "?dfrac"),
             (c.mult, "?price", "?dfrac", ":>", "?dprice"),
             (c.sum_agg, "?qty", ":>", "?sum_qty"),
             (c.sum_agg, "?price", ":>", "?sum_base_price"),
             (c.sum_agg, "?dprice", ":>", "?sum_disc_price"),
             (c.avg, "?qty", ":>", "?avg_qty"),
             (c.avg, "?price", ":>", "?avg_price"),
             (c.count, "?count_order"))


def q1_sql(p):
    return f"""
        SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
               sum(l_extendedprice) AS sum_base_price,
               sum(l_extendedprice * (1.0 - l_discount)) AS sum_disc_price,
               avg(l_quantity) AS avg_qty, avg(l_extendedprice) AS avg_price,
               count(*) AS count_order
        FROM lineitem WHERE l_shipdate <= {_lit(p['cutoff'])}
        GROUP BY l_returnflag, l_linestatus"""


# -- Q5 local supplier volume -----------------------------------------------

def q5_params(r):
    return {"region": REGIONS[r.integers(0, 5)],
            "year": int(r.integers(1995, 2001))}


def q5_build(t, p):
    return q(["?n_name", "?revenue"],
             (t["lineitem"], {"l_orderkey": "?ok", "l_suppkey": "?sk",
                              "l_extendedprice": "?price",
                              "l_discount": "?disc"}),
             (t["orders"], {"o_orderkey": "?ok", "o_custkey": "?ck",
                            "o_orderdate": "?od"}),
             (c.gte, "?od", _d(p["year"])),
             (c.lt, "?od", _d(p["year"] + 1)),
             (t["customer"], {"c_custkey": "?ck", "c_nationkey": "?nk"}),
             (t["supplier"], {"s_suppkey": "?sk", "s_nationkey": "?nk"}),
             (t["nation"], {"n_nationkey": "?nk", "n_name": "?n_name",
                            "n_regionkey": "?rk"}),
             (t["region"], {"r_regionkey": "?rk", "r_name": "?rn"}),
             (c.eq, "?rn", p["region"]),
             (c.sub, 1.0, "?disc", ":>", "?dfrac"),
             (c.mult, "?price", "?dfrac", ":>", "?rev"),
             (c.sum_agg, "?rev", ":>", "?revenue"))


def q5_sql(p):
    return f"""
        SELECT n_name, sum(l_extendedprice * (1.0 - l_discount)) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = '{p['region']}'
          AND o_orderdate >= {_lit(_d(p['year']))}
          AND o_orderdate < {_lit(_d(p['year'] + 1))}
        GROUP BY n_name"""


# -- revenue per nation ------------------------------------------------------

def rev_params(r):
    return {"segment": SEGMENTS[r.integers(0, 5)],
            "year": int(r.integers(1995, 2000))}


def rev_build(t, p):
    return q(["?n_name", "?revenue"],
             (t["lineitem"], {"l_orderkey": "?ok", "l_extendedprice": "?price",
                              "l_discount": "?disc"}),
             (t["orders"], {"o_orderkey": "?ok", "o_custkey": "?ck",
                            "o_orderdate": "?od"}),
             (c.gte, "?od", _d(p["year"])),
             (c.lt, "?od", _d(p["year"] + 2)),
             (t["customer"], {"c_custkey": "?ck", "c_nationkey": "?nk",
                              "c_mktsegment": "?seg"}),
             (c.eq, "?seg", p["segment"]),
             (t["nation"], {"n_nationkey": "?nk", "n_name": "?n_name"}),
             (c.sub, 1.0, "?disc", ":>", "?dfrac"),
             (c.mult, "?price", "?dfrac", ":>", "?rev"),
             (c.sum_agg, "?rev", ":>", "?revenue"))


def rev_sql(p):
    return f"""
        SELECT n_name, sum(l_extendedprice * (1.0 - l_discount)) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        WHERE c_mktsegment = '{p['segment']}'
          AND o_orderdate >= {_lit(_d(p['year']))}
          AND o_orderdate < {_lit(_d(p['year'] + 2))}
        GROUP BY n_name"""


# -- Q8 market share ---------------------------------------------------------

def q8_params(r):
    return {"region": REGIONS[r.integers(0, 5)],
            "nation": f"NATION_{int(r.integers(0, 25))}",
            "ptype": PART_TYPES[r.integers(0, 6)],
            "year": int(r.integers(1995, 2000))}


def q8_build(t, p):
    order_year = column_op("order_year", F.year)
    nation = p["nation"]
    nat_volume = column_op(
        "nat_volume",
        lambda name, vol: F.when(name == nation, vol).otherwise(0.0))
    return q(["?o_year", "?mkt_share"],
             (t["part"], {"p_partkey": "?pk", "p_type": "?ptype"}),
             (c.eq, "?ptype", p["ptype"]),
             (t["lineitem"], {"l_orderkey": "?ok", "l_partkey": "?pk",
                              "l_suppkey": "?sk", "l_extendedprice": "?price",
                              "l_discount": "?disc"}),
             (t["orders"], {"o_orderkey": "?ok", "o_custkey": "?ck",
                            "o_orderdate": "?od"}),
             (c.gte, "?od", _d(p["year"])),
             (c.lt, "?od", _d(p["year"] + 2)),
             (t["customer"], {"c_custkey": "?ck", "c_nationkey": "?cnk"}),
             (t["nation"], {"n_nationkey": "?cnk", "n_regionkey": "?crk"}),
             (t["region"], {"r_regionkey": "?crk", "r_name": "?rname"}),
             (c.eq, "?rname", p["region"]),
             (t["supplier"], {"s_suppkey": "?sk", "s_nationkey": "?snk"}),
             (t["nation"], {"n_nationkey": "?snk", "n_name": "?supp_nation"}),
             (order_year, "?od", ":>", "?o_year"),
             (c.sub, 1.0, "?disc", ":>", "?dfrac"),
             (c.mult, "?price", "?dfrac", ":>", "?vol"),
             (nat_volume, "?supp_nation", "?vol", ":>", "?nvol"),
             (c.sum_agg, "?nvol", ":>", "?nv"),
             (c.sum_agg, "?vol", ":>", "?tv"),
             (c.div, "?nv", "?tv", ":>", "?mkt_share"))


def q8_sql(p):
    return f"""
        SELECT o_year, nv / tv AS mkt_share FROM (
          SELECT year(o_orderdate) AS o_year,
                 sum(CASE WHEN n2.n_name = '{p['nation']}'
                     THEN l_extendedprice * (1.0 - l_discount)
                     ELSE 0.0 END) AS nv,
                 sum(l_extendedprice * (1.0 - l_discount)) AS tv
          FROM part
          JOIN lineitem ON p_partkey = l_partkey
          JOIN orders ON o_orderkey = l_orderkey
          JOIN customer ON c_custkey = o_custkey
          JOIN nation n1 ON c_nationkey = n1.n_nationkey
          JOIN region ON n1.n_regionkey = r_regionkey
          JOIN supplier ON s_suppkey = l_suppkey
          JOIN nation n2 ON s_nationkey = n2.n_nationkey
          WHERE p_type = '{p['ptype']}' AND r_name = '{p['region']}'
            AND o_orderdate >= {_lit(_d(p['year']))}
            AND o_orderdate < {_lit(_d(p['year'] + 2))}
          GROUP BY 1)"""


# -- Q21 suppliers kept waiting ----------------------------------------------

def q21_params(r):
    return {"nation": f"NATION_{int(r.integers(0, 25))}"}


def q21_build(t, p):
    li = t["lineitem"]
    r_supp = column_op(
        "r-supp", lambda s, rf: F.when(rf == "R", s),
        py_fn=lambda s, rf: s if rf == "R" else None)
    counts = q(["?ok", "?ns", "?nb"],
               (li, {"l_orderkey": "?ok", "l_suppkey": "?s1",
                     "l_returnflag": "?rf1"}),
               (r_supp, "?s1", "?rf1", ":>", "!rs"),
               (c.distinct_count, "?s1", ":>", "?ns"),
               (c.distinct_count, "!rs", ":>", "?nb"))
    return q(["?s_name", "?numwait"],
             (li, {"l_orderkey": "?ok", "l_suppkey": "?sk",
                   "l_returnflag": "?rf"}),
             (c.eq, "?rf", "R"),
             (t["orders"], {"o_orderkey": "?ok", "o_orderstatus": "?st"}),
             (c.eq, "?st", "F"),
             (counts, "?ok", "?ns", "?nb"),
             (c.gte, "?ns", 2),
             (c.eq, "?nb", 1),
             (t["supplier"], {"s_suppkey": "?sk", "s_name": "?s_name",
                              "s_nationkey": "?snk"}),
             (t["nation"], {"n_nationkey": "?snk", "n_name": "?nname"}),
             (c.eq, "?nname", p["nation"]),
             (c.count, "?numwait"))


def q21_sql(p):
    return f"""
        SELECT s_name, count(*) AS numwait
        FROM supplier
        JOIN nation ON s_nationkey = n_nationkey
        JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
        JOIN orders ON o_orderkey = l1.l_orderkey
        WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R'
          AND n_name = '{p['nation']}'
          AND EXISTS (SELECT 1 FROM lineitem l2
                      WHERE l2.l_orderkey = l1.l_orderkey
                        AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM lineitem l3
                          WHERE l3.l_orderkey = l1.l_orderkey
                            AND l3.l_suppkey <> l1.l_suppkey
                            AND l3.l_returnflag = 'R')
        GROUP BY s_name"""


# -- limit_rank top-k --------------------------------------------------------

def topk_params(r):
    return {"k": int(r.integers(1, 4)),
            "priority": PRIORITIES[r.integers(0, 5)]}


def topk_build(t, p):
    return q(["?o_custkey", "?o_orderkey", "?o_totalprice", "?rank"],
             (t["orders"], {"o_custkey": "?o_custkey", "o_orderkey": "?okey",
                            "o_totalprice": "?price",
                            "o_orderpriority": "?pri"}),
             (c.eq, "?pri", p["priority"]),
             (c.limit_rank(p["k"]), "?okey", "?price",
              ":>", "?o_orderkey", "?o_totalprice", "?rank"),
             sort=["?price", "?okey"], reverse=True)


def topk_sql(p):
    return f"""
        SELECT o_custkey, o_orderkey, o_totalprice, rank FROM (
          SELECT o_custkey, o_orderkey, o_totalprice,
                 row_number() OVER (PARTITION BY o_custkey
                   ORDER BY o_totalprice DESC, o_orderkey DESC) AS rank
          FROM orders WHERE o_orderpriority = '{p['priority']}') t
        WHERE rank <= {p['k']}"""


# -- !!var outer-join counts -------------------------------------------------

def outer_params(r):
    return {"segment": SEGMENTS[r.integers(0, 5)],
            "status": ["F", "O", "P"][r.integers(0, 3)]}


def outer_build(t, p):
    fo = q(["?ck", "?ok"],
           (t["orders"], {"o_custkey": "?ck", "o_orderkey": "?ok",
                          "o_orderstatus": "?st"}),
           (c.eq, "?st", p["status"]))
    return q(["?c_custkey", "?n_orders"],
             (t["customer"], {"c_custkey": "?c_custkey",
                              "c_mktsegment": "?seg"}),
             (c.eq, "?seg", p["segment"]),
             (fo, "?c_custkey", "!!ok"),
             (c.count_notnull, "!!ok", ":>", "?n_orders"))


def outer_sql(p):
    return f"""
        SELECT c_custkey, count(o_orderkey) AS n_orders
        FROM customer LEFT JOIN (SELECT o_custkey, o_orderkey FROM orders
                                 WHERE o_orderstatus = '{p['status']}') o
          ON c_custkey = o_custkey
        WHERE c_mktsegment = '{p['segment']}'
        GROUP BY c_custkey"""


# -- generator-set anti-join -------------------------------------------------

def anti_params(r):
    return {"priority": PRIORITIES[r.integers(0, 5)],
            "year": int(r.integers(1995, 2001))}


def anti_build(t, p):
    buyers = q(["?ck"],
               (t["orders"], {"o_custkey": "?ck", "o_orderpriority": "?pri",
                              "o_orderdate": "?od"}),
               (c.eq, "?pri", p["priority"]),
               (c.gte, "?od", _d(p["year"])),
               (c.lt, "?od", _d(p["year"] + 1)),
               distinct=True)
    return q(["?c_custkey", "?c_name"],
             (t["customer"], {"c_custkey": "?c_custkey", "c_name": "?c_name"}),
             (buyers, "?c_custkey", ":>", False))


def anti_sql(p):
    return f"""
        SELECT c_custkey, c_name FROM customer
        WHERE NOT EXISTS (
          SELECT 1 FROM orders WHERE o_custkey = c_custkey
            AND o_orderpriority = '{p['priority']}'
            AND o_orderdate >= {_lit(_d(p['year']))}
            AND o_orderdate < {_lit(_d(p['year'] + 1))})"""


#: name -> (tables read, params, build, oracle sql)
TEMPLATES = {
    "q1_pricing_summary": (["lineitem"], q1_params, q1_build, q1_sql),
    "q5_local_supplier_volume": (
        ["lineitem", "orders", "customer", "supplier", "nation", "region"],
        q5_params, q5_build, q5_sql),
    "revenue_per_nation": (["lineitem", "orders", "customer", "nation"],
                           rev_params, rev_build, rev_sql),
    "q8_market_share": (
        ["part", "lineitem", "orders", "customer", "nation", "region",
         "supplier"], q8_params, q8_build, q8_sql),
    "q21_suppliers_kept_waiting": (
        ["lineitem", "orders", "supplier", "nation"],
        q21_params, q21_build, q21_sql),
    "limit_rank_topk": (["orders"], topk_params, topk_build, topk_sql),
    "outer_join_counts": (["customer", "orders"], outer_params, outer_build,
                          outer_sql),
    "genset_anti_join": (["customer", "orders"], anti_params, anti_build,
                         anti_sql),
}


def cycle(rng) -> list[tuple[str, dict]]:
    """One cycle of the seeded query stream: every template once, in a
    seeded order, with freshly drawn parameters — so any whole number of
    cycles has the same template mix."""
    names = sorted(TEMPLATES)
    return [(names[i], TEMPLATES[names[i]][1](rng))
            for i in rng.permutation(len(names))]
