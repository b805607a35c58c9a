"""The notebook session replayed by ``interactive_batch``: a fixed mix
of query templates, literals drawn from the seed, interleaved with
metadata requests.

Each query template yields the Flink-dialect statement sent to the
gateway and the DuckDB statement that computes its expected answer
over the same parquet files. Money columns are aggregated as
DECIMAL so both engines produce exact, identical sums; DOUBLE columns
are only projected or summed over integer values, never averaged.
"""

from __future__ import annotations

import random

MONEY = "CAST(l_extendedprice AS DECIMAL(12,2))"
DISC = "(1 - CAST(l_discount AS DECIMAL(4,2)))"
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def _ts(day: str) -> str:
    return f"TIMESTAMP '{day} 00:00:00'"


def _day(rng: random.Random, lo_year: int = 1995, hi_year: int = 2000) -> str:
    return f"{rng.randint(lo_year, hi_year)}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}"


def q1(rng):
    sql = (
        "SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty, "
        f"SUM({MONEY}) AS sum_base_price, SUM({MONEY} * {DISC}) AS sum_disc_price, "
        "COUNT(*) AS count_order FROM lineitem "
        f"WHERE l_shipdate <= {_ts(_day(rng, 1998, 2001))} "
        "GROUP BY l_returnflag, l_linestatus"
    )
    return sql, sql


def q3(rng):
    day = _ts(_day(rng, 1996, 2000))
    sql = (
        f"SELECT o_orderkey, SUM({MONEY} * {DISC}) AS revenue, o_orderdate "
        "FROM customer JOIN orders ON c_custkey = o_custkey "
        "JOIN lineitem ON l_orderkey = o_orderkey "
        f"WHERE c_mktsegment = '{rng.choice(SEGMENTS)}' AND o_orderdate < {day} "
        f"AND l_shipdate > {day} GROUP BY o_orderkey, o_orderdate "
        "ORDER BY revenue DESC, o_orderkey LIMIT 10"
    )
    return sql, sql


def q5(rng):
    year = rng.randint(1995, 2000)
    sql = (
        f"SELECT n_name, SUM({MONEY} * {DISC}) AS revenue "
        "FROM customer JOIN orders ON c_custkey = o_custkey "
        "JOIN lineitem ON l_orderkey = o_orderkey "
        "JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey "
        "JOIN nation ON s_nationkey = n_nationkey "
        "JOIN region ON n_regionkey = r_regionkey "
        f"WHERE r_name = '{rng.choice(REGIONS)}' "
        f"AND o_orderdate >= {_ts(f'{year}-01-01')} AND o_orderdate < {_ts(f'{year + 1}-01-01')} "
        "GROUP BY n_name"
    )
    return sql, sql


def q10(rng):
    year, month = rng.randint(1995, 2000), rng.randint(1, 9)
    sql = (
        f"SELECT c_custkey, c_name, SUM({MONEY} * {DISC}) AS revenue, c_acctbal, n_name "
        "FROM customer JOIN orders ON c_custkey = o_custkey "
        "JOIN lineitem ON l_orderkey = o_orderkey "
        "JOIN nation ON c_nationkey = n_nationkey "
        f"WHERE o_orderdate >= {_ts(f'{year}-{month:02d}-01')} "
        f"AND o_orderdate < {_ts(f'{year}-{month + 3:02d}-01')} AND l_returnflag = 'R' "
        "GROUP BY c_custkey, c_name, c_acctbal, n_name "
        "ORDER BY revenue DESC, c_custkey LIMIT 20"
    )
    return sql, sql


def q18(rng):
    sql = (
        "SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, "
        "SUM(l_quantity) AS sum_qty "
        "FROM customer JOIN orders ON c_custkey = o_custkey "
        "JOIN lineitem ON o_orderkey = l_orderkey "
        "WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem GROUP BY l_orderkey "
        f"HAVING SUM(l_quantity) > {rng.randint(170, 220)}) "
        "GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice "
        "ORDER BY o_totalprice DESC, o_orderkey LIMIT 100"
    )
    return sql, sql


def window_topk(rng):
    sql = (
        "SELECT o_custkey, o_orderkey, o_totalprice, rn FROM ("
        "SELECT o_custkey, o_orderkey, o_totalprice, ROW_NUMBER() OVER "
        "(PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn "
        f"FROM orders WHERE o_custkey < {rng.randint(100, 400)}) t "
        f"WHERE rn <= {rng.randint(1, 3)}"
    )
    return sql, sql


def rollup_cube(rng):
    op = rng.choice(["ROLLUP", "CUBE"])
    sql = (
        "SELECT l_returnflag, l_linestatus, COUNT(*) AS c, "
        f"SUM({MONEY}) AS base FROM lineitem WHERE l_discount >= {rng.randint(0, 8) / 100} "
        f"GROUP BY {op} (l_returnflag, l_linestatus)"
    )
    return sql, sql


def semi_anti(rng):
    neg = rng.choice(["", "NOT "])
    sql = (
        "SELECT c_mktsegment, COUNT(*) AS n FROM customer WHERE "
        f"{neg}EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey "
        f"AND o_totalprice > {rng.randint(300, 480) * 1000}) GROUP BY c_mktsegment"
    )
    return sql, sql


def exists_any(rng):
    # the engine's dialect does not accept `= ANY (subquery)` (Spark SQL
    # has no quantified subquery comparison), so the ANY form is its
    # equivalent IN
    if rng.random() < 0.5:
        sql = (
            "SELECT s_nationkey, COUNT(*) AS n FROM supplier WHERE EXISTS ("
            "SELECT 1 FROM lineitem WHERE l_suppkey = s_suppkey "
            f"AND l_quantity > {rng.randint(45, 49)} "
            f"AND l_discount = {rng.randint(0, 10) / 100}) GROUP BY s_nationkey"
        )
    else:
        sql = (
            "SELECT p_type, COUNT(*) AS n FROM part WHERE p_partkey IN ("
            "SELECT l_partkey FROM lineitem WHERE l_quantity >= "
            f"{rng.randint(45, 50)}) AND p_size < {rng.randint(10, 50)} GROUP BY p_type"
        )
    return sql, sql


def except_(rng):
    sql = (
        "SELECT o_custkey AS k FROM orders WHERE o_orderpriority = "
        f"'{rng.choice(PRIORITIES)}' AND o_totalprice > {rng.randint(200, 450) * 1000} "
        "EXCEPT SELECT c_custkey AS k FROM customer WHERE c_mktsegment = "
        f"'{rng.choice(SEGMENTS)}'"
    )
    return sql, sql


def tvf_tumble(rng):
    hours = rng.choice([6, 12, 24])
    users = rng.randint(20, 150)
    flink = (
        "SELECT window_start, window_end, event_type, COUNT(*) AS c, "
        "SUM(CAST(value AS DECIMAL(12,2))) AS v FROM TABLE(TUMBLE(TABLE events, "
        f"DESCRIPTOR(ts), INTERVAL '{hours}' HOUR)) WHERE user_id < {users} "
        "GROUP BY window_start, window_end, event_type"
    )
    duck = (
        "SELECT window_start, window_start + INTERVAL "
        f"'{hours} hours' AS window_end, event_type, COUNT(*) AS c, "
        "SUM(CAST(value AS DECIMAL(12,2))) AS v FROM (SELECT "
        f"time_bucket(INTERVAL '{hours} hours', ts) AS window_start, event_type, value "
        f"FROM events WHERE user_id < {users}) GROUP BY ALL"
    )
    return flink, duck


QUERIES = {
    "q1": q1, "q3": q3, "q5": q5, "q10": q10, "q18": q18,
    "window_topk": window_topk, "rollup_cube": rollup_cube,
    "semi_anti": semi_anti, "exists_any": exists_any, "except": except_,
    "tvf_tumble": tvf_tumble,
}
META_KINDS = ("show_tables", "describe", "show_create", "complete")


def session_round(rng: random.Random, tables: list[str]) -> list[tuple]:
    """One round of the replayed session: every query template once and
    every metadata kind once, in seed order, literals from the seed.
    Operations are ``("query", name, flink_sql, duckdb_sql)`` or
    ``("meta", kind, table)``. Whole rounds keep the mix identical
    across seeds, so a seed changes literals and order, not the mix."""
    ops = [("query", n, *QUERIES[n](rng)) for n in sorted(QUERIES)]
    ops += [("meta", k, rng.choice(tables)) for k in META_KINDS]
    rng.shuffle(ops)
    return ops


def warmup_ops(tables: list[str]) -> list[tuple]:
    """One statement of every template and one request of every
    metadata kind, fixed literals: the warm-up pass of set-up."""
    rng = random.Random(0)
    ops = [("query", n, *QUERIES[n](rng)) for n in sorted(QUERIES)]
    return ops + [("meta", k, tables[0]) for k in META_KINDS]
