"""DuckDB reference for the bulk_etl tutorial pipeline (the other bulk
pipelines are contract queries with their own DuckDB oracles). Floating sums
and means go through DECIMAL(38,4), as graft's exact aggregates do."""


def _dsum(x, over=""):
    return f"CAST(SUM(CAST({x} AS DECIMAL(38,4))) {over} AS DOUBLE)"


def _davg(x, over=""):
    return f"{_dsum(x, over)} / COUNT(CAST({x} AS DECIMAL(38,4))) {over}"


_PART = "PARTITION BY l_partkey ORDER BY order_week ASC"

TUTORIAL = (
    "WITH j AS (SELECT l.*, o.o_custkey, o.o_orderstatus, o.o_totalprice, o.o_orderdate, "
    "o.o_orderpriority FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey), "
    "a AS (SELECT l_partkey, order_week, "
    f"{_dsum('l_extendedprice')} AS l_extendedprice_sum, "
    f"{_davg('l_extendedprice')} AS l_extendedprice_avg "
    "FROM (SELECT *, CAST(date_trunc('week', o_orderdate) AS TIMESTAMP) AS order_week FROM j) "
    "GROUP BY l_partkey, order_week), "
    "g AS (SELECT *, "
    f"LAG(l_extendedprice_sum, 1) OVER ({_PART}) AS lag_l_extendedprice_sum_1, "
    f"LAG(l_extendedprice_sum, 2) OVER ({_PART}) AS lag_l_extendedprice_sum_2 FROM a), "
    "m AS (SELECT *, "
    f"{_davg('l_extendedprice_sum', 'OVER mw')} AS mean_l_extendedprice_sum_4 FROM g "
    f"WINDOW mw AS ({_PART} ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)), "
    "t AS (SELECT *, "
    f"{_davg('l_extendedprice_sum', 'OVER (PARTITION BY l_partkey)')} AS l_partkey_target_encoded "
    "FROM m), "
    "i AS (SELECT * REPLACE (COALESCE(lag_l_extendedprice_sum_1, "
    f"(SELECT {_davg('lag_l_extendedprice_sum_1')} FROM t)) AS lag_l_extendedprice_sum_1) FROM t) "
    "SELECT * EXCLUDE (_rn, _cnt), CASE WHEN _rn <= FLOOR(0.8 * _cnt) THEN 'TRAIN' ELSE 'TEST' END "
    "AS tt_split FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY l_partkey ASC, order_week ASC) AS _rn, "
    "COUNT(*) OVER () AS _cnt FROM i)")

ORACLES = {"bulk_tutorial": TUTORIAL}

# Absolute tolerances per table and column, beside the relative 1e-12.
# corr is Pearson's r from n*Sxy - Sx*Sy, whose cancellation turns one ulp of
# a moment sum into about 1e-15 of r, and r can sit near 0 on the seeded
# (independent) columns, so a relative test reads that as 1e-12 or more.
# DuckDB casts a double above about 9e7 to DECIMAL(38,8) through an inexact
# double multiply, so its Sum(l_extendedprice^2) can end one ulp away from
# graft's exact decimal sum. On seed 621329053, r is -1.4e-4: graft's value
# is within 2e-16 (relative) of r computed exactly from the inputs, DuckDB's
# 6.4e-16 (absolute) away, the most over 121 seeds. r lies in [-1, 1], so
# 1e-13 absolute stays about 150 times above that and far below what one
# changed row moves it (1e-5).
ABS_TOL = {"bulk_corr_matrix": {"corr": 1e-13}}
