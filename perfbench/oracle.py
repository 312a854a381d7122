"""DuckDB check of the metric_queries answers.

Each distinct request's Spark rows must equal DuckDB's answer to the same
request over the published parquet tables: the view's
`MetricView.toSql(oracle = true)` for metric requests, and the request's
SQL over that expanded view for SQL requests. Floats match to a relative
1e-9, since the two engines sum in different orders.
"""
import datetime
import decimal
import math
import os

TABLES = ["fact_reviews", "dim_games", "dim_categories", "dim_genres",
          "dim_publishers", "dim_developers"]
SCHEMA = "steam_analytics"


def canon(v):
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return float(v)
    return v


def sort_key(row):
    return tuple(("" if v is None else
                  "%.9g" % v if isinstance(v, float) and not isinstance(v, bool) else
                  str(v)) for v in row)


def same(a, b):
    if isinstance(a, bool) or isinstance(b, bool):
        return type(a) is type(b) and a == b
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)
    return a == b


def rows_equal(got, exp):
    if len(got) != len(exp):
        return False, "%d rows, DuckDB gives %d" % (len(got), len(exp))
    got = sorted((tuple(canon(v) for v in r) for r in got), key=sort_key)
    exp = sorted((tuple(canon(v) for v in r) for r in exp), key=sort_key)
    for g, e in zip(got, exp):
        if len(g) != len(e) or not all(same(x, y) for x, y in zip(g, e)):
            return False, "row %r, DuckDB gives %r" % (g, e)
    return True, ""


def check(extra):
    """Failure messages for the requests whose rows differ from DuckDB."""
    import duckdb
    con = duckdb.connect()
    con.execute("CREATE SCHEMA %s" % SCHEMA)
    for t in TABLES:
        path = os.path.join(extra["warehouse"], SCHEMA + ".db", t)
        con.execute("CREATE VIEW %s.%s AS SELECT * FROM read_parquet('%s/*.parquet')"
                    % (SCHEMA, t, path))
    con.execute("CREATE VIEW review_metrics AS " + extra["oracle_view_sql"])
    failures = []
    for q in extra["oracle"]:
        try:
            exp = con.execute(q["sql"]).fetchall()
        except Exception as e:  # a request DuckDB cannot run is a failed check
            failures.append("request %s: DuckDB error %s" % (q["id"], e))
            continue
        ok, why = rows_equal(q["rows"], exp)
        if not ok:
            failures.append("request %s (%s): %s" % (q["id"], q["kind"], why))
    con.close()
    return failures
