"""Untimed output checks of one benchmark run, against the generator's
ledger and against DuckDB over the same stored parquet.

  - the events table against the ledger: row count, per-month count and
    sum(id), an order-independent hash of (key, id), no duplicate key;
  - re-importing an already-merged hour left the content hash unchanged;
  - every distinct query result and HTTP response against DuckDB running
    the equivalent standard SQL;
  - record_count and point-lookup counts against ledger tallies.
"""
import decimal
import glob
import json
import math
import os

import duckdb

KEY = ["org_id", "repo_id", "actor_id", "type", "action", "month_key",
       "issue_id", "issue_comment_id", "pull_review_id",
       "pull_review_comment_id", "commit_comment_id", "push_id", "release_id"]
TEXT = {"type", "action"}
LEDGER_COLS = {"month_key": "INTEGER", "type": "VARCHAR", "action": "VARCHAR"}


def cast(c):
    return f"{c}::VARCHAR" if c in TEXT else f"{c}::BIGINT"


def connect(table, ledger):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"CREATE VIEW events AS SELECT * REPLACE (month_key::INTEGER AS month_key) "
                f"FROM read_parquet('{table}/*/*.parquet', hive_partitioning = true)")
    order = ["month_key"] + [c for c in KEY if c != "month_key"] + ["id"]
    cols = {c: LEDGER_COLS.get(c, "BIGINT") for c in order}
    con.execute(f"CREATE TABLE ledger AS SELECT * REPLACE (coalesce(action, '') AS action) "
                f"FROM read_csv('{ledger}', header = true, columns = {cols!r})")
    return con


def one(con, sql):
    return con.execute(sql).fetchall()


def ledger_checks(con):
    problems = []
    for what, sql in [
        ("row count", "SELECT count(*) FROM {t}"),
        ("per-month count/sum(id)",
         "SELECT month_key, count(*), sum(id) FROM {t} GROUP BY 1 ORDER BY 1"),
        ("hash of (key, id)",
         "SELECT sum(hash(" + ", ".join(cast(c) for c in KEY) + ", id::BIGINT)::HUGEINT) FROM {t}"),
    ]:
        got, want = one(con, sql.format(t="events")), one(con, sql.format(t="ledger"))
        if got != want:
            problems.append(f"table vs ledger {what}: {got[:3]} != {want[:3]}")
    dups = one(con, "SELECT count(*) FROM (SELECT platform, " + ", ".join(KEY) +
               " FROM events GROUP BY ALL HAVING count(*) > 1)")[0][0]
    if dups:
        problems.append(f"{dups} ORDER BY keys stored more than once")
    return problems


def norm(v):
    """DuckDB returns sums of integers as Decimal; compare them as numbers."""
    if isinstance(v, decimal.Decimal):
        return int(v) if v == v.to_integral_value() else float(v)
    return v


def sort_key(row):
    return [(v is None, type(v).__name__ if not isinstance(v, (int, float)) else "n",
             0 if v is None else v) for v in row]


def same_rows(got, want):
    """Multiset equality of two row lists; floats compare to 1e-9 relative."""
    got = sorted([[norm(v) for v in r] for r in got], key=sort_key)
    want = sorted([[norm(v) for v in r] for r in want], key=sort_key)
    if len(got) != len(want):
        return f"{len(got)} rows != {len(want)} rows"
    for g, w in zip(got, want):
        if len(g) != len(w):
            return f"row width {g} != {w}"
        for a, b in zip(g, w):
            if isinstance(a, float) or isinstance(b, float):
                if a is None or b is None or not math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9):
                    return f"row {g} != {w}"
            elif a != b:
                return f"row {g} != {w}"
    return None


def table_size(table):
    files = glob.glob(os.path.join(table, "*", "*.parquet"))
    return sum(os.path.getsize(f) for f in files)


def run(res):
    """Returns (problems, facts) for one workload result."""
    con = connect(res["table"], res["ledger"])
    problems = ledger_checks(con)
    ledger_rows = one(con, "SELECT count(*) FROM ledger")[0][0]
    if res.get("idempotent") is False:
        problems.append(f"re-import changed the content hash {res['content_hash']}")
    for q in res.get("queries", []):
        diff = same_rows(q["rows"], one(con, q["duckdb"]))
        if diff:
            problems.append(f"query {q['name']}: {diff}")
        if q["name"] == "record_count" and q["rows"] != [[ledger_rows]]:
            problems.append(f"record_count {q['rows']} != ledger {ledger_rows}")
    for r in res.get("responses", []):
        if r["body"] is None:
            problems.append(f"no response captured for {r['kind']}")
            continue
        body = json.loads(r["body"])
        if r["kind"] == "db_schema":
            cols = [d[0] for d in con.execute("SELECT * FROM events LIMIT 0").description]
            keys = [c["key"] for c in body]
            if keys != [c for c in cols if c != "month_key"]:
                problems.append(f"db_schema keys {keys[:5]}... != table columns")
            continue
        cur = con.execute(r["duckdb"])
        names = [d[0] for d in cur.description]
        got = [[row.get(n) for n in names] for row in body["rows"]]
        diff = same_rows(got, cur.fetchall())
        if diff:
            problems.append(f"{r['kind']} response: {diff}")
        # the same request answered from the generator's ledger
        tally = one(con, r["duckdb"].replace("FROM events", "FROM ledger")
                    if r["kind"] == "lookup" else "SELECT count(*) FROM ledger")
        if r["kind"] == "lookup" and len(tally) != len(got):
            problems.append(f"lookup returned {len(got)} rows, ledger holds {len(tally)}")
        if r["kind"] == "record_count" and got != [[tally[0][0]]]:
            problems.append(f"record_count {got} != ledger {tally[0][0]}")
    facts = {"table_rows": one(con, "SELECT count(*) FROM events")[0][0],
             "table_bytes": table_size(res["table"])}
    con.close()
    return problems, facts

