"""Output checks of one run, made once per run outside the timed passes.

Catalog rows are compared with DuckDB running the row's oracle SQL over the
same parquet, after the canonicalization of `dev/check.py`; the workloads
list only rows that have oracle SQL. The daily DAG is compared with what the generator wrote: the table must be the
last-write-wins merge of the days, the rejected-record counts must be the
injected ones, and the mart summary and acceptance queries must equal
DuckDB's answers over the same CSVs.
"""
import hashlib
import importlib.util
import json
import os

import duckdb
import pyarrow.parquet as pq

# the repo's oracle canonicalization, shared with its correctness tooling
_spec = importlib.util.spec_from_file_location("dev_check", os.path.join("dev", "check.py"))
_dev_check = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(_dev_check)
canon = _dev_check.canon

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _digest(cols, rows):
    h = hashlib.sha256("\0".join(sorted(cols)).encode())
    for line in canon(rows, cols):
        h.update(line.encode() + b"\n")
    return h.hexdigest()


def read_output(path):
    t = pq.read_table(path)
    cols = t.column_names
    return cols, [tuple(r[c] for c in cols) for r in t.to_pylist()]


def catalog(res, data_dir, out_dir, cache_dir, data_key):
    """Yields (name, problem or None) per catalog row. DuckDB's answers are
    cached per data set and SQL text."""
    con = None
    for name, ok, _sec, _facts in res["check_ops"]:
        if not ok:
            yield name, "failed to run"
            continue
        cols, rows = read_output(os.path.join(out_dir, name))
        got = _digest(cols, rows)
        sql = res["oracle"].get(name)
        if sql is None:
            yield name, "has no oracle SQL to check it against"
            continue
        key = hashlib.sha256((data_key + sql).encode()).hexdigest()[:24]
        cached = os.path.join(cache_dir, key + ".json")
        if os.path.exists(cached):
            with open(cached) as f:
                want = json.load(f)
        else:
            if con is None:
                con = duckdb.connect()
                for t in TABLES:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                f"read_parquet('{data_dir}/{t}.parquet')")
            r = con.execute(sql)
            dcols = [d[0] for d in r.description]
            drows = r.fetchall()
            want = {"rows": len(drows), "digest": _digest(dcols, drows)}
            os.makedirs(cache_dir, exist_ok=True)
            with open(cached, "w") as f:
                json.dump(want, f)
        if want["digest"] != got:
            yield name, f"differs from the DuckDB oracle ({len(rows)} rows vs {want['rows']})"
        else:
            yield name, None


REDDIT_COLS = ["id", "title", "score", "num_comments", "author", "created_utc", "url",
               "upvote_ratio", "over_18", "spoiler", "stickied", "selftext", "subreddit",
               "extraction_timestamp", "selftext_length", "is_nsfw"]


def _expected_row(p):
    """A generated post as the COPY contract loads it: empty text is NULL."""
    return tuple(None if p[c] == "" else p[c] for c in REDDIT_COLS)


def reddit(res, data_dir, out_dir, account, posts):
    """Yields (check name, problem or None) for the daily DAG."""
    ops = res["check_ops"]
    failed = [n for n, ok, _, _ in ops if not ok]
    yield "all calls ran", (f"failed: {failed}" if failed else None)
    if failed:
        return
    loads = [f for n, _, _, f in ops if n == "load"]
    for d, (f, a) in enumerate(zip(loads, account)):
        yield f"day {d} rejected records", (
            None if f["bad"] == a["bad"] else f"{f['bad']} rejected, {a['bad']} injected")
        yield f"day {d} loaded records", (
            None if f["loaded"] == a["records"] else f"{f['loaded']} loaded, {a['records']} written")
    dq = [f["violations"] for n, _, _, f in ops if n == "dq_check"]
    yield "data-quality checks", None if not any(dq) else f"violations per day {dq}"

    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    table = con.execute(f"""
        SELECT id, title, score, num_comments, author,
          strftime(created_utc, '%Y-%m-%d %H:%M:%S') AS created_utc, url, upvote_ratio,
          over_18, spoiler, stickied, selftext, subreddit,
          strftime(extraction_timestamp, '%Y-%m-%d %H:%M:%S.%f') AS extraction_timestamp,
          selftext_length, is_nsfw
        FROM read_parquet('{loads[-1]['dir']}/*/*.parquet')""").fetchall()
    want = [_expected_row(p) for p in posts]
    yield "table is the last-write-wins merge", (
        None if _digest(REDDIT_COLS, table) == _digest(REDDIT_COLS, want)
        else f"{len(table)} rows vs {len(want)} expected")

    days = " UNION ALL ".join(
        f"SELECT *, {d} AS day FROM read_csv('{os.path.join(data_dir, a['file'])}', header=true, "
        f"all_varchar=true, quote='\"', escape='\"', ignore_errors=true)"
        for d, a in enumerate(account))
    con.execute(f"""CREATE VIEW lww AS SELECT id, subreddit,
        CAST(score AS INTEGER) AS score, CAST(num_comments AS INTEGER) AS num_comments,
        CAST(created_utc AS TIMESTAMP) AS created_utc
      FROM ({days}) QUALIFY row_number() OVER (PARTITION BY id ORDER BY day DESC) = 1""")
    last = len(account) - 1
    oracle = {
        "summary": """SELECT subreddit, count(*) AS post_count, avg(score) AS avg_score,
                        avg(num_comments) AS avg_comments, max(score) AS max_score
                      FROM lww GROUP BY subreddit""",
        "top_posts": "SELECT id, score FROM lww ORDER BY score DESC, id LIMIT 2",
        "subreddit_stats": """SELECT subreddit, count(*) AS post_count, avg(score) AS avg_score,
                                avg(num_comments) AS avg_comments
                              FROM lww GROUP BY subreddit HAVING count(*) > 5""",
        "score_by_hour": """SELECT hour(created_utc) AS hour_of_day, avg(score) AS avg_score
                            FROM lww GROUP BY 1""",
    }
    for out in ["summary", "top_posts", "subreddit_stats", "score_by_hour",
                "sql_top_posts", "sql_subreddit_stats", "sql_score_by_hour"]:
        r = con.execute(oracle[out.removeprefix("sql_")])
        dcols = [d[0] for d in r.description]
        drows = r.fetchall()
        cols, rows = read_output(os.path.join(out_dir, f"{out}_d{last}"))
        idx = [cols.index(c) for c in dcols]
        rows = [tuple(row[i] for i in idx) for row in rows]
        yield f"{out} equals DuckDB over the CSVs", (
            None if _digest(dcols, rows) == _digest(dcols, drows)
            else f"{len(rows)} rows vs {len(drows)} from DuckDB")
