"""Seeded input generators for the benchmark.

`reddit_days` writes the daily posts CSVs of the reference DAG; the catalog
tables come from `catalog_tables`. The same arguments give byte-identical
files. Only the Python standard library's `random.Random` draws values, so
the output does not depend on numpy or on dict ordering.
"""
import csv
import datetime as dt
import io
import math
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# reddit_daily

REDDIT_COLUMNS = [
    "id", "title", "score", "num_comments", "author", "created_utc", "url",
    "upvote_ratio", "over_18", "spoiler", "stickied", "selftext", "subreddit",
    "extraction_timestamp", "selftext_length", "is_nsfw"]

SUBREDDITS = ["stocks", "wallstreetbets", "investing", "StockMarket",
              "options", "pennystocks", "dividends", "ValueInvesting"]
WORDS = ("market earnings rally dip calls puts yield bond index fund short "
         "squeeze hold sell buy valuation guidance revenue margin dividend "
         "split chart support resistance volume options risk hedge cash "
         "inflation rates fed outlook quarter beat miss upgrade downgrade").split()
UNICODE = ["é", "—", "’", "€", "📈", "ü"]

# Reddit ids are base36 and rise with creation time.
ID_BASE = int("1j00000", 36)
FIRST_DAY = dt.datetime(2025, 3, 18, 14, 15, 26)


def base36(n):
    digits = "0123456789abcdefghijklmnopqrstuvwxyz"
    out = ""
    while n:
        n, r = divmod(n, 36)
        out = digits[r] + out
    return out


def _zipf_weights(n, s=1.1):
    return [1.0 / (k + 1) ** s for k in range(n)]


def _sentence(rng, lo, hi):
    words = [rng.choice(WORDS) for _ in range(rng.randint(lo, hi))]
    if rng.random() < 0.15:
        words.insert(rng.randrange(len(words)), rng.choice(UNICODE))
    return " ".join(words)


def _title(rng):
    t = _sentence(rng, 3, 12).capitalize()
    r = rng.random()
    if r < 0.2:
        t += ", thoughts?"
    elif r < 0.3:
        t = f'"{t}" says analyst'
    return t


def _selftext(rng):
    """Most posts span lines, as in the reference fixture (157 of 183)."""
    r = rng.random()
    if r < 0.08:
        return ""                       # link post: COPY loads it as NULL
    if r < 0.14:
        return _sentence(rng, 5, 30)    # one line
    paras = [_sentence(rng, 4, 40) for _ in range(rng.randint(2, 6))]
    if rng.random() < 0.3:
        paras.append('He said "buy the dip", then sold.')
    return "\n\n".join(paras) if rng.random() < 0.7 else "\n".join(paras)


def _post(rng, pid, created, sub_weights):
    sub = rng.choices(SUBREDDITS, weights=sub_weights)[0]
    nsfw = rng.random() < 0.05
    body = _selftext(rng)
    return {
        "id": pid,
        "title": _title(rng),
        "score": int(rng.paretovariate(1.2) * 3),
        "num_comments": int(rng.paretovariate(1.5) * 2),
        "author": None if rng.random() < 0.06 else f"user_{rng.randrange(4000)}",
        "created_utc": created.strftime("%Y-%m-%d %H:%M:%S"),
        "url": f"https://www.reddit.com/r/{sub}/comments/{pid}/post/",
        "upvote_ratio": round(rng.uniform(0.4, 1.0), 2),
        "over_18": nsfw,
        "spoiler": rng.random() < 0.02,
        "stickied": rng.random() < 0.01,
        "selftext": body,
        "subreddit": sub,
        "selftext_length": len(body),
        "is_nsfw": nsfw,
    }


def _refetch(rng, post):
    """A later extraction of the same post: the counters have moved on."""
    p = dict(post)
    p["score"] = post["score"] + int(rng.paretovariate(1.3) * 4)
    p["num_comments"] = post["num_comments"] + rng.randrange(0, 20)
    p["upvote_ratio"] = round(min(1.0, max(0.0, post["upvote_ratio"] + rng.uniform(-0.05, 0.05))), 2)
    return p


def _csv_cell(v):
    if v is None:
        return ""
    if isinstance(v, bool):
        return "True" if v else "False"
    return str(v)


DAYS = 3
POSTS_PER_DAY = 450
REFETCH_SHARE = 0.3   # of the previous day's posts, re-fetched with new counters


def reddit_days(out_dir, seed):
    """Write `DAYS` daily CSVs plus `days.tsv` (file, extraction clock).

    Returns the generator's own account: per day the records written, the
    corrupt records injected, and the posts (after the day's re-fetches) —
    what the checker compares the engine's table against.
    """
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    sub_weights = _zipf_weights(len(SUBREDDITS))
    next_id = ID_BASE + rng.randrange(36 ** 4)
    seen = []                  # every post so far, oldest first
    account = []
    tsv = []
    for d in range(DAYS):
        now = FIRST_DAY + dt.timedelta(days=d, microseconds=rng.randrange(10 ** 6))
        window = now - dt.timedelta(days=1)
        stamps = sorted(window + dt.timedelta(seconds=rng.randrange(86400))
                        for _ in range(POSTS_PER_DAY))
        fresh = []
        for created in stamps:
            next_id += rng.randint(1, 40)
            fresh.append(_post(rng, base36(next_id), created, sub_weights))
        # re-fetch a share of yesterday's posts; older partitions stay as
        # they are, so the upsert can link them instead of rewriting them
        recent = seen[-POSTS_PER_DAY:]
        picks = rng.sample(recent, min(len(recent), int(POSTS_PER_DAY * REFETCH_SHARE)))
        refetched = [_refetch(rng, p) for p in picks]
        records = refetched + fresh
        rng.shuffle(records)
        seen += fresh
        by_id = {p["id"]: i for i, p in enumerate(seen)}
        for p in refetched:
            seen[by_id[p["id"]]] = p

        stamp = now.strftime("%Y-%m-%d %H:%M:%S.%f")
        buf = io.StringIO()
        w = csv.writer(buf, quoting=csv.QUOTE_MINIMAL, lineterminator="\n")
        w.writerow(REDDIT_COLUMNS)
        for p in records:
            p["extraction_timestamp"] = stamp
        rows = [[_csv_cell(p[c]) for c in REDDIT_COLUMNS] for p in records]
        n_bad = rng.randint(1, 4)  # well below MAXERROR 100
        for j in range(n_bad):
            bad = [f"corrupt{d}x{j}"] + ["x"] * 20   # 21 fields: too many
            rows.insert(rng.randrange(len(rows) + 1), bad)
        for r in rows:
            w.writerow(r)
        name = f"day_{d:02d}.csv"
        with open(os.path.join(out_dir, name), "w", encoding="utf-8", newline="") as f:
            f.write(buf.getvalue())
        tsv.append(f"{name}\t{now.strftime('%Y-%m-%d %H:%M:%S.%f')}")
        account.append({"file": name, "now": now.isoformat(sep=" "),
                        "records": len(records), "bad": n_bad})
    with open(os.path.join(out_dir, "days.tsv"), "w") as f:
        f.write("\n".join(tsv) + "\n")
    return account, seen


# ---------------------------------------------------------------------------
# catalog tables (TPC-H-like star schema plus events, documents, embeddings)

DOC_WORDS = ("a the data table row column key value part order line query "
             "scan join sort agg group filter window merge hash batch stream "
             "spark fast slow big small vector customer").split()


def _date(rng, lo, days):
    return lo + dt.timedelta(days=rng.randrange(days))


# Row counts of the repository's TPC-H-like data set at scale factor 0.1.
SF01_ROWS = {"customer": 15000, "supplier": 1000, "part": 20000, "orders": 150000,
             "events": 100000, "users": 1500, "documents": 5000, "embeddings": 2000}


def catalog_tables(out_dir):
    """Write the ten catalog tables as parquet, with the row counts of the
    data set at scale factor 0.1 (`SF01_ROWS`; about 600,000 line items).
    The tables do not depend on a run's seed.
    """
    rng = random.Random(42)
    os.makedirs(out_dir, exist_ok=True)
    n = SF01_ROWS.get
    tables = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    nc, ns, np_, no = (n(k) for k in ("customer", "supplier", "part", "orders"))
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    tables["customer"] = pa.table({
        "c_custkey": pa.array(range(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array([rng.randrange(25) for _ in range(nc)], pa.int32()),
        "c_acctbal": [round(rng.uniform(-999.99, 9999.99), 2) for _ in range(nc)],
        "c_mktsegment": [rng.choice(segs) for _ in range(nc)]})
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(range(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array([rng.randrange(25) for _ in range(ns)], pa.int32()),
        "s_acctbal": [round(rng.uniform(-999.99, 9999.99), 2) for _ in range(ns)]})
    colors, nouns = ["red", "blue", "green", "small", "large", "steel"], ["ring", "widget", "bolt", "gear", "pipe"]
    types = ["ECONOMY", "STANDARD", "SMALL", "MEDIUM", "LARGE", "PROMO"]
    tables["part"] = pa.table({
        "p_partkey": pa.array(range(np_), pa.int64()),
        "p_name": [f"{rng.choice(colors)} {rng.choice(nouns)}" for _ in range(np_)],
        "p_brand": [f"Brand#{rng.randint(1, 25)}" for _ in range(np_)],
        "p_type": [rng.choice(types) for _ in range(np_)],
        "p_size": pa.array([rng.randint(1, 50) for _ in range(np_)], pa.int32()),
        "p_retailprice": [round(900 + (i % 1000) / 10, 2) for i in range(np_)]})
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    lo = dt.datetime(1995, 1, 1)
    odates = [_date(rng, lo, 2400) for _ in range(no)]
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(range(no), pa.int64()),
        "o_custkey": pa.array([rng.randrange(nc) for _ in range(no)], pa.int64()),
        "o_orderstatus": [rng.choice("OFP") for _ in range(no)],
        "o_totalprice": [round(rng.uniform(1000, 500000), 2) for _ in range(no)],
        "o_orderdate": pa.array(odates, pa.timestamp("us")),
        "o_orderpriority": [rng.choice(prios) for _ in range(no)]})
    li = {k: [] for k in ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
                          "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
                          "l_linestatus", "l_shipdate"]}
    for o in range(no):
        for ln in range(1, rng.randint(1, 7) + 1):
            q = float(rng.randint(1, 50))
            li["l_orderkey"].append(o)
            li["l_partkey"].append(rng.randrange(np_))
            li["l_suppkey"].append(rng.randrange(ns))
            li["l_linenumber"].append(ln)
            li["l_quantity"].append(q)
            li["l_extendedprice"].append(round(q * rng.uniform(900, 2100), 2))
            li["l_discount"].append(rng.randint(0, 10) / 100)
            li["l_tax"].append(rng.randint(0, 8) / 100)
            li["l_returnflag"].append(rng.choice("ANR"))
            li["l_linestatus"].append(rng.choice("OF"))
            li["l_shipdate"].append(odates[o] + dt.timedelta(days=rng.randint(1, 121)))
    tables["lineitem"] = pa.table({
        **li,
        "l_orderkey": pa.array(li["l_orderkey"], pa.int64()),
        "l_partkey": pa.array(li["l_partkey"], pa.int64()),
        "l_suppkey": pa.array(li["l_suppkey"], pa.int64()),
        "l_linenumber": pa.array(li["l_linenumber"], pa.int32()),
        "l_shipdate": pa.array(li["l_shipdate"], pa.timestamp("us"))})

    ne, nu = n("events"), n("users")
    t0 = dt.datetime(2024, 1, 1)
    ts = sorted(t0 + dt.timedelta(microseconds=rng.randrange(30 * 86400 * 10 ** 6)) for _ in range(ne))
    etypes = ["click", "view", "purchase", "signup", "error"]
    tables["events"] = pa.table({
        "event_id": pa.array(range(ne), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array([rng.randrange(nu) for _ in range(ne)], pa.int64()),
        "event_type": [rng.choice(etypes) for _ in range(ne)],
        "value": [round(rng.uniform(0, 20), 2) for _ in range(ne)],
        "props": [f'{{"k": {rng.randrange(100)}}}' for _ in range(ne)]})

    nd = n("documents")
    langs = ["en"] * 5 + ["de", "es", "fr", "zh"]
    texts = [" ".join(rng.choice(DOC_WORDS) for _ in range(rng.randint(10, 99))) for _ in range(nd)]
    tables["documents"] = pa.table({
        "doc_id": pa.array(range(nd), pa.int64()),
        "text": texts,
        "lang": [rng.choice(langs) for _ in range(nd)],
        "source": [f"src{rng.randrange(20)}" for _ in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    nv, dim = n("embeddings"), 64
    centers = [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(10)]
    vecs, labels = [], []
    for _ in range(nv):
        lab = rng.randrange(10)
        v = [c + rng.gauss(0, 1.5) for c in centers[lab]]
        norm = math.sqrt(sum(x * x for x in v))
        vecs.append([x / norm for x in v])
        labels.append(lab)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(range(nv), pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})

    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"), compression="snappy")
