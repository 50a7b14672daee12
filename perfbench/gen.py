"""Input generators for the benchmark.

Two kinds of input, both deterministic:

* ``write_fixtures`` writes a twin of the engine's TPC-H-ish fixture set
  (``region`` .. ``embeddings``) at scale factor ``SF``: the same column
  names, parquet physical types, per-scale row counts, value ranges and
  near-duplicate structure, from a fixed seed. The ``analyst`` and ``curation``
  workloads read it, and their committed golden fingerprints are taken
  over it, so it never depends on ``--seed``.
* ``write_ingest_dump`` writes the newline-JSON Reddit dump the
  ``ingest`` workload feeds through ``JsonDumpSource``: several
  subreddits with skewed post counts, a comment fan-out, and rounds that
  re-offer a seeded share of already-offered posts. Alongside it go the
  expectations the harness checks the warehouse against. It depends only
  on ``--seed``.
"""
import datetime as dt
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE_SEED = 42
# Half the engine's bench scale (sf0.1): one cold pass of each workload
# stays near half a minute on four cores, inside the benchmark's budget.
SF = 0.05
# Bump when the fixture generator changes, so a stale copy is rebuilt.
FIXTURE_VERSION = "1"

WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()


def _write(path, columns, schema):
    pq.write_table(pa.table(columns, schema=schema), path)


def _days(rng, n, start, end):
    span = (end - start).days
    return np.datetime64(start) + rng.integers(0, span + 1, n).astype(
        "timedelta64[D]")


def fixture_rows(sf=SF):
    """Rows per fact table at scale ``sf``, as the engine's fixtures have
    them (linear in ``sf``; embeddings never fewer than 500)."""
    n = {"customer": 150000, "supplier": 10000, "part": 200000,
         "orders": 1500000, "lineitem": 6000000, "events": 1000000,
         "documents": 50000}
    rows = {t: int(round(k * sf)) for t, k in n.items()}
    rows["embeddings"] = max(500, int(round(20000 * sf)))
    return rows


def write_fixtures(out_dir, sf=SF):
    """Write the ten fixture tables under ``out_dir`` at scale ``sf``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(FIXTURE_SEED)
    rows = fixture_rows(sf)
    n_cust, n_supp, n_part, n_ord = (rows["customer"], rows["supplier"],
                                     rows["part"], rows["orders"])
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    _write(f"{out_dir}/region.parquet",
           {"r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]},
           pa.schema([("r_regionkey", i32), ("r_name", s)]))
    _write(f"{out_dir}/nation.parquet",
           {"n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": np.arange(25, dtype=np.int32) % 5},
           pa.schema([("n_nationkey", i32), ("n_name", s),
                      ("n_regionkey", i32)]))

    n = n_cust
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                         "MACHINERY"])
    _write(f"{out_dir}/customer.parquet",
           {"c_custkey": np.arange(n, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n)],
            "c_nationkey": rng.integers(0, 25, n, dtype=np.int32),
            "c_acctbal": money(-999.99, 9999.99, n),
            "c_mktsegment": segments[rng.integers(0, 5, n)]},
           pa.schema([("c_custkey", i64), ("c_name", s), ("c_nationkey", i32),
                      ("c_acctbal", f64), ("c_mktsegment", s)]))

    n = n_supp
    _write(f"{out_dir}/supplier.parquet",
           {"s_suppkey": np.arange(n, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n)],
            "s_nationkey": rng.integers(0, 25, n, dtype=np.int32),
            "s_acctbal": money(-999.99, 9999.99, n)},
           pa.schema([("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32),
                      ("s_acctbal", f64)]))

    n = n_part
    adj = np.array("large hot blue old cold small red green".split())
    noun = np.array("ring bolt plate gear nut screw pipe wire".split())
    types = np.array("ECONOMY LARGE MEDIUM PROMO SMALL STANDARD".split())
    _write(f"{out_dir}/part.parquet",
           {"p_partkey": np.arange(n, dtype=np.int64),
            "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n)], " "),
                                  noun[rng.integers(0, 8, n)]),
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
            "p_type": types[rng.integers(0, 6, n)],
            "p_size": rng.integers(1, 51, n, dtype=np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) * 0.1, 2)},
           pa.schema([("p_partkey", i64), ("p_name", s), ("p_brand", s),
                      ("p_type", s), ("p_size", i32), ("p_retailprice", f64)]))

    n = n_ord
    priorities = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                           "5-LOW"])
    _write(f"{out_dir}/orders.parquet",
           {"o_orderkey": np.arange(n, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n, dtype=np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n)],
            "o_totalprice": money(1000.0, 500000.0, n),
            "o_orderdate": _days(rng, n, dt.date(1995, 1, 1),
                                 dt.date(2001, 8, 1)),
            "o_orderpriority": priorities[rng.integers(0, 5, n)]},
           pa.schema([("o_orderkey", i64), ("o_custkey", i64),
                      ("o_orderstatus", s), ("o_totalprice", f64),
                      ("o_orderdate", ts), ("o_orderpriority", s)]))

    n = rows["lineitem"]
    _write(f"{out_dir}/lineitem.parquet",
           {"l_orderkey": rng.integers(0, n_ord, n, dtype=np.int64),
            "l_partkey": rng.integers(0, n_part, n, dtype=np.int64),
            "l_suppkey": rng.integers(0, n_supp, n, dtype=np.int64),
            "l_linenumber": rng.integers(1, 8, n, dtype=np.int32),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": money(900.0, 105000.0, n),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
            "l_shipdate": _days(rng, n, dt.date(1995, 1, 2),
                                dt.date(2001, 11, 4))},
           pa.schema([("l_orderkey", i64), ("l_partkey", i64),
                      ("l_suppkey", i64), ("l_linenumber", i32),
                      ("l_quantity", f64), ("l_extendedprice", f64),
                      ("l_discount", f64), ("l_tax", f64),
                      ("l_returnflag", s), ("l_linestatus", s),
                      ("l_shipdate", ts)]))

    n = rows["events"]
    month_us = 30 * 86400 * 10**6
    offsets = np.sort(rng.integers(0, month_us, n))
    kinds = np.array(["click", "error", "purchase", "signup", "view"])
    _write(f"{out_dir}/events.parquet",
           {"event_id": np.arange(n, dtype=np.int64),
            "ts": np.datetime64("2024-01-01T00:00:00", "us")
            + offsets.astype("timedelta64[us]"),
            "user_id": rng.integers(0, max(150, n // 66), n, dtype=np.int64),
            "event_type": kinds[rng.integers(0, 5, n)],
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]},
           pa.schema([("event_id", i64), ("ts", ts), ("user_id", i64),
                      ("event_type", s), ("value", f64), ("props", s)]))

    # documents: uniform words from a small vocabulary, 5 % near-duplicates
    # (an earlier document plus a trailing "dup" token) and a few exact
    # copies, so the dedup operators have real pairs to find
    n = rows["documents"]
    vocab = np.array(WORDS)
    texts = [" ".join(vocab[rng.integers(0, len(WORDS), k)])
             for k in rng.integers(10, 101, n)]
    for i in sorted(rng.choice(np.arange(1, n), n // 20, replace=False)):
        texts[i] = texts[rng.integers(0, i)] + " dup"
    for i in sorted(rng.choice(np.arange(1, n), max(2, n // 625), replace=False)):
        texts[i] = texts[rng.integers(0, i)]
    langs = np.array(["en", "de", "es", "fr", "zh"])
    _write(f"{out_dir}/documents.parquet",
           {"doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": langs[rng.choice(5, n, p=[0.41, 0.14, 0.15, 0.15, 0.15])],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64)},
           pa.schema([("doc_id", i64), ("text", s), ("lang", s),
                      ("source", s), ("n_chars", i64)]))

    n, dim = rows["embeddings"], 64
    v = rng.standard_normal((n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    _write(f"{out_dir}/embeddings.parquet",
           {"vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n, dtype=np.int32)},
           pa.schema([("vec_id", i64), ("embedding", pa.list_(pa.float32())),
                      ("label", i32)]))


# --- ingest dump -----------------------------------------------------------

# Posts per subreddit and round: a skewed mix, from one large community
# down to a small one.
SUBREDDITS = (("dataengineering", 30), ("apachespark", 4), ("duckdb", 1))
ROUNDS = 2
# Share of each later round's posts that re-offers posts an earlier round
# already offered (same id and content), so the keyed appends drop them.
REOFFER_SHARE = 0.3
# Pipeline knobs the expectations are computed for; the harness passes
# the same values to Pipeline.runAll.
POST_LIMIT = 200
TOP_POSTS = 10       # Pipeline's default comment fan-out
COMMENT_LIMIT = 20   # Pipeline's default comments per post
EPOCH = dt.datetime(2024, 3, 1, tzinfo=dt.timezone.utc)
DAYS = 6


def _iso(t):
    return t.strftime("%Y-%m-%dT%H:%M:%SZ")


def _new_post(rnd, sub, serial, thread):
    pid = f"t3_{sub[:3]}{serial:06d}"
    created = EPOCH + dt.timedelta(seconds=rnd.randrange(DAYS * 86400))
    k = rnd.randrange(4)
    title = ("Weekly thread " if k == 0 else "How do I tune " if k == 1
             else "Show: my ") + " ".join(rnd.choice(WORDS) for _ in range(
                 rnd.randrange(2, 9)))
    selftext = (None if rnd.random() < 0.3 else
                " ".join(rnd.choice(WORDS) for _ in range(rnd.randrange(60))))
    score = int(rnd.paretovariate(1.2) * 5) - 3
    post = {
        "id": pid, "title": title,
        "author": "[deleted]" if rnd.random() < 0.05
        else f"user_{rnd.randrange(400)}",
        "subreddit": sub, "score": score,
        "upvote_ratio": round(rnd.uniform(0.5, 1.0), 2),
        "num_comments": rnd.randrange(60),
        "created_utc": _iso(created), "selftext": selftext,
        "url": f"https://example.com/r/{sub}/{pid}",
        "is_video": rnd.random() < 0.05,
        "is_original_content": rnd.random() < 0.1,
        "over_18": rnd.random() < 0.02,
        "stickied": rnd.random() < 0.01,
        "locked": rnd.random() < 0.01,
    }
    # a thread has more comments with a body than Pipeline takes per post,
    # so a run offers nearly the same number of rows whatever the seed
    comments = []
    for c in range(rnd.randrange(24, 31) if thread else 0):
        comments.append({
            "id": f"t1_{pid[3:]}_{c:03d}", "post_id": pid,
            "author": f"c_user_{rnd.randrange(900)}",
            # a few deleted bodies: the fetch skips them
            "body": None if rnd.random() < 0.08 else " ".join(
                rnd.choice(WORDS) for _ in range(rnd.randrange(1, 40))),
            "score": rnd.randrange(-5, 200),
            "created_utc": _iso(created + dt.timedelta(
                minutes=rnd.randrange(1, 2000))),
            "parent_id": pid, "is_submitter": rnd.random() < 0.1,
        })
    return post, comments


def ingest_plan(seed):
    """The dump's content as Python objects: per round, per subreddit, the
    posts offered and every comment of them."""
    rnd = random.Random(seed)
    seen = {sub: [] for sub, _ in SUBREDDITS}
    serial = 0
    rounds = []
    for r in range(ROUNDS):
        batch = {}
        for sub, n in SUBREDDITS:
            k = int(n * REOFFER_SHARE) if r else 0
            old = rnd.sample(seen[sub], min(k, len(seen[sub])))
            fresh = []
            for _ in range(n - len(old)):
                serial += 1
                # the smallest community's posts have no comments, so
                # every pass makes empty comment fetches
                fresh.append(_new_post(rnd, sub, serial,
                                       thread=sub != SUBREDDITS[-1][0]))
            seen[sub].extend(fresh)
            entries = old + fresh
            rnd.shuffle(entries)
            batch[sub] = entries
        rounds.append(batch)
    return rounds


def _offered_comments(entries):
    """The comments Pipeline hands to the sink for one subreddit run: the
    top TOP_POSTS posts by (score desc, id), each with up to COMMENT_LIMIT
    comments that have a body, in id order."""
    top = sorted(entries, key=lambda e: (-e[0]["score"], e[0]["id"]))
    out = []
    for post, comments in top[:TOP_POSTS]:
        bodied = sorted((c for c in comments if c["body"] is not None),
                        key=lambda c: c["id"])
        out.append(bodied[:COMMENT_LIMIT])
    return out


def _r6(x):
    return float(f"{x:.6f}")


def write_ingest_dump(seed, out_dir):
    """Write the dump for ``seed`` under ``out_dir`` and return its total size
    in bytes.

    Layout: ``round<r>/posts.json`` and ``round<r>/comments.json`` per round;
    ``plan.tsv`` (round, subreddit, posts offered, comments offered,
    non-empty comment fetches); ``expected_posts.json``,
    ``expected_comments.json`` (the distinct ids the warehouse must hold)
    and ``expected_stats.json`` (one row per subreddit and date, from the
    latest round that offered posts of that date, as the upsert keeps
    it).
    """
    rounds = ingest_plan(seed)
    os.makedirs(out_dir, exist_ok=True)
    plan_rows, post_ids, comment_ids, stats = [], set(), set(), {}
    for r, batch in enumerate(rounds):
        rdir = f"{out_dir}/round{r}"
        os.makedirs(rdir, exist_ok=True)
        with open(f"{rdir}/posts.json", "w") as fp, \
                open(f"{rdir}/comments.json", "w") as fc:
            for sub, _ in SUBREDDITS:
                for post, comments in batch[sub]:
                    fp.write(json.dumps(post) + "\n")
                    for c in comments:
                        fc.write(json.dumps(c) + "\n")
        for sub, _ in SUBREDDITS:
            entries = batch[sub]
            offered = _offered_comments(entries)
            plan_rows.append((r, sub, len(entries),
                              sum(len(c) for c in offered),
                              sum(1 for c in offered if c)))
            post_ids.update(p["id"] for p, _ in entries)
            comment_ids.update(c["id"] for cs in offered for c in cs)
            by_date = {}
            for p, _ in entries:
                by_date.setdefault(p["created_utc"][:10], []).append(p)
            for date, ps in by_date.items():
                stats[(sub, date)] = {
                    "subreddit": sub, "date": date,
                    "total_posts": len(ps),
                    "avg_score": _r6(sum(p["score"] for p in ps) / len(ps)),
                    "avg_comments": _r6(
                        sum(p["num_comments"] for p in ps) / len(ps)),
                    "top_post_score": max(p["score"] for p in ps)}
    with open(f"{out_dir}/plan.tsv", "w") as f:
        for row in plan_rows:
            f.write("\t".join(map(str, row)) + "\n")
    with open(f"{out_dir}/expected_posts.json", "w") as f:
        f.writelines(json.dumps({"id": i}) + "\n" for i in sorted(post_ids))
    with open(f"{out_dir}/expected_comments.json", "w") as f:
        f.writelines(json.dumps({"id": i}) + "\n" for i in sorted(comment_ids))
    with open(f"{out_dir}/expected_stats.json", "w") as f:
        f.writelines(json.dumps(stats[k]) + "\n" for k in sorted(stats))
    return sum(os.path.getsize(os.path.join(d, name))
               for d, _, names in os.walk(out_dir) for name in names)
