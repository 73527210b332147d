"""Correctness checks for one benchmark run, computed with DuckDB on the
source parquet and on what the program wrote, apart from the program.

Each check that fails counts the operation it covers as failed; the run
goes on. `correct` is false only when a check could not be made.
"""
import glob
import hashlib
import json
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def connect(lake, threads):
    con = duckdb.connect()
    con.execute(f"PRAGMA threads={max(1, threads)}")
    for t in TABLES:
        p = os.path.join(lake, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def parquet(d):
    files = sorted(glob.glob(os.path.join(d, "**", "*.parquet"), recursive=True))
    return f"read_parquet({files!r}, hive_partitioning=false)" if files else None


def one_value(con, sql):
    return con.execute(sql).fetchone()[0]


# ---- queries: tools/selfcheck.py's compare (columns sorted by name,
# values rendered and hashed in row order, row counts and column set) --

def norm(v):
    if v is None:
        return "\x00NULL"
    if isinstance(v, float):
        return repr(v)
    return str(v)


def table_digest(cur):
    cols = [c[0] for c in cur.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    h, n = hashlib.sha256(), 0
    while True:
        rows = cur.fetchmany(65536)
        if not rows:
            return sorted(cols), n, h.hexdigest()
        for r in rows:
            h.update("\x01".join(norm(r[i]) for i in order).encode())
            h.update(b"\x02")
        n += len(rows)


def check_queries(con, res):
    c = res["checks"]
    oracle = json.load(open(c["oracle"]))
    bad = {}
    for name, sql in sorted(oracle.items()):
        for out in c["outputs"]:
            if name in bad:
                break
            src = parquet(os.path.join(out, name))
            if src is None:
                if c["failures"].get(name, 0) == 0:
                    bad[name] = f"no output in {os.path.basename(out)}"
                continue
            if sql is None:
                continue  # no oracle: the evaluation not raising is all that is checked
            try:
                spark = table_digest(con.cursor().execute(f"SELECT * FROM {src}"))
                duck = table_digest(con.cursor().execute(sql))
            except Exception as e:  # a broken oracle is a check that could not be made
                raise RuntimeError(f"{name}: {e}") from e
            if spark[0] != duck[0]:
                bad[name] = f"columns {spark[0]} vs oracle {duck[0]}"
            elif spark[1] != duck[1]:
                bad[name] = f"rows {spark[1]} vs oracle {duck[1]}"
            elif spark[2] != duck[2]:
                bad[name] = "hash differs from the oracle"
    # every timed attempt of a wrong query that did not raise is a failed operation
    failed = sum(c["attempts"].get(n, 0) - c["failures"].get(n, 0) for n in bad)
    return failed, [f"check {n}: {why}" for n, why in bad.items()]


# ---- lifecycle ----------------------------------------------------------

ACTIVITY_TYPES = ["click", "view", "signup", "purchase", "error"]
DEAL_FLAGS = {"deal_notes": "R", "deal_tasks": "A", "deal_activities": "N"}


def expected_latest(con, total):
    """Latest rows per table for contacts 0..total-1, from the source."""
    ev = f"FROM events WHERE user_id < {total}"
    orders = f"FROM orders WHERE o_custkey < {total}"
    exp = {
        "contacts": total,
        "activities": one_value(con, f"SELECT count(DISTINCT event_id) {ev}"),
        "orders": one_value(con, f"SELECT count(DISTINCT o_orderkey) {orders}"),
        "contact_tags": one_value(con, f"SELECT count(DISTINCT user_id) {ev}"),
        "dim_nation": one_value(con, "SELECT count(*) FROM nation"),
        "dim_region": one_value(con, "SELECT count(*) FROM region"),
    }
    exp["orders_enriched"] = exp["orders"]
    exp["contact_scores"] = exp["contact_tags"]
    for t in ACTIVITY_TYPES:
        exp[f"activity_{t}"] = one_value(
            con, f"SELECT count(DISTINCT event_id) {ev} AND event_type = '{t}'")
    for table, flag in DEAL_FLAGS.items():
        exp[table] = one_value(con, f"""
            SELECT count(*) FROM (SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem
              JOIN orders ON l_orderkey = o_orderkey
              WHERE o_custkey < {total} AND l_returnflag = '{flag}')""")
    return exp


KEYS = {"contacts": "contact_id", "activities": "event_id", "orders": "o_orderkey",
        "orders_enriched": "o_orderkey", "contact_tags": "contact_id",
        "contact_scores": "contact_id", "dim_nation": "n_nationkey",
        "dim_region": "r_regionkey",
        **{f"activity_{t}": "event_id" for t in ACTIVITY_TYPES},
        **{t: "deal_id, l_linenumber" for t in DEAL_FLAGS}}


def check_lake(con, root, total, run_id, delta_ids, expected):
    problems = []
    for table, want in expected.items():
        latest = parquet(os.path.join(root, "master", "latest", table))
        raw = parquet(os.path.join(root, "master", "raw", table))
        if latest is None or raw is None:
            problems.append(f"{table}: no latest/raw files")
            continue
        got = one_value(con, f"SELECT count(*) FROM {latest}")
        if got != want:
            problems.append(f"{table}: latest has {got} rows, source says {want}")
        dup_keys = one_value(con, f"SELECT count(*) FROM (SELECT {KEYS[table]} FROM {latest} "
                                  f"GROUP BY ALL HAVING count(*) > 1)")
        if dup_keys:
            problems.append(f"{table}: {dup_keys} keys repeat in latest")
        n_raw = one_value(con, f"SELECT count(*) FROM {raw}")
        n_content = one_value(con, f"SELECT count(*) FROM (SELECT DISTINCT * EXCLUDE "
                                   f"(run_id, extracted_at) FROM {raw})")
        if n_raw != n_content:
            problems.append(f"{table}: raw holds {n_raw - n_content} content duplicates")
    with open(os.path.join(root, "state.json")) as f:
        wm = json.load(f)["max_id"]
    if wm != total - 1:
        problems.append(f"watermark {wm}, expected {total - 1}")
    delta = parquet(os.path.join(root, "runs", run_id, "delta", "contacts"))
    ids = {r[0] for r in con.execute(f"SELECT id FROM {delta}").fetchall()} if delta else set()
    if ids != delta_ids:
        problems.append(f"contacts delta holds {len(ids)} ids, expected {len(delta_ids)} "
                        f"(missing {sorted(delta_ids - ids)[:5]}, extra {sorted(ids - delta_ids)[:5]})")
    return problems


def check_lifecycle(con, res):
    c = res["checks"]
    n, seeds = c["n"], set(c["seed_ids"])
    expected = expected_latest(con, n)
    failed, errors = 0, []
    for i, f in enumerate(c["rounds"]):
        problems = check_lake(con, f["lake"], n, f["run_id"], set(range(n)) | seeds, expected)
        if f["resolved_seeds"] != len(seeds):
            problems.append(f"{f['resolved_seeds']} seeds resolved, expected {len(seeds)}")
        if problems:
            failed += 1
            errors += [f"check round {i}: {p}" for p in problems]
    return failed, errors


# ---- stream -------------------------------------------------------------

def shingles(text, n=4):
    toks = [t for t in text.split(" ") if t]
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def ingest_problems(con, lake, eval_sh):
    """No two curated docs share a text, none shares a word 4-gram with
    the eval set, and every doc_id is a source document."""
    docs = parquet(lake)
    if docs is None:
        return ["curated lake is empty"]
    problems = []
    n, n_text = con.execute(f"SELECT count(*), count(DISTINCT text) FROM {docs}").fetchone()
    if n != n_text:
        problems.append(f"{n - n_text} curated docs repeat a text")
    orphans = one_value(con, f"SELECT count(*) FROM {docs} d ANTI JOIN documents s "
                             f"ON d.doc_id = s.doc_id")
    if orphans:
        problems.append(f"{orphans} curated doc_ids are not in the source")
    leaked = sum(1 for (t,) in con.execute(f"SELECT text FROM {docs}").fetchall()
                 if shingles(t) & eval_sh)
    if leaked:
        problems.append(f"{leaked} curated docs share a 4-gram with the eval set")
    return problems


def funnel_problems(con, changelog, want_steps):
    """The changelog folded to its net +1 per (contact, step) gives the
    batch funnel's step counts, and no pair nets outside {0, +1}."""
    log = parquet(changelog)
    if log is None:
        return ["no changelog"]
    net = con.execute(f"""SELECT step, sum(CASE WHEN a = 1 THEN 1 ELSE 0 END),
                                 sum(CASE WHEN a NOT IN (0, 1) THEN 1 ELSE 0 END)
                          FROM (SELECT contact_id, step, sum(action) AS a FROM {log}
                                GROUP BY ALL) GROUP BY step""").fetchall()
    got = {s: k for s, k, _ in net}
    problems = []
    if any(b for _, _, b in net):
        problems.append("changelog nets outside {0, +1} for some (contact, step)")
    for s in (1, 2, 3):
        if got.get(s, 0) != want_steps.get(s, 0):
            problems.append(f"step {s}: changelog folds to {got.get(s, 0)}, "
                            f"oracle {want_steps.get(s, 0)}")
    return problems


def check_stream(con, res):
    c = res["checks"]
    failed, errors = 0, []
    n_feed = one_value(con, f"SELECT count(*) FROM {parquet(c['events_feed'])}")
    n_events = one_value(con, "SELECT count(*) FROM events")
    # q_funnel_steps' registered oracle on the events the feed was staged
    # from; its rows are the three steps in order
    want_steps = {i + 1: users for i, (_, users) in
                  enumerate(con.execute(c["funnel_oracle"]).fetchall())}
    eval_sh = set()
    for (text,) in con.execute(f"SELECT text FROM documents WHERE doc_id % 211 = "
                               f"{c['eval_residue']}").fetchall():
        eval_sh |= shingles(text)
    for i, r in enumerate(c["rounds"]):
        checks = {"ingest": lambda: ingest_problems(con, r["ingest_lake"], eval_sh),
                  "funnel": lambda: funnel_problems(con, r["funnel_changelog"], want_steps)}
        for op in r["drained"]:  # a drain that raised is already counted
            problems = checks[op]()
            if op == "funnel" and n_feed != n_events:
                problems.append(f"feed holds {n_feed} events, source {n_events}")
            if problems:
                failed += 1
                errors += [f"check round {i} {op}: {p}" for p in problems]
    return failed, errors


def run(workload, res, lake, threads):
    con = connect(lake, threads)
    fn = {"queries": check_queries, "lifecycle": check_lifecycle, "stream": check_stream}[workload]
    try:
        failed, errors = fn(con, res)
        return {"correct": True, "failed": failed, "errors": errors}
    except Exception as e:
        return {"correct": False, "failed": 0, "errors": [f"check could not be made: {e}"]}
    finally:
        con.close()
