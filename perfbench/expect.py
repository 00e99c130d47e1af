"""DuckDB recompute of what the GitHub-event pipeline must produce, and
the comparisons against what the program wrote.

The expected tables come from the generator's ``truth.parquet`` (one row
per generated line) by the reference's own rules, written here in SQL:
corrupt lines and lines without id or time are dropped, F1 bot logins
are dropped at ingest, ids are deduplicated, F2 bots and null logins are
never scored, only Push and PullRequest events score, scores count per
(hour, login) and sum per (day, login), top-K orders by score then login.
"""
import duckdb

F1 = r"(\[bot\]|-bot$)"
F2 = (r"(\[bot\]|bot$|^aws|copilot|renovate|greenkeeper|snyk|security|"
      r"automation|deploy|ci-|-ci|build|release)")
LATE_RULE_MIN = 30  # between the 5-minute watermark and the 60-minute lag
TOP_K = 10


def _valid(truth, max_src=None):
    keep = f"src < {max_src}" if max_src is not None else "true"
    return f"""
      SELECT * FROM read_parquet('{truth}')
      WHERE {keep} AND kind <> 'corrupt' AND id IS NOT NULL
        AND created_at IS NOT NULL
        AND NOT coalesce(regexp_matches(login, '{F1}'), false)"""


def _scored(events):
    return f"""
      SELECT date_trunc('hour', created_at) AS hour, login, count(*) AS score
      FROM ({events})
      WHERE type IN ('PushEvent', 'PullRequestEvent')
        AND login IS NOT NULL
        AND NOT regexp_matches(lower(login), '{F2}')
      GROUP BY ALL"""


def batch_events(truth):
    """Events after clean + dedup of the batch path (earliest per id)."""
    return f"""
      SELECT * EXCLUDE (rn) FROM (
        SELECT *, row_number() OVER (PARTITION BY id
                                     ORDER BY created_at, src, pos) AS rn
        FROM ({_valid(truth)})) WHERE rn = 1"""


def live_ontime(truth, landed):
    """Lines of the first ``landed`` polls that pass the ingest filters and
    are not late: far behind the newest event of every earlier poll."""
    return f"""
      WITH v AS ({_valid(truth, landed)}),
      polls AS (SELECT src, max(created_at) AS m FROM v GROUP BY src),
      prior AS (SELECT p.src, (SELECT max(q.m) FROM polls q WHERE q.src < p.src) AS pm
                FROM polls p)
      SELECT v.* FROM v JOIN prior USING (src)
      WHERE pm IS NULL OR v.created_at >= pm - INTERVAL {LATE_RULE_MIN} MINUTE"""


def live_events(truth, landed):
    """Events the streaming ingest keeps: on-time lines, first per id."""
    return f"""
      SELECT * EXCLUDE (rn) FROM (
        SELECT *, row_number() OVER (PARTITION BY id ORDER BY src, pos) AS rn
        FROM ({live_ontime(truth, landed)})) WHERE rn = 1"""


def late_lines(truth, first, landed):
    """Lines of polls [first, landed) that pass the ingest filters but are
    late: the rows the dedup operator's watermark must drop."""
    q = lambda sql: duckdb.sql(sql).fetchone()[0]
    return (q(f"SELECT count(*) FROM ({_valid(truth, landed)}) WHERE src >= {first}")
            - q(f"SELECT count(*) FROM ({live_ontime(truth, landed)}) WHERE src >= {first}"))


def _diff(con, got, want, what):
    """Rows in one relation and not the other, both ways, as text."""
    a = con.execute(f"SELECT count(*) FROM (({got}) EXCEPT ALL ({want}))").fetchone()[0]
    b = con.execute(f"SELECT count(*) FROM (({want}) EXCEPT ALL ({got}))").fetchone()[0]
    n = con.execute(f"SELECT count(*) FROM ({want})").fetchone()[0]
    return [] if a == b == 0 else [
        f"{what}: {a} rows only in the program's table, {b} only in the "
        f"recompute (recompute has {n})"]


def compare_scores(events, hourly_dir, daily_dir, topk):
    """Failures (empty when the program's hourly, daily and top-K outputs
    equal the recompute over ``events`` exactly)."""
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute(f"CREATE TEMP VIEW exp_hourly AS {_scored(events)}")
    got_h = f"""SELECT strftime(hour, '%Y-%m-%d %H') AS h, login, score
                FROM read_parquet('{hourly_dir}/**/*.parquet', hive_partitioning = true)"""
    want_h = "SELECT strftime(hour, '%Y-%m-%d %H') AS h, login, score FROM exp_hourly"
    fails = _diff(con, got_h, want_h, "hourly scores")
    got_d = f"""SELECT strftime(CAST(day AS DATE), '%Y-%m-%d') AS d, login, score
                FROM read_parquet('{daily_dir}/*.parquet')"""
    want_d = """SELECT strftime(CAST(hour AS DATE), '%Y-%m-%d') AS d, login,
                       sum(score) AS score FROM exp_hourly GROUP BY ALL"""
    fails += _diff(con, got_d, want_d, "daily scores")
    want_top = con.execute(f"""
        SELECT d, login, CAST(score AS BIGINT) FROM ({want_d})
        ORDER BY score DESC, login LIMIT {TOP_K}""").fetchall()
    got_top = [(str(d)[:10], l, int(s)) for d, l, s in topk]
    if got_top != [tuple(r) for r in want_top]:
        fails.append(f"top-{TOP_K}: program {got_top} vs recompute {want_top}")
    return fails


def declared(truth, max_src=None):
    """Injected line counts by kind, as the generator declared them."""
    keep = f"WHERE src < {max_src}" if max_src is not None else ""
    return dict(duckdb.sql(f"""SELECT kind, count(*) FROM read_parquet('{truth}')
                               {keep} GROUP BY kind""").fetchall())


def backfill_counts(truth):
    """What the batch path's own functions must count on the input."""
    con = duckdb.connect()
    q = lambda s: con.execute(s).fetchone()[0]
    t = f"read_parquet('{truth}')"
    ev = batch_events(truth)
    return {
        "lines": q(f"SELECT count(*) FROM {t}"),
        "corrupt": q(f"SELECT count(*) FROM {t} WHERE kind = 'corrupt'"),
        "clean": q(f"SELECT count(*) FROM ({_valid(truth)})"),
        "dedup": q(f"SELECT count(*) FROM ({ev})"),
        "null_login": q(f"SELECT count(*) FROM ({ev}) WHERE login IS NULL"),
        "scored": q(f"SELECT coalesce(sum(score), 0) FROM ({_scored(ev)})"),
    }


def live_bronze(truth, landed, bronze_dir):
    """Failures of the bronze table against the ingest rules, and the
    injected counts recovered from it."""
    con = duckdb.connect()
    con.execute(f"""CREATE TEMP VIEW bronze AS SELECT id, actor.login AS login
                    FROM read_parquet('{bronze_dir}/**/*.parquet',
                                      hive_partitioning = true)""")
    con.execute(f"CREATE TEMP VIEW want AS {live_events(truth, landed)}")
    con.execute(f"""CREATE TEMP VIEW t AS SELECT * FROM read_parquet('{truth}')
                    WHERE src < {landed}""")
    fails = _diff(con, "SELECT id FROM bronze", "SELECT id FROM want", "bronze ids")
    q = lambda s: con.execute(s).fetchone()[0]
    absent = lambda kind: q(f"""SELECT count(DISTINCT id) FROM t WHERE kind = '{kind}'
                                AND id NOT IN (SELECT id FROM bronze)""")
    recovered = {
        "f1_bot": absent("f1_bot"),
        "late": absent("late"),
        "corrupt": q("SELECT count(*) FROM t WHERE kind = 'corrupt'")
                   - q("""SELECT count(*) FROM bronze WHERE id IN
                          (SELECT id FROM t WHERE kind = 'corrupt')"""),
        "dup": q(f"SELECT count(*) FROM ({live_ontime(truth, landed)})")
               - q("SELECT count(*) FROM bronze"),
        "null_login": q("SELECT count(*) FROM bronze WHERE login IS NULL"),
        "bronze_rows": q("SELECT count(*) FROM bronze"),
        "bronze_ids": q("SELECT count(DISTINCT id) FROM bronze"),
    }
    dec = declared(truth, landed)
    for kind in ("f1_bot", "late", "corrupt"):
        if recovered[kind] != dec.get(kind, 0):
            fails.append(f"{kind}: declared {dec.get(kind, 0)}, "
                         f"recovered {recovered[kind]} from bronze")
    want_dup = q(f"""SELECT count(*) FROM ({live_ontime(truth, landed)})
                     WHERE kind = 'dup'""")
    if recovered["dup"] != want_dup:
        fails.append(f"dup: {want_dup} re-sent on-time lines, the ingest "
                     f"dropped {recovered['dup']}")
    if recovered["bronze_rows"] != recovered["bronze_ids"]:
        fails.append(f"duplicate ids in bronze: {recovered['bronze_rows']} rows, "
                     f"{recovered['bronze_ids']} ids")
    want_null = q("SELECT count(*) FROM want WHERE login IS NULL")
    if recovered["null_login"] != want_null:
        fails.append(f"null logins: expected {want_null}, bronze has "
                     f"{recovered['null_login']}")
    return fails, recovered, dec
