"""Seeded input generators for the benchmark.

Everything the program reads is made here from the workload seed, and the
same seed always gives byte-identical inputs:

* ``tables``: the ten sf0.1-shaped parquet tables (TPC-H-like star schema,
  an ``events`` table, ``documents`` and ``embeddings``) that the query
  suite and the partial-state streams read.
* ``gh_day``: one day of GHArchive-shaped ``.json.gz`` hour files.
* ``gh_polls``: 100-event NDJSON poll files, shaped like the reference's
  ``/events?per_page=100`` poll, with overlap between consecutive polls.

GitHub events follow the shape of ``src/test/resources/gh_events.ndjson``
with a Zipf-like login mix, and inject at declared rates: F1 bot logins
(dropped at ingest), F2-only bot logins (kept, never scored), null logins,
duplicate ids inside the 5-minute dedup horizon, events late beyond the
watermark (polls only) and corrupt lines. Next to the event files the
generator writes ``truth.parquet``: one row per line with what the line is,
which the checks recompute the expected tables from in DuckDB.
"""
import datetime as dt
import gzip
import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]

# GitHub event mix. F3 (the scored types) is PushEvent + PullRequestEvent.
GH_TYPES = ["PushEvent", "PullRequestEvent", "IssuesEvent", "WatchEvent",
            "CreateEvent", "IssueCommentEvent", "ForkEvent"]
GH_TYPE_P = [0.45, 0.15, 0.08, 0.12, 0.08, 0.08, 0.04]

# Declared injection rates, as shares of generated lines.
RATES = {
    "f1_bot": 0.03,      # "[bot]" / "-bot" logins: dropped by the ingest filter
    "f2_bot": 0.03,      # batch-heuristic bots: kept in bronze, never scored
    "null_login": 0.01,  # kept in bronze, never scored
    "dup": 0.02,         # re-sent id inside the 5-minute dedup horizon
    "late": 0.01,        # polls only: 60 minutes behind the poll's event time
    "corrupt": 0.005,    # truncated line
}
POLL_SIZE = 100          # the reference's per_page
POLL_OVERLAP = 10        # lines of the previous poll repeated at the head
POLL_EVENT_STEP_S = 20   # event time advanced per poll
LATE_BEHIND_S = 3600     # far past the 5-minute watermark at any batch split
DAY = "2025-08-10"       # the archive day
DAY_EVENTS = 48000       # lines in the archive day
POLL_START = "2025-08-10T12:00:00"  # event time at the first poll


def _write(df, path):
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)


def tables(out, seed):
    """Write the ten tables at sf0.1 row counts."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = 15000, 1000, 20000
    n_ord, n_line, n_ev = 150000, 600000, 100000
    n_doc, n_emb = 5000, 2000

    _write(pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        f"{out}/region.parquet")
    _write(pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)}),
        f"{out}/nation.parquet")
    _write(pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD",
                                    "BUILDING", "FURNITURE"], n_cust)}),
        f"{out}/customer.parquet")
    _write(pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)}),
        f"{out}/supplier.parquet")
    adj = ["large", "hot", "small", "cold", "red", "blue", "green", "shiny"]
    noun = ["ring", "bolt", "nut", "screw", "gear", "pipe", "wire", "plate"]
    _write(pd.DataFrame({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["LARGE", "ECONOMY", "STANDARD", "SMALL",
                              "MEDIUM", "PROMO"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2)}),
        f"{out}/part.parquet")
    day0 = np.datetime64("1995-01-01T00:00:00", "us")
    _write(pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["O", "F", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": day0 + rng.integers(0, 2404, n_ord).astype(
            "timedelta64[D]"),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)}),
        f"{out}/orders.parquet")
    lq = rng.integers(1, 51, n_line).astype(np.float64)
    _write(pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": lq,
        "l_extendedprice": np.round(lq * rng.uniform(900, 2100, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["O", "F"], n_line),
        "l_shipdate": day0 + rng.integers(1, 2499, n_line).astype(
            "timedelta64[D]")}),
        f"{out}/lineitem.parquet")
    ev_ts = np.datetime64("2024-01-01T00:00:00", "us") + np.sort(
        rng.integers(0, 30 * 86400 * 10**6, n_ev)).astype("timedelta64[us]")
    _write(pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ev_ts,
        "user_id": rng.integers(0, 1500, n_ev).astype(np.int64),
        "event_type": rng.choice(["signup", "click", "error", "view",
                                  "purchase"], n_ev),
        "value": np.round(rng.exponential(100.0, n_ev), 2),
        "props": [json.dumps({"k": int(k)}) for k in
                  rng.integers(0, 100, n_ev)]}),
        f"{out}/events.parquet")
    texts = []
    for i in range(n_doc):
        # about 5% near-duplicates of an earlier document: one word swapped
        if i > 10 and rng.random() < 0.05:
            w = texts[int(rng.integers(0, i))].split()
            w[int(rng.integers(0, len(w)))] = "dup"
            texts.append(" ".join(w))
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, 30, k)))
    _write(pd.DataFrame({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}),
        f"{out}/documents.parquet")
    centers = rng.normal(0, 1, (10, 64))
    labels = rng.integers(0, 10, n_emb)
    vecs = centers[labels] + rng.normal(0, 0.6, (n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.table({
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array([v.astype(np.float32) for v in vecs],
                              type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32))})
    pq.write_table(emb, f"{out}/embeddings.parquet")


# ---- GitHub events -------------------------------------------------------

class _Events:
    """Seeded GitHub-event factory shared by the archive and poll shapes.
    Draws are made in bulk per call, so a day of events takes seconds."""

    def __init__(self, seed, n_users):
        self.rng = np.random.default_rng(seed)
        w = 1.0 / np.arange(1, n_users + 1) ** 1.1
        self.user_p = w / w.sum()
        self.n_users = n_users
        self.next_id = 10**9 + seed * 10**7

    def make(self, times, allow_late):
        """One event per timestamp, as (id, kind, line, truth) tuples."""
        r, n = self.rng, len(times)
        kinds = ["f1_bot", "f2_bot", "null_login", "corrupt"] + (
            ["late"] if allow_late else [])
        p = [RATES[k] for k in kinds]
        kind = r.choice(kinds + ["plain"], n, p=p + [1 - sum(p)])
        user = r.choice(self.n_users, n, p=self.user_p)
        etype = r.choice(GH_TYPES, n, p=GH_TYPE_P)
        k40 = r.integers(0, 40, n)
        uid = r.integers(1, 10**6, n)
        repo = r.integers(1, 5000, n)
        push = r.integers(1, 10**9, n)
        cut = r.random(n)
        out = []
        for i, ts in enumerate(times):
            self.next_id += 1
            eid, kd, k = str(self.next_id), str(kind[i]), int(k40[i])
            if kd == "f1_bot":
                login = f"app{k}[bot]" if k % 2 else f"helper{k}-bot"
            elif kd == "f2_bot":
                login = ["ci-runner{}", "build-farm{}", "release-tool{}",
                         "awsdeployer{}", "r{}bot"][k % 5].format(k)
            elif kd == "null_login":
                login = None
            else:
                login = f"dev{int(user[i]):05d}"
            if kd == "late":
                ts = ts - dt.timedelta(seconds=LATE_BEHIND_S)
            ty = "PushEvent" if kd == "late" else str(etype[i])
            payload = ({"push_id": int(push[i]), "size": 1,
                        "ref": "refs/heads/main",
                        "commits": [{"sha": f"{int(push[i]):08x}",
                                     "message": "fix"}]}
                       if ty == "PushEvent" else {"action": "opened"})
            rp, u = int(repo[i]), int(uid[i])
            line = json.dumps({
                "id": eid, "type": ty,
                "actor": {"id": u, "login": login, "display_login": login,
                          "gravatar_id": "",
                          "url": f"https://api.github.com/users/{login}",
                          "avatar_url": f"https://avatars.githubusercontent.com/u/{u}"},
                "repo": {"id": rp, "name": f"org{rp % 97}/repo{rp}",
                         "url": f"https://api.github.com/repos/org{rp % 97}/repo{rp}"},
                "payload": payload, "public": True,
                "created_at": ts.strftime("%Y-%m-%dT%H:%M:%SZ")})
            if kd == "corrupt":
                # a truncated line: never valid JSON
                line = line[: 10 + int(cut[i] * (len(line) // 2 - 10))]
                truth = (eid, kd, None, None, None)
            else:
                truth = (eid, kd, ty, login, ts)
            out.append((eid, kd, line, truth))
        return out


def _write_truth(rows, path):
    """rows: (src, pos, (id, kind, type, login, created_at))."""
    cols = list(zip(*[(s, p) + t for s, p, t in rows]))
    _write(pd.DataFrame({
        "src": np.array(cols[0], dtype=np.int64),
        "pos": np.array(cols[1], dtype=np.int64),
        "id": cols[2], "kind": cols[3], "type": cols[4], "login": cols[5],
        "created_at": pd.to_datetime(list(cols[6]))}), path)


def gh_day(out, seed):
    """24 GHArchive-style hour files ``<DAY>-<h>.json.gz`` plus truth."""
    os.makedirs(out, exist_ok=True)
    g = _Events(seed, n_users=2000)
    t0 = dt.datetime.fromisoformat(DAY)
    per_hour = DAY_EVENTS // 24
    truth, recent = [], []
    for h in range(24):
        secs = np.sort(g.rng.integers(0, 3600, per_hour))
        dup = g.rng.random(per_hour) < RATES["dup"]
        pick = g.rng.integers(0, 50, per_hour)
        made = g.make([t0 + dt.timedelta(hours=h, seconds=int(s))
                       for s in secs], allow_late=False)
        lines = []
        for i, (eid, kd, line, t) in enumerate(made):
            if dup[i] and recent:
                # identical re-send of one of the last 50 events (minutes)
                eid, line, t = recent[int(pick[i]) % len(recent)]
                kd, t = "dup", (t[0], "dup") + t[2:]
            elif kd != "corrupt":
                recent = (recent + [(eid, line, t)])[-50:]
            truth.append((h, len(lines), t))
            lines.append(line)
        with gzip.open(f"{out}/{DAY}-{h}.json.gz", "wt", compresslevel=6) as f:
            f.write("\n".join(lines) + "\n")
    _write_truth(truth, f"{out}/truth.parquet")


def gh_polls(out, seed, n_polls, first_late):
    """``n_polls`` poll files ``poll-<i>.json`` of POLL_SIZE lines each.

    Poll i covers event time (T(i-1), T(i)], T(i) = POLL_START + i*STEP, and
    repeats the previous poll's last POLL_OVERLAP lines at its head, as
    consecutive GitHub API polls overlap. Late events only appear from
    poll ``first_late`` on, after a batch has advanced the watermark.
    """
    os.makedirs(out, exist_ok=True)
    g = _Events(seed, n_users=300)
    t0 = dt.datetime.fromisoformat(POLL_START)
    truth, prev = [], []
    for i in range(n_polls):
        lines = []
        for eid, line, t in prev[-POLL_OVERLAP:]:
            truth.append((i, len(lines), (t[0], "dup") + t[2:]))
            lines.append(line)
        secs = np.sort(g.rng.integers(1, POLL_EVENT_STEP_S + 1,
                                      POLL_SIZE - len(lines)))
        made = g.make([t0 + dt.timedelta(
            seconds=(i - 1) * POLL_EVENT_STEP_S + int(s)) for s in secs],
            allow_late=i >= first_late)
        prev = []
        for eid, kd, line, t in made:
            if kd != "corrupt":
                prev.append((eid, line, t))
            truth.append((i, len(lines), t))
            lines.append(line)
        with open(f"{out}/poll-{i:05d}.json", "w") as f:
            f.write("\n".join(lines) + "\n")
    _write_truth(truth, f"{out}/truth.parquet")
