#!/usr/bin/env python3
"""The repository benchmark: one command per workload run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It builds the program and the harness
from source (cached in ``.bench_build`` by a hash of the sources),
generates the workload's inputs from the seed, runs the harness JVM
(``perfbench/harness``), checks the program's outputs, writes a full
artifact to ``.bench_build/artifacts/`` and prints one JSON line:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end metrics of BENCHMARK.json; with ``--trace 1``
the per-layer metrics, from a run that records spans and attaches Spark's
listeners. Workloads and metrics are described in perfbench/NOTES.md.
"""
import argparse
import glob
import hashlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)
import expect  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("sf0.1-queries-streams", "gh-live-backfill")
POLL_INTERVAL_S = 0.7   # open-loop landing period of the 100-event polls
WARM_POLLS = 3          # landed before the unmeasured warm-up cycle
LIVE_WINDOW_S = 75      # the landing schedule, which also bounds the live part
LIVE_POLLS = int(LIVE_WINDOW_S / POLL_INTERVAL_S) + 1
JVM_TIMEOUT_S = 150


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_hash():
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt")]
    for base in (os.path.join(ROOT, "project"), os.path.join(HERE, "harness", "project")):
        files += sorted(os.path.join(base, f) for f in os.listdir(base)
                        if os.path.isfile(os.path.join(base, f)))
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "harness")):
        for d, dirs, fs in os.walk(base):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """Compile the program and the harness; return the launch spec.

    The build is kept in ``.bench_build/build-<hash>/``: every class-path
    entry inside the checkout (sbt's mutable ``target/`` class directories)
    is copied there, so a cached build always runs the sources it was
    hashed from, even after the checkout has built other sources since."""
    for need in ("build.sbt", "project", "src/main/scala"):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"no {need} here: run from the root of a full checkout")
    home = os.path.join(BUILD, f"build-{sources_hash()}")
    spec = os.path.join(home, "launch.json")
    if not os.path.exists(spec):
        os.makedirs(f"{BUILD}/tmp", exist_ok=True)
        env = dict(os.environ, COURSIER_MODE="offline",
                   SBT_OPTS=f"-Dsbt.offline=true -Xmx1500m -XX:-UsePerfData "
                            f"-Djava.io.tmpdir={BUILD}/tmp")
        log = os.path.join(BUILD, "build.log")
        with open(log, "w") as out:
            rc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "launchSpec"],
                cwd=os.path.join(HERE, "harness"), env=env, stdout=out,
                stderr=subprocess.STDOUT, timeout=840).returncode
        if rc != 0:
            die(f"build failed (exit {rc}); see {log}")
        with open(os.path.join(HERE, "harness", "target", "launch.json")) as f:
            raw = json.load(f)
        staging = home + ".partial"
        shutil.rmtree(staging, ignore_errors=True)
        os.makedirs(staging)
        cp = []
        for i, entry in enumerate(raw["classpath"]):
            if os.path.commonpath([ROOT, os.path.abspath(entry)]) != ROOT:
                cp.append(entry)  # a versioned library outside the checkout
                continue
            name = f"cp{i:03d}" + ("" if os.path.isdir(entry) else os.path.splitext(entry)[1])
            if os.path.isdir(entry):
                shutil.copytree(entry, os.path.join(staging, name))
            elif os.path.exists(entry):
                shutil.copy2(entry, os.path.join(staging, name))
            else:
                continue
            cp.append(os.path.join(home, name))
        with open(os.path.join(staging, "launch.json"), "w") as f:
            json.dump({"classpath": cp, "java_options": raw["java_options"]}, f)
        shutil.rmtree(home, ignore_errors=True)
        os.replace(staging, home)
    with open(spec) as f:
        return json.load(f)


def make_inputs(workload, seed, inputs):
    if workload == "sf0.1-queries-streams":
        gen.tables(f"{inputs}/tables", seed)
        shutil.copy(os.path.join(HERE, "suite.txt"), f"{inputs}/suite.txt")
        return
    gen.gh_polls(f"{inputs}/polls", seed, WARM_POLLS + LIVE_POLLS, first_late=WARM_POLLS)
    os.replace(f"{inputs}/polls/truth.parquet", f"{inputs}/polls-truth.parquet")
    with open(f"{inputs}/live.txt", "w") as f:
        f.write(f"{POLL_INTERVAL_S} {WARM_POLLS}\n")
    gen.gh_day(f"{inputs}/day", seed)
    os.replace(f"{inputs}/day/truth.parquet", f"{inputs}/day-truth.parquet")
    n = duckdb.sql(f"SELECT count(*) FROM '{inputs}/day-truth.parquet'").fetchone()[0]
    with open(f"{inputs}/day.txt", "w") as f:
        f.write(f"{n}\n")


def suite_names():
    with open(os.path.join(HERE, "suite.txt")) as f:
        return [l.strip() for l in f if l.strip()]


def check_suite(c):
    """graft.Verify's dump of the suite against dev/check.py's oracle rules."""
    got = json.load(open(f"{c['verify_dir']}/queries.json"))
    fails = [] if sorted(got) == sorted(suite_names()) else [
        f"verify dumped {sorted(got)}, expected the suite list"]
    p = subprocess.run([sys.executable, os.path.join(ROOT, "dev", "check.py"),
                        c["verify_dir"], c["tables"]],
                       capture_output=True, text=True, timeout=120)
    fails += [l for l in p.stdout.splitlines() if l.startswith("FAIL")]
    if p.returncode != 0 and not fails:
        fails.append(f"dev/check.py exit {p.returncode}: {p.stderr[-500:]}")
    return fails, {"oracle": p.stdout.strip().splitlines()[-1:],
                   "duckdb_s": duckdb_suite_s(c["tables"], c["verify_dir"])}


def check_streams(c):
    """Each served view equals its one-shot batch twin (compared in the JVM)."""
    twins = c["twins"]
    fails = [f"{k}: {v}" for k, v in sorted(twins.items()) if not v.startswith("equal")]
    if len(twins) != 13:
        fails.append(f"{len(twins)} stream twins compared, expected 13")
    return fails, {"twins": twins}


def check_live(c, samples, layers, inputs):
    """The polls ingested are the first n landed (the ones landed during
    the last cycle stay pending); the tables must match those n."""
    truth = f"{inputs}/polls-truth.parquet"
    n = len(c["ingested"])
    if sorted(c["ingested"]) != [f"poll-{i:05d}.json" for i in range(n)] \
            or n > samples["landed_total"]:
        return [f"ingested {n} poll files, not the first {n} of "
                f"{samples['landed_total']} landed"], {}
    fails = expect.compare_scores(expect.live_events(truth, n),
                                  c["hourly"], c["daily"], c["topk"])
    more, recovered, dec = expect.live_bronze(truth, n, c["bronze"])
    fails += more
    if layers is not None:
        late = expect.late_lines(truth, samples["first_measured_poll"], n)
        if layers["ingest.late_dropped"] != late:
            fails.append(f"watermark dropped {layers['ingest.late_dropped']} rows "
                         f"in the measured cycles, {late} late lines were served there")
    return fails, {"declared": dec, "recovered": recovered, "ingested": n}


def check_backfill(c, inputs):
    truth = f"{inputs}/day-truth.parquet"
    fails = expect.compare_scores(expect.batch_events(truth), c["hourly"],
                                  c["daily"], c["topk"])
    want = expect.backfill_counts(truth)
    got = c["counts"]
    fails += [f"{k}: program counts {got[k]}, recompute {v}"
              for k, v in want.items() if got[k] != v]
    return fails, {"declared": expect.declared(truth), "counts": got, "recovered": {
        "corrupt": got["corrupt"],
        "f1_bot_lines": got["lines"] - got["corrupt"] - got["clean"],
        "dup_lines": got["clean"] - got["dedup"],
        "null_login": got["null_login"]}}


def check(workload, res, inputs):
    """Failures of the program's outputs, and details for the artifact."""
    c, layers = res["check"], res.get("layers")
    parts = ([("suite", check_suite(c["suite"])), ("streams", check_streams(c["streams"]))]
             if workload == "sf0.1-queries-streams" else
             [("live", check_live(c["live"], res["samples"]["live"], layers, inputs)),
              ("backfill", check_backfill(c["backfill"], inputs))])
    return ([f"{p}: {f}" for p, (fs, _) in parts for f in fs],
            {p: d for p, (_, d) in parts})


def duckdb_suite_s(tables, verify_dir):
    """Same-boot DuckDB time for the suite's oracle SQL, one run per query
    (context for the suite's pass_s, not gated)."""
    oracle = json.load(open(f"{verify_dir}/oracle_sql.json"))
    con = duckdb.connect()
    for t in glob.glob(f"{tables}/*.parquet"):
        name = os.path.basename(t)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{t}')")
    per_query = {}
    for name, sql in oracle.items():
        t0 = time.perf_counter()
        con.execute(sql).fetchall()
        per_query[name] = time.perf_counter() - t0
    return per_query


def trace_overhead(workload, seed, traced):
    """Traced minus untraced end-to-end metrics: against the untraced run of
    the same seed if one was made here, else against the median of the
    untraced runs of the workload that were."""
    same = os.path.join(BUILD, "artifacts", f"{workload}-s{seed}-t0.json")
    base = [same] if os.path.exists(same) else sorted(
        glob.glob(os.path.join(BUILD, "artifacts", f"{workload}-s*-t0.json")))
    if not base:
        return {"vs": [], "note": "no untraced run of this workload to compare with"}
    runs = [json.load(open(f))["e2e"] for f in base]
    return {"vs": [os.path.basename(f) for f in base],
            "traced_minus_untraced": {
                k: v - statistics.median(r[k] for r in runs)
                for k, v in traced.items() if all(k in r for r in runs)}}


def host():
    mem = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem = int(line.split()[1]) // 1024
    commit = None
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        pass
    return {"cores": os.cpu_count(), "mem_mb": mem, "machine": platform.machine(),
            "python": platform.python_version(), "git_commit": commit,
            "source_hash": sources_hash()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    spec = build()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)

    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    inputs, work = f"{run_dir}/inputs", f"{run_dir}/work"
    os.makedirs(f"{work}/tmp")
    t_gen = time.perf_counter()
    make_inputs(a.workload, a.seed, inputs)
    t_gen = time.perf_counter() - t_gen

    t_jvm = time.perf_counter()
    out = f"{run_dir}/result.json"
    env = dict(os.environ, SPARK_LOCAL_DIRS=f"{work}/spark-local")
    cmd = (["java"] + spec["java_options"] +
           ["-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
            "-cp", ":".join(spec["classpath"]),
            "graft.perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--inputs", inputs, "--work", work, "--out", out])
    with open(f"{run_dir}/jvm.log", "w") as log:
        try:
            rc = subprocess.run(cmd, env=env, stdout=log, stderr=subprocess.STDOUT,
                                timeout=JVM_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            die(f"harness JVM exceeded {JVM_TIMEOUT_S} s; see {run_dir}/jvm.log")
    if rc != 0 or not os.path.exists(out):
        die(f"harness JVM failed (exit {rc}); see {run_dir}/jvm.log")
    res = json.load(open(out))
    t_jvm = time.perf_counter() - t_jvm

    t_check = time.perf_counter()
    fails, detail = check(a.workload, res, inputs)
    t_check = time.perf_counter() - t_check
    fails += res["errors"]
    for f in fails:
        print(f"perfbench: CHECK FAILED [{a.workload}] {f}", file=sys.stderr)

    if a.trace:
        declared = [m["name"] for m in bench["per_layer"]]
        layers = res["layers"]
        metrics = {m["name"]: {"value": float(layers.get(m["name"], 0.0)),
                               "unit": m["unit"]} for m in bench["per_layer"]}
        detail["not_exercised"] = [n for n in declared if n not in layers]
        detail["trace_overhead"] = trace_overhead(a.workload, a.seed, res["e2e"])
    else:
        metrics = {m["name"]: {"value": float(res["e2e"][m["name"]]), "unit": m["unit"]}
                   for m in bench["end_to_end"]}

    artifact = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "correct": not fails, "failures": fails, "attempted": res["attempted"],
        "failed": res["failed"],
        "fail_frac": res["failed"] / max(1, res["attempted"]),
        "metrics": metrics, "e2e": res["e2e"], "samples": res["samples"],
        "setup_trials_s": res["setup_trials_s"],
        "phases_s": dict(res["phases_s"], input_gen=t_gen, jvm=t_jvm, python_check=t_check),
        "provenance": dict(host(), **res["provenance"]), "check": detail,
    }
    if "suite" in detail and "duckdb_s" in detail["suite"]:
        duck = sum(detail["suite"]["duckdb_s"].values())
        artifact["duckdb_ratio"] = {"spark_suite_s": res["e2e"]["pass_s"],
                                    "duckdb_s": duck, "ratio": res["e2e"]["pass_s"] / duck}
    if a.trace:
        artifact["layers"] = res["layers"]
        artifact["window_s"] = res["window_s"]
        artifact["spans"] = res["spans"]
    os.makedirs(os.path.join(BUILD, "artifacts"), exist_ok=True)
    with open(os.path.join(BUILD, "artifacts",
                           f"{a.workload}-s{a.seed}-t{a.trace}.json"), "w") as f:
        json.dump(artifact, f, indent=1)
    shutil.rmtree(run_dir, ignore_errors=True)

    print(json.dumps({"correct": not fails, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
