#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <pivot_service|registry_mix>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
harness with sbt (into perfbench/target and the root target/); later runs
reuse the build while the sources are unchanged. The input fixture is
`$SPARK_GRAFT_SF_DIR`, default `~/testdata/sf0.1`.

Prints one line per metric (name, value, unit) and the output-check
results, then, as the last line, one JSON object:
{"correct": .., "attempted": .., "failed": .., "metrics": {..}} holding the
end-to-end metrics (--trace 0) or the per-layer metrics (--trace 1).
"""
import argparse
import hashlib
import importlib.util
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

import duckdb
import pandas as pd

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import workloads  # noqa: E402

ROOT = HERE.parent
WORK = HERE / ".work"
LAUNCH = HERE / "target" / "launch"
WORKLOADS = ["pivot_service", "registry_mix"]
# Jobs per second offered by the job leg of traced pivot_service runs,
# about half of what one drainer completes on 4 cores at sf0.1 (see
# README.md).
JOB_RATE = 0.6
HARNESS_TIMEOUT_S = 170

END_TO_END = [
    ("setup_s", "s"), ("latency_p50_ms", "ms"), ("latency_p95_ms", "ms"),
    ("throughput_rps", "req/s"),
    ("heap_live_mb", "MB"), ("storage_mb", "MB"),
]
# Per-layer metrics. A traced run prints all of them, with 0 for a layer
# its workload does not reach.
ENGINE_LAYERS = [
    *[(f"artifact.{k}.{p}", u) for p in ("setup", "first", "cold")
      for k, u in (("builds", "count"), ("build_s_inclusive", "s"), ("max_build_s", "s"))],
    ("transient.release_ms", "ms"),
    ("exec.jobs", "count"), ("exec.stages", "count"), ("exec.tasks", "count"),
    ("exec.task_ms", "ms"), ("exec.task_cpu_ms", "ms"), ("exec.task_wait_ms", "ms"),
    ("exec.shuffle_read_mb", "MB"), ("exec.shuffle_write_mb", "MB"), ("exec.spill_mb", "MB"),
    ("exec.input_mb", "MB"), ("exec.task_failures", "count"),
    ("storage.evict_to_disk", "count"), ("jvm.gc_ms", "ms"), ("jvm.cpu_s", "s"),
    ("codegen.compile_errors", "count"), ("codegen.compile_errors.jobs", "count"),
    ("ops.measured", "count"),
]
SERVICE_LAYERS = [
    ("mdx.parse_ms", "ms"), ("mdx.lower_ms", "ms"), ("plan.analyze_ms", "ms"),
    ("plan.optimize_ms", "ms"), ("plan.physical_ms", "ms"), ("mdx.fact_scan_share", "ratio"),
    ("exec.collect_ms", "ms"), ("service.encode_ms", "ms"), ("service.browse_ms", "ms"),
]
REGISTRY_LAYERS = [
    ("first_pass_s", "s"), ("warm_pass_s", "s"), ("cold_pass_s", "s"),
    *[(f"query.{k}_s.{p}", "s") for k in ("construct", "plan", "exec")
      for p in ("first", "warm", "cold")],
]
JOB_LAYERS = [
    ("jobs.latency_p50_ms", "ms"), ("jobs.latency_p90_ms", "ms"),
    ("jobs.submit_ms", "ms"), ("jobs.status_ms", "ms"), ("jobs.result_ms", "ms"),
    ("jobs.drain_call_ms", "ms"), ("jobs.queue_wait_ms", "ms"), ("jobs.run_ms", "ms"),
    ("jobs.poll_delay_ms", "ms"), ("jobs.maint_run_ms", "ms"), ("jobs.claim_attempts", "count"),
    ("jobs.completed", "count"), ("jobs.claim_useful_ratio", "ratio"),
    ("jobs.event_files", "count"),
    ("stream.batches", "count"), ("stream.batch_ms_p50", "ms"), ("stream.add_batch_ms", "ms"),
    ("stream.latest_offset_ms", "ms"),
    ("loadgen.lag_p95_ms", "ms"), ("loadgen.backlog_max", "count"),
]
PER_LAYER = SERVICE_LAYERS + REGISTRY_LAYERS + JOB_LAYERS + ENGINE_LAYERS


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def pct(xs, p):
    """Linear-interpolated percentile (the harness uses the same rule)."""
    s = sorted(xs)
    if not s:
        return 0.0
    r = p / 100 * (len(s) - 1)
    lo = int(r)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (r - lo)


def median(xs):
    return pct(xs, 50)


# ---------------------------------------------------------------- build

def sources_digest():
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for base in (ROOT / "src" / "main", HERE / "src" / "main"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build(sf, cpus):
    """Compile the engine and the harness, and write a class-data archive
    of the classes a run starts with; returns (classpath, JVM options).
    Runs map the archive instead of loading and verifying each class
    again, which takes a few seconds off JVM and Spark start-up."""
    digest = sources_digest()
    stamp = LAUNCH / "digest"
    if not (stamp.exists() and stamp.read_text() == digest):
        stamp.unlink(missing_ok=True)
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        if "SBT_OPTS" not in env:
            repos = Path.home() / ".sbt" / "repositories"
            opts = ["-Xmx2g"]
            if repos.exists():
                opts += ["-Dsbt.override.build.repos=true",
                         f"-Dsbt.repository.config={repos}", "-Dsbt.offline=true"]
            env["SBT_OPTS"] = " ".join(opts)
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                           cwd=HERE, env=env, capture_output=True, text=True,
                           stdin=subprocess.DEVNULL)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
            fail("build failed")
    cp = (LAUNCH / "classpath").read_text().strip()
    # The engine's own JVM options, with the heap sized below instead.
    opts = [o for o in (LAUNCH / "jvm-options").read_text().split("\n")
            if o and not o.startswith("-Xmx")]
    jsa = LAUNCH / "classes.jsa"
    if not stamp.exists():
        jsa.unlink(missing_ok=True)
        out = WORK / "classes"
        shutil.rmtree(out, ignore_errors=True)
        (out / "tmp").mkdir(parents=True)
        harness(["java", *opts, f"-XX:ArchiveClassesAtExit={jsa}", f"-Xmx{jvm_heap()}",
                 f"-Djava.io.tmpdir={out / 'tmp'}", "-cp", cp, "perfbench.Harness",
                 "--workload", "classes", "--data", sf, "--cpus", str(cpus)], out)
        stamp.write_text(digest)
    if jsa.exists():
        opts.append(f"-XX:SharedArchiveFile={jsa}")
    return cp, opts


def harness(cmd, out):
    """Run the harness JVM in `out`, logging to out/harness.log."""
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(out / "tmp"))
    with open(out / "harness.log", "w") as log:
        try:
            r = subprocess.run(cmd, cwd=out, env=env, stdout=log, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL, timeout=HARNESS_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"harness did not finish within {HARNESS_TIMEOUT_S} s; see {out / 'harness.log'}")
    if r.returncode != 0:
        fail(f"harness exited with {r.returncode}; see {out / 'harness.log'}")


def jvm_heap():
    """Half the machine's memory, between 2 and 8 GiB, as the repository's
    test command sizes it."""
    try:
        kb = next(int(line.split()[1]) for line in open("/proc/meminfo")
                  if line.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


# ---------------------------------------------------------------- checks

def load_check_module():
    """The repository's oracle canonicalization (tools/check.py)."""
    spec = importlib.util.spec_from_file_location("graft_check", ROOT / "tools" / "check.py")
    mod = importlib.util.module_from_spec(spec)
    argv = sys.argv
    sys.argv = [argv[0]]
    try:
        spec.loader.exec_module(mod)
    finally:
        sys.argv = argv
    return mod


def oracle_frame(con, sql, sf, fetch):
    """An oracle result, cached under .work by fixture and SQL text: both
    are fixed for a checkout, and some oracle queries take seconds."""
    key = hashlib.sha256(f"{sf}\n{fetch}\n{sql}".encode()).hexdigest()[:32]
    path = WORK / "oracle-cache" / f"{key}.pkl"
    if path.exists():
        return pd.read_pickle(path)
    if fetch == "rows":
        cur = con.execute(sql)
        frame = pd.DataFrame(cur.fetchall(), columns=[d[0] for d in cur.description],
                             dtype=object)
    else:
        frame = con.sql(sql).df()
    path.parent.mkdir(parents=True, exist_ok=True)
    frame.to_pickle(path)
    return frame


def oracle_db(check, sf):
    """DuckDB views over the fixture's tables, as tools/check.py makes them."""
    con = duckdb.connect()
    for t in check.TABLES:
        p = Path(sf) / f"{t}.parquet"
        if p.exists():
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def same_frame(check, got, exp):
    """check.py's comparison: column names case-insensitively, then rows
    as canonicalized, sorted tuples."""
    if sorted(map(str.lower, got.columns)) != sorted(map(str.lower, exp.columns)):
        return f"columns differ: {sorted(got.columns)} vs {sorted(exp.columns)}"
    got.columns = [c.lower() for c in got.columns]
    exp.columns = [c.lower() for c in exp.columns]
    kg, ke = check.frame_key(got), check.frame_key(exp)
    if len(kg) != len(ke):
        return f"row count {len(kg)} vs {len(ke)}"
    diffs = [(a, b) for a, b in zip(kg, ke) if a != b]
    return f"{len(diffs)} rows differ; first: {diffs[0]}" if diffs else None


def check_pivots(res, sql, sf):
    check = load_check_module()
    con = oracle_db(check, sf)
    bad = []
    for rid, grid in res.get("grids", {}).items():
        # Python values, not a pandas frame: NULL measures of NON EMPTY-off
        # grids stay None instead of becoming NaN.
        exp = oracle_frame(con, sql[rid], sf, "rows")
        got = pd.DataFrame(grid["rows"], columns=grid["columns"], dtype=object)
        why = same_frame(check, got, exp)
        if why:
            bad.append(f"{rid}: grid differs from the DuckDB oracle: {why}")
    return bad, len(res.get("grids", {}))


def check_registry(res, out, sf):
    check = load_check_module()
    con = oracle_db(check, sf)
    bad = []
    for name, q in res.get("oracle", {}).items():
        got = pd.read_parquet(out / "oracle" / name)
        exp = oracle_frame(con, q, sf, "df")
        why = same_frame(check, got, exp)
        if why:
            bad.append(f"{name}: differs from its oracle SQL: {why}")
    return bad, len(res.get("oracle", {}))


def job_events(res):
    """Per job id: the event log's timestamps (epoch ms) by status."""
    root = Path(res["job_root"]) / "job_events"
    rows = duckdb.sql(
        f"SELECT id, status, epoch_ms(event_at) FROM read_parquet('{root}/*.parquet')"
    ).fetchall()
    ev = {}
    for jid, status, at in rows:
        ev.setdefault(jid, {}).setdefault(status, []).append(at)
    return ev


def check_jobs(res, layers):
    """Each job of the job leg ends with exactly one COMPLETED and no
    FAILED; latency is decomposed from the service's own event log."""
    ev = job_events(res)
    bad = []
    wait, run, maint, poll = [], [], [], []
    for op in res["job_ops"]:
        e = ev.get(op["id"], {})
        if len(e.get("COMPLETED", [])) != 1 or e.get("FAILED"):
            bad.append(f"job {op['id']}: {len(e.get('COMPLETED', []))} COMPLETED, "
                       f"{len(e.get('FAILED', []))} FAILED events")
            continue
        done = e["COMPLETED"][0]
        if e.get("PENDING") and e.get("RUNNING"):
            wait.append(max(e["RUNNING"]) - min(e["PENDING"]))
            run.append(done - max(e["RUNNING"]))
            if op["cat"] == "maint":
                maint.append(run[-1])
        if op["observed_wall_ms"] > 0:
            poll.append(op["observed_wall_ms"] - done)
    layers["jobs.queue_wait_ms"] = median(wait)
    layers["jobs.run_ms"] = median(run)
    layers["jobs.maint_run_ms"] = median(maint)
    layers["jobs.poll_delay_ms"] = median(poll)
    if res["jobs_unsustainable"]:
        # An open loop that fell behind measured its backlog, not the
        # service: its latencies are not reported.
        print("UNSUSTAINABLE: the job backlog grew through the end of the schedule")
        layers["jobs.latency_p50_ms"] = layers["jobs.latency_p90_ms"] = 0.0
    return bad, len(res["job_ops"])


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not (ROOT / "build.sbt").exists() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"engine sources not found under {ROOT}")
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", str(Path.home() / "testdata" / "sf0.1"))
    if not (Path(sf) / "lineitem.parquet").exists():
        fail(f"input fixture not found: {sf}")
    cpus = len(os.sched_getaffinity(0))
    t_start = time.monotonic()
    cp, jvm_opts = build(sf, cpus)
    t_built = time.monotonic()

    out = WORK / a.workload
    shutil.rmtree(out, ignore_errors=True)
    (out / "tmp").mkdir(parents=True)
    sql = workloads.write_spec(out / "spec.tsv", a.workload, a.seed, JOB_RATE)
    harness(["java", *jvm_opts, f"-Xmx{jvm_heap()}", f"-Djava.io.tmpdir={out / 'tmp'}",
             "-cp", cp, "perfbench.Harness", "--workload", a.workload,
             "--input", str(out / "spec.tsv"), "--out", str(out), "--seconds", str(a.seconds),
             "--trace", str(a.trace), "--data", sf, "--cpus", str(cpus)], out)
    if not (out / "result.json").exists():
        fail(f"harness wrote no result; see {out / 'harness.log'}")
    res = json.loads((out / "result.json").read_text())
    t_ran = time.monotonic()

    layers = {k: float(v) for k, v in res["layers"].items()}
    failures = list(res["failures"])
    if a.workload == "pivot_service":
        bad, checked = check_pivots(res, sql, sf)
        if "job_ops" in res:
            bad_jobs, jobs_checked = check_jobs(res, layers)
            bad += bad_jobs
            checked += jobs_checked
    else:
        bad, checked = check_registry(res, out, sf)
    failures += bad
    res["phases"] = {"build": t_built - t_start, "harness": t_ran - t_built, **res["phases"],
                     "oracle checks": time.monotonic() - t_ran}

    ops = res["ops"]
    lat = [o["ms"] for o in ops if o["ok"]]
    if a.workload == "registry_mix":
        # One latency per query, its median over the warm passes: the
        # sample's queries differ in cost by 10x, and percentiles over
        # the pooled runs would jump between neighbouring queries.
        runs = {}
        for o in ops:
            runs.setdefault(o["id"], []).append(o["ms"])
        lat = [median(xs) for xs in runs.values()]
    e2e = {
        "setup_s": median(res["setup_s"]),
        "latency_p50_ms": pct(lat, 50),
        "latency_p95_ms": pct(lat, 95),
        "throughput_rps": sum(o["ok"] for o in ops) / res["elapsed_s"],
        "heap_live_mb": res["heap_live_mb"],
        "storage_mb": res["storage_mb"],
    }
    layers["ops.measured"] = float(len(ops))
    if a.workload == "registry_mix":
        passes = res["passes"]
        layers["first_pass_s"] = passes["first"]
        layers["warm_pass_s"] = median(passes["warm"])
        if a.trace:
            layers["cold_pass_s"] = passes["cold"]
    job_ops = res.get("job_ops", [])
    attempted = max(1, len(ops) + len(job_ops) + res.get("failed_runs", 0))
    failed = min(len(failures), attempted)
    fail_ratio = failed / attempted

    print(f"workload {a.workload}  seed {a.seed}  seconds {a.seconds:g}  trace {a.trace}")
    print("phases " + "  ".join(f"{k} {v:.1f} s" for k, v in res["phases"].items()))
    print("setup runs " + " ".join(f"{x:.3f}" for x in res["setup_s"]) + " s")
    for k, u in END_TO_END:
        print(f"{k} {e2e[k]:.4f} {u}")
    print(f"  (latency percentiles over {len(lat)} samples)")
    print(f"fail_ratio {fail_ratio:.4f} ratio   ({failed} failed of {attempted} attempted)")
    if a.workload == "registry_mix":
        for k in ("first_pass_s", "warm_pass_s", "cold_pass_s"):
            print(f"{k} {layers[k]:.4f} s" if k in layers else f"{k} (traced runs only)")
    for k, v in res.items():
        if k.startswith("artifact_max_build_key_") and v:
            print(f"largest {k[len('artifact_max_build_key_'):]} build: {v}")
    cats = {}
    for o in ops:
        cats.setdefault(o["cat"], []).append(o["ms"])
    for o in job_ops:
        cats.setdefault(f"{o['cat']} job", []).append(o["ms"])
    for c, xs in sorted(cats.items()):
        print(f"  {c}: n={len(xs)} p50={median(xs):.1f} ms max={max(xs):.1f} ms")
    print(f"checks: {checked} outputs compared, {len(failures)} failures")
    for f in failures[:20]:
        print(f"  FAIL {f}")
    if a.trace:
        for k, u in PER_LAYER:
            print(f"{k} {layers.get(k, 0.0):.4f} {u}")
        metrics = {k: {"value": layers.get(k, 0.0), "unit": u} for k, u in PER_LAYER}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END}
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
