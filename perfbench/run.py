#!/usr/bin/env python3
"""Benchmark of the graft engine: build, run one workload, check, summarize.

Usage (from the repository root):

    python3 perfbench/run.py --workload mj_pipeline --seed 1 --seconds 10 --trace 0

Builds the engine and the Scala harness (sbt, offline) when the sources
changed since the last build, runs the workload in one JVM on
local[<nproc>], checks every operation's output (gate outputs against the
DuckDB oracle, MapleJuice outputs against the generator's expected lines),
writes the full run record to .bench_build/results/ and prints one JSON
object as the last line of stdout. `--trace 1` reports the per-layer
metrics instead of the end-to-end ones. Exits non-zero when any operation
failed or its output did not check. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import importlib.util
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # keep __pycache__ out of perfbench/ and tools/
import metrics  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
LAUNCH = os.path.join(HERE, "target", "launch")
ORACLE_CACHE = os.path.join(HERE, ".oracle_cache")
WORKLOADS = ("mj_pipeline", "gates")
DEADLINE_S = 175


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every file the build reads, relative to the checkout root."""
    pats = ["build.sbt", "project/*.properties", "project/*.sbt",
            "src/main/**/*", "perfbench/build.sbt",
            "perfbench/project/build.properties", "perfbench/src/main/**/*"]
    files = set()
    for p in pats:
        files.update(f for f in glob.glob(os.path.join(ROOT, p), recursive=True)
                     if os.path.isfile(f))
    return sorted(os.path.relpath(f, ROOT) for f in files)


def source_stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(f.encode() + b"\0")
        with open(os.path.join(ROOT, f), "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def run_proc(cmd, log_path, timeout, cwd, env=None):
    """Run `cmd` in its own process group with output to `log_path`; kill
    the whole group on timeout and wait for it. Returns the exit code."""
    with open(log_path, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise RuntimeError(f"{cmd[0]} timed out after {timeout:.0f} s, see {log_path}")


def build(stamp):
    """Compile engine + harness unless this source stamp was built already."""
    stamp_file = os.path.join(BUILD, "build.stamp")
    launch_ok = all(os.path.exists(os.path.join(LAUNCH, f))
                    for f in ("classpath.txt", "jvm_options.txt"))
    if launch_ok and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return 0.0
    log("building engine and harness with sbt")
    t0 = time.time()
    # keep sbt's server socket directory and every JVM's hsperfdata file
    # out of the system temp directory
    sbt_tmp = os.path.join(BUILD, "sbt-tmp")
    os.makedirs(sbt_tmp, exist_ok=True)
    # the engine's build reads these when it loads; drop them so the JVM
    # options written for the runs are always the engine's defaults (-Xmx8g
    # and no extra flags), whoever's shell happens to build
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_DRIVER_MEM", "SPARK_GRAFT_JVM_EXTRA")}
    env["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    rc = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true", f"-Djava.io.tmpdir={sbt_tmp}",
                   "writeLaunch"], os.path.join(BUILD, "build.log"), 850, HERE, env)
    if rc != 0:
        raise RuntimeError(f"build failed (exit {rc}), see {os.path.join(BUILD, 'build.log')}")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return time.time() - t0


def fixture_dir():
    """The sf0.1 fixture tables: $SPARK_GRAFT_SF_DIR, else the testdata
    directory in the user's home (TESTDATA.md)."""
    return os.environ.get("SPARK_GRAFT_SF_DIR") or os.path.expanduser("~/testdata/sf0.1")


def commit_id():
    """Short SHA with -dirty for uncommitted changes; 'unknown' outside git."""
    try:
        sha = subprocess.run(["git", "rev-parse", "--short", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, check=True).stdout.strip()
        dirty = subprocess.run(["git", "status", "--porcelain"], cwd=ROOT,
                               capture_output=True, text=True, check=True).stdout.strip()
        return sha + ("-dirty" if dirty else "")
    except (OSError, subprocess.CalledProcessError):
        return "unknown"


def launch(args, run_dir, budget):
    opts = open(os.path.join(LAUNCH, "jvm_options.txt")).read().split("\n")
    cp = open(os.path.join(LAUNCH, "classpath.txt")).read().strip()
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    out = os.path.join(run_dir, "record.json")
    cmd = (["java"] + [o for o in opts if o] +
           # no hsperfdata file in the system temp directory
           ["-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
            "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--fixtures", fixture_dir(), "--work", os.path.join(run_dir, "work"),
            "--out", out])
    if args.corrupt_expected:
        cmd += ["--corrupt-expected"]
    log_path = os.path.join(run_dir, "jvm.log")
    rc = run_proc(cmd, log_path, budget, ROOT)
    if rc != 0 or not os.path.exists(out):
        raise RuntimeError(f"harness JVM exited {rc}, see {log_path}")
    with open(out) as fh:
        return json.load(fh)


def load_check_oracle():
    """The repository's DuckDB compare (tools/check_oracle.py): its table
    list and its row normalization."""
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(ROOT, "tools", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def fixture_tables(co, sf_dir):
    """(fixture parquet paths, a key over their paths and mtimes)."""
    files = [f"{sf_dir}/{t}.parquet" for t in co.TABLES
             if os.path.exists(f"{sf_dir}/{t}.parquet")]
    key = "".join(f"{f}:{os.stat(f).st_mtime_ns};" for f in files)
    return files, key


def oracle_failures(record, co, fixtures, fixture_key):
    """gate -> mismatch message, comparing the output each gate wrote in
    the warm-up pass with DuckDB on its oracle SQL. A gate without oracle
    SQL fails. DuckDB results are cached per (fixture files + mtimes, SQL
    text)."""
    import duckdb
    import pandas as pd
    info = record["workload_info"]
    os.makedirs(ORACLE_CACHE, exist_ok=True)
    con = None
    failures = {}
    broken = {w["name"] for w in record["warmup"] if not w["ok"]}
    for gate in info["gates"]:
        if gate in broken:
            continue
        sql = info["oracle_sql"].get(gate)
        if sql is None:
            failures[gate] = "no oracle SQL in SparkEntry.oracleSql"
            continue
        key = hashlib.sha256((fixture_key + "\0" + sql).encode()).hexdigest()[:24]
        cached = os.path.join(ORACLE_CACHE, key + ".pkl")
        if os.path.exists(cached):
            exp = pd.read_pickle(cached)
        else:
            if con is None:
                con = duckdb.connect()
                for f in fixtures:
                    name = os.path.basename(f)[:-len(".parquet")]
                    con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{f}')")
            exp = con.execute(sql).df()
            exp.to_pickle(cached + ".tmp")
            os.replace(cached + ".tmp", cached)
        files = sorted(glob.glob(f"{info['output_dir']}/{gate}/*.parquet"))
        got = pd.concat([pd.read_parquet(f) for f in files]) if files else pd.DataFrame()
        msg = compare(co.normalize, got, exp)
        if msg:
            failures[gate] = msg
    return failures


def compare(normalize, got, exp):
    """check_oracle.py's verdict for one gate: None when equal."""
    g, e = normalize(got), normalize(exp)
    if list(g.columns) != list(e.columns):
        return f"columns {list(g.columns)} vs {list(e.columns)}"
    if len(g) != len(e):
        return f"rows {len(g)} vs {len(e)}"
    gs, es = g.astype(str), e.astype(str)
    if not gs.equals(es):
        return f"{int((gs != es).any(axis=1).sum())}/{len(g)} rows differ"
    return None


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt-expected", action="store_true",
                    help="self-test only: drop one expected line so the run must fail")
    args = ap.parse_args(argv)
    t_start = time.time()

    if not os.path.exists(os.path.join(ROOT, "build.sbt")):
        raise RuntimeError(f"no engine build (build.sbt) at the checkout root {ROOT}")
    os.makedirs(BUILD, exist_ok=True)
    stamp = source_stamp()
    build_s = build(stamp)
    if args.workload != "mj_pipeline" and not os.path.isdir(fixture_dir()):
        raise RuntimeError(f"fixture directory {fixture_dir()} not found; set SPARK_GRAFT_SF_DIR")

    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    run_dir = os.path.join(BUILD, "runs", run_id)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    budget = DEADLINE_S - (time.time() - t_start - build_s)
    record = launch(args, run_dir, budget)
    oracle = {}
    if args.workload != "mj_pipeline":
        co = load_check_oracle()
        oracle = oracle_failures(record, co, *fixture_tables(co, fixture_dir()))
    summary = metrics.summarize(record, oracle)
    artifact = {
        "commit": commit_id(), "source_stamp": stamp,
        "nproc": os.cpu_count(), "seed": args.seed, "workload": args.workload,
        "trace": args.trace, "seconds": args.seconds,
        "jvm": record["jvm"], "spark": record["spark"],
        "summary": summary, "record": record,
    }
    results = os.path.join(BUILD, "results")
    os.makedirs(results, exist_ok=True)
    artifact_path = os.path.join(results, run_id + ".json")
    with open(artifact_path, "w") as fh:
        json.dump(artifact, fh, indent=1)
    for scratch in ("work", "tmp"):
        shutil.rmtree(os.path.join(run_dir, scratch), ignore_errors=True)

    chosen = summary["per_layer"] if args.trace else summary["end_to_end"]
    for name, m in chosen.items():
        print(f"{name:34s} {m['value']:>14.6g} {m['unit']}")
    for f in summary["failures"]:
        print(f"FAILED {f}")
    print(f"artifact: {os.path.relpath(artifact_path, ROOT)}")
    print(json.dumps({"correct": summary["failed"] == 0, "attempted": summary["attempted"],
                      "failed": summary["failed"], "metrics": chosen}))
    return 0 if summary["failed"] == 0 else 1


if __name__ == "__main__":
    try:
        sys.exit(main())
    except RuntimeError as e:
        log(f"error: {e}")
        sys.exit(2)
