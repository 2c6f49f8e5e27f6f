#!/usr/bin/env python3
"""graft benchmark: one workload, one JVM, one JSON line of metrics.

    python3 perfbench/run.py <session options> --workload NAME --seed N \
        --seconds S --trace 0|1

Run from the root of a graft checkout. The session options (master, heap,
Spark confs) are fixed in BENCHMARK.json's command. The first run builds the
graft library and the benchmark as jars with sbt (offline), then runs every
workload's keys once to dump a class-data archive of the classes they load;
later runs reuse both until a source file changes. The archive spares each
run the JVM's loading of Spark's classes (about a third of a cold start on
a 4-vCPU VM), which is no part of graft.

A run has three parts, all in one JVM:
  * set-up: JVM and session start, an untimed check pass that writes every
    key's result as parquet, and untimed warm-up passes for at least
    WARMUP_S seconds;
  * timed passes over the workload's keys, each pass in a seed-permuted
    order, until --seconds have passed (and at least MIN_PASSES passes);
  * with --trace 1, passes after the first run alternately with and without
    listeners attached (traced, untraced, untraced, traced, ...), and the
    `graft.functions` expressions are timed directly.
The launcher then compares each key's check-pass result with the answer
recorded in perfbench/expected/ (see record.py) and prints the metrics:
  --trace 0: setup_s (launch until the first timed pass), pass_s and cpu_s
    (medians over the steady timed passes, see steady_passes, of wall and
    process CPU seconds), peak_rss_mb (median over the same passes of
    VmHWM, reset as each pass starts) and ok_ratio (key executions that
    neither threw nor returned a wrong result, over those attempted);
  --trace 1: the per_layer metrics of BENCHMARK.json, medians over the
    traced passes of per-pass sums.
A line before the metrics records the key order of every pass, the session's
parallelism and heap, failures, the loadavg around each pass, the CPU
seconds other processes used and the hypervisor stole during it, and which
passes were steady; .perfbench/runs/ keeps the full record and spans.

Inputs: the sf0.1 tables in $SPARK_GRAFT_SF_DIR (default ~/testdata/sf0.1),
read only. Everything the run writes stays under .perfbench/ in the checkout.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")

# Each workload stresses different graft layers (the why of each is in
# BENCHMARK.json). The key lists are subsets of the families they name, cut
# so that one pass takes about 2-5 s at sf0.1 on local[4]: the benchmark's
# 22 runs per workload must fit its time budget with runs long enough to
# report steady medians. Left out are the keys that alone take 6-30 s a
# pass (tpe_pointwise, recsys_eval, pointwise_eval, iso_anomalies), keys
# whose graft code writes to fixed /tmp paths outside the checkout
# (compaction, partition_overwrite, partitioned_roundtrip, orc_roundtrip),
# and the rest of each family by cost. The TPC-H and text/ANN families have
# no workload: with them the runs were too short to be steady within the
# time budget. The plan and exec layers are still traced on both workloads,
# and the `functions.*` probes of every traced run still time the text/ANN
# family's native expressions.
WORKLOADS = {
    "ranking_pins": {
        "sink": "noop",
        "keys": ["ransac_line"],
    },
    "etl_writes": {
        "sink": "parquet",
        "keys": ["medallion_bronze", "table_time_travel"],
    },
}

MIN_PASSES = 3
# untimed warm-up passes before the timed ones, in seconds: passes keep
# getting faster for 10-40 s (JIT and codegen), and a JVM whose compiler
# finishes late otherwise reads slow for its whole run
WARMUP_S = 14
MIN_TRACED_PASSES = 5
# a timed pass is steady if the hypervisor stole less than this share of the
# VM's CPU time while it ran (a quiet host steals about 0.1-0.5%)
MAX_STEAL_SHARE = 0.025
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

# Spark on JDK 17 outside spark-submit needs these (as graft's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg, code=2):
    log(msg)
    sys.exit(code)


def require_checkout():
    for rel in ("build.sbt", "src/main/scala/graft/SparkEntry.scala"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            die(f"not a graft checkout: {rel} is missing under {ROOT}")


def source_fingerprint():
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
            os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for top in tops:
        for d, subdirs, names in os.walk(top):
            subdirs[:] = sorted(s for s in subdirs if s != "target" and s != "project")
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def prepare(session, data):
    """Builds graft and the benchmark once per source state and dumps the
    class-data archive; returns (classpath, archive)."""
    cache = os.path.join(STATE, "build.json")
    fp = source_fingerprint()
    if os.path.isfile(cache):
        with open(cache) as fh:
            c = json.load(fh)
        if c.get("fingerprint") == fp and os.path.isfile(c["archive"]):
            return c["classpath"], c["archive"]
    os.makedirs(STATE, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") +
                       " -Dsbt.offline=true -Dsbt.override.build.repos=true -Xmx2g").strip()
    log("building graft and the benchmark with sbt ...")
    t0 = time.time()
    try:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspathAsJars"],
            cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True,
            timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        die("sbt build timed out")
    lines = [l.strip() for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        die("sbt build failed")
    cp = lines[-1]
    log(f"built in {time.time() - t0:.1f} s; dumping the class-data archive ...")
    archive = os.path.join(STATE, "classes.jsa")
    if os.path.exists(archive):
        os.remove(archive)
    out = os.path.join(STATE, "archive-run")
    shutil.rmtree(out, ignore_errors=True)
    keys = [k for wl in WORKLOADS.values() for k in wl["keys"]]
    run_jvm(cp, None, session, [f"-XX:ArchiveClassesAtExit={archive}"], check_only_args(
        "archive", data, keys, session), out, timeout=BUILD_TIMEOUT_S)
    if not os.path.isfile(archive):
        die("the JVM wrote no class-data archive")
    with open(cache, "w") as fh:
        json.dump({"fingerprint": fp, "classpath": cp, "archive": archive}, fh)
    log(f"prepared in {time.time() - t0:.1f} s")
    return cp, archive


def check_only_args(workload, data, keys, session):
    """Runner arguments for a run of the untimed check pass alone."""
    return (["--workload", workload, "--data", data, "--keys", ",".join(keys), "--seed", "0",
             "--seconds", "0", "--trace", "0", "--sink", "noop", "--min-passes", "0", "--warmup-seconds", "0"] +
            session_args(session))


def run_jvm(cp, archive, session, jvm_opts, runner_args, out, timeout=JVM_TIMEOUT_S):
    """Runs graftbench.Runner; returns (launch time, result dict)."""
    os.makedirs(os.path.join(out, "tmp"), exist_ok=True)
    # a fixed heap and young generation: G1's adaptive sizing otherwise
    # moves the resident peak by 20-40% from run to run
    heap = [f"-Xms{session.heap}", f"-Xmx{session.heap}", f"-Xmn{session.young}"]
    cmd = (["java"] + heap + [f"-Djava.io.tmpdir={out}/tmp"] +
           ([f"-XX:SharedArchiveFile={archive}"] if archive else []) + jvm_opts +
           [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", cp, "graftbench.Runner", "--out", out] + runner_args)
    logf = os.path.join(out, "jvm.log")
    t_launch = time.time()
    with open(logf, "w") as fh:
        proc = subprocess.Popen(cmd, cwd=out, stdin=subprocess.DEVNULL, stdout=fh, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            die(f"JVM did not finish within {timeout} s; log in {logf}")
        finally:  # on every way out, the JVM ends before the launcher
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0:
        with open(logf) as fh:
            sys.stderr.write(fh.read()[-4000:])
        die(f"JVM exited with {rc}; log in {logf}")
    result_file = os.path.join(out, "result.json")
    if not os.path.isfile(result_file):
        return t_launch, None
    with open(result_file) as fh:
        return t_launch, json.load(fh)


def steady_passes(passes):
    """The timed passes the host did not hold back. On a shared host another
    guest's burst takes CPU time from this VM, which /proc/stat counts as
    steal, and slows every pass it overlaps (on a 4-vCPU VM, a burst
    stealing 14% of the CPU time slowed passes by half); that is no
    property of graft. Passes during which more than MAX_STEAL_SHARE was
    stolen are left out of the medians, unless fewer than MIN_PASSES would
    remain: a run contended throughout reports all of its passes."""
    cpus = os.cpu_count()
    steady = [p for p in passes if p["steal_s"] < MAX_STEAL_SHARE * p["wall_s"] * cpus]
    return steady if len(steady) >= MIN_PASSES else passes


def oracle_connection(data):
    import duckdb
    con = duckdb.connect()
    # some oracle queries are all-pairs joins; keep DuckDB's memory bounded
    os.makedirs(os.path.join(STATE, "duckdb"), exist_ok=True)
    con.sql("SET memory_limit = '3GB'")
    con.sql("SET max_temp_directory_size = '4GB'")
    con.sql(f"SET temp_directory = '{os.path.join(STATE, 'duckdb')}'")
    for t in TABLES:
        path = os.path.join(data, f"{t}.parquet")
        if os.path.exists(path):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def canonical(con, query):
    """Row count and digest of a result under tools/oracle_check.py's rule:
    columns sorted by name, rows sorted by value, every value compared as
    its pandas string form."""
    df = con.sql(query).df()
    cols = sorted(df.columns)
    g = df[cols]
    try:
        g = g.sort_values(cols)
    except TypeError:  # array-valued columns do not order; their strings do
        g = g.astype(str).sort_values(cols)
    g = g.reset_index(drop=True).astype(str)
    h = hashlib.sha256("\x1f".join(cols).encode())
    for row in g.itertuples(index=False):
        h.update(("\x1e".join(row) + "\n").encode())
    return len(g), h.hexdigest()


def spark_result(con, out, key):
    return canonical(con, f"SELECT * FROM read_parquet('{out}/check/{key}/*.parquet')")


def check_outputs(con, out, keys, expected, threw):
    """Keys whose check-pass result differs from the recorded answer."""
    wrong = {}
    for key in keys:
        if key in threw:
            continue
        want = expected.get(key)
        if want is None:
            wrong[key] = "no recorded answer"
            continue
        try:
            rows, digest = spark_result(con, out, key)
        except Exception as e:  # unreadable output is a wrong result
            wrong[key] = f"unreadable output: {e}"[:300]
            continue
        if rows != want["rows"]:
            wrong[key] = f"rows {rows} != {want['rows']}"
        elif "sha256" in want and digest != want["sha256"]:
            wrong[key] = "values differ from the oracle answer"
    return wrong


def default_data():
    return os.environ.get("SPARK_GRAFT_SF_DIR") or os.path.expanduser("~/testdata/sf0.1")


def expected_file(data):
    return os.path.join(HERE, "expected", os.path.basename(os.path.normpath(data)) + ".json")


def session_args(a):
    return ["--master", a.master] + [x for c in a.conf for x in ("--conf", c)]


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--master", required=True)
    ap.add_argument("--heap", required=True)
    ap.add_argument("--young", required=True)
    ap.add_argument("--conf", action="append", default=[])
    ap.add_argument("--data", default=None, help="table directory (default $SPARK_GRAFT_SF_DIR or ~/testdata/sf0.1)")
    ap.add_argument("--expected", default=None, help="recorded answers (default perfbench/expected/<sf>.json)")
    return ap.parse_args(argv)


def main(argv):
    # a SIGTERM unwinds like an error, so the JVM is stopped before exiting
    signal.signal(signal.SIGTERM, lambda *_: die("terminated"))
    a = parse_args(argv)
    require_checkout()
    data = os.path.abspath(a.data or default_data())
    if not os.path.isdir(data):
        die(f"table directory {data} does not exist")
    exp_path = a.expected or expected_file(data)
    if not os.path.isfile(exp_path):
        die(f"no recorded answers at {exp_path}; run perfbench/record.py")
    with open(exp_path) as fh:
        expected = json.load(fh)["keys"]
    wl = WORKLOADS[a.workload]
    cp, archive = prepare(a, data)

    out = os.path.join(STATE, "runs", f"{a.workload}-seed{a.seed}-trace{a.trace}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    runner_args = ["--workload", a.workload, "--data", data, "--keys", ",".join(wl["keys"]),
                   "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(a.trace),
                   "--sink", wl["sink"], "--min-passes", str(MIN_TRACED_PASSES if a.trace else MIN_PASSES),
                   "--warmup-seconds", str(WARMUP_S)]
    t_launch, r = run_jvm(cp, archive, a, [], runner_args + session_args(a), out)

    threw = {k.split("/", 1)[1] for k, v in r["failures"].items() if k.startswith("0/")}
    con = oracle_connection(data)
    wrong = check_outputs(con, out, wl["keys"], expected, threw)
    attempted = r["attempted"] + len(wl["keys"])
    failed = len(r["failures"]) + len(wrong)

    # everything needed to diagnose the run without a rerun
    steady = steady_passes(r["passes"])
    passes = [{k: p[k] for k in ("pass", "traced", "pass_s", "loadavg_before", "loadavg_after",
                                 "other_cpu_s", "steal_s")}
              | {"order": [k["key"] for k in p["keys"]]} for p in r["passes"]]
    print(json.dumps({"run": {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "default_parallelism": r["default_parallelism"], "max_memory": r["max_memory"],
        "check_order": r["check_order"], "passes": passes,
        "steady_passes": [p["pass"] for p in steady],
        "failures": r["failures"], "wrong": wrong, "artefacts": os.path.relpath(out, ROOT)}}))

    if a.trace:
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in r["layers"].items()}
    else:
        metrics = {
            "setup_s": {"value": r["timed_start_ms"] / 1e3 - t_launch, "unit": "s"},
            "pass_s": {"value": statistics.median(p["pass_s"] for p in steady), "unit": "s"},
            "cpu_s": {"value": statistics.median(p["cpu_s"] for p in steady), "unit": "s"},
            "peak_rss_mb": {"value": statistics.median(p["peak_rss_mb"] for p in steady), "unit": "MB"},
            "ok_ratio": {"value": (attempted - failed) / attempted, "unit": "ratio"},
        }
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


def unit_of(name):
    if name.endswith("ns_per_row"):
        return "ns/row"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("core_util", "share")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    main(sys.argv[1:])
