#!/usr/bin/env python3
"""Records the answers the benchmark checks its outputs against.

    python3 perfbench/record.py [--data DIR]

For every key of every workload it runs graft once (the benchmark's check
pass, with the session options of BENCHMARK.json's command) and asks the
DuckDB oracle query of `SparkEntry.oracleSql` for the same answer. A
hash-gated key records the oracle's row count and digest; a rows-only key
(no oracle query) records graft's row count. Keys where graft disagrees
with the oracle are listed: they are defects of graft, and the oracle
answer is what is recorded. Writes perfbench/expected/<table dir name>.json.
"""
import json
import os
import shutil
import sys

import run


def session_from_benchmark():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
        cmd = json.load(fh)["command"]
    return cmd[2:]


def main(argv):
    import argparse
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--data", default=None)
    data = os.path.abspath(ap.parse_args(argv).data or run.default_data())
    run.require_checkout()
    session = run.parse_args(["--workload", "etl_writes", "--seed", "0", "--seconds", "0"] +
                             session_from_benchmark())
    keys = [k for wl in run.WORKLOADS.values() for k in wl["keys"]]
    cp, archive = run.prepare(session, data)
    out = os.path.join(run.STATE, "record", os.path.basename(data))
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    args = run.check_only_args("record", data, keys, session)
    run.run_jvm(cp, archive, session, [], args + ["--dump-oracle", "1"], out)
    with open(os.path.join(out, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    _, r = run.run_jvm(cp, archive, session, [], args, out)
    threw = {k.split("/", 1)[1]: v for k, v in r["failures"].items()}
    con = run.oracle_connection(data)
    recorded, defects = {}, {}
    for key in keys:
        if key in oracle:
            rows, digest = run.canonical(con, oracle[key])
            recorded[key] = {"rows": rows, "sha256": digest}
            if key in threw:
                defects[key] = threw[key]
            elif run.spark_result(con, out, key) != (rows, digest):
                defects[key] = "differs from the oracle answer"
        elif key in threw:
            sys.exit(f"rows-only key {key} failed, nothing to record: {threw[key]}")
        else:
            recorded[key] = {"rows": run.spark_result(con, out, key)[0]}
    os.makedirs(os.path.join(run.HERE, "expected"), exist_ok=True)
    path = run.expected_file(data)
    with open(path, "w") as fh:
        json.dump({"data": os.path.basename(data), "keys": recorded}, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"recorded {len(recorded)} answers in {os.path.relpath(path, run.ROOT)}")
    for key, why in defects.items():
        print(f"DEFECT {key}: {why}")


if __name__ == "__main__":
    main(sys.argv[1:])
