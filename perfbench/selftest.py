#!/usr/bin/env python3
"""Fast self-test of the benchmark on the sf0.001 tables.

    python3 perfbench/selftest.py [--data DIR]

Checks that
  * an untraced run prints every end_to_end metric of BENCHMARK.json and a
    traced run every per_layer metric, each with its unit, and both pass
    the output check;
  * the output check fails when one recorded answer is corrupted;
  * the benchmark exits non-zero, printing no result, when the graft
    sources are not beside it.
Exits non-zero on the first failed check.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile

import run


def bench(session, data, workload, trace, expected=None):
    cmd = [sys.executable, os.path.join(run.HERE, "run.py")] + session + [
        "--workload", workload, "--seed", "7", "--seconds", "1", "--trace", str(trace), "--data", data]
    if expected:
        cmd += ["--expected", expected]
    p = subprocess.run(cmd, cwd=run.ROOT, capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        sys.exit(f"FAIL {workload} trace={trace}: exit code {p.returncode}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def expect(cond, what):
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        sys.exit(1)


def main(argv):
    import argparse
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--data", default=os.path.join(os.path.dirname(run.default_data()), "sf0.001"))
    data = os.path.abspath(ap.parse_args(argv).data)
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    session = spec["command"][2:]

    for trace, kind, workload in ((0, "end_to_end", "etl_writes"), (1, "per_layer", "ranking_pins")):
        r = bench(session, data, workload, trace)
        got = r["metrics"]
        want = {m["name"]: m["unit"] for m in spec[kind]}
        expect(set(got) == set(want), f"{workload} trace={trace} prints exactly the {kind} metrics")
        expect(all(got[n]["unit"] == u and isinstance(got[n]["value"], (int, float)) for n, u in want.items()),
               f"{workload} trace={trace} prints each metric as a number with its unit")
        expect(r["correct"] and r["failed"] == 0 and r["attempted"] > 0,
               f"{workload} trace={trace} passes the output check")

    with tempfile.TemporaryDirectory(dir=run.STATE) as tmp:
        with open(run.expected_file(data)) as fh:
            answers = json.load(fh)
        answers["keys"]["medallion_bronze"]["sha256"] = "0" * 64
        corrupted = os.path.join(tmp, "corrupted.json")
        with open(corrupted, "w") as fh:
            json.dump(answers, fh)
        r = bench(session, data, "etl_writes", 0, corrupted)
        expect(not r["correct"] and r["failed"] >= 1, "a corrupted recorded answer fails the output check")

        alone = os.path.join(tmp, "alone")
        os.makedirs(alone)
        shutil.copy(os.path.join(run.ROOT, "BENCHMARK.json"), alone)
        shutil.copytree(run.HERE, os.path.join(alone, "perfbench"),
                        ignore=shutil.ignore_patterns("target", "__pycache__"))
        p = subprocess.run([sys.executable, "perfbench/run.py"] + session +
                           ["--workload", "etl_writes", "--seed", "1", "--seconds", "1", "--trace", "0"],
                           cwd=alone, capture_output=True, text=True, timeout=180)
        expect(p.returncode != 0 and not p.stdout.strip(), "without the graft sources it fails and prints no result")


if __name__ == "__main__":
    main(sys.argv[1:])
