#!/usr/bin/env python3
"""Self-test of the benchmark itself. Run from the root of a checkout:

    python3 perfbench/selftest.py

Checks that
  * BENCHMARK.json keeps to the benchmark file contract (keys, name and unit
    syntax, bounds, sizes);
  * a run whose expression throws, and a run whose reference is wrong, each
    report failed_ratio > 0, `correct: false` and a non-zero exit, on the
    Connect path and on the Spark workload, whose faults hit the first surface
    of each tier;
  * input generation is deterministic: one seed reproduces the digests pinned
    in perfbench/digests.json (seed 1 for tuning, seed 7 kept back for
    validating later claims), and two seeds give different inputs.
Exits non-zero on the first failed check.
"""
import json
import pathlib
import re
import subprocess
import sys

BENCH = pathlib.Path(__file__).resolve().parent
RUN = [sys.executable, str(BENCH / "run.py")]


def run(args):
    p = subprocess.run(RUN + args, capture_output=True, text=True, timeout=600)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    return p.returncode, [json.loads(l) for l in lines]


def check(ok, what):
    print(("ok   " if ok else "FAIL ") + what)
    if not ok:
        sys.exit(1)


def check_spec():
    path = BENCH.parent / "BENCHMARK.json"
    spec = json.loads(path.read_text())
    name = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    unit = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
    ok = (set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
          and path.stat().st_size <= 64 * 1024
          and 1 <= len(spec["command"]) <= 32 and all(len(c) <= 200 for c in spec["command"])
          and 1 <= len(spec["paths"]) <= 16
          and all(re.fullmatch(r"[A-Za-z0-9_./-]{1,200}", p) for p in spec["paths"])
          and isinstance(spec["run_seconds"], int) and 1 <= spec["run_seconds"] <= 60
          and 2 <= len(spec["workloads"]) <= 8
          and all(set(w) == {"name", "why"} and name.match(w["name"]) and len(w["why"]) <= 200
                  and "\n" not in w["why"] for w in spec["workloads"])
          and 1 <= len(spec["end_to_end"]) <= 16
          and all(set(m) == {"name", "unit", "better", "bound"} and name.match(m["name"])
                  and unit.match(m["unit"]) and m["better"] in ("lower", "higher")
                  and 0 < m["bound"] <= 0.25 for m in spec["end_to_end"])
          and 1 <= len(spec["per_layer"]) <= 128
          and all(set(m) == {"name", "unit", "better"} and name.match(m["name"])
                  and unit.match(m["unit"]) and m["better"] in ("lower", "higher")
                  for m in spec["per_layer"]))
    names = [x["name"] for k in ("workloads", "end_to_end", "per_layer") for x in spec[k]]
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
    ok = ok and len(names) == len(set(names)) and len(setup) == 1 and setup[0]["unit"] == "s" \
        and setup[0]["better"] == "lower" \
        and setup[0]["bound"] == max(m["bound"] for m in spec["end_to_end"])
    check(ok, "BENCHMARK.json keeps to the contract")


def main():
    check_spec()
    for workload, inject in [("smt_connect", "throw"), ("smt_connect", "wrong-ref"),
                             ("spark_df", "throw"), ("spark_df", "wrong-ref")]:
        rc, out = run(["--workload", workload, "--seed", "1", "--seconds", "2", "--trace", "0",
                       "--inject", inject])
        ctx, result = out[-2]["context"], out[-1]
        check(rc != 0 and not result["correct"] and result["failed"] > 0 and ctx["failed_ratio"] > 0,
              f"{workload} --inject {inject}: exit {rc}, failed_ratio {ctx['failed_ratio']:.4f}")

    pinned = json.loads((BENCH / "digests.json").read_text())
    seen = {}
    for seed in sorted(pinned, key=int):
        for rep in range(2 if seed == "1" else 1):
            rc, out = run(["--digest-only", "--seed", seed])
            got = out[-1]["digests"]
            check(rc == 0 and got == pinned[seed], f"seed {seed} reproduces its pinned digests")
        seen[seed] = got
    a, b = list(seen.values())[:2]
    check(all(a[w] != b[w] for w in a), "different seeds give different inputs")


if __name__ == "__main__":
    main()
