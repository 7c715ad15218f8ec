#!/usr/bin/env python3
"""Build the engine and the benchmark from source, then run one workload.

Run from the root of a checkout:

    python3 perfbench/run.py --workload smt_connect --seed 1 --seconds 20 --trace 0

The first run builds with sbt (the engine through the root build, plus this
directory's own sbt project) and records a hash of every source and build
file; later runs reuse the build while that hash holds. The workload runs in
one JVM launched directly. Its last stdout line is the result JSON; the line
before it carries the run's context (sizes, versions, digests, failed_ratio).
Build and run logs, Spark's scratch space and traces stay under
`.bench_build/perfbench` in the checkout.
"""
import hashlib
import os
import pathlib
import subprocess
import sys

BENCH = pathlib.Path(__file__).resolve().parent
ROOT = pathlib.Path.cwd().resolve()
WORK = ROOT / ".bench_build" / "perfbench"
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
HEAP = {"smt_connect": "1g", "spark_df": "2g"}


def fail(code, msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    roots = [ROOT / "src" / "main", BENCH / "src"]
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for r in roots:
        files += sorted(p for p in r.rglob("*") if p.is_file())
    return files


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        if f.exists():
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Compile once per source hash; returns (classpath, jvm options)."""
    cp_file = BENCH / "target" / "classpath.txt"
    opts_file = BENCH / "target" / "jvm-options.txt"
    stamp_file = WORK / "build.stamp"
    want = stamp()
    if not (cp_file.exists() and opts_file.exists() and stamp_file.exists()
            and stamp_file.read_text() == want):
        log = WORK / "build.log"
        with open(log, "w") as out:
            try:
                rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                                    cwd=BENCH, stdout=out, stderr=subprocess.STDOUT,
                                    stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
            except subprocess.TimeoutExpired:
                fail(3, f"build timed out; see {log}")
        if rc != 0:
            sys.stderr.write(log.read_text()[-4000:])
            fail(3, f"build failed; see {log}")
        stamp_file.write_text(want)
    return cp_file.read_text().strip(), opts_file.read_text().split()


def main(argv):
    if "--workload" not in argv and "--digest-only" not in argv:
        fail(2, "usage: run.py --workload NAME --seed N --seconds S --trace 0|1")
    if not ((ROOT / "build.sbt").is_file() and (ROOT / "src" / "main" / "scala").is_dir()
            and (ROOT / "BENCHMARK.json").is_file()):
        fail(2, f"{ROOT} holds no engine sources (build.sbt, src/main/scala) or no BENCHMARK.json;"
                " run from a checkout root")
    workload = argv[argv.index("--workload") + 1] if "--workload" in argv else ""
    WORK.mkdir(parents=True, exist_ok=True)
    tmp = WORK / "tmp"
    tmp.mkdir(exist_ok=True)
    classpath, jvm_opts = build()

    cmd = (["java"] + jvm_opts +
           [f"-Xmx{HEAP.get(workload, '2g')}", f"-Xms{HEAP.get(workload, '2g')}",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={WORK / 'warehouse'}",
            "-cp", classpath, "perfbench.Main"] + argv +
           ["--spec", str(ROOT / "BENCHMARK.json"), "--out-dir", str(WORK)])
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(tmp))
    log = WORK / "run.log"
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=WORK, stdout=subprocess.PIPE, stderr=err,
                                stdin=subprocess.DEVNULL, env=env, text=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(4, f"run exceeded {RUN_TIMEOUT_S} s; see {log}")
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode not in (0, 1) or not lines:
        sys.stderr.write(log.read_text()[-4000:])
        fail(proc.returncode or 5, f"run failed; see {log}")
    for l in lines[-2:]:
        print(l)
    return proc.returncode


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
