#!/usr/bin/env python3
"""Benchmark command for the engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The command

1. builds the program and the benchmark runner from source with sbt
   (offline), once per source tree, and keeps the classpath in
   `.bench_build/`;
2. generates the workload's inputs from `--seed` (outside every timed
   region) and records their checksums;
3. starts one JVM that sets up a Spark session at `local[nproc]`, runs a
   cold pass and then warm passes for `--seconds`, checks every output,
   and writes `record.json` (and `spans.jsonl` when traced) under
   `.bench_build/runs/`;
4. prints every metric by name and unit, then, as the last line, one JSON
   object with `correct`, `attempted`, `failed` and `metrics`: the
   end-to-end metrics with `--trace 0`, the per-layer ones with `--trace 1`.

Workloads: `ssb_elt`, `catalog_serial`, `catalog_concurrent`,
`events_ingest` (see BENCHMARK.json for why each exists).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
FIXTURE = os.path.join(HERE, "fixture", "sf0.001")
CATALOG = os.path.join(HERE, "catalog.json")
WORKLOADS = ("ssb_elt", "catalog_serial", "catalog_concurrent", "events_ingest")
# SSB scale factor: 0.02 is 120 000 lineorder rows, 11 MB of `.tbl` text
SSB_SF = 0.02
# A run, input generation included, ends within RUN_LIMIT_S of the end of
# the build. The JVM starts no operation after its budget, which leaves
# room for one operation to time out and for the end-of-run work.
RUN_LIMIT_S = 170
OP_TIMEOUT_S = 30
END_MARGIN_S = 20
BUILD_TIMEOUT_S = 800
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

sys.path.insert(0, HERE)
import gen  # noqa: E402


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads, so an unchanged tree skips sbt."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "").split()
    repos = os.path.expanduser("~/.sbt/repositories")
    if not any(o.startswith("-Dsbt.repository.config") for o in opts) and os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    opts += ["-Dsbt.offline=true", "-Dsbt.server.autostart=false"]
    if not any(o.startswith("-Xmx") for o in opts):
        opts.append("-Xmx2g")
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile with sbt when the sources changed; return the classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip(), stamp
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        try:
            rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                                cwd=HERE, env=sbt_env(), stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
        except (OSError, subprocess.TimeoutExpired) as e:
            fail(f"build did not finish: {e}")
    if rc != 0:
        fail(f"build failed (exit {rc}); see {log}")
    shutil.copy(os.path.join(HERE, "target", "classpath.txt"), cp_file)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(cp_file) as g:
        return g.read().strip(), stamp


def commit_id(stamp):
    """The git commit when the checkout is a git repository, else the
    source hash."""
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            head = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                  text=True, timeout=10).stdout.strip()
            if head:
                return head
        except (OSError, subprocess.TimeoutExpired):
            pass
    return f"src-{stamp[:16]}"


def make_inputs(workload, seed, run_dir):
    """Generate the workload's inputs from the seed; untimed."""
    t0 = time.time()
    inputs = {"seed": seed}
    if workload == "ssb_elt":
        d = os.path.join(run_dir, "inputs", "ssb")
        rows = gen.ssb_tables(d, seed, SSB_SF)
        answers = gen.duckdb_q1(d)
        tbls = sorted(os.path.join(d, f) for f in os.listdir(d))
        inputs["ssb"] = {"dir": d, "sf": SSB_SF, "rows": rows,
                         "q1": {q: answers[q] for q in gen.Q1},
                         "star_rows": answers["star_rows"],
                         "tbl_bytes": sum(os.path.getsize(f) for f in tbls)}
        inputs["checksum"] = gen.checksum(tbls)
    elif workload == "events_ingest":
        d = os.path.join(run_dir, "inputs", "landing")
        files = gen.event_landing_zone(os.path.join(FIXTURE, "events.parquet"), d, seed)
        import pyarrow.parquet as pq
        inputs["events"] = {"files": files,
                            "rows": sum(pq.read_metadata(f).num_rows for f in files)}
        inputs["checksum"] = gen.checksum(files)
    else:
        fx = sorted(os.path.join(FIXTURE, f) for f in os.listdir(FIXTURE))
        inputs["checksum"] = gen.checksum(fx + [CATALOG])
    inputs["gen_s"] = time.time() - t0
    path = os.path.join(run_dir, "inputs.json")
    with open(path, "w") as f:
        json.dump(inputs, f)
    return path


def java_cmd(classpath, run_dir, heap="3g"):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xmx{heap}", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", classpath, "perfbench.Main"]


def run_jvm(cmd, log_path, timeout):
    """Run the JVM and return its stdout lines; None on failure. The JVM
    never outlives this process: it is killed and reaped on a timeout,
    an error or a termination signal."""
    with open(log_path, "w") as err:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err,
                                stdin=subprocess.DEVNULL, text=True)
        try:
            out, _ = proc.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            print(f"perfbench: run exceeded {timeout:.0f} s; see {log_path}", file=sys.stderr)
            return None
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if proc.returncode != 0:
        print(f"perfbench: runner exited {proc.returncode}; see {log_path}", file=sys.stderr)
        return None
    return out.splitlines()


def main():
    # turn a termination signal into an exception, so that every child
    # process is killed and reaped on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--plant", default="", help="catalog keys planted to test failure counting")
    ap.add_argument("--keys", default="",
                    help="comma-separated catalog keys (or 'all') to run instead of the pinned list")
    ap.add_argument("--reps", type=int, default=1, help="times a warm catalog pass runs its key list")
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail(f"no program sources at {ROOT} (build.sbt and src/main/scala are required)")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        fail("java and sbt are required")

    classpath, stamp = build()
    t_built = time.time()
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    inputs = make_inputs(a.workload, a.seed, run_dir)
    cores = len(os.sched_getaffinity(0))
    cmd = java_cmd(classpath, run_dir) + [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--cores", str(cores),
        "--work", os.path.join(run_dir, "work"), "--out", run_dir, "--inputs", inputs,
        "--catalog", CATALOG, "--fixture", FIXTURE, "--commit", commit_id(stamp),
        "--reps", str(a.reps), "--op-timeout", str(OP_TIMEOUT_S)]
    if a.plant:
        cmd += ["--plant", a.plant]
    if a.keys:
        cmd += ["--keys", a.keys]
    timeout = RUN_LIMIT_S - (time.time() - t_built)
    cmd += ["--budget", f"{timeout - OP_TIMEOUT_S - END_MARGIN_S:.1f}"]
    lines = run_jvm(cmd, os.path.join(run_dir, "jvm.log"), timeout)
    for d in ("work", "inputs", "tmp"):
        shutil.rmtree(os.path.join(run_dir, d), ignore_errors=True)
    if lines is None:
        failures = os.path.join(run_dir, "failures.jsonl")
        if os.path.exists(failures):
            with open(failures) as f:
                for line in f:
                    print(f"perfbench: failed before the cut: {line.strip()}", file=sys.stderr)
        sys.exit(3)
    result = None
    for line in lines:
        if line.startswith("{"):
            result = line
        else:
            print(line)
    if result is None:
        fail("runner printed no result")
    print(f"record {os.path.relpath(run_dir, ROOT)}/record.json")
    print(result, flush=True)


if __name__ == "__main__":
    main()
