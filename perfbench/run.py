#!/usr/bin/env python3
"""Backfill benchmark for graft: one run of one workload.

    python3 perfbench/run.py --workload backfill_longtail --seed 1 \
        --seconds 3 --trace 0

Builds the program and the harness from the checkout's sources (sbt,
offline) on first use, then starts one JVM that stages the workload's
input, warms up, and measures whole rounds of the north-rule backfill
(full `Checkpoint.write`, then invalidate + resume; traced runs add the
pipeline's prefixes and a fixed operator-query mix). Every output is then
checked apart from the program (checks.py). The last line of standard
output is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer ones.
All scratch (java.io.tmpdir, Spark local dirs, outputs) lives in a fresh
per-run directory under `.bench_runs/` in the checkout and is deleted at
the end.
"""
import argparse
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
sys.path.insert(0, HERE)

WORKLOADS = ("backfill_longtail", "backfill_megaconv")
HEAP = "3g"
JVM_TIMEOUT_S = 150
MIX_DATA = os.path.join(HERE, "data")
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "perfbench-classpath.txt")
# class-data-sharing archive of the classes a run loads, dumped after a build
ARCHIVE = os.path.join(TARGET, "perfbench.jsa")
# Entries a Spark/JVM/DuckDB run could leave in the shared scratch places.
# hsperfdata is not among them: the run's JVM starts with -XX:-UsePerfData,
# and any other JVM on the machine writes there.
SCRATCH_PLACES = ("/dev/shm", "/tmp")
SCRATCH_PREFIXES = ("graft", "spark", "blockmgr", "snappy", "liblz4", "libzstd",
                    "duckdb", "perfbench", "temporary")


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(f"perfbench: {msg}")
    sys.exit(code)


# ------------------------------------------------------------------- build

def sources_mtime():
    latest = 0.0
    for top in (os.path.join(ROOT, "src", "main", "scala"),
                os.path.join(HERE, "src"), os.path.join(HERE, "project")):
        for d, _, files in os.walk(top):
            for f in files:
                latest = max(latest, os.path.getmtime(os.path.join(d, f)))
    return max(latest, os.path.getmtime(os.path.join(HERE, "build.sbt")))


def classpath():
    """Compiles program + harness if needed, then dumps the class archive;
    returns the runtime classpath."""
    if os.path.exists(CLASSPATH) and os.path.getmtime(CLASSPATH) >= sources_mtime():
        return open(CLASSPATH).read().strip()
    os.makedirs(TARGET, exist_ok=True)
    for f in (CLASSPATH, ARCHIVE):
        if os.path.exists(f):
            os.remove(f)
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=(
        "-Dsbt.override.build.repos=true "
        f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')} "
        "-Dsbt.offline=true -Dsbt.server.autostart=false -Xmx2g"))
    build_log = os.path.join(TARGET, "build.log")
    with open(build_log, "w") as out:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "writeClasspath"],
                           cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=840)
    if p.returncode != 0 or not os.path.exists(CLASSPATH):
        log("\n".join(open(build_log).read().splitlines()[-30:]))
        if os.path.exists(CLASSPATH):
            os.remove(CLASSPATH)
        fail("build failed", 3)
    cp = open(CLASSPATH).read().strip()
    # Without the archive the runs still work, only their set-up is slower.
    dump_dir = os.path.join(ROOT, ".bench_runs", f"classlist-{os.getpid()}")
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(dump_dir, d), exist_ok=True)
    try:
        rc = run_jvm(cp, [f"-XX:ArchiveClassesAtExit={ARCHIVE}"], "perfbench.ClassList",
                     [dump_dir], dump_dir)
        if rc != 0 and os.path.exists(ARCHIVE):
            os.remove(ARCHIVE)
        log(f"perfbench: class archive {'written' if os.path.exists(ARCHIVE) else 'not written'}")
    finally:
        shutil.rmtree(dump_dir, ignore_errors=True)
    return cp


# ------------------------------------------------------------ scratch guard

def scratch_usage():
    """Bytes and entries under the shared scratch places that look like
    something a run of this benchmark could leave behind."""
    total, entries = 0, set()
    for place in SCRATCH_PLACES:
        try:
            tops = os.listdir(place)
        except OSError:
            continue
        for top in tops:
            if not top.lower().startswith(SCRATCH_PREFIXES):
                continue
            for d, dirs, files in os.walk(os.path.join(place, top)):
                entries.add(d)
                for f in files:
                    p = os.path.join(d, f)
                    entries.add(p)
                    try:
                        total += os.lstat(p).st_size
                    except OSError:
                        pass
    return total, entries


def tree_mb(path):
    n = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                n += os.lstat(os.path.join(d, f)).st_size
            except OSError:
                pass
    return n / 2**20


# --------------------------------------------------------------------- run

def run_jvm(cp, jvm_opts, main_class, args, run_dir):
    """Runs one benchmark JVM with its scratch in `run_dir`, output to
    `run_dir/jvm.log`; returns its exit code, or None after a timeout."""
    opens = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={run_dir}/tmp", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"] + jvm_opts
    for o in opens:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, main_class] + args
    env = dict(os.environ, SPARK_LOCAL_DIRS=f"{run_dir}/spark-local",
               TMPDIR=f"{run_dir}/tmp")
    with open(os.path.join(run_dir, "jvm.log"), "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, env=env, cwd=run_dir,
                             start_new_session=True)
        try:
            return p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def cpu_steal():
    """(steal, total) jiffies of the machine, to tell a noisy host in logs."""
    try:
        f = [int(x) for x in open("/proc/stat").readline().split()[1:]]
        return f[7], sum(f)
    except (OSError, IndexError, ValueError):
        return 0, 1



def check_outputs(r, run_dir, traced, compare_py):
    """Checks every output of the run; returns (turns in the input,
    operations attempted, operations failed)."""
    import checks
    attempted, failed, problems = 0, 0, []
    check = checks.BackfillCheck(r["input_path"], r["buckets"], os.path.join(run_dir, "tmp"))
    for i, rd in enumerate(r["rounds"]):
        attempted += 2
        if "error" in rd:
            failed += 2
            problems.append(f"round {i}: {rd['error']}")
            continue
        e_full = check.full(rd["full"])
        e_res = check.resumed(rd["resumed"], rd["full"])
        failed += bool(e_full) + bool(e_res)
        problems += [f"round {i} full backfill: {e}" for e in e_full]
        problems += [f"round {i} resume: {e}" for e in e_res]
    if traced:
        mix = r["mix"]
        attempted += len(mix["queries"])
        errs = checks.mix_pass(compare_py, mix["data"], mix["dir"], mix["queries"])
        errs.update(mix["errors"])
        failed += len(errs)
        problems += [f"operator mix {q}: {e}" for q, e in sorted(errs.items())]
    for p in problems:
        log(f"perfbench: CHECK FAILED: {p}")
    return check.turns, attempted, failed


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    compare_py = os.path.join(ROOT, "scripts", "compare.py")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")) \
            or not os.path.exists(compare_py):
        fail("the program's sources are not in this checkout")
    cp = classpath()

    runs = os.path.join(ROOT, ".bench_runs")
    run_dir = os.path.join(runs, f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(run_dir, d))
    if a.trace:
        shutil.copytree(MIX_DATA, os.path.join(run_dir, "mix-data"))
    before_bytes, before_entries = scratch_usage()
    try:
        steal0 = cpu_steal()
        t_spawn = time.time()
        archive = [f"-XX:SharedArchiveFile={ARCHIVE}"] if os.path.exists(ARCHIVE) else []
        rc = run_jvm(cp, archive, "perfbench.Main",
                     ["--workload", a.workload, "--seed", str(a.seed),
                      "--seconds", str(a.seconds), "--trace", str(a.trace),
                      "--run-dir", run_dir], run_dir)
        steal1 = cpu_steal()
        log(f"perfbench: cpu steal during the run "
            f"{100.0 * (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]):.1f}%")
        result_path = os.path.join(run_dir, "jvm_result.json")
        if rc != 0 or not os.path.exists(result_path):
            log(open(os.path.join(run_dir, "jvm.log"), errors="replace").read()[-4000:])
            fail(f"the benchmark JVM {'timed out' if rc is None else f'exited with {rc}'}", 4)
        r = json.load(open(result_path))
        log("perfbench: setup", round(r["setup_end_ms"] / 1000.0 - t_spawn, 2),
            {k: round(v, 2) for k, v in r["setup_phases"].items()})
        for x in r["rounds"]:
            log("perfbench: round", {k: round(v, 3) for k, v in x.items()
                                     if k.startswith(("full_", "resume_")) and k != "full"})
        if "mix" in r:
            log("perfbench: mix", {q: round(t, 3) for q, t in r["mix"]["query_s"].items()})
        scratch_left_mb = tree_mb(os.path.join(run_dir, "tmp")) + \
            tree_mb(os.path.join(run_dir, "spark-local"))
        t_check = time.time()
        input_turns, attempted, failed = check_outputs(r, run_dir, a.trace, compare_py)
        log(f"perfbench: input turns {input_turns}; checks took {time.time() - t_check:.1f} s")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(runs)
        except OSError:
            pass

    # a failed check fails its operation; a leak into shared scratch fails
    # the run as a whole
    after_bytes, after_entries = scratch_usage()
    grown = sorted(after_entries - before_entries)
    correct = after_bytes <= before_bytes and not grown
    if not correct:
        log(f"perfbench: shared scratch grew by {after_bytes - before_bytes} bytes; "
            f"new entries: {grown[:5]}")

    full_s = [x["full_s"] for x in r["rounds"] if "full_s" in x]
    resume_s = [x["resume_s"] for x in r["rounds"] if "resume_s" in x]
    if not full_s or not resume_s:
        fail("no backfill succeeded, nothing to measure", 5)
    if a.trace == 0:
        values = {
            "setup_s": r["setup_end_ms"] / 1000.0 - t_spawn,
            "turns_per_s": input_turns / statistics.median(full_s),
            "resume_s": statistics.median(resume_s),
            "live_heap_mb": r["live_heap_mb"],
        }
    else:
        values = dict(r["layers"])
        for q in r["mix"]["queries"]:
            values[f"ops.{q}.s"] = r["mix"]["query_s"].get(q, 0.0)
        values["jvm.gc_s"] = r["gc_s"]
        values["io.scratch_left_mb"] = scratch_left_mb
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    metrics = {d["name"]: {"value": values[d["name"]], "unit": d["unit"]}
               for d in spec["per_layer" if a.trace else "end_to_end"]}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
