#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload trend_analytics --seed 1 \\
        --seconds 15 --trace 0

Run from the root of a checkout. The first run builds the engine and the
harness from source (``perfbench/build.sbt``) and writes the fixture
tables; later runs reuse both until a source file changes. Each run then
generates its seeded inputs, starts the JVM harness once, checks the
program's outputs outside the timed interval, and prints one summary line
per metric followed, as the last line, by a JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer ones.

Every artifact of the run is also saved as JSON under
``perfbench/work/artifacts`` (or ``--save DIR``) for ``compare.py``.
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
sys.path.insert(0, HERE)

import pyarrow.parquet as pq  # noqa: E402

import gen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("trend_analytics", "curation_ingest", "rag_retrieval")
# Scale factor of the fixture tables the query pool runs on.
TREND_SF = 0.01
# A run ends within RUN_LIMIT_S; one that first builds, writes the fixture
# or fills the oracle cache within FIRST_RUN_LIMIT_S.
RUN_LIMIT_S = 175
FIRST_RUN_LIMIT_S = 880
JAVA_HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def source_stamp(root):
    """Hash of every file the build reads."""
    h = hashlib.sha256()
    tops = [os.path.join(root, "src", "main"), os.path.join(HERE, "src"),
            os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project", "build.properties")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def run_bounded(cmd, limit_s, log_path, **kw):
    """Run ``cmd`` in its own process group; kill the group on timeout."""
    with open(log_path, "ab") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                             start_new_session=True, **kw)
        try:
            return p.wait(timeout=max(1.0, limit_s))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def build(root, work):
    """Compile engine + harness once per source stamp; returns the
    classpath and the query pool."""
    target = os.path.join(HERE, "target")
    stamp_path = os.path.join(target, "perfbench-stamp")
    pool_path = os.path.join(target, "pool.json")
    stamp = source_stamp(root)
    if os.path.exists(stamp_path) and open(stamp_path).read() == stamp:
        return open(os.path.join(target, "classpath.txt")).read().strip(), \
            json.load(open(pool_path))["pool"], False
    log("building engine and harness from source")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    blog = os.path.join(work, "build.log")
    rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                      "writeClasspath"], FIRST_RUN_LIMIT_S - 300, blog,
                     cwd=HERE, env=env)
    if rc != 0:
        fail(f"build failed (rc={rc}); see {blog}")
    cp = open(os.path.join(target, "classpath.txt")).read().strip()
    rc = run_bounded(java_cmd(cp, work) + ["--list", pool_path], 120, blog)
    if rc != 0:
        fail(f"listing the query pool failed; see {blog}")
    with open(stamp_path, "w") as f:
        f.write(stamp)
    return cp, json.load(open(pool_path))["pool"], True


def java_cmd(cp, tmp):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return ["java", f"-Xmx{JAVA_HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false", *opens,
            "-cp", cp, "perfbench.Harness"]


def fixture(work):
    """The fixture directory, and whether this call had to write it."""
    d = os.path.join(work, f"fixture-sf{TREND_SF}-v{gen.FIXTURE_VERSION}")
    if os.path.exists(os.path.join(d, "_done")):
        return d, False
    log(f"writing the sf{TREND_SF} fixture tables")
    shutil.rmtree(d, ignore_errors=True)
    gen.write_fixture(d, TREND_SF)
    open(os.path.join(d, "_done"), "w").close()
    return d, True


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def cpu_times():
    """(steal, total) jiffies of all CPUs, or None off Linux."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:9]]
        return v[7], sum(v)
    except (OSError, ValueError, IndexError):
        return None


def git_commit(root):
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=root,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--plant", action="store_true",
                    help="corrupt one result before it is checked")
    ap.add_argument("--save", help="directory for this run's artifact")
    a = ap.parse_args()
    t_start = time.monotonic()
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "build.sbt")) or not os.path.isdir(
            os.path.join(root, "src", "main", "scala", "graft")):
        fail("run from the root of a checkout of the engine")
    work = os.path.join(HERE, "work")
    os.makedirs(work, exist_ok=True)
    cp, pool, built = build(root, work)

    run = os.path.join(work, "run")
    shutil.rmtree(run, ignore_errors=True)
    inputs, out, tmp = (os.path.join(run, x) for x in ("inputs", "out", "tmp"))
    for d in (inputs, out, tmp):
        os.makedirs(d)
    fix, wrote = fixture(work)
    oracles = None
    if a.workload == "trend_analytics":
        missing = set(gen.TREND_SLICE) - set(pool)
        if missing:
            fail(f"queries missing from the engine: {sorted(missing)}")
        oracles, filled = oracle.cached_hashes(
            work, fix, {q: pool[q] for q in gen.TREND_SLICE})
        wrote = wrote or filled
        gen.write_trend_inputs(inputs, a.seed)
    elif a.workload == "curation_ingest":
        gen.write_curation_inputs(inputs, a.seed, fix)
    else:
        gen.write_rag_inputs(inputs, a.seed, fix)

    n_cpu = cpus()
    load_start = os.getloadavg()[0]
    cpu_start = cpu_times()
    cmd = java_cmd(cp, tmp) + [
        "--workload", a.workload, "--inputs", inputs, "--fixture", fix,
        "--out", out, "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--cpus", str(n_cpu), "--src", os.path.join(root, "src", "main", "scala"),
        "--plant", "1" if a.plant else "0"]
    jlog = os.path.join(run, "harness.log")
    limit = FIRST_RUN_LIMIT_S if built or wrote else RUN_LIMIT_S
    t_jvm = time.monotonic()
    rc = run_bounded(cmd, limit - (time.monotonic() - t_start), jlog)
    jvm_s = time.monotonic() - t_jvm
    res_path = os.path.join(out, "result.json")
    if rc != 0 or not os.path.exists(res_path):
        with open(jlog, errors="replace") as f:
            tail = f.read()[-3000:]
        fail(f"harness failed (rc={rc}):\n{tail}")
    res = json.load(open(res_path))
    if a.workload == "trend_analytics":
        oracle.check_trend(res, oracles, plant=a.plant)
    if "batch_files" in res:
        res["batch_docs"] = sum(pq.ParquetFile(f).metadata.num_rows
                                for f in res.pop("batch_files"))
    cpu_end = cpu_times()
    # CPU time the hypervisor gave to other guests during the run
    steal = None
    if cpu_start and cpu_end and cpu_end[1] > cpu_start[1]:
        steal = (cpu_end[0] - cpu_start[0]) / (cpu_end[1] - cpu_start[1])
    res.update(seed=a.seed, git_commit=git_commit(root), nproc=n_cpu,
               loadavg_start_1m=load_start, loadavg_end_1m=os.getloadavg()[0],
               cpu_steal_frac=steal, seconds=a.seconds, traced=bool(a.trace),
               run_wall_s=time.monotonic() - t_start, harness_wall_s=jvm_s)
    summary = metrics.summarise(res, trace=bool(a.trace))

    save = a.save or os.path.join(work, "artifacts")
    os.makedirs(save, exist_ok=True)
    name = f"{a.workload}-seed{a.seed}-trace{a.trace}-{int(time.time() * 1000)}.json"
    with open(os.path.join(save, name), "w") as f:
        json.dump({"summary": summary, "run": res}, f)
    spans = os.path.join(out, "spans.jsonl")
    if os.path.exists(spans):
        shutil.copy(spans, os.path.join(save, name[:-len(".json")] + ".spans.jsonl"))
    # leave only the artifact behind: the index and temp trees can be large
    shutil.rmtree(run, ignore_errors=True)

    for k, v in summary["metrics"].items():
        print(f"{k} = {v['value']:.6g} {v['unit']}")
    for line in summary["notes"]:
        print(line)
    print(json.dumps({k: summary[k] for k in
                      ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
