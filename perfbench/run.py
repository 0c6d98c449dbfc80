"""Benchmark entry point.

    python3 perfbench/run.py --workload agent_session --seed 1 \\
        --seconds 20 --trace 0

Run from the root of a checkout. It builds the library from the
checkout's sources together with the harness (perfbench/build.sbt;
cached by a hash of the sources), generates the seeded inputs
(gen.py), builds agent_session's store once per build in a JVM of its
own, runs one workload in a fresh JVM (perfbench.Main), checks the
outputs and prints two JSON lines on stdout: the run's identity
(nproc, master, commit, seed, load and CPU-probe brackets, the
`contended` flag), then, as the last line, the result:

    {"correct": true, "attempted": 27, "failed": 0, "metrics": {...}}

`--trace 0` prints the end-to-end metrics, `--trace 1` the per-layer
ones. Everything it writes goes under .bench_build/ in the checkout
(or $CARGO_TARGET_DIR when that is set): the build stamp, inputs,
cached stores, scratch work dirs, and one self-describing record per
run in .bench_build/results/.
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
sys.path.insert(0, HERE)

import gen  # noqa: E402
import stats  # noqa: E402

WORKLOADS = tuple(gen.GENERATORS)
DEADLINE_S = 175          # a run must end within 180 s
BUILD_DEADLINE_S = 850    # the first run in a checkout also builds
CONTENDED_PROBE = 1.25    # after/before CPU-probe ratio that flags contention
CONTENDED_STEAL = 0.05    # host-stolen share of CPU time that flags contention


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def source_hash():
    """Hash of everything that goes into the build: the library's main
    sources and the harness. It names the build and the cached stores,
    so a changed program never reuses another build's store."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
             os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def git_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
        return out.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def sbt_env(tmp):
    """Offline sbt, the same settings the library's own build uses; its
    temporary files (server sockets) go under the build dir."""
    env = dict(os.environ, COURSIER_MODE="offline")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
            "-XX:-UsePerfData"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build(bdir, shash, deadline):
    """Compile library + harness once per source hash; return the
    runtime classpath and whether this call built it."""
    stamp = os.path.join(bdir, "build", shash, "classpath.txt")
    if os.path.exists(stamp):
        with open(stamp) as f:
            return f.read().strip(), False
    log(f"building {shash} with sbt")
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    with open(os.path.join(os.path.dirname(stamp), "sbt.log"), "w") as out:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=sbt_env(os.path.join(bdir, "tmp")),
            stdout=subprocess.PIPE, stderr=out,
            stdin=subprocess.DEVNULL, text=True,
            timeout=max(60, deadline - time.time()))
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:])
        raise RuntimeError("sbt build failed")
    cp = lines[-1].strip()
    with open(stamp, "w") as f:
        f.write(cp)
    return cp, True


def cpu_jiffies():
    """(steal, total) jiffies over all CPUs from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            xs = [int(x) for x in f.readline().split()[1:]]
        return xs[7], sum(xs)
    except (OSError, ValueError, IndexError):
        return None


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return [float(x) for x in f.read().split()[:3]]
    except OSError:
        return None


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def driver_mem():
    """The Tier-1 SPARK_DRIVER_MEM formula: half of RAM, within 2..8 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(8, max(2, g))}g"


JVM_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def run_jvm(cp, args, work, deadline):
    """Run perfbench.Main in `work`, in its own process group; kill the
    group on timeout and wait for it, so nothing outlives the run."""
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java] + [x for p in JVM_OPENS
                    for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    # no hsperfdata file in the system temp dir
    cmd += [f"-Xmx{driver_mem()}", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-cp", cp, "perfbench.Main"] + args
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    env = dict(os.environ)
    # the program records git context; keep it from finding a repository
    # above the work dir so every checkout sees the same (none)
    env["GIT_CEILING_DIRECTORIES"] = os.path.dirname(work)
    for k in [k for k in env if k.startswith("SPARK_GRAFT_")]:
        del env[k]
    with open(os.path.join(work, "jvm.log"), "w") as out:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=out,
                                stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL,
                                start_new_session=True)
        try:
            proc.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise RuntimeError("benchmark JVM timed out")
    if proc.returncode != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        raise RuntimeError(f"benchmark JVM exited {proc.returncode}")


def gen_hash():
    h = hashlib.sha256()
    for name in ("gen.py", "fixtures.json"):
        with open(os.path.join(HERE, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def inputs_for(bdir, workload, seed):
    """Seeded inputs, generated once per (generator version, seed)."""
    d = os.path.join(bdir, "inputs", gen_hash(), workload, str(seed))
    if not os.path.exists(os.path.join(d, "plan.json")):
        tmp = f"{d}.tmp-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.generate(workload, seed, tmp)
        shutil.rmtree(d, ignore_errors=True)
        os.replace(tmp, d)
    return d


def prep_store(cp, bdir, shash, deadline):
    """agent_session's store, built once per (build, generator) by the
    build under test, in a JVM of its own. Returns its path and whether
    this call built it."""
    store = os.path.join(bdir, "stores", f"{shash}-{gen_hash()}")
    if os.path.exists(os.path.join(store, "_COMPLETE")):
        return store, False
    log("building the agent_session store")
    inputs = inputs_for(bdir, "store", 0)
    work = os.path.join(bdir, "work", f"prep-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        run_jvm(cp, ["prep", inputs, store, str(cores())], work, deadline)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return store, True


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        log("library sources (src/main/scala/graft) not found next to perfbench/")
        return 2

    bdir = build_dir()
    shash = source_hash()
    # the first run in a checkout builds the program and the store, for
    # both workloads, so no later run pays for either
    cp, built = build(bdir, shash, t_start + BUILD_DEADLINE_S)
    store, prepped = prep_store(cp, bdir, shash, t_start + BUILD_DEADLINE_S)
    deadline = min(t_start + BUILD_DEADLINE_S, time.time() + DEADLINE_S) \
        if built or prepped else t_start + DEADLINE_S

    inputs = inputs_for(bdir, a.workload, a.seed)
    work = os.path.join(bdir, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    n = cores()
    load0, jif0 = loadavg(), cpu_jiffies()
    raw_path = os.path.join(work, "raw.json")
    try:
        run_jvm(cp, [a.workload, inputs, work, store, str(a.seconds),
                     str(a.trace), str(n), raw_path], work, deadline)
        with open(raw_path) as f:
            raw = json.load(f)
        os.makedirs(os.path.join(bdir, "results"), exist_ok=True)
        shutil.copy(raw_path, os.path.join(
            bdir, "results", f"{a.workload}-s{a.seed}-t{a.trace}-{int(t_start)}.raw.json"))
    finally:
        load1, jif1 = loadavg(), cpu_jiffies()
        shutil.rmtree(work, ignore_errors=True)

    e2e, notes = stats.end_to_end(raw)
    metrics = e2e if a.trace == 0 else stats.per_layer(raw, n)
    failed = stats.failures(raw)
    attempted = len(stats.loop_ops(raw)) + sum(
        1 for o in raw["ops"] if o["phase"] == "extra")
    probe = raw["cpu_probe_ms"]
    steal = (jif1[0] - jif0[0]) / max(1, jif1[1] - jif0[1]) \
        if jif0 and jif1 else None
    # the load average is not used for the flag: it still carries the
    # previous run's own load when runs follow each other
    contended = (probe["after"] > CONTENDED_PROBE * probe["before"]
                 or (steal or 0) > CONTENDED_STEAL)

    record = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "seconds": a.seconds, "nproc": n, "master": raw["meta"]["master"],
        "spark_version": raw["meta"]["spark_version"],
        "heap_max_mb": raw["meta"]["heap_max_mb"],
        "commit": git_commit(), "source_hash": shash,
        "loadavg": {"before": load0, "after": load1},
        "cpu_probe_ms": probe, "steal_ratio": steal, "contended": contended,
        "failed_op_ratio": len(failed) / attempted,
        "failures": [{"op": o["id"], "kind": o["kind"], "note": o["note"]}
                     for o in failed],
        "end_to_end": {k: v[0] for k, v in e2e.items()}, "notes": notes,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        "wall_s": time.time() - t_start,
    }
    with open(os.path.join(bdir, "results",
                           f"{a.workload}-s{a.seed}-t{a.trace}-{int(t_start)}.json"),
              "w") as f:
        json.dump(record, f, indent=1)
    for fl in record["failures"]:
        log(f"failed op {fl['op']} ({fl['kind']}): {fl['note']}")
    # the run's identity and contention flag, on the line before the
    # result: the result line itself has a fixed set of keys
    print(json.dumps({"run": {k: record[k] for k in (
        "workload", "seed", "trace", "nproc", "master", "commit",
        "source_hash", "loadavg", "cpu_probe_ms", "steal_ratio",
        "contended", "failed_op_ratio", "notes")}}))
    print(json.dumps({
        "correct": not failed, "attempted": attempted, "failed": len(failed),
        "metrics": record["metrics"]}))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except (RuntimeError, subprocess.SubprocessError, OSError) as e:
        log(f"error: {e}")
        sys.exit(1)
