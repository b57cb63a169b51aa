#!/usr/bin/env python3
"""Pipeline benchmark for the graft engine.

Run from the root of a source checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The first run builds the engine from ../src/main together with the
benchmark's own code (sbt, offline) into .bench_build/; later runs reuse that
build while the sources are unchanged. Each run starts one JVM that runs the
workload on local[N] (N = min(2, CPUs)) and prints, as the last line of
stdout, one JSON object: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are BENCHMARK.json's end_to_end list, with
--trace 1 its per_layer list. A full report (environment stamp, code id,
tail ranks, sample counts, operation mix, spans) goes to
.bench_build/perfbench/reports/.

Exit status is 0 only when every operation succeeded and every correctness
check passed.
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
from pathlib import Path

HERE = Path(__file__).resolve().parent
WORKLOADS = ("etl_dml", "mv_stream")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
# The JVM's defaults (tiered compilation, G1) with a fixed heap size, as a
# driver's heap is usually set. The full collections a run makes after each
# write, to read the live heap, would otherwise shrink a heap that grows on
# demand, and the next operation would run with less. Pages are not touched
# in advance, so the resident set still follows what the run uses.
JVM_OPTS = ["-Xms2g", "-Xmx2g"]

# Spark on JDK 17 needs these outside spark-submit (the engine's build.sbt
# passes the same list to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

# Names git never commits under the identity paths (see the root .gitignore).
IGNORED_NAMES = {"target", ".bsp", ".metals", ".bloop", "__pycache__",
                 "spark-warehouse", "metastore_db", "derby.log"}


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# -- code identity -----------------------------------------------------------

def _git_object(kind, data):
    return hashlib.sha1(b"%s %d\0" % (kind, len(data)) + data).hexdigest()


def _tree_id(path, top=True):
    """The git tree id of a directory, as git would commit it."""
    entries = []
    for child in sorted(path.iterdir(), key=lambda p: p.name):
        name = child.name
        if name in IGNORED_NAMES or name.endswith(".class"):
            continue
        if top and path.name == "project" and name == "project":
            continue
        if child.is_symlink():
            entries.append((name, b"120000", _git_object(b"blob", os.readlink(child).encode())))
        elif child.is_dir():
            sub = _tree_id(child, top=False)
            if sub is not None:
                entries.append((name + "/", b"40000", sub))
        else:
            mode = b"100755" if os.access(child, os.X_OK) else b"100644"
            entries.append((name, mode, _git_object(b"blob", child.read_bytes())))
    if not entries:
        return None
    entries.sort(key=lambda e: e[0])
    body = b"".join(mode + b" " + name.rstrip("/").encode() + b"\0" + bytes.fromhex(sha)
                    for name, mode, sha in entries)
    return _git_object(b"tree", body)


def code_id(root):
    """graft.Bench's code id: md5 over the git ids of src/main, build.sbt and
    project/, computed from the files because a checkout need not be a git
    repository."""
    ids = [_tree_id(root / "src" / "main"),
           _git_object(b"blob", (root / "build.sbt").read_bytes()),
           _tree_id(root / "project")]
    if any(i is None for i in ids):
        return "unknown"
    return "t" + hashlib.md5("\n".join(ids).encode()).hexdigest()[:16]


# -- environment stamp -------------------------------------------------------

def _read(path):
    try:
        return Path(path).read_text().strip()
    except OSError:
        return None


def cgroup_quota():
    v2 = _read("/sys/fs/cgroup/cpu.max")
    if v2:
        return v2
    quota = _read("/sys/fs/cgroup/cpu/cpu.cfs_quota_us")
    period = _read("/sys/fs/cgroup/cpu/cpu.cfs_period_us")
    return f"{quota} {period}" if quota and period else "unknown"


def env_stamp():
    load = _read("/proc/loadavg")
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "cgroup_cpu_quota": cgroup_quota(),
        "loadavg": [float(x) for x in load.split()[:3]] if load else None,
    }


# -- build -------------------------------------------------------------------

def source_digest(root):
    h = hashlib.sha256()
    paths = [root / "src" / "main", HERE / "src" / "main", HERE / "build.sbt",
             HERE / "project" / "build.properties"]
    for base in paths:
        files = [base] if base.is_file() else sorted(p for p in base.rglob("*") if p.is_file())
        for f in files:
            h.update(str(f.relative_to(root)).encode() + b"\0" + f.read_bytes() + b"\0")
    return h.hexdigest()


def build(root, build_dir):
    """Compile the engine and the benchmark once per source state; return the
    classpath."""
    state = build_dir / "perfbench" / "build"
    state.mkdir(parents=True, exist_ok=True)
    stamp, cp_file = state / "stamp", state / "classpath"
    digest = source_digest(root)
    if stamp.is_file() and stamp.read_text() == digest and cp_file.is_file():
        return cp_file.read_text().strip()
    log = state / "sbt.log"
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "compile", "export Runtime/fullClasspath"]
    # sbt's native-library cache and global settings stay inside the build
    # directory too (its server socket stays in the system temp directory:
    # a socket path must be short)
    scratch = state / "sbt-scratch"
    scratch.mkdir(exist_ok=True)
    opts = [os.environ.get("SBT_OPTS", ""), f"-Djna.tmpdir={scratch}",
            f"-Dsbt.global.base={scratch / 'global'}", "-XX:-UsePerfData"]
    env = {**os.environ, "SBT_OPTS": " ".join(o for o in opts if o)}
    if "SPARK_HOME" not in env:
        submit = shutil.which("spark-submit")
        if not submit:
            fail("no Spark installation: set SPARK_HOME or put spark-submit on PATH")
        env["SPARK_HOME"] = str(Path(submit).resolve().parent.parent)
    with open(log, "w") as out:
        rc = run_child(cmd, cwd=HERE, stdout=out, timeout=BUILD_TIMEOUT_S, env=env)
    lines = log.read_text().splitlines()
    if rc != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (exit {rc}); log in {log}")
    cps = [l for l in lines if not l.startswith("[") and ".jar" in l and os.pathsep in l]
    if not cps:
        fail(f"build printed no classpath; log in {log}")
    cp = cps[-1]
    # A class-data-sharing archive of the classes a run loads: a training
    # JVM runs every workload once and dumps it at exit. Runs start with it;
    # without it (a failed dump) they only start slower.
    jsa = state / "classes.jsa"
    jsa.unlink(missing_ok=True)
    with open(state / "train.log", "w") as out:
        run_child(java_cmd(cp, build_dir, [f"-XX:ArchiveClassesAtExit={jsa}"],
                           ["--workload", "train", "--work", str(build_dir / "perfbench" / "work")]),
                  cwd=root, stdout=out, timeout=BUILD_TIMEOUT_S)
    cp_file.write_text(cp)
    stamp.write_text(digest)
    return cp


def java_cmd(cp, build_dir, jvm_opts, args):
    pb = build_dir / "perfbench"
    for d in ("tmp", "spark-local", "warehouse"):
        (pb / d).mkdir(parents=True, exist_ok=True)
    return (["java", "-Duser.timezone=UTC", "-XX:-UsePerfData"] + JVM_OPTS + [
             f"-Djava.io.tmpdir={pb / 'tmp'}",
             f"-Dspark.local.dir={pb / 'spark-local'}",
             f"-Dspark.sql.warehouse.dir={pb / 'warehouse'}"]
            + jvm_opts
            + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", cp, "perfbench.Main"] + args)


def run_child(cmd, cwd, stdout, timeout, stderr=None, env=None):
    """Run a child in its own process group; kill the group on timeout and
    always wait for it."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=stdout, stderr=stderr or subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, start_new_session=True, env=env)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


# -- run ---------------------------------------------------------------------

def expected_metrics(root, trace):
    spec = root / "BENCHMARK.json"
    if not spec.is_file():
        return None
    b = json.loads(spec.read_text())
    return [m["name"] for m in b["per_layer" if trace else "end_to_end"]]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    root = Path.cwd().resolve()
    if not (root / "build.sbt").is_file() or not (root / "src" / "main" / "scala").is_dir():
        fail(f"{root} is not an engine source checkout (no build.sbt / src/main/scala)")
    build_dir = root / ".bench_build"
    t0 = time.time()
    cp = build(root, build_dir)
    build_s = time.time() - t0

    pb = build_dir / "perfbench"
    for d in ("reports", "logs"):
        (pb / d).mkdir(parents=True, exist_ok=True)
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    report = pb / "reports" / f"{tag}.json"
    report.unlink(missing_ok=True)
    stamp = {"code_id": code_id(root), **env_stamp()}
    jsa = pb / "build" / "classes.jsa"
    cmd = java_cmd(cp, build_dir, [f"-XX:SharedArchiveFile={jsa}"] if jsa.is_file() else [],
                   ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                    "--trace", a.trace, "--work", str(pb / "work"), "--report", str(report)])
    out_path = pb / "logs" / f"{tag}.out"
    with open(out_path, "w") as out, open(pb / "logs" / f"{tag}.err", "w") as err:
        rc = run_child(cmd, cwd=root, stdout=out, stderr=err, timeout=RUN_TIMEOUT_S)
    lines = [l for l in out_path.read_text().splitlines() if l.startswith("{")]
    if not lines:
        fail(f"run printed no result (exit {rc}); stderr in {pb / 'logs' / (tag + '.err')}", 1)
    result = json.loads(lines[-1])

    want = expected_metrics(root, a.trace == "1")
    if want is not None and sorted(result["metrics"]) != sorted(want):
        missing = sorted(set(want) - set(result["metrics"]))
        extra = sorted(set(result["metrics"]) - set(want))
        print(f"perfbench: metric names differ from BENCHMARK.json: missing {missing}, "
              f"extra {extra}", file=sys.stderr)
        result["correct"] = False
        rc = rc or 1

    if report.is_file():
        detail = json.loads(report.read_text())
        detail["stamp"] = {**stamp, "build_s": build_s}
        report.write_text(json.dumps(detail))
    print(f"perfbench: {tag} code={stamp['code_id']} nproc={stamp['nproc']} "
          f"quota={stamp['cgroup_cpu_quota']} load={stamp['loadavg']} report={report}",
          file=sys.stderr)
    print(json.dumps(result))
    sys.exit(0 if rc == 0 and result["correct"] else 1)


if __name__ == "__main__":
    main()
