#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload build|ingest --seed N \
        --seconds S --trace 0|1

Builds the engine and the benchmark with sbt (offline) when their
sources changed since the last build, sizes Spark from the host (cores
from the CPU affinity mask, heap from MemTotal), runs `perfbench.Main`
in a fresh work directory under `perfbench/.work/`, deletes that
directory, and prints the result object as the last stdout line.
See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
LAUNCH = os.path.join(TARGET, "launch.txt")
STAMP = os.path.join(TARGET, "source-stamp.txt")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_stamp():
    """Hash of every file the build reads from this checkout."""
    h = hashlib.sha256()
    files = []
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
                 os.path.join(HERE, "src"), os.path.join(HERE, "project")):
        for d, dirs, names in os.walk(base):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in names]
    files += [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the whole group on
    timeout or interruption, and wait for it to end."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except BaseException:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
        raise


def build():
    stamp = source_stamp()
    if os.path.exists(LAUNCH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == stamp:
                return
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = " ".join([
        "-Dsbt.override.build.repos=true",
        f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')}",
        "-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx3g"])
    t0 = time.time()
    try:
        code, out = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "launchFile"],
                              BUILD_TIMEOUT_S, cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                              stdout=subprocess.PIPE, stderr=subprocess.STDOUT)
    except subprocess.TimeoutExpired:
        fail(f"build timed out after {BUILD_TIMEOUT_S} s")
    if code != 0 or not os.path.exists(LAUNCH):
        sys.stderr.write(out.decode(errors="replace")[-4000:])
        fail(f"build failed (sbt exit {code})")
    with open(STAMP, "w") as f:
        f.write(stamp)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)


def host_sizing():
    """Cores as `nproc` reports them; heap as half of MemTotal, clamped
    to 2..8 GiB (the sizing of the repository's test command)."""
    cores = len(os.sched_getaffinity(0))
    gib = 2
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                gib = min(8, max(2, int(line.split()[1]) // 2097152))
    return cores, f"{gib}g"


def expected_metrics(trace):
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        spec = json.load(f)
    return {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    # a terminated run still stops its JVM (run_group) and deletes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=["build", "ingest"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no engine sources here ({need} missing); run from a full checkout")
    build()
    with open(LAUNCH) as f:
        lines = f.read().splitlines()
    classpath, jvm_opts = lines[0], lines[1:]
    cores, heap = host_sizing()

    os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{a.workload}-", dir=os.path.join(HERE, ".work"))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = (["java", f"-Xmx{heap}", f"-Djava.io.tmpdir={tmp}"] + jvm_opts +
           ["-cp", classpath, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--cores", str(cores)])
    try:
        code, out = run_group(cmd, RUN_TIMEOUT_S, cwd=work, stdin=subprocess.DEVNULL,
                              stdout=subprocess.PIPE)
    except subprocess.TimeoutExpired:
        fail(f"run timed out after {RUN_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.decode(errors="replace").splitlines() if l.strip()]
    if code != 0 or not lines:
        fail(f"benchmark exited with {code}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"malformed result: {lines[-1]}")
    want = expected_metrics(a.trace)
    if want is not None and set(result["metrics"]) != want:
        fail(f"metrics differ from BENCHMARK.json: {sorted(set(result['metrics']) ^ want)}")
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
