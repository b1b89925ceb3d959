#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one measurement.

    python3 perfbench/run.py --workload ticks_labels --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The script
  1. builds the library and the benchmark program from source with sbt
     (once per source state; the classpath is cached under
     perfbench/.work),
  2. generates the workload's inputs from the seed (gen.py; cached per
     seed),
  3. runs the benchmark JVM (perfbench.Main), which sets up, measures for
     at least --seconds and 25 operations, checks every output of the
     first pass, and
  4. prints, as the last line of stdout, one JSON object with `correct`,
     `attempted`, `failed` and `metrics`: the end-to-end metrics with
     --trace 0, the per-layer metrics with --trace 1 (the span file goes
     to perfbench/.work/spans/).

It exits non-zero when the build fails, the library sources are missing,
the benchmark JVM fails, or any output check fails.
"""

import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
WORKLOADS = ("ticks_labels", "stream_labels")
# A fixed heap and young generation keep the collector's sizing, and
# with it peak_rss_mb, from depending on when the heap happened to grow.
JVM_MEMORY = ["-Xms3g", "-Xmx3g", "-Xmn768m"]
BUILD_TIMEOUT_S = 800
RUN_LIMIT_S = 175
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group; on timeout, or when this
    script is terminated, kills the whole group and waits for it.
    Returns (returncode, stdout), or (None, None) on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)

    def stop(*_):
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        sys.exit(1)

    old = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        log(f"timed out after {timeout:.0f} s: {' '.join(cmd[:3])} ...")
        return None, None
    finally:
        for s, h in old.items():
            signal.signal(s, h)


def digest(paths):
    h = hashlib.sha256()
    for top in paths:
        files = [top] if os.path.isfile(top) else sorted(
            os.path.join(r, f) for r, _, fs in os.walk(top) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Classpath of the benchmark program, building it when its sources changed."""
    inputs = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
              os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties"), os.path.join(HERE, "src"),
              os.path.join(HERE, "resources")]
    key = digest([p for p in inputs if os.path.exists(p)])
    stamp = os.path.join(WORK, "classpath.txt")
    if os.path.exists(stamp):
        with open(stamp) as f:
            k, cp = f.read().split("\n", 1)
        if k == key:
            return cp.strip()
    log("building the library and the benchmark program with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    code, out = run_group(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "export perfbench/Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=subprocess.PIPE, text=True)
    if code != 0:
        sys.stderr.write("".join(l + "\n" for l in (out or "").splitlines() if l.startswith("[error]")))
        log("build failed")
        sys.exit(2)
    lines = [l for l in out.splitlines() if os.pathsep in l and ".jar" in l and not l.startswith("[")]
    if not lines:
        sys.stderr.write(out)
        log("build printed no classpath")
        sys.exit(2)
    cp = lines[-1].strip()
    os.makedirs(WORK, exist_ok=True)
    with open(stamp, "w") as f:
        f.write(key + "\n" + cp + "\n")
    log(f"built in {time.time() - t0:.1f} s")
    return cp


def inputs(workload, seed):
    """Directory holding the workload's generated inputs for this seed."""
    gen = os.path.join(HERE, "gen.py")
    out = os.path.join(WORK, "data", f"{workload}-{seed}-{digest([gen])[:12]}")
    if not os.path.exists(os.path.join(out, "truth.json")):
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        t0 = time.time()
        code, _ = run_group([sys.executable, gen, "--workload", workload, "--seed", str(seed),
                             "--out", tmp], 300)
        if code != 0:
            log("input generation failed")
            sys.exit(2)
        shutil.rmtree(out, ignore_errors=True)
        os.rename(tmp, out)
        log(f"generated inputs in {time.time() - t0:.1f} s (not part of setup_s)")
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")) or \
            not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        log(f"no graft library sources next to {os.path.basename(HERE)}/; run from a full checkout")
        sys.exit(2)
    cp = build()
    data = inputs(a.workload, a.seed)

    start = time.time()
    run_dir = os.path.join(WORK, "run", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    result = os.path.join(run_dir, "result.json")
    spans_dir = os.path.join(WORK, "spans")
    os.makedirs(spans_dir, exist_ok=True)
    spans = os.path.join(spans_dir, f"{a.workload}-{a.seed}.json")
    cmd = ["java", *JVM_MEMORY, f"-Djava.io.tmpdir={run_dir}/tmp"]
    for o in JDK17_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--data", data, "--work", run_dir,
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--result", result, "--spans", spans]
    code, _ = run_group(cmd, RUN_LIMIT_S - (time.time() - start), cwd=ROOT,
                        stdout=sys.stderr, stderr=sys.stderr)
    line = None
    if code is not None and os.path.exists(result):
        with open(result) as f:
            line = f.read().strip()
    shutil.rmtree(run_dir, ignore_errors=True)
    if code != 0 or not line:
        log(f"benchmark JVM failed (exit {code})")
        sys.exit(1)
    if a.trace:
        log(f"spans written to {os.path.relpath(spans, ROOT)}")
    print(line, flush=True)
    if '"correct": true' not in line:
        log("an output check failed")
        sys.exit(1)


if __name__ == "__main__":
    main()
