#!/usr/bin/env python3
"""Sync and LM-scoring benchmark entry point.

Builds the program and the harness from source (skipped when the
sources are unchanged since the last build), then runs one workload in
a fresh JVM and passes its output through. The last stdout line is one
JSON object with `correct`, `attempted`, `failed` and `metrics`.

    python3 perfbench/run.py --workload diff_lowchurn --seed 1 --seconds 10 --trace 0

Run it from the repository root. Everything it writes goes under
`.bench_build/perfbench/` there.
"""
import argparse
import hashlib
import json
import os
import pathlib
import signal
import subprocess
import sys

BENCH = pathlib.Path(__file__).resolve().parent
ROOT = BENCH.parent
OUT = ROOT / ".bench_build" / "perfbench"
BUILD_TIMEOUT_S = 700  # with RUN_TIMEOUT_S, a first run ends within 900 s
RUN_TIMEOUT_S = 170
HEAP = "2g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def build_inputs():
    """Files whose content decides the build: both build definitions and
    all main sources of the program and the harness."""
    files = [ROOT / "build.sbt", BENCH / "build.sbt",
             ROOT / "project" / "build.properties", BENCH / "project" / "build.properties"]
    for src in (ROOT / "src" / "main", BENCH / "src" / "main"):
        files += sorted(p for p in src.rglob("*") if p.is_file())
    return [f for f in files if f.is_file()]


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group; on timeout the whole group is
    killed and waited for."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None, None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def ensure_built():
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"program sources not found under {ROOT / 'src'}; run from a full checkout")
    files = build_inputs()
    want = digest(files)
    stamp, cp_file = OUT / "build.digest", OUT / "classpath.txt"
    if stamp.is_file() and cp_file.is_file() and stamp.read_text() == want:
        return cp_file.read_text().strip()
    OUT.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = pathlib.Path.home() / ".sbt" / "repositories"
    if "SBT_OPTS" not in env and repos.is_file():
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
           "export perfbench/Runtime/fullClasspath"]
    code, out = run_group(cmd, BUILD_TIMEOUT_S, cwd=BENCH, env=env, stdin=subprocess.DEVNULL,
                          stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if code != 0:
        sys.stderr.write((out or "")[-4000:])
        fail("build failed" if code is not None else "build timed out")
    lines = [l.strip() for l in out.splitlines() if l.strip() and not l.startswith("[")]
    cps = [l for l in lines if ".jar" in l and os.pathsep in l]
    if not cps:
        fail("build printed no classpath")
    cp_file.write_text(cps[-1])
    stamp.write_text(want)
    return cps[-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()
    cp = ensure_built()
    tmp = OUT / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           # a pre-touched fixed heap keeps first-touch page faults out of
           # the timed ops; a fixed set of JIT compiler threads lets the
           # harness subtract their CPU from cpu_s
           [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
            "-XX:-UseDynamicNumberOfCompilerThreads",
            "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
            f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={OUT}",
            f"-Dderby.stream.error.file={OUT / 'derby.log'}",
            f"-Dperfbench.work={OUT}",
            "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace])
    code, out = run_group(cmd, RUN_TIMEOUT_S, cwd=ROOT, stdin=subprocess.DEVNULL,
                          stdout=subprocess.PIPE, text=True)
    if code is None:
        fail(f"run exceeded {RUN_TIMEOUT_S}s")
    lines = out.rstrip("\n").splitlines()
    sys.stdout.write("\n".join(lines[:-1]) + ("\n" if len(lines) > 1 else ""))
    if code != 0 or not lines:
        fail(f"run exited with code {code}")
    try:
        result = json.loads(lines[-1])
    except ValueError:
        fail("run printed no result line")
    print(json.dumps(result))
    sys.exit(0 if result.get("attempted", 0) >= 1 else 1)


if __name__ == "__main__":
    main()
