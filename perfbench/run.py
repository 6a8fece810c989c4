#!/usr/bin/env python3
"""Repository benchmark: one workload per invocation.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first call builds the engine (src/main)
together with the harness (perfbench/src) with sbt into .bench_build/ and
reuses that build while the sources are unchanged. Each call then runs the
workload in a fresh JVM. The last line of standard output is the result
object; the self-describing artifact (host, versions, seed, samples, spans)
is written under .bench_build/results/.
"""
import argparse
import hashlib
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("batch_build", "ner_serve")
DEADLINE_S = 175  # every invocation must end within 180 s (build excepted)
BUILD_DEADLINE_S = 840

# Spark 4 on JDK 17 outside spark-submit needs these (the engine's
# build.sbt passes the same list to its forked runs).
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build reads, as sorted repository-relative paths."""
    out = []
    for top in ("src/main", "perfbench/src"):
        for d, _, fs in os.walk(os.path.join(ROOT, top)):
            out += [os.path.relpath(os.path.join(d, f), ROOT) for f in fs]
    out += ["perfbench/build.sbt", "perfbench/project/build.properties"]
    return sorted(out)


def source_hash():
    h = hashlib.sha256()
    for rel in source_files():
        h.update(rel.encode() + b"\0")
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def git_sha():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def declared_metrics(trace):
    """name -> unit of the metrics BENCHMARK.json declares for this mode."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"]
            for m in spec["per_layer" if trace else "end_to_end"]}


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; on exit or timeout kill whatever
    the group still holds (e.g. a server a crashed harness left behind)
    and wait until it is gone."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        out = None
    finally:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
        for _ in range(100):  # grandchildren are not ours to wait() on
            try:
                os.killpg(p.pid, 0)
            except ProcessLookupError:
                break
            time.sleep(0.05)
    return p.returncode, out


def build(src_hash):
    """Compile once per source state; returns the runtime classpath."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == src_hash:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    code, out = run_group(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-error",
         "export Runtime/fullClasspath"],
        BUILD_DEADLINE_S, cwd=HERE, env=env, stdout=subprocess.PIPE,
        text=True)
    lines = [l for l in (out or "").splitlines() if ".bench_build" in l
             and not l.startswith("[")]
    if code != 0 or not lines:
        sys.stderr.write(out or "")
        fail(f"build failed (sbt exit {code})")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(src_hash)
    return lines[-1].strip()


def main():
    # a TERM unwinds like an error, so run_group still reaps its group
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found; "
             "run from a full checkout of the repository")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        fail("java and sbt are required")

    src_hash = source_hash()
    cp = build(src_hash)
    t_start = time.time()

    # all scratch state lives inside the checkout, wiped per invocation
    work = os.path.join(BUILD, "work")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    results = os.path.join(BUILD, "results")
    os.makedirs(results, exist_ok=True)
    tag = f"{a.workload}_seed{a.seed}_trace{a.trace}"
    result_file = os.path.join(results, tag + ".json")
    if os.path.exists(result_file):
        os.remove(result_file)

    jvm = (["java"] + [x for p in ADD_OPENS
                       for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-Xmx3g",
              f"-Djava.io.tmpdir={tmp}",
              f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
              f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
              "-Dspark.ui.enabled=false",
              "-Dspark.sql.session.timeZone=UTC",
              "-Dlog4j2.level=error",
              "-cp", cp])
    cmd = jvm + ["perfbench.Main",
                 "--workload", a.workload, "--seed", str(a.seed),
                 "--seconds", str(a.seconds), "--trace", str(a.trace),
                 "--work", work, "--data", os.path.join(HERE, "data"),
                 "--pins", os.path.join(HERE, "pins"),
                 "--result", result_file,
                 "--git-sha", git_sha() or "none",
                 "--source-sha", src_hash,
                 "--host", platform.node() or "unknown"]
    # harness diagnostics go to stderr; stdout carries only the result
    code, _ = run_group(cmd, DEADLINE_S - (time.time() - t_start), cwd=ROOT,
                        stdout=sys.stderr)
    shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not os.path.exists(result_file):
        fail(f"workload {a.workload} failed (exit {code})")
    with open(result_file) as f:
        result = json.load(f)["result"]
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    want = declared_metrics(a.trace)
    if got != want:
        fail("metrics differ from BENCHMARK.json: "
             f"undeclared {sorted(set(got) - set(want))}, "
             f"missing {sorted(set(want) - set(got))}, units "
             f"{sorted(k for k in got if k in want and got[k] != want[k])}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
