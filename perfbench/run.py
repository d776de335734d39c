#!/usr/bin/env python3
"""Benchmark entry point. Run from the root of a checkout:

    python3 perfbench/run.py --workload <migrate_files|queries> \
        --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness from source (sbt, offline, into
perfbench/target); the classpath is cached in .bench_build/ under a hash of
the sources, and any change to them rebuilds. Runs one JVM for the
workload, checks its outputs, and prints a summary line (with the source
hash and whether this run rebuilt) and, as the last line, one JSON object:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end_to_end list of BENCHMARK.json, with
--trace 1 the per_layer list (a layer a workload never reaches reads 0).

    python3 perfbench/run.py --pin

re-derives perfbench/pins.tsv: two processes each run every analytics and
dedup query twice on sf0.1; a query whose digest is not identical in all
four runs is pinned on its row count only.

Fixture: PERFBENCH_DATA (default ~/testdata/sf0.1, the sf0.1 tables of
TESTDATA.md), read-only.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(BUILD, "perfbench.classpath")
PINS = os.path.join(BENCH, "pins.tsv")
DATA = os.environ.get("PERFBENCH_DATA", os.path.expanduser("~/testdata/sf0.1"))
WORKLOADS = ("migrate_files", "queries")
RUN_LIMIT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_child(cmd, cwd, log_path, timeout, env=None):
    """Run a child in its own process group; kill the group on timeout."""
    with open(log_path, "wb") as log:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=log, stderr=subprocess.STDOUT,
                             env=env, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def tail(path, n=40):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def source_hash():
    """Hash of everything the build compiles: engine and harness sources,
    the harness build definition."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for top in roots:
        files = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, n) for d, _, ns in os.walk(top) for n in ns)
        for path in files:
            h.update(os.path.relpath(path, ROOT).encode() + b"\0")
            with open(path, "rb") as f:
                h.update(f.read() + b"\0")
    return h.hexdigest()[:16]


def build():
    """Compile engine + harness; cache the classpath under the sources'
    hash, so any change to them rebuilds. Returns (classpath, hash, rebuilt)."""
    digest = source_hash()
    if os.path.exists(CLASSPATH):
        with open(CLASSPATH) as f:
            cached, cp = (f.read().split("\n", 1) + [""])[:2]
        if cached == digest and cp.strip():
            return cp.strip(), digest, False
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                       f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')} "
                       "-Dsbt.offline=true -Xmx2g")
    log = os.path.join(BUILD, "build.log")
    rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                    "compile", "export Runtime/fullClasspath"],
                   BENCH, log, timeout=850, env=env)
    lines = [l.strip() for l in tail(log, 5).splitlines() if l.strip()]
    cp = lines[-1] if lines else ""
    if rc != 0 or "perfbench" not in cp or "[" in cp:
        sys.stderr.write(tail(log))
        fail(f"build failed (exit {rc}); log in {log}")
    with open(CLASSPATH, "w") as f:
        f.write(f"{digest}\n{cp}")
    return cp, digest, True


def java_cmd(cp, work, args):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    return (["java", *opens, "-Xmx3g", "-XX:-UsePerfData", "-Duser.timezone=UTC",
             f"-Djava.io.tmpdir={work}/tmp", "-cp", cp, "perfbench.Main",
             "--work", work, *args])


def fresh_dir(path):
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(os.path.join(path, "tmp"))


def pin(cp):
    runs = []
    for i in range(2):
        work = os.path.join(BUILD, "work", f"pin{i}")
        fresh_dir(work)
        out = os.path.join(BUILD, f"pin{i}.tsv")
        rc = run_child(java_cmd(cp, work, ["--mode", "pin", "--data", DATA, "--result", out]),
                       ROOT, os.path.join(BUILD, f"pin{i}.log"), timeout=3600)
        if rc != 0:
            fail(f"pin run {i} failed; log in {BUILD}/pin{i}.log")
        with open(out) as f:
            runs += [l.rstrip("\n").split("\t") for l in f if l.strip()]
        shutil.rmtree(work, ignore_errors=True)
    seen = {}
    for q, rows, digest, *_ in runs:
        seen.setdefault(q, []).append((rows, digest))
    with open(PINS, "w") as f:
        f.write("# query\trows\tdigest\tcheck   (written by: python3 perfbench/run.py --pin;\n"
                "# sf0.1, floats rounded to 6 significant digits, see NOTES.md)\n")
        for q, rs in sorted(seen.items()):
            if any(r[0] == "-" for r in rs) or len({r[0] for r in rs}) != 1:
                fail(f"{q}: failed or row count differs between runs: {rs}")
            mode = "digest" if len({r[1] for r in rs}) == 1 else "rows"
            f.write(f"{q}\t{rs[0][0]}\t{rs[0][1]}\t{mode}\n")
    print(f"wrote {PINS}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pin", action="store_true")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no engine sources under src/main/scala/graft; run from a checkout root")
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        fail("no BENCHMARK.json in the current directory")
    if not os.path.isfile(os.path.join(DATA, "lineitem.parquet")):
        fail(f"fixture directory {DATA} is missing")
    if not a.pin and a.workload not in WORKLOADS:
        fail(f"--workload must be one of {', '.join(WORKLOADS)}")

    cp, digest, rebuilt = build()
    if a.pin:
        return pin(cp)

    with open(spec_path) as f:
        spec = json.load(f)
    wanted = spec["per_layer" if a.trace else "end_to_end"]
    started = time.monotonic()
    tag = f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"
    work = os.path.join(BUILD, "work", tag)
    fresh_dir(work)
    result = os.path.join(work, "result.json")
    log = os.path.join(BUILD, f"run-{a.workload}.log")
    args = ["--mode", "run", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--data", DATA,
            "--pins", PINS, "--result", result]
    if a.trace:
        args += ["--spans", os.path.join(BUILD, "trace", f"{tag}.spans.jsonl")]
    try:
        rc = run_child(java_cmd(cp, work, args), ROOT, log, timeout=RUN_LIMIT_S)
        if rc != 0 or not os.path.exists(result):
            sys.stderr.write(tail(log))
            fail(f"benchmark process {'timed out' if rc is None else f'exited {rc}'}; log in {log}")
        with open(result) as f:
            r = json.load(f)
        with open(log, errors="replace") as f:  # the run's progress lines
            sys.stderr.write("".join(l for l in f if l.startswith("[perfbench")))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    metrics = {}
    for m in wanted:
        v = r["metrics"].get(m["name"])
        if v is None:
            if not a.trace:
                fail(f"end-to-end metric {m['name']} was not measured")
            v = 0  # a layer this workload does not reach
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    attempted, failed = int(r["attempted"]), int(r["failed"])
    for e in r["errors"]:
        print(f"perfbench: FAILED {e}", file=sys.stderr)
    summary = dict(r["summary"])
    summary["error_rate"] = {"value": failed / attempted if attempted else 1.0,
                             "unit": "fraction"}
    summary["peak_rss_mb"] = {"value": r["metrics"]["peak_rss_mb"], "unit": "MB"}
    print(f"{a.workload} seed={a.seed} trace={a.trace} build={digest} rebuilt={int(rebuilt)} "
          f"wall={time.monotonic() - started:.1f}s "
          + " ".join(f"{k}={v['value']:.6g}{v['unit'] and ' ' + v['unit']}"
                     for k, v in summary.items()))
    print(json.dumps({"correct": attempted >= 1 and failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
