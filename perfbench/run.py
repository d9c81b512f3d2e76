#!/usr/bin/env python3
"""Workbench benchmark: statement -> page, statement -> CSV/Arrow and DML
latency on the `explore`, `report` and `edit` workloads.

Run from the root of a checkout:

    python3 perfbench/run.py --workload explore --seed 1 --seconds 5 --trace 0

Builds the library and the JVM runner from source on first use (sbt, output
under .bench_build/), generates the input folder, runs the workload in one
JVM with one client thread on local[nproc], checks every output against
DuckDB, and prints one JSON line as the last line of standard output:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
A human-readable summary and the like-with-like record go to stderr.
See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
sys.path.insert(0, str(HERE))

import checks  # noqa: E402
import datagen  # noqa: E402
import layers  # noqa: E402
import workloads  # noqa: E402

SBT_TARGET = BUILD / "sbt-target"
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def cpus():
    return len(os.sched_getaffinity(0))


def source_stamp():
    """Hash of every input of the build: library sources, runner, build files."""
    h = hashlib.sha256()
    roots = [ROOT / "src" / "main", HERE / "src"]
    files = [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for r in roots:
        files += sorted(p for p in r.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile with sbt when the sources changed; return the classpath."""
    if not (ROOT / "src" / "main" / "scala").is_dir():
        raise SystemExit("library sources (src/main/scala) not found: "
                         "run from the root of a full checkout")
    stamp_file, cp_file = BUILD / "build.stamp", SBT_TARGET / "classpath.txt"
    stamp = source_stamp()
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    BUILD.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    log("[perfbench] building library + runner with sbt ...")
    t0 = time.time()
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, stdout=sys.stderr,
        stderr=sys.stderr, timeout=840)
    if r.returncode != 0:
        raise SystemExit(f"sbt build failed with exit code {r.returncode}")
    log(f"[perfbench] build took {time.time() - t0:.1f}s")
    stamp_file.write_text(stamp)
    return cp_file.read_text().strip()


def data_dir(sf):
    """The generated input folder, keyed by the generator's source so a
    changed generator never reuses a stale folder."""
    digest = hashlib.sha256((HERE / "datagen.py").read_bytes()).hexdigest()[:12]
    return BUILD / "data" / f"sf{sf}-{digest}"


def git_commit():
    """The commit under test, when the checkout is a git work tree."""
    if not (ROOT / ".git").exists():
        return "unknown"
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def run_jvm(classpath, spec, run_dir, timeout):
    """Run one runner JVM on `spec`; returns its parsed result."""
    spec_file, out_file = run_dir / "spec.json", run_dir / "result.json"
    spec_file.write_text(json.dumps(spec))
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(spec["cpus"])
    env["SPARK_LOCAL_DIRS"] = str(run_dir / "local")
    (run_dir / "tmp").mkdir()
    java = [os.path.join(os.environ["JAVA_HOME"], "bin", "java")
            if os.environ.get("JAVA_HOME") else "java"]
    opts = [f"--add-opens={p}=ALL-UNNAMED" for p in JVM_OPENS] + [
        "-Xmx3g", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-Duser.timezone=UTC", "-Xlog:cds*=off",
        # keep every file the JVM writes inside the run directory
        f"-Djava.io.tmpdir={run_dir / 'tmp'}", "-XX:-UsePerfData"]
    # Class-data sharing: the first run in a checkout dumps the classes it
    # loaded; later runs map them instead of loading ~15k classes again,
    # which shortens the cold first set-up. Keyed by the build's stamp.
    cds = BUILD / f"classes-{(BUILD / 'build.stamp').read_text()[:16]}.jsa"
    for stale in BUILD.glob("classes-*.jsa"):
        if stale != cds:
            stale.unlink()
    opts.append(f"-XX:SharedArchiveFile={cds}" if cds.exists()
                else f"-XX:ArchiveClassesAtExit={cds}")
    cmd = java + opts + ["-cp", classpath, "perfbench.Main", "run", str(spec_file),
                         str(out_file)]
    r = subprocess.run(cmd, cwd=run_dir, env=env, stdin=subprocess.DEVNULL,
                       stdout=sys.stderr, stderr=sys.stderr, timeout=timeout)
    if r.returncode != 0:
        raise SystemExit(f"runner JVM failed with exit code {r.returncode}")
    return json.loads(out_file.read_text())


T0 = time.time()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    classpath = build()
    wl = workloads.WORKLOADS[args.workload]
    data = data_dir(wl.sf)
    datagen.generate(str(data), wl.sf)
    run_dir = BUILD / "runs" / f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    try:
        spec = wl.spec(args.seed)
        spec.update(seconds=args.seconds, trace=bool(args.trace), cpus=cpus(),
                    data_dir=str(data), run_dir=str(run_dir))
        result = run_jvm(classpath, spec, run_dir, timeout=args.seconds + 120)
        verdicts = checks.check_run(wl, spec, result, data, run_dir,
                                    BUILD / "oracle" / data.name)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "cpus": cpus(), "master": result["config"]["master"], "sf": wl.sf,
        "data_dir": str(data.relative_to(ROOT)), "commit": git_commit(),
        "source_sha256": source_stamp(),
        **{k: v for k, v in result["config"].items() if k != "master"}}
    log("[perfbench] like-with-like: " + json.dumps(record, sort_keys=True))
    for i, st in enumerate(result["setups"]):
        log(f"[perfbench] set-up {i + 1}: " + " ".join(
            f"{k}={st[k]:.3f}" for k in ("session_start_s", "import_s", "warm_s", "setup_s")))
    log(f"[perfbench] wall so far {time.time() - T0:.1f}s, loop {result['loop_s']:.1f}s")
    failed = sum(1 for _id, v in verdicts if v)
    for step_id, v in verdicts:
        if v:
            log(f"[perfbench] FAILED {step_id}: {v}")
    attempted = len(verdicts)
    if args.trace:
        metrics, sanity = layers.per_layer(wl, spec, result, verdicts)
        trace_file = BUILD / "traces" / f"{args.workload}-{args.seed}.json"
        trace_file.parent.mkdir(parents=True, exist_ok=True)
        trace_file.write_text(json.dumps(layers.spans(result), separators=(",", ":")))
        log(f"[perfbench] spans written to {trace_file.relative_to(ROOT)}")
    else:
        metrics, sanity = layers.end_to_end(wl, spec, result, verdicts)
    log(f"[perfbench] detail: {layers.details(result, verdicts)}")
    for warning in sanity:
        log(f"[perfbench] SANITY: {warning}")
    for name, m in metrics.items():
        log(f"[perfbench] {args.workload:8s} {name:28s} {m['value']:.6g} {m['unit']}")
    if failed:
        log(f"[perfbench] {failed} of {attempted} operations FAILED their output check")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
