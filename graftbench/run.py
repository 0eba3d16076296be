#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 graftbench/run.py --workload cg_extract|ml_queries \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the library and
the harness from source with sbt (once per source tree: the classpath
is cached under .bench_build/ next to a hash of the sources), makes the
workload's inputs from the seed (cached per seed under .bench_build/),
then runs the harness in fresh JVMs launched directly with java:

  * one JVM runs the passes (set-up, one cold pass, warm passes for S
    seconds, and with --trace 1 one traced pass);
  * SETUP_SAMPLES - 1 more JVMs only set up a session, so set-up time
    is a median too.

The last line of standard output is the result JSON
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics
with --trace 0, the per-layer metrics of the traced pass with --trace 1.
Everything the run writes stays under .bench_build/ in the checkout.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build" / "graftbench"
sys.path.insert(0, str(HERE))
sys.dont_write_bytecode = True
import gen  # noqa: E402

# Input size of each workload: star-schema scale factor, or the
# extract's grid multiplier. Fixed: the seed changes values, not sizes.
SCALE = {"cg_extract": 4, "ml_queries": 0.02}
HEAP = "3g"
SETUP_SAMPLES = 2
RUN_TIMEOUT_S = 170  # for all of a run's JVMs together, after the build

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(1)


def cores():
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, min(n, 4))


def source_hash():
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", HERE / "build.sbt"]
    for d in (ROOT / "project", HERE / "project"):
        files += sorted(p for p in d.glob("*") if p.suffix in (".sbt", ".scala", ".properties"))
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        if p.is_file():
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def classpath():
    """Builds the library and the harness; returns the runtime classpath."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main").is_dir():
        fail("no library sources next to the benchmark (build.sbt, src/main)")
    BUILD.mkdir(parents=True, exist_ok=True)
    stamp, cp_file = BUILD / "classpath.stamp", BUILD / "classpath.txt"
    digest = source_hash()
    if cp_file.is_file() and stamp.is_file() and stamp.read_text() == digest:
        return cp_file.read_text().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.is_file():
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    if shutil.which("sbt") is None:
        fail("sbt not found")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=800)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed")
    cp_file.write_text(lines[-1].strip())
    stamp.write_text(digest)
    return lines[-1].strip()


def inputs(workload, seed):
    """The workload's input directory for this seed, generated once."""
    kind = "extract" if workload == "cg_extract" else "star"
    version = hashlib.sha256((HERE / "gen.py").read_bytes()).hexdigest()[:10]
    d = BUILD / "inputs" / f"{kind}-{SCALE[workload]}-seed{seed}-{version}"
    if not d.is_dir():
        tmp = d.with_name(d.name + f".tmp{os.getpid()}")
        shutil.rmtree(tmp, ignore_errors=True)
        if kind == "extract":
            gen.extract(str(tmp), seed, SCALE[workload])
            # the CLI's deletion diff reads the star schema's orders
            gen.star(str(tmp), seed, 0.01)
        else:
            gen.star(str(tmp), seed, SCALE[workload])
        tmp.rename(d)
    return d


def jvm(cp, work, args, log, deadline):
    """Runs the harness in a fresh JVM; returns (launch time, result)."""
    result = work / f"result-{time.monotonic_ns()}.json"
    tmpdir = work / "tmp"
    tmpdir.mkdir(parents=True, exist_ok=True)
    cmd = (["java", f"-Xmx{HEAP}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={tmpdir}", f"-Dspark.local.dir={tmpdir}",
              "-cp", cp, "graftbench.Main", "--result", str(result)] + args)
    t0 = time.time()
    with open(log, "a") as lf:
        p = subprocess.Popen(cmd, cwd=work, stdin=subprocess.DEVNULL, stdout=lf, stderr=lf)
        try:
            rc = p.wait(timeout=max(deadline - time.monotonic(), 1))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"harness JVM timed out; log: {log}")
    if rc != 0 or not result.is_file():
        sys.stderr.write("".join(open(log).readlines()[-30:]))
        fail(f"harness JVM exited with {rc}")
    return t0, json.loads(result.read_text())


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SCALE))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, help="override the input size (self-test)")
    ap.add_argument("--traced-passes", type=int, default=1)
    a = ap.parse_args()
    if a.scale is not None:
        SCALE[a.workload] = int(a.scale) if a.workload == "cg_extract" else a.scale

    cp = classpath()
    deadline = time.monotonic() + RUN_TIMEOUT_S
    data = inputs(a.workload, a.seed)
    n = cores()
    work = BUILD / "runs" / f"{a.workload}-seed{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    log = work / "jvm.log"
    common = ["--cores", str(n), "--workload", a.workload]
    t0, r = jvm(cp, work, common + [
        "--data", str(data), "--work", str(work / "out"), "--seconds", str(a.seconds),
        "--traced", str(a.traced_passes if a.trace else 0)], log, deadline)
    setups = [r["ready_ms"] / 1e3 - t0]
    if not a.trace:
        for _ in range(SETUP_SAMPLES - 1):
            s0, s = jvm(cp, work, common + ["--mode", "setup"], log, deadline)
            setups.append(s["ready_ms"] / 1e3 - s0)

    failures = list(r["failures"])
    attempted = r["attempted"] + 1  # the output-element check below
    wall = statistics.median(r["warm_s"])
    counts = r["counts"]
    if a.workload == "ml_queries":
        elements = sum(v for k, v in counts.items() if k.startswith("rows."))
    else:
        elements = sum(counts.get(f"osc.{s}", 0) for s in ("create", "modify", "delete"))
    if elements <= 0:
        failures.append("no output elements")
    config = {"workload": a.workload, "seed": a.seed, "cores": r["cores"], "heap_mb": r["heap_mb"],
              "jvm": r["jvm"], "scale": SCALE[a.workload], "inputs": gen.sizes(data),
              "cold_s": r["cold_s"], "warm_s": r["warm_s"], "setup_s": setups, "traced_s": r["traced_s"],
              "counts": counts}
    if a.trace:
        traces = BUILD / "traces"
        traces.mkdir(parents=True, exist_ok=True)
        (traces / f"{a.workload}-seed{a.seed}.json").write_text(
            json.dumps({"config": config, "spans": r["spans"], "jobs": r["jobs"], "per_layer": r["per_layer"]}))
        metrics = {k: {"value": v, "unit": unit(k)} for k, v in r["per_layer"][0].items()}
    else:
        metrics = {
            "setup_s": {"value": statistics.median(setups), "unit": "s"},
            "cold_s": {"value": r["cold_s"], "unit": "s"},
            "wall_s": {"value": wall, "unit": "s"},
            "elements_per_s": {"value": elements / wall, "unit": "1/s"},
        }
    shutil.rmtree(work, ignore_errors=True)
    print("# config " + json.dumps({k: v for k, v in config.items() if k != "counts"}))
    for f in failures:
        print(f"# failed: {f}")
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures), "metrics": metrics}))


def unit(name):
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("bytes"):
        return "bytes"
    if name.endswith("core_use"):
        return "ratio"
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    return "count"


if __name__ == "__main__":
    main()
