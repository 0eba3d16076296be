#!/usr/bin/env python3
"""Self-test of the graft benchmark on tiny inputs.

    python3 graftbench/selftest.py [--pin]

For every workload, at a tiny input size and seed 1, it checks that

  * a --trace 0 run and a --trace 1 run each end with a correct result
    line whose metrics are exactly the end-to-end, resp. per-layer,
    metrics of BENCHMARK.json, each with its unit;
  * spark.jobs, every other *.jobs and *.rows count, osc.* and the
    changefile size repeat exactly across two traced passes;
  * the exact output counts (changefile sections, CLI summary, and for
    ml_queries each query's row count and order-insensitive result
    hash) equal the ones pinned in selftest_expected.json.

--pin rewrites selftest_expected.json from this run instead of
comparing against it. Exits 1 on the first failed check.
"""
import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
TINY = {"cg_extract": "1", "ml_queries": "0.005"}
SEED = 1
EXPECTED = HERE / "selftest_expected.json"
EXACT = ("spark.jobs", "osc.create", "osc.modify", "osc.delete", "write.bytes")


def run(workload, trace):
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(SEED),
           "--seconds", "1", "--trace", str(trace), "--scale", TINY[workload]]
    if trace:
        cmd += ["--traced-passes", "2"]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    check(p.returncode == 0 and lines, f"{workload} trace={trace}: exit {p.returncode}\n{p.stderr[-3000:]}")
    return json.loads(lines[-1]), p.stdout


def check(ok, msg):
    if not ok:
        print(f"FAIL {msg}")
        sys.exit(1)


def main():
    pin = "--pin" in sys.argv[1:]
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    units = {k: {m["name"]: m["unit"] for m in spec[k]} for k in ("end_to_end", "per_layer")}
    expected = {} if pin else json.loads(EXPECTED.read_text())
    pinned = {}
    for w in TINY:
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            res, out = run(w, trace)
            check(res["correct"] and res["failed"] == 0, f"{w} trace={trace}: not correct\n{out}")
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            check(got == units[kind], f"{w} trace={trace}: metrics/units differ from BENCHMARK.json "
                  f"{kind}: missing {sorted(set(units[kind]) - set(got))}, "
                  f"extra {sorted(set(got) - set(units[kind]))}, "
                  f"units {[k for k in got if k in units[kind] and got[k] != units[kind][k]]}")
            print(f"ok   {w} trace={trace}: {len(got)} {kind} metrics with their units")
        trace = json.loads((ROOT / ".bench_build" / "graftbench" / "traces" / f"{w}-seed{SEED}.json").read_text())
        a, b = trace["per_layer"]
        exact = [k for k in a if k in EXACT or k.endswith(".jobs") or k.endswith(".rows")]
        diff = [f"{k}: {a[k]} vs {b[k]}" for k in exact if a[k] != b[k]]
        check(not diff, f"{w}: counts differ between two traced passes: {diff}")
        print(f"ok   {w}: {len(exact)} exact counts repeat across two traced passes "
              f"(spark.jobs={a['spark.jobs']:.0f})")
        counts = trace["config"]["counts"]
        pinned[w] = counts
        if not pin:
            want = expected[w]
            diff = sorted(k for k in set(want) | set(counts) if want.get(k) != counts.get(k))
            check(not diff, f"{w}: output counts/hashes differ from the pinned ones: "
                  + ", ".join(f"{k} {want.get(k)} -> {counts.get(k)}" for k in diff[:10]))
            print(f"ok   {w}: {len(counts)} output counts and hashes match the pinned ones")
    if pin:
        EXPECTED.write_text(json.dumps(pinned, indent=1, sort_keys=True) + "\n")
        print(f"pinned {EXPECTED.name}")


if __name__ == "__main__":
    main()
