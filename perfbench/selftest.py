#!/usr/bin/env python3
"""Self-test of the benchmark, on the sf0.001 tables.

    python3 perfbench/selftest.py

Run from the repository root. It checks that:
  1. every workload (import, serve, ingest) runs once untraced and once
     traced, exits 0, and reports exactly the end-to-end metrics and the
     per-layer metrics named in BENCHMARK.json, each with its unit;
  2. a corrupted golden fingerprint makes the run fail: non-zero exit,
     `failed` > 0 and `correct` false;
  3. in a directory holding only BENCHMARK.json and the benchmark's own
     files, the benchmark exits non-zero without printing a result.
Exits non-zero if any check fails.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
SCRATCH = os.path.join(ROOT, ".bench_work", "selftest")


def run(args, cwd=ROOT):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py")] + args, cwd=cwd,
                       stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                       timeout=600)
    lines = p.stdout.splitlines()
    try:
        res = json.loads(lines[-1]) if lines else None
    except ValueError:
        res = None
    return p.returncode, res, p.stdout + p.stderr[-3000:]


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
            1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    problems = []

    for workload in ("import", "serve", "ingest"):
        for trace in (0, 1):
            code, res, out = run(["--workload", workload, "--seed", "1", "--seconds", "1",
                                  "--trace", str(trace), "--scale", "sf0.001"])
            got = {k: v["unit"] for k, v in res["metrics"].items()} if res else {}
            ok = code == 0 and res and res["correct"] and res["failed"] == 0 \
                and got == want[trace]
            print(f"{'ok  ' if ok else 'FAIL'} {workload} trace={trace} exit={code}"
                  f" metrics={len(got)}/{len(want[trace])}")
            if not ok:
                problems.append(f"{workload} trace={trace}")
                print(out[-3000:])
                print("missing:", sorted(set(want[trace]) - set(got)),
                      "extra:", sorted(set(got) - set(want[trace])))

    # a corrupted golden fingerprint must fail the run
    os.makedirs(SCRATCH, exist_ok=True)
    with open(os.path.join(HERE, "golden", "sf0.001.json")) as f:
        golden = json.load(f)
    golden["c2_top_fld"]["hash"] = str(int(golden["c2_top_fld"]["hash"]) + 1)
    corrupt = os.path.join(SCRATCH, "corrupt.json")
    with open(corrupt, "w") as f:
        json.dump(golden, f)
    code, res, out = run(["--workload", "import", "--seed", "1", "--seconds", "1",
                          "--trace", "0", "--scale", "sf0.001", "--golden", corrupt])
    ok = code != 0 and res is not None and res["failed"] >= 1 and not res["correct"]
    print(f"{'ok  ' if ok else 'FAIL'} corrupted golden: exit={code}"
          f" failed={res and res['failed']}/{res and res['attempted']}")
    if not ok:
        problems.append("corrupted golden")
        print(out[-3000:])

    # only BENCHMARK.json and the benchmark's files: no program to build
    bare = os.path.join(SCRATCH, "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for p in spec["paths"]:
        shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                        ignore=shutil.ignore_patterns("target", "project/project"))
    code, res, out = run(["--workload", "import", "--seed", "1", "--seconds", "1",
                          "--trace", "0"], cwd=bare)
    ok = code != 0 and res is None
    print(f"{'ok  ' if ok else 'FAIL'} bare directory: exit={code}")
    if not ok:
        problems.append("bare directory")
    shutil.rmtree(bare, ignore_errors=True)

    print("SELFTEST", "PASS" if not problems else f"FAIL {problems}")
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
