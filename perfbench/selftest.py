#!/usr/bin/env python3
"""Self-tests of the benchmark harness. Run from the checkout root:

    python3 perfbench/selftest.py

1. the same seed generates byte-identical inputs, another seed different ones;
2. the metric names a run prints equal those in BENCHMARK.json, untraced
   (end_to_end) and traced (per_layer);
3. negative probe: with one expected value corrupted, every workload's run
   reports failed > 0 and correct = false;
4. outside a graft checkout (only BENCHMARK.json and perfbench/) the
   command exits non-zero without printing a result.

Exits 0 when every test passes.
"""
import filecmp
import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402

failures = []


def expect(cond, what):
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        failures.append(what)


def generate(seed, out):
    os.makedirs(out)
    gen.pipeline_batches(seed, os.path.join(out, "pool"), 2, 500, 300)
    gen.corpus(seed, os.path.join(out, "documents.parquet"), 100, 2)
    gen.loop_tables(seed, os.path.join(out, "tables"), orders=2_000, events=2_000)


def same_tree(a, b):
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


def test_determinism():
    base = os.path.join(HERE, ".work", "selftest")
    shutil.rmtree(base, ignore_errors=True)
    generate(7, os.path.join(base, "a"))
    generate(7, os.path.join(base, "b"))
    generate(8, os.path.join(base, "c"))
    expect(same_tree(os.path.join(base, "a"), os.path.join(base, "b")),
           "same seed gives byte-identical inputs")
    differ = [f for f in ("pool/batch-2025-03-01/part-00000.json", "documents.parquet",
                          "tables/orders.parquet", "tables/lineitem.parquet", "tables/events.parquet")
              if filecmp.cmp(os.path.join(base, "a", f), os.path.join(base, "c", f), shallow=False)]
    expect(not differ, f"another seed gives different inputs (identical: {differ})")
    shutil.rmtree(base, ignore_errors=True)


def bench(*args, cwd=ROOT):
    p = subprocess.run([sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
                       cwd=cwd, capture_output=True, text=True, timeout=900)
    last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
    try:
        return p.returncode, json.loads(last)
    except json.JSONDecodeError:
        return p.returncode, None


def test_metric_names():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        code, res = bench("--workload", "pipeline_daily", "--seed", "3", "--seconds", "1",
                          "--trace", str(trace))
        want = [m["name"] for m in spec[key]]
        got = list(res["metrics"]) if res else None
        expect(code == 0 and res and res["correct"], f"--trace {trace} run passes its checks")
        expect(got == want, f"--trace {trace} prints the {key} metrics of BENCHMARK.json")
        if res:
            units = {m["name"]: m["unit"] for m in spec[key]}
            expect(all(res["metrics"][n]["unit"] == units[n] for n in want if n in res["metrics"]),
                   f"--trace {trace} units match BENCHMARK.json")
    expect(sorted(w["name"] for w in spec["workloads"]) == sorted(run.WORKLOADS),
           "workloads match BENCHMARK.json")


def test_negative_probe():
    for w in run.WORKLOADS:
        code, res = bench("--workload", w, "--seed", "3", "--seconds", "1", "--corrupt-expected")
        expect(code == 0 and res is not None and res["failed"] > 0 and not res["correct"],
               f"negative probe fails the check on {w}")


def untracked(parent, names):
    """Files a checkout would not hold (see the root .gitignore)."""
    skip = {".build", ".work", "results", "target", "__pycache__"}
    return [n for n in names if n in skip or (n == "project" and os.path.basename(parent) == "project")]


def test_outside_checkout():
    with tempfile.TemporaryDirectory(dir=os.path.join(HERE, ".work")) as d:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
        shutil.copytree(HERE, os.path.join(d, "perfbench"), ignore=untracked)
        code, res = bench("--workload", "pipeline_daily", "--seed", "1", "--seconds", "1",
                          "--trace", "0", cwd=d)
        expect(code != 0 and res is None, "outside a checkout: non-zero exit, no result")


if __name__ == "__main__":
    os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
    test_determinism()
    test_outside_checkout()
    test_metric_names()
    test_negative_probe()
    print(f"{len(failures)} failed" if failures else "all self-tests passed")
    sys.exit(1 if failures else 0)
