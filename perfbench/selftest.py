#!/usr/bin/env python3
"""Smoke self-test of the benchmark, at a tiny size.

Usage (from the root of the checkout): python3 perfbench/selftest.py

1. Runs graft.perfbench.SelfTest: a collapsed head's lag and wait, and one
   fork-then-overtake event (two reorgs, final store equal to the canonical
   chain) driven through Tail.processHead against the loopback node.
   It also checks that a span running one query is attributed its job and
   a Catalyst planning time greater than 0.
2. Runs every workload of BENCHMARK.json at --size tiny, once untraced and
   once traced, and checks that each run is correct, fails nothing, and
   reports the metrics BENCHMARK.json names, with their units; and that
   every per-layer metric is measured by at least one workload (a run
   reports 0 for a layer it does not reach, and lists those names).

Exits non-zero on the first failure.
"""
import json
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

SECONDS = "10"


def check(cond, msg):
    if not cond:
        raise SystemExit(f"selftest FAILED: {msg}")


def main():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    run.build()
    run.fresh_work()
    try:
        rc = subprocess.run(run.java("graft.perfbench.SelfTest"),
                            cwd=run.ROOT).returncode
    finally:
        shutil.rmtree(run.WORK, ignore_errors=True)
    check(rc == 0, "graft.perfbench.SelfTest")

    unreported = {m["name"] for m in spec["per_layer"]}
    for w in spec["workloads"]:
        for trace, key in (("0", "end_to_end"), ("1", "per_layer")):
            out = subprocess.run(
                [sys.executable, os.path.join(run.HERE, "run.py"),
                 "--workload", w["name"], "--seed", "7", "--seconds", SECONDS,
                 "--trace", trace, "--size", "tiny"],
                cwd=run.ROOT, capture_output=True, text=True)
            where = f"{w['name']} --trace {trace}"
            check(out.returncode == 0,
                  f"{where} exited {out.returncode}\n{out.stderr[-3000:]}")
            res = json.loads(out.stdout.strip().splitlines()[-1])
            check(res["correct"] and res["failed"] == 0,
                  f"{where}: {res['failed']} of {res['attempted']} failed")
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            check(got == want, f"{where}: metrics differ: "
                  f"missing {sorted(set(want) - set(got))}, "
                  f"extra {sorted(set(got) - set(want))}, units "
                  f"{[k for k in want if k in got and got[k] != want[k]]}")
            if trace == "1":
                line = [x for x in out.stdout.splitlines()
                        if x.startswith("  unreported:")]
                check(len(line) == 1, f"{where}: no unreported line")
                unreported &= set(filter(None, line[0].split(":", 1)[1]
                                         .strip().split(",")))
            print(f"ok   {where}: {res['attempted']} ops, "
                  f"{len(got)} metrics")
    check(not unreported, "per-layer metrics no workload measures: "
          f"{sorted(unreported)}")
    print("selftest passed")


if __name__ == "__main__":
    main()
