"""Self-tests of the benchmark. Run from the repository root:

    python3 perfbench/selftest.py

1. A tiny-size traced run of every workload prints, with its unit,
   every per-layer metric named in ``BENCHMARK.json``, and every answer
   is right.
2. A tiny-size untraced run with one expected answer per workload
   falsified (``--corrupt``) prints every end-to-end metric with its
   unit, and reports a failed call on every workload: the output checks
   are not vacuous.
3. In a directory holding only ``BENCHMARK.json`` and the benchmark's
   own files, the command exits nonzero without printing a result.

Takes a few minutes: each of the first two cases starts Spark once.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(args, cwd=ROOT):
    cmd = _spec()["command"] + args
    proc = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True,
                          timeout=900)
    lines = proc.stdout.strip().splitlines()
    return proc.returncode, (json.loads(lines[-1]) if lines and
                             lines[-1].startswith("{") else None), proc


def _metric_errors(result: dict, wanted: list) -> list:
    got = result["metrics"]
    errs = [f"missing {m['name']}" for m in wanted if m["name"] not in got]
    errs += [f"{m['name']} unit {got[m['name']]['unit']} != {m['unit']}"
             for m in wanted if m["name"] in got
             and got[m["name"]]["unit"] != m["unit"]]
    extra = set(got) - {m["name"] for m in wanted}
    return errs + [f"unexpected {n}" for n in sorted(extra)]


def main() -> int:
    spec = _spec()
    names = [w["name"] for w in spec["workloads"]]
    failures = []
    base = ["--workload", "all", "--seed", "7", "--seconds", "1",
            "--size", "tiny"]

    code, out, proc = _run(base + ["--trace", "1"])
    if out is None or code != 0:
        failures.append(f"traced run: exit {code}\n{proc.stderr[-2000:]}")
    else:
        for name in names:
            r = out["workloads"][name]
            if not r["correct"] or r["failed"]:
                failures.append(f"{name}: traced run reported wrong answers")
            failures += [f"{name}: {e}" for e in
                         _metric_errors(r, spec["per_layer"])]

    code, out, proc = _run(base + ["--trace", "0", "--corrupt"])
    if out is None or code != 1:
        failures.append(f"corrupt run: exit {code}, want 1\n"
                        f"{proc.stderr[-2000:]}")
    else:
        for name in names:
            r = out["workloads"][name]
            if r["failed"] < 1 or r["correct"]:
                failures.append(f"{name}: falsified answer not caught")
            failures += [f"{name}: {e}" for e in
                         _metric_errors(r, spec["end_to_end"])]

    bare = os.path.join(HERE, "out", "bare-checkout")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for path in spec["paths"]:
            shutil.copytree(os.path.join(ROOT, path), os.path.join(bare, path),
                            ignore=shutil.ignore_patterns("out", "__pycache__"))
        code, out, proc = _run(["--workload", names[0], "--seed", "1",
                                "--seconds", "1", "--trace", "0"], cwd=bare)
        if code == 0 or out is not None:
            failures.append(f"bare checkout: exit {code}, result {out}")
    finally:
        shutil.rmtree(bare, ignore_errors=True)

    for f in failures:
        print("FAIL", f)
    print("selftest:", "ok" if not failures else f"{len(failures)} failures")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
