"""Self-test of the benchmark.

    python3 perfbench/selftest.py

Checks, from the root of a checkout:

* the same seed gives byte-identical inputs (by digest), another seed
  different ones;
* each workload, at a tiny size, prints every end-to-end metric
  (``--trace 0``) and every per-layer metric (``--trace 1``) of
  BENCHMARK.json with its unit, and no operation fails;
* a deliberately corrupted output is counted as failed;
* without the package next to it, the benchmark exits non-zero and
  prints no result.

Takes about six minutes on four cores.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.workloads import ANALYTICS  # noqa: E402


# Operations whose output ``--corrupt`` alters at the tiny sizes: every
# analytics check, and those catalog reads that return a row whatever the
# seeded query.
CORRUPTIBLE = {
    "catalog_lifecycle": {"stamp", "list_folder", "stac_number_matched"},
    "analytics_batch": {name for names in ANALYTICS.values() for name in names},
}


def _check(cond: bool, what: str) -> None:
    if not cond:
        raise SystemExit(f"selftest FAILED: {what}")
    print(f"ok  {what}", flush=True)


def _run(*args: str, cwd: str = ROOT) -> tuple[int, list[str]]:
    proc = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=600,
    )
    return proc.returncode, proc.stdout.strip().splitlines()


def check_inputs(scratch: str) -> None:
    from perfbench import gen

    digests = []
    for i, seed in enumerate((7, 7, 8)):
        tree, tables = os.path.join(scratch, f"tree{i}"), os.path.join(scratch, f"tables{i}")
        gen.write_tree(gen.make_tree(seed, 60, 4), tree)
        gen.write_tables(seed, 0.001, tables)
        digests.append((gen.tree_digest(tree), gen.tables_digest(tables),
                        gen.browse_mix(seed, 50, ["a/f1", "a/f2", "b/f3"])))
    _check(digests[0] == digests[1], "same seed gives byte-identical inputs")
    _check(all(a != b for a, b in zip(digests[0], digests[2])), "another seed gives other inputs")


def check_workload(spec: dict, name: str) -> None:
    for trace, section in ((0, "end_to_end"), (1, "per_layer")):
        code, out = _run("--workload", name, "--seed", "1", "--seconds", "1",
                         "--trace", str(trace), "--tiny")
        _check(code == 0 and out, f"{name} --trace {trace} exits 0")
        res = json.loads(out[-1])
        _check(sorted(res) == ["attempted", "correct", "failed", "metrics"],
               f"{name} --trace {trace} result keys")
        want = {m["name"]: m["unit"] for m in spec[section]}
        got = {k: v["unit"] for k, v in res["metrics"].items()}
        _check(got == want, f"{name} --trace {trace} prints every {section} metric with its unit")
        _check(res["correct"] and res["failed"] == 0 and res["attempted"] >= 1,
               f"{name} --trace {trace} has no failed operation")
    code, out = _run("--workload", name, "--seed", "1", "--seconds", "1", "--tiny", "--corrupt")
    report, res = json.loads(out[-2])["report"], json.loads(out[-1])
    _check(code == 0 and res["failed"] > 0 and not res["correct"]
           and report["ops_failed_ratio"] > 0, f"{name} counts a corrupted output as failed")
    _check(CORRUPTIBLE[name] <= set(report["failed_ops"]),
           f"{name} counts a corrupted {', '.join(sorted(CORRUPTIBLE[name]))} as failed")


def check_bare(scratch: str) -> None:
    bare = os.path.join(scratch, "bare")
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    code, out = _run("--workload", "catalog_lifecycle", "--seed", "1", "--seconds", "1",
                     "--trace", "0", cwd=bare)
    _check(code != 0 and not any(line.startswith("{") for line in out),
           "without the package: non-zero exit, no result")


def main() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    scratch = os.path.join(ROOT, ".perfbench_selftest")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    try:
        check_inputs(scratch)
        check_bare(scratch)
        for w in spec["workloads"]:
            check_workload(spec, w["name"])
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    print("selftest passed")


if __name__ == "__main__":
    main()
