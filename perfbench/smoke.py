"""Smoke tests for the benchmark itself, at 1% input size.

    python3 perfbench/smoke.py

Run from the repository root; takes a few minutes (each run starts its
own Spark JVM). Checks that:

- the generator is deterministic in the seed;
- an untraced run of each workload is correct and emits every
  end-to-end metric of BENCHMARK.json with its unit;
- a traced run emits every per-layer metric with its unit, its layers
  did work, and a corrupted output (``--inject-wrong``) raises fail_frac;
- ``report.py`` prints the per-layer table of that trace;
- the runner fails, printing no result, where the engine is missing.
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402

ROOT = os.getcwd()
STATE = os.path.join(ROOT, ".perfbench", "smoke")
SMALL = ["--scale", "0.01", "--seconds", "0"]
# per-layer metrics that must be non-zero on each workload
LAYERS_AT_WORK = {
    "merge_incremental": [
        "sources.load_raw_s", "merge.jobs", "merge.shuffle_bytes",
        "merge.changed_per_read", "task.run_s", "task.jobs", "history.rows",
        "target.overwrite_s", "target.bytes_written", "target.files_written",
        "spark.jobs_per_call",
    ],
    "dedup_corpus": [
        "queries.dedup_clusters_jobs", "queries.pipeline_pretraining_corpus_jobs",
        "graph.jobs", "dedupe.candidate_pairs", "dedupe.verified_per_candidate",
        "spark.jobs_per_call",
    ],
}


def spec(kind: str) -> dict:
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def bench(*args: str, cwd: str = ROOT) -> tuple:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), *args],
        cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=900,
    )
    lines = proc.stdout.strip().splitlines()
    return proc.returncode, (json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None)


def check_units(result: dict, kind: str) -> None:
    want = spec(kind)
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want, f"{kind} metrics/units differ: {set(got) ^ set(want)}"
    for k, v in result["metrics"].items():
        assert isinstance(v["value"], (int, float)), f"{k} is not a number"


def test_generator_is_seeded() -> None:
    for name, make in gen.GENERATORS.items():
        dirs = [os.path.join(STATE, "gen", f"{name}-{i}") for i in range(3)]
        for d, seed in zip(dirs, (7, 7, 8)):
            shutil.rmtree(d, ignore_errors=True)
            make(d, seed, 0.01)
        same = filecmp.dircmp(dirs[0], dirs[1])
        assert not (same.diff_files or same.left_only or same.right_only), f"{name}: not deterministic"
        assert _tree_bytes(dirs[0]) != _tree_bytes(dirs[2]), f"{name}: seed has no effect"


def _tree_bytes(path: str) -> bytes:
    out = b""
    for root, _, files in sorted(os.walk(path)):
        for f in sorted(files):
            with open(os.path.join(root, f), "rb") as fh:
                out += fh.read()
    return out


def test_end_to_end(workload: str) -> None:
    code, res = bench("--workload", workload, "--seed", "3", "--trace", "0", *SMALL)
    assert code == 0 and res is not None, f"{workload}: exit code {code}"
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, res
    check_units(res, "end_to_end")
    for k, v in res["metrics"].items():
        assert v["value"] > 0, f"{workload}: {k} is {v['value']}"


def test_traced_with_wrong_output(workload: str) -> None:
    code, res = bench("--workload", workload, "--seed", "3", "--trace", "1", "--inject-wrong", *SMALL)
    assert code == 0 and res is not None, f"{workload}: exit code {code}"
    check_units(res, "per_layer")
    assert not res["correct"] and res["failed"] > 0, f"{workload}: corrupted output not caught"
    assert res["metrics"]["fail_frac"]["value"] > 0
    for k in LAYERS_AT_WORK[workload]:
        assert res["metrics"][k]["value"] > 0, f"{workload}: layer metric {k} is 0"
    trace = os.path.join(ROOT, ".perfbench", "traces", f"{workload}-seed3.json")
    table = subprocess.run([sys.executable, os.path.join(HERE, "report.py"), trace],
                           stdout=subprocess.PIPE, text=True, check=True).stdout
    assert "call" in table and "self_s" in table


def test_fails_without_engine() -> None:
    with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".perfbench")) as bare:
        shutil.copy(os.path.join(HERE, "..", "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        code, res = bench("--workload", "merge_incremental", "--seed", "1", "--seconds", "1",
                          "--trace", "0", cwd=bare)
        assert code != 0 and res is None, "ran without the engine"


def main() -> int:
    tests = [("generator is seeded", test_generator_is_seeded),
             ("fails without engine", test_fails_without_engine)]
    for w in LAYERS_AT_WORK:
        tests.append((f"{w} end to end", lambda w=w: test_end_to_end(w)))
        tests.append((f"{w} traced, wrong output", lambda w=w: test_traced_with_wrong_output(w)))
    failures = 0
    for name, fn in tests:
        try:
            fn()
            print(f"PASS {name}", flush=True)
        except AssertionError as e:
            failures += 1
            print(f"FAIL {name}: {e}", flush=True)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
