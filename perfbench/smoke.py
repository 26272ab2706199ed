"""Toy-size smoke test of the benchmark itself.

    python3 perfbench/smoke.py

For every workload, at ``--size toy``:

- an untraced run must print every end-to-end metric of
  ``BENCHMARK.json`` with its unit, and pass its output checks;
- a traced run must print every per-layer metric with its unit and
  write its spans file;
- a run with ``--corrupt`` (one observed result altered before checking)
  must report ``correct: false`` and at least one failure, proving the
  checks fire.

After every run no process it started may still be running. Then, in
a directory holding only ``BENCHMARK.json`` and the benchmark's
files, the command must exit non-zero without printing a result.
Exits 0 when everything holds.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import common  # noqa: E402


def run(args: list[str], errors: list[str], cwd: str = ROOT) -> tuple[int, list[str]]:
    """Run the benchmark; a process of the run still alive after it
    exits (adopted by this subreaper) is an error, and is ended."""
    proc = subprocess.run(
        args, cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True, timeout=600,
    )
    left = common.descendants(os.getpid())
    if left:
        errors.append(f"{' '.join(args[1:])}: left {len(left)} process(es) running")
        common.end_processes(left)
    return proc.returncode, proc.stdout.strip().splitlines()


def result(lines: list[str]) -> dict:
    return json.loads(lines[-1])


def check_metrics(got: dict, spec: list[dict], what: str) -> list[str]:
    errors = []
    for m in spec:
        v = got.get(m["name"])
        if v is None:
            errors.append(f"{what}: missing {m['name']}")
        elif v["unit"] != m["unit"] or not isinstance(v["value"], float):
            errors.append(f"{what}: bad {m['name']}: {v}")
    extra = set(got) - {m["name"] for m in spec}
    if extra:
        errors.append(f"{what}: unexpected metrics {sorted(extra)}")
    return errors


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    cmd = bench["command"]
    errors: list[str] = []
    common.become_subreaper()
    for w in (x["name"] for x in bench["workloads"]):
        base = cmd + ["--workload", w, "--seed", "7", "--seconds", "1", "--size", "toy"]
        for trace, spec in (("0", bench["end_to_end"]), ("1", bench["per_layer"])):
            code, lines = run(base + ["--trace", trace], errors)
            what = f"{w} trace={trace}"
            if code != 0 or not lines:
                errors.append(f"{what}: exit {code}")
                continue
            r = result(lines)
            if not r["correct"] or r["failed"] or r["attempted"] < 1:
                errors.append(f"{what}: checks failed: {lines[-2][:500]}")
            errors += check_metrics(r["metrics"], spec, what)
            if trace == "1":
                spans = json.loads(lines[-2]).get("spans_file")
                if not spans or not os.path.exists(os.path.join(ROOT, spans)):
                    errors.append(f"{what}: no spans file")
        code, lines = run(base + ["--trace", "0", "--corrupt"], errors)
        r = result(lines) if code == 0 and lines else {}
        if r.get("correct", True) or not r.get("failed"):
            errors.append(f"{w} --corrupt: the output checks did not fire ({r})")
        print(f"{w}: done, {len(errors)} problem(s) so far", flush=True)

    bare = os.path.join(ROOT, ".perfbench_run", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for p in bench["paths"]:
            shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                            ignore=shutil.ignore_patterns("__pycache__"))
        code, lines = run(cmd + ["--workload", "kb_serve", "--seed", "1",
                                 "--seconds", "1", "--trace", "0"], errors, cwd=bare)
        if code == 0 or any(line.startswith('{"correct"') for line in lines):
            errors.append("bare directory: the benchmark did not fail")
    finally:
        shutil.rmtree(bare, ignore_errors=True)

    for e in errors:
        print("FAIL", e)
    print("smoke: OK" if not errors else f"smoke: {len(errors)} failure(s)")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
