#!/usr/bin/env python3
"""Self-test of the benchmark at sf0.001.

For every workload: one untraced and one traced run of two timed passes.
Checks that each metric named in BENCHMARK.json is emitted and that every
output matched its reference. It also checks that no timed operation was
served from a cache: every timed pass of an operation must do the work of
its first warm-up pass, which runs cold in a fresh JVM: jobs within the AQE
re-plan jitter of 3, and tasks, shuffle bytes and block puts within 10%, or
within 50% in a pass whose job count moved (one re-planned job at sf0.001
re-runs an exchange of up to 40% of curate_text's shuffle bytes). If the
harness stopped releasing what an operation leaves persisted, the later
passes would read it back and do less: fewer jobs and no block puts. Finally, curate_text must still
report the Dedup leak it is known to have.

Usage (from the repository root): python3 perfbench/selftest.py [workload ...]
"""
import json
import os
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
JOB_JITTER = 3
# relative tolerance of the counters that must repeat, in a pass with the
# cold pass's job count and in one whose job count moved
TOLERANCE = (0.10, 0.50)
# absolute floor of each counter's tolerance
REPEAT = {"exec.tasks": 4, "shuffle.write_mb": 0.05, "shuffle.read_mb": 0.05,
          "materialize.put_mb": 0.05}
LEAKING = ["curate_text"]


def run(workload: str, trace: int) -> tuple:
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "7",
           "--seconds", "0", "--trace", str(trace), "--sf", "0.001"]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    if out.returncode != 0:
        raise AssertionError(f"{workload} trace={trace} exited {out.returncode}:\n{out.stderr[-2000:]}")
    last = json.loads(out.stdout.strip().splitlines()[-1])
    build = ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    detail = json.loads((build / "results" / f"{workload}-seed7-trace{trace}.json").read_text())
    return last, detail


def check(workload: str) -> list:
    problems = []
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        last, detail = run(workload, trace)
        if not last["correct"] or last["failed"]:
            problems.append(f"trace={trace}: outputs failed: {detail['failures']}")
        missing = {m["name"] for m in SPEC[key]} - set(last["metrics"])
        if missing:
            problems.append(f"trace={trace}: metrics not emitted: {sorted(missing)}")
        if trace == 0:
            continue
        for op, rec in detail["ops"].items():
            cold = rec["cold"]
            if not cold:
                problems.append(f"{op}: no cold record")
                continue
            cold_jobs = cold["queries.build_jobs"] + cold["exec.jobs"]
            jobs = [b + e for b, e in zip(rec["queries.build_jobs"], rec["exec.jobs"])]
            if any(abs(j - cold_jobs) > JOB_JITTER for j in jobs):
                problems.append(f"{op}: jobs per pass {jobs}, cold {cold_jobs}")
            for k, floor in REPEAT.items():
                if any(abs(v - cold[k]) > max(TOLERANCE[j != cold_jobs] * cold[k], floor)
                       for j, v in zip(jobs, rec[k])):
                    problems.append(f"{op}: {k} per pass {rec[k]}, jobs {jobs}, cold {cold[k]}")
            if op in LEAKING and not (cold["leaked_rdds"] > 0 and all(rec["leaked_rdds"])):
                problems.append(f"{op}: leak not reported: cold {cold['leaked_rdds']}, "
                                f"per pass {rec['leaked_rdds']}")
    return problems


def main() -> int:
    names = sys.argv[1:] or [w["name"] for w in SPEC["workloads"]]
    bad = 0
    for w in names:
        problems = check(w)
        print(f"{w}: {'ok' if not problems else 'FAILED'}")
        for p in problems:
            print(f"  {p}")
        bad += bool(problems)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
