"""Self-test of the benchmark's tracing, run from the repository root:

    python3 perfbench/selftest.py

Runs one traced ``etl_daily`` run in a subprocess and checks that:

- the run is correct (every output matched its check);
- the traced pass recorded at least one ``sources.writers`` span, one
  ``plans.audit.lint`` span and one ``alerts`` span per day, i.e. the
  functions ``plans/daily.py`` bound at import time were patched;
- the span job counts sum to the pass's ``spark.jobs`` from the event
  log, so no job escaped its span's job group;
- ``Pipeline.run`` has (almost) no self time, i.e. its tasks are spans.

Exits 0 when every check holds.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
SEED = 7


def main() -> int:
    root = os.path.dirname(HERE)
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", "etl_daily",
           "--seed", str(SEED), "--seconds", "1", "--trace", "1"]
    proc = subprocess.run(cmd, cwd=root, capture_output=True, text=True, timeout=300)
    if proc.returncode != 0:
        print(proc.stderr[-4000:], file=sys.stderr)
        return fail(f"run.py exited {proc.returncode}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    m = {k: v["value"] for k, v in result["metrics"].items()}
    problems = []
    if not result["correct"] or result["failed"]:
        problems.append(f"run not correct: {result['failed']} of {result['attempted']} failed")
    if m["trace.span_jobs"] != m["spark.jobs"]:
        problems.append(f"span jobs {m['trace.span_jobs']} != event-log jobs {m['spark.jobs']}")
    if m["pipeline.self_s"] > 0.05 * m["sources.writers.s"]:
        problems.append(f"Pipeline.run self time {m['pipeline.self_s']:.3f}s is not ~0")

    with open(os.path.join(HERE, ".work", "trace", f"etl_daily-seed{SEED}.json")) as f:
        spans = json.load(f)
    children: dict = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)

    def layers_under(span) -> set[str]:
        out, stack = set(), [span]
        while stack:
            s = stack.pop()
            out.add(s["layer"])
            stack.extend(children.get(s["id"], []))
        return out

    # the last traced pass: its days are the "day ..." op spans under it
    last_pass = max((s for s in spans if s["layer"] == "pass"), key=lambda s: s["id"])
    days = [s for s in spans if s["name"].startswith("day ") and _under(s, last_pass, spans)]
    if len(days) < 2:
        problems.append(f"expected the window's days plus a replay, saw {len(days)} day spans")
    for day in days:
        missing = {"sources.writers", "plans.audit.lint", "alerts", "pipeline.task"} - layers_under(day)
        if missing:
            problems.append(f"{day['name']}: no span of {sorted(missing)}")

    if problems:
        for p in problems:
            print(f"selftest: FAIL {p}")
        return 1
    print(f"selftest: OK ({len(days)} day runs, {m['spark.jobs']} jobs, {len(spans)} spans)")
    return 0


def _under(span, ancestor, spans) -> bool:
    by_id = {s["id"]: s for s in spans}
    p = by_id.get(span["parent"])
    while p is not None:
        if p["id"] == ancestor["id"]:
            return True
        p = by_id.get(p["parent"])
    return False


def fail(msg: str) -> int:
    print(f"selftest: FAIL {msg}")
    return 1


if __name__ == "__main__":
    sys.exit(main())
