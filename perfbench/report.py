"""Where did the seconds go? Offline report over a traced run's output.

    python3 perfbench/report.py [workload ...]

Reads ``.perfbench_out/trace/<workload>/`` as left by
``perfbench/run.py --trace 1``: the spans, the Spark event log and the result.
For each span name it prints the wall seconds, self seconds, share of the
measured steps' wall time, Spark jobs, and the task CPU, GC, shuffle and
spill charged to it through its job group. Set-up spans are listed apart from
the measured steps. Nothing is re-run.
"""

from __future__ import annotations

import glob
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import tracing  # noqa: E402

COLUMNS = ("wall_s", "self_s", "share", "jobs") + tracing.TASK_FIELDS


def rows(spans, by_group, in_steps: bool) -> dict[str, dict[str, float]]:
    chosen = [s for s in spans if (s.step is not None) == in_steps]
    st = tracing.self_times(spans)
    step_wall = sum(s.duration for s in chosen if s.name == "step") or 1.0
    out: dict[str, dict[str, float]] = {}
    for s in chosen:
        r = out.setdefault(s.name, dict.fromkeys(COLUMNS, 0.0))
        r["wall_s"] += s.duration
        r["self_s"] += st[s.span_id]
        r["jobs"] += s.jobs
        for k, v in by_group.get(tracing.group_id(s.span_id), {}).items():
            r[k] += v
    for r in out.values():
        r["share"] = r["self_s"] / step_wall if in_steps else 0.0
    return out


def fmt(v: float, key: str) -> str:
    if key == "share":
        return f"{100 * v:6.1f}%"
    if key.endswith("bytes"):
        return f"{v / 1e6:9.2f}MB"
    if key in ("jobs", "tasks"):
        return f"{int(v):7d}"
    return f"{v:9.3f}"


def report(workload: str, out_root: str) -> str:
    d = os.path.join(out_root, "trace", workload)
    spans = tracing.load_spans(os.path.join(d, "spans.json"))
    logs = glob.glob(os.path.join(d, "eventlog", "*"))
    by_group = tracing.read_event_log(logs[0]) if len(logs) == 1 else {}
    with open(os.path.join(d, "result.json")) as f:
        result = json.load(f)
    rec = result["record"]
    lines = [f"== {workload}  seed {rec['seed']}  steps {rec['samples']['steps']}"
             f"  correct {result['correct']}"]
    m = result["metrics"]
    lines.append(f"   trace overhead {m['trace.overhead_pct']['value']:+.1f}%"
                 f"  step coverage {m['trace.coverage_pct']['value']:.1f}%"
                 f"  session start {m['session.start_s']['value']:.1f}s")
    for title, in_steps in (("measured steps", True), ("set-up, warm-up and extras", False)):
        table = rows(spans, by_group, in_steps)
        if not table:
            continue
        lines.append(f"-- {title}")
        lines.append(f"   {'span':<18}" + "".join(f"{c:>14}" for c in COLUMNS))
        for name, r in sorted(table.items(), key=lambda kv: -kv[1]["self_s"]):
            lines.append(f"   {name:<18}" + "".join(f"{fmt(r[c], c):>14}" for c in COLUMNS))
    untagged = by_group.get("")
    if untagged:
        lines.append(f"   jobs outside any span: {int(untagged['tasks'])} tasks, "
                     f"{untagged['cpu_s']:.2f} s CPU")
    return "\n".join(lines)


def main(argv: list[str]) -> int:
    out_root = os.path.join(os.path.dirname(HERE), ".perfbench_out")
    names = argv or sorted(os.listdir(os.path.join(out_root, "trace")))
    for name in names:
        print(report(name, out_root))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
