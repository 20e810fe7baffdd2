#!/usr/bin/env python3
"""Print one operation's warm call tree from a traced perfbench run.

Usage: python3 tools/op_spans.py <perfbench/out/run-dir> <op> [--cold]

Reads <run-dir>/spans.jsonl (written by `perfbench/run.py --trace 1`) and
prints, for every warm call of <op> (pass > 0; with --cold also pass 0),
the tree build/exec -> job -> stage with wall ms, task count, input rows
and shuffle write/read bytes, then one totals line per call. Compare the
same op in a parent and a change run to see which job or stage a per-op
saving came from.
"""
import json
import os
import sys


def load(run_dir):
    path = os.path.join(run_dir, "spans.jsonl")
    if not os.path.exists(path):
        sys.exit(f"{path} not found: op_spans needs a run made with --trace 1")
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def ms(s):
    return s["end_ms"] - s["start_ms"] if s["start_ms"] > 0 and s["end_ms"] > 0 else 0.0


def stage_line(st):
    return (f"stage {st['stage']:<5} {ms(st):8.0f} ms  tasks={st['tasks']:.0f}  "
            f"rows_in={st['input_rows']:.0f}  shuffle_w={st['shuffle_write_bytes']:.0f} B  "
            f"shuffle_r={st['shuffle_read_bytes']:.0f} B")


def main(argv):
    args = [a for a in argv if not a.startswith("--")]
    if len(args) != 2:
        sys.exit(__doc__.strip().splitlines()[2])
    run_dir, op = args
    first_pass = 0 if "--cold" in argv else 1
    spans = load(run_dir)
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    calls = [s for s in spans if s["name"] == "query" and s.get("op") == op and s["p"] >= first_pass]
    if not calls:
        known = sorted({s["op"] for s in spans if s["name"] == "query"})
        sys.exit(f"no traced call of {op!r} in {run_dir}; ops: {', '.join(known)}")
    for q in calls:
        print(f"{op} pass {q['p']}: {ms(q):.0f} ms{'' if q.get('ok', True) else ' (FAILED)'}")
        jobs = stages = tasks = 0
        for phase in kids.get(q["id"], []):
            print(f"  {phase['name']:<5} {ms(phase):8.0f} ms")
            for j in kids.get(phase["id"], []):
                jobs += 1
                print(f"    job {j['job']:<7} {ms(j):8.0f} ms")
                for st in kids.get(j["id"], []):
                    stages += 1
                    tasks += st["tasks"]
                    print(f"      {stage_line(st)}")
        print(f"  total: {jobs} jobs, {stages} stages, {tasks:.0f} tasks")


if __name__ == "__main__":
    main(sys.argv[1:])
