#!/usr/bin/env python3
"""Per-operation summary of a traced perfbench spans file.

A traced perfbench run (`python3 perfbench/run.py --workload <w> --seed <n>
--seconds <s> --trace 1`) writes every span it recorded to
`.bench_build/work/spans-<workload>-<seed>.jsonl`, one JSON object per line:
`op`, `op_name`, `id`, `parent` (-1 for an operation's root span), `name`,
`start_ns`, `end_ns`. The run's `per_layer` medians mix every operation
template; this prints each operation on its own line, so a template that
runs more jobs than the others (or one slow job) is visible.

Usage:
    python3 tools/spans_summary.py .bench_build/work/spans-lake_queries-1.jsonl

For each op: total wall time, the `plan.front_door` and `exec.collect`
times, the number of Spark jobs, split into those that ran under
`plan.front_door` (`front_jobs`: work done before the DataFrame exists)
and under `exec.collect` (`collect_jobs`), and each job's time (ms). A
job belongs to the innermost span containing its start. For a streaming
trigger (`ingest.trigger`) it also prints the time before its first job
(`pre_ms`: the offsets and write-ahead log, planning the batch, and the
merge's driver work up to its first job), the driver time between its
jobs (`gap_ms`: the part of the span from the first job's start to the
last job's end that no job covers: the merge's driver work between
collecting its batch and writing) and the time after its last job
(`post_ms`: the merge's commit and the stream's commit log). A closing
table gives the median of each column per op name.
"""
import json
import statistics
import sys
from collections import defaultdict


def ms(span):
    return (span["end_ns"] - span["start_ns"]) / 1e6


def load(path):
    ops = defaultdict(list)
    with open(path, encoding="utf-8") as f:
        for line in f:
            line = line.strip()
            if line:
                s = json.loads(line)
                ops[s["op"]].append(s)
    return ops


def summarize(spans):
    root = next(s for s in spans if s["parent"] == -1)
    jobs = sorted((s for s in spans if s["name"] == "exec.job"),
                  key=lambda s: s["start_ns"])

    by_id = {s["id"]: s for s in spans}

    def total(name):
        return sum(ms(s) for s in spans if s["name"] == name)

    def jobs_under(name):
        def under(span):
            while span["parent"] != -1:
                span = by_id[span["parent"]]
                if span["name"] == name:
                    return True
            return False
        return sum(1 for j in jobs if under(j))

    pre_ms = gap_ms = post_ms = None
    if root["op_name"] == "ingest.trigger" and jobs:
        pre_ms = (jobs[0]["start_ns"] - root["start_ns"]) / 1e6
        last_end = max(j["end_ns"] for j in jobs)
        post_ms = (root["end_ns"] - last_end) / 1e6
        # union of the job intervals (sorted by start), subtracted from
        # the span they lie in
        covered, reach = 0, jobs[0]["start_ns"]
        for j in jobs:
            if j["end_ns"] > reach:
                covered += j["end_ns"] - max(j["start_ns"], reach)
                reach = j["end_ns"]
        gap_ms = (last_end - jobs[0]["start_ns"] - covered) / 1e6

    return {
        "name": root["op_name"],
        "total_ms": ms(root),
        "front_door_ms": total("plan.front_door"),
        "collect_ms": total("exec.collect"),
        "jobs": len(jobs),
        "front_jobs": jobs_under("plan.front_door"),
        "collect_jobs": jobs_under("exec.collect"),
        "pre_ms": pre_ms,
        "gap_ms": gap_ms,
        "post_ms": post_ms,
        "job_ms": [ms(j) for j in jobs],
    }


def cell(x):
    return "-" if x is None else f"{x:.1f}"


def main(argv):
    if len(argv) != 2:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    ops = load(argv[1])
    rows = [(op, summarize(spans)) for op, spans in sorted(ops.items())]
    print(f"{'op':>10}  {'name':<22} {'total_ms':>9} {'front_ms':>9} "
          f"{'collect_ms':>10} {'jobs':>4} {'front_jobs':>10} "
          f"{'collect_jobs':>12} {'pre_ms':>7} {'gap_ms':>7} {'post_ms':>7}  job_ms")
    for op, r in rows:
        jobs = " ".join(f"{x:.0f}" for x in r["job_ms"])
        print(f"{op:>10}  {r['name']:<22} {r['total_ms']:>9.1f} "
              f"{r['front_door_ms']:>9.1f} {r['collect_ms']:>10.1f} "
              f"{r['jobs']:>4} {r['front_jobs']:>10} "
              f"{r['collect_jobs']:>12} {cell(r['pre_ms']):>7} "
              f"{cell(r['gap_ms']):>7} {cell(r['post_ms']):>7}  {jobs}")
    by_name = defaultdict(list)
    for _, r in rows:
        by_name[r["name"]].append(r)
    print()
    print(f"{'median by name':<22} {'ops':>4} {'total_ms':>9} {'front_ms':>9} "
          f"{'collect_ms':>10} {'jobs':>5} {'front_jobs':>10} "
          f"{'collect_jobs':>12} {'pre_ms':>7} {'gap_ms':>7} {'post_ms':>7}")
    for name, rs in sorted(by_name.items()):
        def med(key):
            xs = [r[key] for r in rs if r[key] is not None]
            return statistics.median(xs) if xs else None
        print(f"{name:<22} {len(rs):>4} {med('total_ms'):>9.1f} "
              f"{med('front_door_ms'):>9.1f} {med('collect_ms'):>10.1f} "
              f"{med('jobs'):>5g} {med('front_jobs'):>10g} "
              f"{med('collect_jobs'):>12g} {cell(med('pre_ms')):>7} "
              f"{cell(med('gap_ms')):>7} {cell(med('post_ms')):>7}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
