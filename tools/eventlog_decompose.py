#!/usr/bin/env python3
"""Decompose a Spark event log into job wall-time vs driver gaps.

Usage: eventlog_decompose.py <event log> [--jobs] [--batches]
                             [--execs [--batch N]] [--stages [--cores N]]
                             [--task-metrics [--cut S]]

The log may be zstd-compressed (`.zstd`/`.zst`, read through the `zstd`
binary) or uncompressed (any other name, `.inprogress` included), and either
one file or a rolling-log directory (`eventlog_v2_*`, whose `events_<n>_*`
files are read in order).

Prints total app span, sum of job spans, sum of inter-job gaps (driver-side
fixed cost: planning, collect-side model training, parquet commits, etc),
and with --jobs a per-job table (start-offset, duration, gap-before,
description) so the core-count-invariant term of a scaling pair can be
attributed to specific stages.

With --batches, jobs are grouped by their `streaming.sql.batchId` job
property, and each streaming micro-batch gets one line: its jobs, its
distinct SQL executions (`spark.sql.execution.id`), its job time (wall time
covered by at least one job) and its gap time (the rest of the span from its
first job's submission to its last job's end: driver planning and commits).

With --execs, each micro-batch's SQL executions: every execution whose id
lies between the batch's first and last job-bearing one (job-less ones
included, counted apart), its jobs, and its span (first execution start to
last execution end) split into five parts that sum to it: job time (covered
by a job), planning (inside an execution before its first job, or all of a
job-less one), between jobs (inside an execution, between two of its jobs),
tail (inside an execution after its last job) and between executions
(covered by none). Time inside nested executions counts for the innermost
one. A last row holds the mean over the batches. With --execs --batch N,
one line per SQL execution of micro-batch N instead (the same executions):
its planning ms (start to first job, or all of a job-less one), its AQE plan
updates, its jobs with each job's ms and task count, and its description.

With --stages, the parallel task work against the job-covered time: the sum
of task executor run time, its occupancy of the covered time at `--cores`
slots (default 32), the GC time in tasks, and the top 12 stage attempts by
task time and by wall time, each with its own occupancy.

With --task-metrics, executor run/CPU/GC/deserialize/shuffle-write/fetch-wait
time and input/shuffle-read/spill bytes summed over every task launched at
least `--cut` seconds after application start (default 0; a cut excludes,
say, the untimed warm-up pass of a ScalingBench leg). If inter-job gaps are
small and parallelism is high but run/CPU time inflates with thread count on
identical input, the term is per-task memory-subsystem contention, not fixed
cost or stragglers.

To get an uncompressed log from a benchmark run without editing the
benchmark, pass Spark the settings through the JVM environment:

    JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true -Dspark.eventLog.dir=<dir> \\
      -Dspark.eventLog.compress=false" python3 perfbench/run.py --workload segment_stream ...

(`<dir>` must exist; the log is the newest `eventlog_v2_local-*` directory
in it, since Spark 4 rolls event logs by default.)
"""
import argparse, json, math, os, re, subprocess

def load(path):
    if os.path.isdir(path):
        parts = [f for f in os.listdir(path) if f.startswith("events_")]
        for f in sorted(parts, key=lambda f: int(re.match(r"events_(\d+)_", f).group(1))):
            yield from load(os.path.join(path, f))
        return
    if path.endswith((".zstd", ".zst")):
        lines = subprocess.run(["zstd", "-dc", path], capture_output=True,
                               check=True).stdout.splitlines()
    else:
        lines = open(path, "rb")
    for line in lines:
        try:
            yield json.loads(line)
        except json.JSONDecodeError:
            pass

def covered_ms(intervals):
    """Wall time covered by at least one of the (start, end) intervals."""
    merged = []
    for s, e in sorted(intervals):
        if merged and s <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], e)
        else:
            merged.append([s, e])
    return sum(e - s for s, e in merged)

def by_batch(jobs):
    """Micro-batch id -> its jobs as (start, end, SQL execution id), and the
    number of jobs outside any micro-batch."""
    batches = {}
    outside = 0
    for s, e, _d, _sids, props in jobs:
        bid = props.get("streaming.sql.batchId")
        if bid is None:
            outside += 1
            continue
        x = props.get("spark.sql.execution.id")
        batches.setdefault(int(bid), []).append((s, e, None if x is None else int(x)))
    return batches, outside

def print_batches(jobs):
    """One line per streaming micro-batch, from the jobs' batch ids."""
    batches, outside = by_batch(jobs)
    print(f"\n{'batch':>5} {'jobs':>5} {'sqlexec':>7} {'span(s)':>8} "
          f"{'job(s)':>7} {'gap(s)':>7}")
    for bid in sorted(batches):
        b = batches[bid]
        span = max(e for _, e, _ in b) - min(s for s, _, _ in b)
        job = covered_ms([(s, e) for s, e, _ in b])
        execs = len({x for _, _, x in b if x is not None})
        print(f"{bid:5d} {len(b):5d} {execs:7d} {span/1000.0:8.2f} "
              f"{job/1000.0:7.2f} {(span-job)/1000.0:7.2f}")
    print(f"jobs outside any micro-batch: {outside}")

EXEC_PARTS = ["job", "plan", "in_exec", "tail", "between"]

def split_span(jobs, execs):
    """Milliseconds of each EXEC_PARTS part over the executions' span.

    `jobs` are (start, end, execution id) and `execs` id -> (start, end)."""
    by_exec = {}
    for s, e, x in jobs:
        by_exec.setdefault(x, []).append((s, e))
    points = sorted({t for s, e, _ in jobs for t in (s, e)} |
                    {t for s, e in execs.values() for t in (s, e)})
    parts = dict.fromkeys(EXEC_PARTS, 0)
    for a, b in zip(points, points[1:]):
        if any(s <= a and b <= e for s, e, _ in jobs):
            part = "job"
        else:
            inside = [(s, x) for x, (s, e) in execs.items() if s <= a and b <= e]
            if not inside:
                part = "between"
            else:
                own = by_exec.get(max(inside)[1])
                if not own or b <= min(s for s, _ in own):
                    part = "plan"
                elif a >= max(e for _, e in own):
                    part = "tail"
                else:
                    part = "in_exec"
        parts[part] += b - a
    return parts

def print_execs(jobs, execs):
    """Per micro-batch: SQL executions, jobs, and the span split."""
    batches, _ = by_batch(jobs)
    print(f"\n{'batch':>5} {'sqlexec':>7} {'jobless':>7} {'jobs':>5} {'span(s)':>8} "
          + " ".join(f"{p + '(s)':>10}" for p in EXEC_PARTS))
    rows = []
    for bid in sorted(batches):
        b = batches[bid]
        ids = [x for _, _, x in b if x is not None]
        mine = {x: t for x, t in execs.items() if ids and min(ids) <= x <= max(ids)}
        parts = split_span(b, mine)
        row = [len(mine), len(mine.keys() - set(ids)), len(b), sum(parts.values()) / 1e3] + \
              [parts[p] / 1e3 for p in EXEC_PARTS]
        rows.append(row)
        print(f"{bid:5d} {row[0]:7d} {row[1]:7d} {row[2]:5d} {row[3]:8.3f} "
              + " ".join(f"{v:10.3f}" for v in row[4:]))
    if rows:
        mean = [sum(c) / len(rows) for c in zip(*rows)]
        print(f"{'mean':>5} {mean[0]:7.1f} {mean[1]:7.1f} {mean[2]:5.1f} {mean[3]:8.3f} "
              + " ".join(f"{v:10.3f}" for v in mean[4:]))

def print_batch_execs(jobs, execs, descs, aqe, stage_task, batch):
    """One line per SQL execution of micro-batch `batch`."""
    mine_jobs = [j for j in jobs if j[4].get("streaming.sql.batchId") == str(batch)]
    own = {}
    for s, e, _d, sids, props in mine_jobs:
        x = props.get("spark.sql.execution.id")
        if x is not None:
            tasks = sum(stage_task.get(i, [0, 0, 0])[1] for i in sids)
            own.setdefault(int(x), []).append((s, e, tasks))
    if not own:
        print(f"\nno jobs in micro-batch {batch}"); return
    ids = sorted(x for x in execs if min(own) <= x <= max(own))
    print(f"\nbatch {batch}: {len(ids)} SQL executions, {len(mine_jobs)} jobs")
    print(f"{'exec':>6} {'plan(ms)':>8} {'aqe':>4} {'jobs':>4}  {'job ms (tasks)':<28} description")
    plan_sum = aqe_sum = 0
    for x in ids:
        s0, e0 = execs[x]
        js = sorted(own.get(x, []))
        plan = (js[0][0] if js else e0) - s0
        plan_sum += plan
        aqe_sum += aqe.get(x, 0)
        runs = " ".join(f"{e - s}({t})" for s, e, t in js)
        print(f"{x:6d} {plan:8d} {aqe.get(x, 0):4d} {len(js):4d}  {runs:<28} "
              f"{descs.get(x, '')[:60]}")
    print(f"{'total':>6} {plan_sum:8d} {aqe_sum:4d} {len(mine_jobs):4d}")

def print_stages(stages, covered, cores):
    """Task work vs job-covered time, then the top stage attempts."""
    task_ms = sum(st["task_ms"] for st in stages.values())
    gc_ms = sum(st["gc_ms"] for st in stages.values())
    print(f"\nsum task run time   {task_ms/1e3:9.1f} s   "
          f"(= {task_ms/1e3/cores:.1f} s at {cores} cores if perfectly packed)")
    print(f"occupancy of covered time {task_ms/(covered*cores)*100:5.1f} %")
    print(f"sum GC time in tasks {gc_ms/1e3:8.1f} s")

    def wall_s(st):
        s, e = st["wall"]
        return (e - s) / 1e3 if s and e else float("nan")

    def line(sid, st):
        sw = wall_s(st)
        occ = st["task_ms"] / (sw * 1e3 * cores) * 100 if sw > 0 else float("nan")
        return (f"  stage {sid:>4} tasks={st['tasks']:>4} task={st['task_ms']/1e3:>7.1f}s "
                f"wall={sw:>6.1f}s occ={occ:>5.1f}% gc={st['gc_ms']/1e3:>5.1f}s  "
                f"{st['name'][:60]}")
    print("\ntop 12 stages by task time:")
    for (sid, _att), st in sorted(stages.items(), key=lambda kv: -kv[1]["task_ms"])[:12]:
        print(line(sid, st))
    print("\ntop 12 stages by wall time:")
    timed = [kv for kv in stages.items() if not math.isnan(wall_s(kv[1]))]
    for (sid, _att), st in sorted(timed, key=lambda kv: -wall_s(kv[1]))[:12]:
        print(line(sid, st))

TIME_KEYS = ["run_ms", "cpu_ms", "gc_ms", "deser_ms", "shufw_ms", "fetch_ms"]
BYTE_KEYS = ["input_b", "shufr_b", "spill_b"]

def add_task_metrics(agg, m):
    """Accumulate one task's metrics into the --task-metrics sums."""
    sw = m.get("Shuffle Write Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    inm = m.get("Input Metrics") or {}
    for k, v in (("run_ms", m.get("Executor Run Time", 0)),
                 ("cpu_ms", m.get("Executor CPU Time", 0) / 1e6),
                 ("gc_ms", m.get("JVM GC Time", 0)),
                 ("deser_ms", m.get("Executor Deserialize Time", 0)),
                 ("shufw_ms", sw.get("Shuffle Write Time", 0) / 1e6),
                 ("fetch_ms", sr.get("Fetch Wait Time", 0)),
                 ("shufr_b", sr.get("Local Bytes Read", 0) + sr.get("Remote Bytes Read", 0)),
                 ("input_b", inm.get("Bytes Read", 0)),
                 ("spill_b", m.get("Memory Bytes Spilled", 0))):
        agg[k] = agg.get(k, 0) + v

def print_task_metrics(agg, n, cut_ms):
    print(f"\ntasks={n}  (window: launch >= {cut_ms/1000:.0f}s after app start)")
    for k in TIME_KEYS:
        print(f"  {k:9s} {agg.get(k, 0) / 1000.0:10.1f} s")
    for k in BYTE_KEYS:
        print(f"  {k:9s} {agg.get(k, 0) / 1e9:10.2f} GB")

def main():
    ap = argparse.ArgumentParser(description="Decompose a Spark event log.")
    ap.add_argument("path")
    ap.add_argument("--jobs", action="store_true")
    ap.add_argument("--batches", action="store_true")
    ap.add_argument("--execs", action="store_true")
    ap.add_argument("--batch", type=int)
    ap.add_argument("--stages", action="store_true")
    ap.add_argument("--cores", type=int, default=32)
    ap.add_argument("--task-metrics", action="store_true")
    ap.add_argument("--cut", type=float, default=0.0)
    args = ap.parse_args()
    cut_ms = args.cut * 1000.0
    app_start = app_end = None
    jobs = {}          # id -> [start, end, desc, stage_ids, properties]
    execs = {}         # SQL execution id -> [start, end]
    descs = {}         # SQL execution id -> description
    aqe = {}           # SQL execution id -> adaptive-plan updates
    stage_task = {}    # stage id -> [task_time_ms, n_tasks, max_task_ms]
    # (stage id, attempt) -> executor run/GC time, tasks, name, wall
    stages = {}
    window = {}        # --task-metrics sums over the launch window
    n_window = 0
    def stage(sid, att):
        return stages.setdefault((sid, att), {"task_ms": 0, "gc_ms": 0, "tasks": 0,
                                              "wall": [None, None], "name": ""})
    for ev in load(args.path):
        e = ev.get("Event", "")
        if e == "SparkListenerApplicationStart":
            app_start = ev["Timestamp"]
        elif e == "SparkListenerApplicationEnd":
            app_end = ev["Timestamp"]
        elif e == "SparkListenerJobStart":
            props = ev.get("Properties", {}) or {}
            desc = props.get("spark.job.description", "") or \
                   props.get("callSite.short", "")
            jobs[ev["Job ID"]] = [ev["Submission Time"], None, desc[:70],
                                  ev.get("Stage IDs", []), props]
        elif e == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]][1] = ev["Completion Time"]
        elif e.endswith("SparkListenerSQLExecutionStart"):
            execs[ev["executionId"]] = [ev["time"], None]
            descs[ev["executionId"]] = (ev.get("description") or "").replace("\n", " ")
        elif e.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            aqe[ev["executionId"]] = aqe.get(ev["executionId"], 0) + 1
        elif e.endswith("SparkListenerSQLExecutionEnd"):
            if ev["executionId"] in execs:
                execs[ev["executionId"]][1] = ev["time"]
        elif e == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            st = stage(si["Stage ID"], si["Stage Attempt ID"])
            st["name"] = si["Stage Name"]
            st["wall"] = [si.get("Submission Time"), si.get("Completion Time")]
        elif e == "SparkListenerTaskEnd":
            ti = ev.get("Task Info", {})
            dur = ti.get("Finish Time", 0) - ti.get("Launch Time", 0)
            st = stage_task.setdefault(ev["Stage ID"], [0, 0, 0])
            st[0] += dur; st[1] += 1; st[2] = max(st[2], dur)
            m = ev.get("Task Metrics") or {}
            sa = stage(ev["Stage ID"], ev["Stage Attempt ID"])
            sa["task_ms"] += m.get("Executor Run Time", 0)
            sa["gc_ms"] += m.get("JVM GC Time", 0)
            sa["tasks"] += 1
            if app_start is not None and ti.get("Launch Time", 0) - app_start >= cut_ms:
                n_window += 1
                add_task_metrics(window, m)

    ordered = sorted((v for v in jobs.values() if v[1]), key=lambda v: v[0])
    if not ordered:
        print("no completed jobs"); return
    t0 = app_start or ordered[0][0]
    tN = app_end or ordered[-1][1]
    job_sum = sum(e - s for s, e, *_ in ordered) / 1000.0
    # gaps: time not covered by any job interval (merge overlaps)
    covered = covered_ms([(s, e) for s, e, *_ in ordered]) / 1000.0
    span = (tN - t0) / 1000.0
    head_gap = (ordered[0][0] - t0) / 1000.0
    tail_gap = (tN - max(e for _, e, *_ in ordered)) / 1000.0
    inner_gap = span - covered - head_gap - tail_gap
    print(f"app span            {span:9.1f} s")
    print(f"job-covered time    {covered:9.1f} s   (sum of job spans {job_sum:.1f} s)")
    print(f"gap before 1st job  {head_gap:9.1f} s")
    print(f"inter-job gaps      {inner_gap:9.1f} s")
    print(f"gap after last job  {tail_gap:9.1f} s")
    if args.jobs:
        print(f"\n{'off(s)':>7} {'dur(s)':>7} {'gap(s)':>6} {'task(s)':>8} "
              f"{'ntask':>5} {'maxt(s)':>7} {'par':>5}  description")
        prev_end = t0
        for s, e, d, sids, _props in ordered:
            gap = (s - prev_end) / 1000.0
            tt = sum(stage_task.get(i, [0, 0, 0])[0] for i in sids) / 1000.0
            nt = sum(stage_task.get(i, [0, 0, 0])[1] for i in sids)
            mx = max((stage_task.get(i, [0, 0, 0])[2] for i in sids), default=0) / 1000.0
            par = tt / ((e - s) / 1000.0) if e > s else 0
            print(f"{(s-t0)/1000.0:7.1f} {(e-s)/1000.0:7.1f} {max(gap,0):6.2f} "
                  f"{tt:8.1f} {nt:5d} {mx:7.1f} {par:5.2f}  {d}")
            prev_end = max(prev_end, e)
    if args.batches:
        print_batches(ordered)
    if args.execs:
        done = {x: t for x, t in execs.items() if t[1] is not None}
        if args.batch is None:
            print_execs(ordered, done)
        else:
            print_batch_execs(ordered, done, descs, aqe, stage_task, args.batch)
    if args.stages:
        print_stages(stages, covered * 1000.0, args.cores)
    if args.task_metrics:
        print_task_metrics(window, n_window, cut_ms)

if __name__ == "__main__":
    main()
