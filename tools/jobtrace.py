#!/usr/bin/env python3
"""Render a per-query Spark job trace from an event log.

Usage: jobtrace.py <eventlog-file-or-dir> [query-name-filter]

Bench reps label jobs via setJobDescription("<name> repN") (guide §1.5);
this prints, for each matching job in submission order: duration, gap
since the latest end of any earlier job (driver planning/placement time,
0 while jobs run concurrently), the part of the job that overlaps earlier
jobs (Par.jobs runs several at once), and the job's call site.
Summary line: wall span, sum of job times, overlap total, gap total, job
count — span = sum − overlap + gaps, and the gap total is the driver time
the optimization rounds chase.
"""
import json, sys, glob, os

path = sys.argv[1]
want = sys.argv[2] if len(sys.argv) > 2 else None
# descend into rolling event-log dirs (eventlog_v2_*/events_*) to a file
while os.path.isdir(path):
    entries = [p for p in glob.glob(os.path.join(path, '*'))
               if not os.path.basename(p).startswith('appstatus_')]
    path = max(entries, key=os.path.getmtime)

jobs = {}  # id -> dict(desc, site, t0, t1)
if path.endswith('.zstd'):
    import subprocess, io
    p = subprocess.Popen(['zstd', '-dc', path], stdout=subprocess.PIPE)
    fh = io.TextIOWrapper(p.stdout)
else:
    fh = open(path)
with fh as f:
    for line in f:
        try:
            ev = json.loads(line)
        except json.JSONDecodeError:
            continue
        if ev.get('Event') == 'SparkListenerJobStart':
            props = ev.get('Properties') or {}
            stages = ev.get('Stage Infos') or []
            site = stages[-1]['Stage Name'] if stages else '?'
            jobs[ev['Job ID']] = {
                'desc': props.get('spark.job.description', ''),
                'site': f"{site} ({len(stages)} stages)",
                't0': ev['Submission Time'], 't1': None}
        elif ev.get('Event') == 'SparkListenerJobEnd':
            j = jobs.get(ev['Job ID'])
            if j is not None:
                j['t1'] = ev['Completion Time']

sel = sorted((j for j in jobs.values()
              if j['t1'] is not None and (want is None or want in j['desc'])),
             key=lambda j: j['t0'])
if not sel:
    print('no matching jobs'); sys.exit(0)
prev_end = sel[0]['t0']  # latest end of any earlier job
tot = gaps = overlaps = 0.0
for j in sel:
    dur = (j['t1'] - j['t0']) / 1000.0
    gap = max(0, j['t0'] - prev_end) / 1000.0
    overlap = max(0, min(j['t1'], prev_end) - j['t0']) / 1000.0
    prev_end = max(prev_end, j['t1'])
    tot += dur
    gaps += gap
    overlaps += overlap
    print(f"  {dur:6.3f}s  gap {gap:6.3f}s  overlap {overlap:6.3f}s  {j['site']}")
span = (prev_end - sel[0]['t0']) / 1000.0
print(f"# wall span {span:.2f}s, sum of job times {tot:.2f}s, "
      f"overlap {overlaps:.2f}s, gaps {gaps:.2f}s, jobs {len(sel)}")
