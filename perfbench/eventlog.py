"""Reader for Spark's rolling event logs, grouped per benchmark op.

PySpark 4.x writes `eventlog_v2_<app>/events_<n>_<app>[.zstd]` under
`spark.eventLog.dir`.  Each file is newline-delimited JSON, zstd
compressed by default.  This module reads the job, stage and SQL-metric
facts the benchmark reports and groups them per op.

An op is attributed its jobs in two ways.  A job whose
`spark.jobGroup.id` property names the op's span belongs to it.  Jobs
launched from helper threads do not inherit the job group, so a job with
no group that was submitted inside the op's time span is attributed by
time instead.  The benchmark runs one op at a time, which makes that
attribution exact; `untagged_jobs` counts how many needed it.
"""

from __future__ import annotations

import glob
import json
import os
import re

import pyarrow as pa

from harness import union_seconds

# Stage-level accumulables summed into engine metrics: (source name,
# metric name, scale to the metric's unit).
STAGE_METRICS = [
    ("internal.metrics.executorRunTime", "executor_run_s", 1e-3),
    ("internal.metrics.executorCpuTime", "executor_cpu_s", 1e-9),
    ("internal.metrics.jvmGCTime", "gc_s", 1e-3),
    ("internal.metrics.resultSize", "result_bytes", 1),
    ("internal.metrics.shuffle.write.bytesWritten", "shuffle_write_bytes", 1),
    ("internal.metrics.shuffle.write.recordsWritten", "shuffle_records", 1),
    ("internal.metrics.output.bytesWritten", "output_bytes", 1),
    ("internal.metrics.input.bytesRead", "scan_bytes", 1),
    # SQL metrics of the scan and of the MapInArrow / MapInPandas /
    # FlatMapGroupsInArrow nodes (timings are in ms)
    ("scan time", "scan_s", 1e-3),
    ("time to run Python workers", "python_run_s", 1e-3),
    ("time to start Python workers", "python_start_s", 1e-3),
    ("data sent to Python workers", "to_python_bytes", 1),
    ("data returned from Python workers", "from_python_bytes", 1),
]
ENGINE_FIELDS = (["jobs", "stages", "tasks"]
                 + [m for _, m, _ in STAGE_METRICS])

_EVENT_RE = re.compile(r'^\{"Event":"([^"]+)"')
_WANTED = {"SparkListenerJobStart", "SparkListenerJobEnd",
           "SparkListenerStageCompleted"}


def _file_index(path: str) -> int:
    m = re.search(r"events_(\d+)_", os.path.basename(path))
    return int(m.group(1)) if m else 0


def log_files(event_dir: str) -> list[str]:
    """Event files of the newest application under `event_dir`, in
    rolling order."""
    apps = sorted(glob.glob(os.path.join(event_dir, "eventlog_v2_*")),
                  key=os.path.getmtime)
    if not apps:
        raise FileNotFoundError(f"no eventlog_v2_* directory in {event_dir}")
    files = glob.glob(os.path.join(apps[-1], "events_*"))
    return sorted(files, key=_file_index)


def iter_events(path: str):
    """Yield the job and stage events of one event file.  Task events
    are the bulk of a log and are skipped before JSON parsing."""
    if path.endswith(".zstd"):
        with pa.CompressedInputStream(path, "zstd") as f:
            data = f.read()
    else:
        with open(path, "rb") as f:
            data = f.read()
    for line in data.decode("utf-8").splitlines():
        m = _EVENT_RE.match(line)
        if m and m.group(1) in _WANTED:
            yield json.loads(line)


def read_jobs(files: list[str]) -> list[dict]:
    """One dict per finished job: id, group, start/end (epoch s) and its
    completed stages' summed metrics."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, dict] = {}
    for path in files:
        for ev in iter_events(path):
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                jobs[jid] = {"job_id": jid,
                             "group": props.get("spark.jobGroup.id"),
                             "start": ev["Submission Time"] / 1e3,
                             "end": None, "stage_ids": ev["Stage IDs"]}
                for sid in ev["Stage IDs"]:
                    stage_job[sid] = jid
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
            else:
                info = ev["Stage Info"]
                acc = {a.get("Name"): a.get("Value")
                       for a in info.get("Accumulables", [])}
                row = {"tasks": info["Number of Tasks"]}
                for src, name, scale in STAGE_METRICS:
                    v = acc.get(src)
                    row[name] = float(v) * scale if v is not None else 0.0
                stages[info["Stage ID"]] = row
    out = []
    for job in jobs.values():
        if job["end"] is None:
            continue
        metrics = {name: 0.0 for name in ENGINE_FIELDS}
        metrics["jobs"] = 1
        for sid in job.pop("stage_ids"):
            st = stages.get(sid)
            if st is None or stage_job.get(sid) != job["job_id"]:
                continue  # skipped (reused shuffle) or another job's
            metrics["stages"] += 1
            for k, v in st.items():
                metrics[k] += v
        job["metrics"] = metrics
        out.append(job)
    return sorted(out, key=lambda j: j["start"])


def attribute(jobs: list[dict], spans: list[dict]) -> dict[str, dict]:
    """Engine metrics per span id.  `spans` are the op spans: dicts with
    `id`, `start` and `end` (epoch seconds).  Each result carries the
    summed job metrics, `job_s` (the union of the op's job intervals,
    clipped to the span), `driver_only_s` (span wall time minus job_s),
    `untagged_jobs` and the job intervals themselves."""
    by_id = {s["id"]: s for s in spans}
    out = {s["id"]: {"metrics": {k: 0.0 for k in ENGINE_FIELDS},
                     "untagged_jobs": 0, "job_spans": []}
           for s in spans}
    for job in jobs:
        sid = job["group"] if job["group"] in by_id else None
        if sid is None:
            sid = next((s["id"] for s in spans
                        if s["start"] <= job["start"] <= s["end"]), None)
            if sid is None:
                continue
            out[sid]["untagged_jobs"] += 1
        for k, v in job["metrics"].items():
            out[sid]["metrics"][k] += v
        out[sid]["job_spans"].append((job["start"], job["end"]))
    for sid, rec in out.items():
        span = by_id[sid]
        clipped = [(max(s, span["start"]), min(e, span["end"]))
                   for s, e in rec["job_spans"]]
        clipped = [(s, e) for s, e in clipped if e > s]
        rec["job_s"] = union_seconds(clipped)
        rec["driver_only_s"] = max(0.0, (span["end"] - span["start"])
                                   - rec["job_s"])
    return out
