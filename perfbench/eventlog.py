"""Spark event-log reader: stage, task and job numbers per time window.

Reads the uncompressed JSON-lines log that Spark writes with
``spark.eventLog.compress=false``, a single file. Compressed logs are
refused: the zstd codec Spark 4 defaults to needs the ``zstandard``
module.

Stages are assigned to the window that contains their submission time;
the benchmark opens one window per layer call, so a layer owns every
stage its call (or its materialisation) submitted.
"""

from __future__ import annotations

import json
import os

COMPRESSED_SUFFIXES = (".zstd", ".lz4", ".lzf", ".snappy", ".zst")


def read_events(path: str):
    """Yield every event of the log at ``path`` as a dict."""
    if path.endswith(COMPRESSED_SUFFIXES):
        raise ValueError(f"{path}: compressed event log; "
                         "run with spark.eventLog.compress=false")
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            if line.strip():
                yield json.loads(line)


def find_log(log_dir: str) -> str:
    """The single application log under ``log_dir``."""
    apps = [p for p in os.listdir(log_dir) if not p.startswith(".")]
    if len(apps) != 1:
        raise ValueError(f"{log_dir}: expected one event log, found {apps}")
    return os.path.join(log_dir, apps[0])


def parse(events) -> dict:
    """-> {"stages": {sid: stage}, "jobs": {jid: job}} with times in ms.

    stage: submit, complete,
           tasks [(launch, finish, gc_ms, shuffle_bytes, output_bytes)]
    job:   submit, end, call_site, stage_ids, writes_files (the job runs
           for a SQL execution whose plan writes files, such as a
           ``DataFrameWriter.parquet`` call)
    """
    stages: dict = {}
    jobs: dict = {}
    writers: set = set()        # SQL execution ids whose plan writes files
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            st = stages.setdefault((info["Stage ID"], info["Stage Attempt ID"]),
                                   {"tasks": []})
            st["submit"] = info.get("Submission Time")
            st["complete"] = info.get("Completion Time")
        elif kind == "SparkListenerTaskEnd":
            ti = ev["Task Info"]
            tm = ev.get("Task Metrics") or {}
            shuffle = (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            output = (tm.get("Output Metrics") or {}).get("Bytes Written", 0)
            st = stages.setdefault((ev["Stage ID"], ev["Stage Attempt ID"]), {"tasks": []})
            st["tasks"].append((ti["Launch Time"], ti["Finish Time"],
                                tm.get("JVM GC Time", 0), shuffle, output))
        elif kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jobs[ev["Job ID"]] = {"submit": ev["Submission Time"],
                                  "call_site": props.get("callSite.short", ""),
                                  "stage_ids": ev.get("Stage IDs", []),
                                  "execution": props.get("spark.sql.execution.id")}
        elif kind == "SparkListenerJobEnd":
            jobs.setdefault(ev["Job ID"], {"submit": None, "call_site": "", "stage_ids": [],
                                           "execution": None})
            jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
        elif kind and kind.endswith(".SparkListenerSQLExecutionStart"):
            if "InsertIntoHadoopFsRelationCommand" in ev.get("physicalPlanDescription", ""):
                writers.add(str(ev["executionId"]))
    for job in jobs.values():
        job["writes_files"] = job.pop("execution") in writers
    # a stage that never completed (cancelled) has no window to land in
    return {"stages": {k: v for k, v in stages.items() if v.get("submit") is not None},
            "jobs": jobs}


def _inside(t, window) -> bool:
    return t is not None and window[0] <= t < window[1]


def stage_stats(stages: list) -> dict:
    """Task and stage numbers over a list of parsed stages."""
    durs = [(t[1] - t[0]) / 1000.0 for st in stages for t in st["tasks"]]
    n = len(durs)
    total = sum(durs)
    mx = max(durs) if durs else 0.0
    return {
        "stages": len(stages),
        "tasks": n,
        "task_sum_s": total,
        "max_task_s": mx,
        "skew": mx / (total / n) if n and total > 0 else 0.0,
        "shuffle_write_mb": sum(t[3] for st in stages for t in st["tasks"]) / 2**20,
        "gc_s": sum(t[2] for st in stages for t in st["tasks"]) / 1000.0,
        "output_mb": sum(t[4] for st in stages for t in st["tasks"]) / 2**20,
    }


def stages_in(log: dict, windows: list) -> list:
    """Stages submitted inside any of ``windows`` [(t0_ms, t1_ms)]."""
    return [st for st in log["stages"].values()
            if any(_inside(st["submit"], w) for w in windows)]


def jobs_in(log: dict, windows: list) -> list:
    return [j for j in log["jobs"].values()
            if any(_inside(j["submit"], w) for w in windows)]


def stages_of(log: dict, jobs: list) -> list:
    """Every completed attempt of the stages ``jobs`` ran."""
    ids = {sid for j in jobs for sid in j["stage_ids"]}
    return [st for (sid, _), st in log["stages"].items() if sid in ids]


def job_seconds(jobs: list) -> float:
    """Summed submit-to-end wall time of ``jobs``."""
    return sum((j["end"] - j["submit"]) / 1000.0 for j in jobs if j.get("end") is not None)


def covered_ms(stages: list, window: tuple) -> float:
    """Length of ``window`` covered by at least one stage interval."""
    spans = sorted((max(st["submit"], window[0]), min(st["complete"], window[1]))
                   for st in stages if st.get("complete") is not None)
    covered = 0.0
    cur_lo = cur_hi = None
    for lo, hi in spans:
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return covered
