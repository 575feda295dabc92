"""Arithmetic of the benchmark, kept free of Spark so it can be tested alone.

* ``percentile`` / ``samples_beyond``: the latency percentile rule.
* ``covered_s``: union of job intervals clipped to one op's window, which
  splits a plan build into time spent in build-time jobs and pure driver
  time.
* ``fold_event_log``: folds a Spark event log (JSON lines, uncompressed)
  into per-tag job/stage/task counters.  Jobs are attributed by the job
  tags the runner sets on the calling thread (``spark.addTag``), which
  Spark stores in the job's ``spark.job.tags`` property.
* ``dir_files`` / ``bytes_added`` / ``space_amp``: on-disk accounting for
  the write and space amplification of the repository layer.
"""

from __future__ import annotations

import json
import math
import os


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated ``q``-th percentile (0..100) of ``values``:
    the value at rank ``(n - 1) * q / 100`` of the sorted list."""
    if not values:
        raise ValueError("percentile of an empty sample")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = math.ceil(pos)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def samples_beyond(n: int, q: float) -> int:
    """How many of ``n`` samples lie strictly above the ``q``-th
    percentile's rank: the count the report states beside the figure."""
    return n - 1 - math.floor((n - 1) * q / 100.0)


def covered_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Seconds of ``[lo, hi]`` covered by the union of ``intervals``
    (each clipped to the window first), so overlapping jobs count once
    and the result never exceeds ``hi - lo``."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)
    )
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def _new_counters() -> dict:
    return {
        "jobs": 0,
        "stages": 0,
        "tasks": 0,
        "failed_tasks": 0,
        "queue_s": 0.0,
        "task_wait_s": 0.0,
        "executor_run_s": 0.0,
        "executor_cpu_s": 0.0,
        "gc_s": 0.0,
        "shuffle_read_bytes": 0,
        "shuffle_write_bytes": 0,
        "spill_bytes": 0,
        "input_bytes": 0,
        "job_intervals": [],
    }


def _tag_of(props: dict | None, prefix: str) -> str | None:
    """The runner's tag among a job's tags.  Spark prefixes user tags
    with session/thread scopes (``...-thread-<uuid>-<tag>``), so match
    on the suffix after ``prefix``."""
    tags = (props or {}).get("spark.job.tags", "")
    for t in tags.split(","):
        i = t.find(prefix)
        if i >= 0:
            return t[i:]
    return None


def fold_event_log(
    path: str, prefix: str, windows: list[tuple[str, float, float]] = ()
) -> tuple[dict[str, dict], dict]:
    """Fold one event log into ``({tag: counters}, storage)``.

    Jobs carrying a tag that starts with ``prefix`` are attributed to it.
    Jobs Spark submits from its own threads carry no tag; one submitted
    inside a ``(tag, start, end)`` of ``windows`` (epoch seconds) is
    attributed to that tag, which is exact for a serial client.  The
    rest (warm-up, verification) are ignored.  Times are seconds;
    ``job_intervals`` holds each job's (submit, end) in epoch seconds.
    ``queue_s`` sums, per job, submit to first task launch (scheduling
    plus any wait behind other jobs); ``task_wait_s`` sums, per stage,
    stage submission to its first task launch (the wait for a free core).
    ``storage`` tracks cached/checkpointed RDD blocks
    (``spark.eventLog.logBlockUpdates.enabled``): ``pinned_bytes_peak``
    and ``pinned_bytes_end`` over memory + disk size."""
    by_tag: dict[str, dict] = {}
    job_tag: dict[int, str] = {}
    job_submit: dict[int, float] = {}
    job_first_task: dict[int, float] = {}
    stage_job: dict[int, int] = {}
    stage_submit: dict[int, float] = {}
    blocks: dict[str, int] = {}
    pinned = peak = 0
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                submit = ev["Submission Time"] / 1000.0
                tag = _tag_of(ev.get("Properties"), prefix) or next(
                    (t for t, a, b in windows if a <= submit <= b), None
                )
                if tag is None:
                    continue
                jid = ev["Job ID"]
                job_tag[jid] = tag
                job_submit[jid] = submit
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = jid
                by_tag.setdefault(tag, _new_counters())["jobs"] += 1
            elif kind == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                if jid in job_tag:
                    by_tag[job_tag[jid]]["job_intervals"].append(
                        (job_submit[jid], ev["Completion Time"] / 1000.0)
                    )
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                if info["Stage ID"] in stage_job and "Submission Time" in info:
                    stage_submit[info["Stage ID"]] = info["Submission Time"] / 1000.0
            elif kind == "SparkListenerStageCompleted":
                jid = stage_job.get(ev["Stage Info"]["Stage ID"])
                if jid is not None:
                    by_tag[job_tag[jid]]["stages"] += 1
            elif kind == "SparkListenerTaskStart":
                sid = ev["Stage ID"]
                jid = stage_job.get(sid)
                if jid is None:
                    continue
                launch = ev["Task Info"]["Launch Time"] / 1000.0
                c = by_tag[job_tag[jid]]
                if jid not in job_first_task:
                    job_first_task[jid] = launch
                    c["queue_s"] += max(0.0, launch - job_submit[jid])
                if sid in stage_submit:
                    c["task_wait_s"] += max(0.0, launch - stage_submit.pop(sid))
            elif kind == "SparkListenerTaskEnd":
                jid = stage_job.get(ev["Stage ID"])
                if jid is None:
                    continue
                c = by_tag[job_tag[jid]]
                c["tasks"] += 1
                if ev.get("Task End Reason", {}).get("Reason") != "Success":
                    c["failed_tasks"] += 1
                m = ev.get("Task Metrics") or {}
                c["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
                c["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                c["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                sr = m.get("Shuffle Read Metrics") or {}
                c["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                sw = m.get("Shuffle Write Metrics") or {}
                c["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                c["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                c["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            elif kind == "SparkListenerBlockUpdated":
                info = ev["Block Updated Info"]
                bid = info["Block ID"]
                if not bid.startswith("rdd_"):
                    continue
                size = info.get("Memory Size", 0) + info.get("Disk Size", 0)
                pinned += size - blocks.get(bid, 0)
                blocks[bid] = size
                peak = max(peak, pinned)
    return by_tag, {"pinned_bytes_peak": peak, "pinned_bytes_end": pinned}


def dir_files(root: str) -> dict[str, tuple[int, int]]:
    """{relative path: (size, mtime_ns)} of every regular file under
    ``root`` (empty when ``root`` does not exist yet)."""
    out: dict[str, tuple[int, int]] = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            st = os.stat(os.path.join(dirpath, f))
            out[os.path.relpath(os.path.join(dirpath, f), root)] = (
                st.st_size,
                st.st_mtime_ns,
            )
    return out


def dir_bytes(files: dict[str, tuple[int, int]], prefix: str = "") -> int:
    """Total size of the ``files`` whose path starts with ``prefix``."""
    return sum(s for p, (s, _m) in files.items() if p.startswith(prefix))


def bytes_added(
    before: dict[str, tuple[int, int]], after: dict[str, tuple[int, int]]
) -> int:
    """Bytes of files in ``after`` that are new or rewritten since
    ``before``: what one write put on disk."""
    return sum(s for p, (s, m) in after.items() if before.get(p) != (s, m))


def space_amp(files: dict[str, tuple[int, int]], current: str) -> float:
    """On-disk bytes of a managed table over the bytes of its
    ``current`` version directory."""
    return dir_bytes(files) / max(1, dir_bytes(files, current + os.sep))
