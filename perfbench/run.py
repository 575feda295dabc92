#!/usr/bin/env python3
"""polyspark benchmark: one workload, one fresh process, metrics + verdict.

Usage (from the repository root; the checkout needs no other set-up)::

    python3 perfbench/run.py --workload dedup_cold --seed 1 --seconds 40 --trace 0

Workloads (``workloads.py``, ``etl.py``): ``dedup_cold`` and ``etl_load``.
Each run starts ``worker.py`` in a fresh interpreter, samples the resident
memory of its whole process tree (Python driver, JVM, Python workers) from
``/proc``, and prints one line per metric, then one JSON line::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

The worker sets up (JVM, session, registry, and one untimed warm-up pass
of the workload), then runs three timed passes, each on data at a path of
its own, so the program's memos are cold in every pass while the JVM is
warm.  The gated figures are CPU seconds of the whole process tree, JIT
compiler threads left out: of the set-up (``setup_s``), of the cheapest
pass (``cpu_s``), and the p90 over the ops of each op's cheapest pass
(``op_cpu_p90_s``); and ``peak_rss_mb``.  The p50 of the same and the
wall-clock figures (``setup_wall_s``, ``wall_s``, ``latency_p50_s``,
``latency_p90_s``, from the fastest passes) are printed beside them.  Every result of every pass
is verified.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` runs the
workload twice, untraced and then traced (job tags + event log), reports
the per-layer metrics (per pass), ``trace.overhead_s`` (traced minus
untraced ``wall_s``), and writes one ledger row per op to
``.perfbench/ledger/<workload>-seed<seed>.jsonl``.

``--seconds`` caps the timed window: a pass is not started once it has
gone by.  Three passes fit well inside it, also on a noisy host.

Everything a run writes stays under ``.perfbench/`` in the checkout:
Spark, Python and DuckDB temp files included.  The run exits non-zero,
without a result line, when the program is not beside this directory.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import ledger  # noqa: E402
import workloads  # noqa: E402

# Every worker of one run must end by then (a run exits within 180 s).
RUN_TIMEOUT_S = 170.0
P_TAIL = 90

END_TO_END = {
    "setup_s": "s",
    "cpu_s": "s",
    "op_cpu_p90_s": "s",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "session.build_s": "s",
    "registry.load_s": "s",
    "catalog.table_cold_s": "s",
    "catalog.table_warm_s": "s",
    "build.wall_s": "s",
    "build.jobs": "count",
    "build.job_wall_s": "s",
    "build.driver_s": "s",
    "build.executor_run_s": "s",
    "exec.wall_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.queue_s": "s",
    "exec.task_wait_s": "s",
    "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.input_bytes": "bytes",
    "exec.failed_tasks": "count",
    "storage.pinned_bytes_peak": "bytes",
    "storage.pinned_bytes_end": "bytes",
    "repository.create_s": "s",
    "repository.merge_s": "s",
    "repository.append_s": "s",
    "repository.overwrite_s": "s",
    "repository.scd2_s": "s",
    "repository.compact_s": "s",
    "repository.vacuum_s": "s",
    "repository.read_s": "s",
    "repository.write_amp": "ratio",
    "repository.space_amp": "ratio",
    "dag.overhead_s": "s",
    "dag.retries": "count",
    "trace.overhead_s": "s",
}

# A run is marked noisy (and kept) past this hypervisor steal or when the
# 1-minute load average exceeds the core count.
NOISY_STEAL_PCT = 2.0


def _checkout_ok() -> str | None:
    """Why the program cannot run from this checkout, or None."""
    for rel in ("__spark_entry__.py", "polybot_data_etl_spark", "bench.py",
                os.path.join("scripts", "check_oracle.py")):
        if not os.path.exists(os.path.join(ROOT, rel)):
            return f"{rel} not found beside perfbench/"
    return None


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _stat(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name (state first),
    or None when the process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


class TreeSampler:
    """Peak resident memory of a process tree, sampled from /proc, and
    every process seen in it as (pid, start time), so that strays can be
    stopped after the root exits."""

    def __init__(self, root_pid: int, interval: float = 0.25):
        self.root = root_pid
        self.interval = interval
        self.peak_bytes = 0
        self.peak_by_command: dict[str, int] = {}
        self.seen: set[tuple[int, str]] = set()
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _tree(self) -> list[tuple[int, int, str]]:
        """(pid, parent pid, start time) of the root and its descendants."""
        children: dict[int, list[tuple[int, int, str]]] = {}
        for entry in os.listdir("/proc"):
            if entry.isdigit():
                st = _stat(int(entry))
                if st is not None:
                    children.setdefault(int(st[1]), []).append(
                        (int(entry), int(st[1]), st[19])
                    )
        root = _stat(self.root)
        out, todo = [], [(self.root, int(root[1]), root[19])] if root else []
        while todo:
            proc = todo.pop()
            out.append(proc)
            todo.extend(children.get(proc[0], ()))
        return out

    def _run(self) -> None:
        while not self._stop.is_set():
            exe: dict[int, str] = {}
            by_command: dict[str, int] = {}
            for pid, ppid, start in self._tree():
                self.seen.add((pid, start))
                try:
                    exe[pid] = os.readlink(f"/proc/{pid}/exe")
                    with open(f"/proc/{pid}/statm") as fh:
                        statm = fh.read()
                    with open(f"/proc/{pid}/comm") as fh:
                        command = fh.read().strip()
                except OSError:
                    continue
                # a child the JVM forks to run a command (it is named after
                # the forking thread) is the JVM's own memory until it execs;
                # counting it would count the JVM twice
                if exe[pid].endswith("/java") and exe[pid] == exe.get(ppid):
                    continue
                rss = int(statm.split()[1]) * self._page
                by_command[command] = by_command.get(command, 0) + rss
            if sum(by_command.values()) > self.peak_bytes:
                self.peak_bytes = sum(by_command.values())
                self.peak_by_command = by_command
            self._stop.wait(self.interval)

    def start(self) -> "TreeSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def _stop_tree(proc: subprocess.Popen, seen: set[tuple[int, str]]) -> None:
    """Stop every process left of the worker's tree (the JVM, and the
    Python worker daemon, which runs in a process group of its own) and
    wait until each has ended."""

    def left() -> list[int]:
        out = []
        for pid, start in seen:
            st = _stat(pid)
            if st is not None and st[19] == start and st[0] != "Z":
                out.append(pid)
        return out

    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            pass
        for pid in left():
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.time() + 5
        while time.time() < deadline:
            if proc.poll() is not None and not left():
                return
            time.sleep(0.1)
    proc.wait(timeout=5)


_STOP = {"spawning": False, "pending": False}


def _on_sigterm(*_) -> None:
    """Unwind on SIGTERM, or, while a worker is being spawned, as soon as
    its stopping is set up."""
    if _STOP["spawning"]:
        _STOP["pending"] = True
    else:
        sys.exit(128 + signal.SIGTERM)


def run_worker(args, work: str, trace: int, deadline: float) -> tuple[dict, float]:
    """One fresh worker process, stopped at ``deadline`` (epoch seconds)
    at the latest; returns (its result, peak tree RSS MB)."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    if args.workload == "etl_load":
        import etl

        days = etl.make_batches(
            os.path.join(HERE, "fixture", "sf0.01"), os.path.join(work, "etl"), args.seed
        )
        with open(os.path.join(work, "etl", "days.json"), "w") as fh:
            json.dump(days, fh)
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + ([env["PYTHONPATH"]] if env.get("PYTHONPATH") else [])
    )
    env["TMPDIR"] = os.path.join(work, "tmp")
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    cmd = [
        sys.executable, "-u", os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seconds", str(args.seconds),
        "--trace", str(trace), "--work", work, "--cores", str(_cores()),
    ]
    log_path = os.path.join(work, "worker.log")
    with open(log_path, "w") as log:
        spawned = time.time()
        _STOP["spawning"] = True  # a SIGTERM now waits until the tree is known
        proc = subprocess.Popen(
            cmd + ["--spawned-at", repr(spawned)], cwd=work, env=env,
            stdout=log, stderr=subprocess.STDOUT, start_new_session=True,
        )
        sampler = TreeSampler(proc.pid).start()
        try:
            _STOP["spawning"] = False
            if _STOP["pending"]:
                sys.exit(128 + signal.SIGTERM)
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            # also when the run itself is stopped (SIGTERM, Ctrl-C)
            sampler.stop()
            _stop_tree(proc, sampler.seen)
    result_path = os.path.join(work, "result.json")
    if code != 0 or not os.path.exists(result_path):
        with open(log_path, errors="replace") as fh:
            tail = fh.read()[-3000:]
        raise RuntimeError(f"worker exited with {code}; log tail:\n{tail}")
    with open(result_path) as fh:
        result = json.load(fh)
    result["peak_rss_by_command_mb"] = {
        c: round(b / 2**20) for c, b in sampler.peak_by_command.items()
    }
    return result, sampler.peak_bytes / 2**20


def op_minima(ops: list[dict], key: str) -> dict[str, float]:
    """Each op's smallest ``key`` (``latency_s`` or ``cpu_s``) over the
    passes it ran in, failed attempts left out."""
    best: dict[str, float] = {}
    for o in ops:
        if o["ok"]:
            best[o["name"]] = min(best.get(o["name"], math.inf), o[key])
    return best


def end_to_end(res: dict, peak_mb: float) -> tuple[dict, dict]:
    """(metrics, extra report lines) of one untraced worker result.

    The gated figures besides memory are CPU seconds (user plus system,
    whole process tree, JIT compiler threads left out) of the set-up and
    of the cheapest pass, and the p90 over the ops of each op's cheapest
    pass.  Time the hypervisor
    steals is not charged to a process, and contention only ever adds
    cost, so these move far less between runs of the same code than wall
    times: on a shared 4-core host, passes at 24-29 % steal took about
    twice the wall time of quiet ones and about 1.2 times the CPU
    seconds.  Wall-clock figures are reported beside them, from each
    op's fastest pass."""
    ops, passes = res["ops"], res["passes"]
    cpu = list(op_minima(ops, "cpu_s").values()) or [0.0]
    lat = list(op_minima(ops, "latency_s").values()) or [0.0]
    metrics = {
        "setup_s": res["setup_cpu_s"],
        "cpu_s": min(p["cpu_s"] for p in passes),
        "op_cpu_p90_s": ledger.percentile(cpu, P_TAIL),
        "peak_rss_mb": peak_mb,
    }
    failed = sum(not o["ok"] for o in ops) + len(res["mismatches"])
    extra = {
        # a p50 over 8-14 unlike ops sits between two of them and jumps
        # when their order changes, so it is reported, not gated
        "op_cpu_p50_s": ledger.percentile(cpu, 50),
        "wall_s": min(p["wall_s"] for p in passes),
        "latency_p50_s": ledger.percentile(lat, 50),
        "latency_p90_s": ledger.percentile(lat, P_TAIL),
        "ops": len(ops),
        "passes": passes,
        "setup_wall_s": res["setup_s"],
        "warmup_s": res["warmup_s"],
        "failed": failed,
        "samples_beyond_p90": ledger.samples_beyond(len(cpu), P_TAIL),
        "error_rate": failed / max(1, len(ops)),
        "mismatches": res["mismatches"],
        "errors": [f"{o['name']}: {o.get('error')}" for o in ops if not o["ok"]],
    }
    if "rows_loaded" in res:
        import etl

        load_s = sum(o["latency_s"] for o in ops if o.get("kind") in etl.BATCH_ROWS)
        extra["rows_loaded_per_s"] = res["rows_loaded"] / load_s if load_s else 0.0
    return metrics, extra


def per_layer(res: dict, untraced_wall: float) -> dict:
    layer = dict(res["layer"])
    n = len(res["passes"])
    for o in res["ops"]:
        kind = o.get("kind")
        if kind and kind != "dag":
            key = f"repository.{kind}_s"
            layer[key] = layer.get(key, 0.0) + o["latency_s"] / n
    wall = min(p["wall_s"] for p in res["passes"])
    layer["trace.overhead_s"] = wall - untraced_wall
    return {k: layer.get(k, 0) for k in PER_LAYER}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a stopped run unwinds, so every process it started is stopped too
    signal.signal(signal.SIGTERM, _on_sigterm)
    problem = _checkout_ok()
    if problem:
        print(f"perfbench: cannot run: {problem}", file=sys.stderr)
        return 2

    deadline = time.time() + RUN_TIMEOUT_S
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"run-{os.getpid()}-{time.time_ns()}")
    try:
        untraced, peak_mb = run_worker(args, os.path.join(work, "untraced"), 0, deadline)
        metrics, extra = end_to_end(untraced, peak_mb)
        units = END_TO_END
        traced = None
        if args.trace:
            traced, _ = run_worker(args, os.path.join(work, "traced"), 1, deadline)
            metrics = per_layer(traced, extra["wall_s"])
            units = PER_LAYER
    finally:
        shutil.rmtree(work, ignore_errors=True)

    noise = untraced["noise"]
    steal = (noise.get("steal") or {}).get("mean_pct")
    noisy = (steal is not None and steal > NOISY_STEAL_PCT) or noise["loadavg_start"][0] > _cores()
    print(f"workload {args.workload} seed {args.seed} cores {_cores()} trace {args.trace}")
    for name, value in metrics.items():
        print(f"  {name:28s} {value:14.6g} {units[name]}")
    print(f"  {'op_cpu_p50_s':28s} {extra['op_cpu_p50_s']:14.6g} s (not gated)")
    for name in ("wall_s", "latency_p50_s", "latency_p90_s"):
        print(f"  {name:28s} {extra[name]:14.6g} s (wall clock, fastest pass)")
    passes = extra["passes"]
    print(f"  {'ops':28s} {extra['ops']:14d} in {len(passes)} passes"
          f" (ops beyond p90: {extra['samples_beyond_p90']})")
    print(f"  {'setup_wall_s':28s} {extra['setup_wall_s']:14.6g} s (wall clock, not gated)")
    print(f"  {'warmup_s':28s} {extra['warmup_s']:14.6g} s (wall clock of the warm-up pass)")
    print(f"  pass wall (s): {[round(p['wall_s'], 3) for p in passes]}"
          f"  pass cpu (s): {[round(p['cpu_s'], 2) for p in passes]}")
    print(f"  {'error_rate':28s} {extra['error_rate']:14.6g} fraction")
    if "rows_loaded_per_s" in extra:
        print(f"  {'rows_loaded_per_s':28s} {extra['rows_loaded_per_s']:14.6g} rows/s")
    print(f"  peak rss by command (MB): {untraced['peak_rss_by_command_mb']}")
    print(f"  noise: steal {noise.get('steal')} loadavg {noise['loadavg_start']} -> "
          f"{noise['loadavg_end']}{' NOISY' if noisy else ''}")
    for line in extra["errors"] + [f"mismatch {m}" for m in extra["mismatches"]]:
        print(f"  {line}")
    if traced is not None:
        os.makedirs(os.path.join(base, "ledger"), exist_ok=True)
        path = os.path.join(base, "ledger", f"{args.workload}-seed{args.seed}.jsonl")
        with open(path, "w") as fh:
            for row in traced["ledger"]:
                fh.write(json.dumps(row) + "\n")
        print(f"  ledger: {os.path.relpath(path, ROOT)} ({len(traced['ledger'])} rows)")

    print(json.dumps({
        "correct": extra["failed"] == 0,
        "attempted": extra["ops"],
        "failed": extra["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
