"""One benchmark process: set up, run one workload's timed window, verify.

Started by ``run.py`` in a fresh interpreter for every run, so every run
pays the set-up a batch job or a scheduled load pays: JVM and session,
registry import and catalog loads.  One untimed pass of the workload then
warms the JIT and codegen caches; the timed window runs ``PASSES`` more,
each on a copy of the data at a path of its own, so the program's memos
(keyed by data path) are cold in every pass.  It calls only
the entry contract (``__spark_entry__.queries()``) and public functions of
the package, and passes every Spark setting through
``session.build_session(extra_conf=...)``.

With ``--trace 1`` it also tags every op's jobs on the calling thread
(``spark.addTag``: one tag for the plan build, one for the execution),
writes a local event log and folds it per tag after the run; ``ledger.py``
holds that arithmetic.  It writes ``result.json`` into ``--work``.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HERE = os.path.dirname(os.path.abspath(__file__))
FIXTURE = os.path.join(HERE, "fixture", "sf0.01")
TAG = "pbtag-"
# Timed passes over the op list per run, after the warm-up pass.  The
# count is fixed: the JIT keeps warming over passes, so a run with more
# passes would read cheaper.  ``--seconds`` only stops a run that has
# fallen far behind.
PASSES = 3


def _session(args, work: str, traced: bool):
    from polybot_data_etl_spark.session import build_session

    mem_mb = _heap_mb()
    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": f"{mem_mb}m",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Xms{mem_mb}m -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
            # keep every JIT compiler thread alive, so tree_cpu_s can read
            # (and leave out) their time
            " -XX:-UseDynamicNumberOfCompilerThreads"
        ),
    }
    if traced:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.join(work, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.logBlockUpdates.enabled": "true",
            }
        )
    spark = build_session(
        app_name=f"perfbench-{args.workload}",
        master=f"local[{args.cores}]",
        shuffle_partitions=2 * args.cores,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _heap_mb() -> int:
    """Driver heap: an eighth of the machine's memory, between 1 and
    2 GiB.  ``_session`` pins it (-Xms = -Xmx), so peak RSS does not
    depend on when the collector chooses to grow the heap."""
    with open("/proc/meminfo") as fh:
        total_kb = int(fh.readline().split()[1])
    return max(1024, min(2048, total_kb // 8 // 1024))


_TICK = os.sysconf("SC_CLK_TCK")
# HotSpot's JIT compiler threads, by their (15-letter) kernel names
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _jit_ticks(pid: int) -> int:
    """CPU ticks the JIT compiler threads of process ``pid`` used so far."""
    total = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                name, rest = fh.read().split("(", 1)[1].rsplit(")", 1)
        except OSError:
            continue
        if name.startswith(_JIT_THREADS):
            f = rest.split()
            total += int(f[11]) + int(f[12])
    return total


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants (the
    JVM, the Python worker daemon and its workers), user plus system,
    including children already reaped, less the JVM's JIT compiler
    threads: compiling is the JVM warming up, and it goes on for many
    passes, so counting it would make each pass's cost hang on how far
    the JIT happened to have got.  (``_session`` keeps the compiler
    threads alive, so their time stays readable.)  Time the hypervisor
    steals is not charged to a process, so this cost moves far less than
    wall time on a noisy host."""
    children: dict[int, list[int]] = {}
    cpu: dict[int, int] = {}
    command: dict[int, str] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                name, rest = fh.read().split("(", 1)[1].rsplit(")", 1)
        except OSError:
            continue
        f = rest.split()
        children.setdefault(int(f[1]), []).append(int(entry))
        cpu[int(entry)] = sum(int(x) for x in f[11:15])
        command[int(entry)] = name
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += cpu.get(pid, 0)
        if command.get(pid) == "java":
            total -= _jit_ticks(pid)
        todo.extend(children.get(pid, ()))
    return total / _TICK


class Op:
    """Context manager timing one call and tagging its Spark jobs."""

    def __init__(self, spark, tag: str | None):
        self.spark, self.tag = spark, tag

    def __enter__(self):
        if self.tag:
            self.spark.addTag(self.tag)
        self.t0 = time.time()
        return self

    def __exit__(self, *exc):
        self.t1 = time.time()
        if self.tag:
            self.spark.removeTag(self.tag)
        return False


def copy_fixture(src: str, dst: str) -> str:
    """Copy of a fixture directory at another path.  The program's memos
    and scan caches are keyed by the data path, so every pass over its
    own copy starts with them cold."""
    os.makedirs(dst, exist_ok=True)
    for f in os.listdir(src):
        shutil.copyfile(os.path.join(src, f), os.path.join(dst, f))
    return dst


def more_passes(passes: list[dict], t_start: float, seconds: float, n: int) -> bool:
    """Whether to start another pass: the first always, then up to ``n``
    while the window is open."""
    return not passes or (len(passes) < n and time.time() - t_start < seconds)


def run_queries(spark, qs, names, seconds, traced, work, n=PASSES, label="pass"):
    """Timed window of a query workload: passes over the pinned list, each
    on its own copy of the fixture, building then executing each query
    and keeping the result frames for verification after the window."""
    ops, results, passes = [], {}, []
    t_start = time.time()
    while more_passes(passes, t_start, seconds, n):
        k = len(passes)
        sf = copy_fixture(FIXTURE, os.path.join(work, f"{label}-{k:02d}"))
        p0, c0 = time.time(), tree_cpu_s()
        for name in names:
            i = len(ops)
            row = {"op": i, "pass": k, "name": name, "ok": False}
            c_op = tree_cpu_s()  # read outside the latency window
            t_op = time.time()
            try:
                with Op(spark, f"{TAG}b-{i}" if traced else None) as b:
                    df = qs[name](spark, sf)
                row["build"] = (b.t0, b.t1)
                with Op(spark, f"{TAG}e-{i}" if traced else None) as e:
                    results[i] = df.toPandas()
                row["exec"] = (e.t0, e.t1)
                row["ok"] = True
            except Exception as exc:  # noqa: BLE001 — one op fails, the run goes on
                row["error"] = f"{type(exc).__name__}: {exc}"[:300]
            row["latency_s"] = time.time() - t_op
            row["cpu_s"] = tree_cpu_s() - c_op
            ops.append(row)
        passes.append({"wall_s": time.time() - p0, "cpu_s": tree_cpu_s() - c0})
    return ops, results, passes


def verify_queries(results: dict, ops: list[dict]) -> list[str]:
    """Compare each result with its oracle digest (row count, columns,
    order-insensitive value hash); rows-only queries need rows > 0."""
    from scripts.check_oracle import canon_frame

    with open(os.path.join(HERE, "digests.json")) as fh:
        digests = json.load(fh)["queries"]
    bad = []
    for row in ops:
        name = row["name"]
        if not row["ok"]:
            continue
        want = digests.get(name)
        n, cols, h, _ = canon_frame(results[row["op"]])
        if want is None:
            ok = False
        elif want.get("rows_only"):
            ok = n > 0
        else:
            ok = (n, cols, h) == (want["rows"], want["cols"], want["hash"])
        row["verified"] = ok
        if not ok:
            bad.append(f"{name} (pass {row['pass']})")
    return bad


def run_etl(spark, work, seconds, traced, layer, n=PASSES, label="pass"):
    """Timed window of ``etl_load``: passes, each loading its own copy of
    the day batches into its own tables; returns (ops, table paths of each
    pass, day directories, passes)."""
    from polybot_data_etl_spark import catalog
    from polybot_data_etl_spark.plans.dag import Pipeline, Task
    from polybot_data_etl_spark.sources import repository as repo
    from pyspark.sql import functions as F

    import etl
    import ledger

    with open(os.path.join(work, "etl", "days.json")) as fh:
        day_dirs = json.load(fh)
    ops: list[dict] = []
    amp = {"written": 0, "input": 0}
    dag = {"overhead": 0.0, "retries": 0}
    tables = paths = None  # of the current pass

    def step(kind, name, fn, table=None, input_bytes=0):
        """Run one load step as a timed op; a failure is recorded and
        re-raised, so the DAG skips the step's downstream tasks."""
        row = {"op": len(ops), "pass": len(passes), "name": name, "kind": kind,
               "ok": False}
        ops.append(row)
        before = ledger.dir_files(tables) if traced and input_bytes else None
        c_op = tree_cpu_s()  # read outside the latency window
        try:
            with Op(spark, f"{TAG}e-{row['op']}" if traced else None) as e:
                out = fn()
            row["ok"] = True
        except Exception as exc:  # noqa: BLE001 — recorded, then re-raised
            row["error"] = f"{type(exc).__name__}: {exc}"[:300]
            raise
        finally:
            row["exec"] = (e.t0, e.t1)
            row["latency_s"] = e.t1 - e.t0
            row["cpu_s"] = tree_cpu_s() - c_op
        if before is not None:
            amp["written"] += ledger.bytes_added(before, ledger.dir_files(tables))
            amp["input"] += input_bytes
        return out

    def outside_dag(kind, name, fn):
        try:
            step(kind, name, fn)
        except Exception:  # noqa: BLE001 — already recorded by step()
            pass

    def day_pipeline(day, d):
        eff = etl.effective_ts(day)
        keep = [etl.day_key(day - 1), etl.day_key(day)]

        def facts(spark_, ctx):
            ev = spark_.read.parquet(paths["events"])
            return (
                ev.withColumn("day", F.date_format("ts", "yyyyMMdd").cast("int"))
                .where(F.col("day").isin(keep))
                .groupBy("event_type", "day")
                .agg(
                    F.count(F.lit(1)).alias("n_events"),
                    F.sum(F.round(F.col("value") * 100).cast("long")).alias(
                        "value_cents"
                    ),
                )
            )

        def load(kind, table, fn):
            return lambda spark_, ctx: step(
                kind, f"{kind}:day{day}", lambda: fn(ctx), table,
                etl.batch_bytes(d, table) if table in ("orders", "customer", "events") else 0,
            )

        return Pipeline(
            name=f"day{day}",
            tasks=[
                Task("extract_orders", lambda s, c: catalog.table(s, d, "orders")),
                Task("extract_customer", lambda s, c: catalog.table(s, d, "customer")),
                Task("extract_events", lambda s, c: catalog.table(s, d, "events")),
                Task(
                    "load_orders",
                    load("merge", "orders", lambda c: repo.merge_upsert(
                        spark, paths["orders"], c["extract_orders"], ["o_orderkey"])),
                    ("extract_orders",),
                ),
                Task(
                    "load_customer",
                    load("scd2", "customer", lambda c: repo.scd2_merge(
                        spark, paths["customer"], c["extract_customer"], ["c_custkey"], eff)),
                    ("extract_customer",),
                ),
                Task(
                    "load_events",
                    load("append", "events", lambda c: repo.append_load(
                        c["extract_events"], paths["events"])),
                    ("extract_events",),
                ),
                Task("transform_facts", facts, ("load_events",)),
                Task(
                    "load_facts",
                    load("overwrite", "facts", lambda c: repo.overwrite_partitions(
                        spark, c["transform_facts"], paths["facts"], ["day"])),
                    ("transform_facts",),
                ),
                Task(
                    "read_orders",
                    load("read", None, lambda c: repo.read_table(
                        spark, paths["orders"]).count()),
                    ("load_orders",),
                ),
            ],
        )

    def one_pass(k):
        """Create, load every day, compact and vacuum; returns the
        orders table's space amplification before the vacuum."""
        pass_days = [
            copy_fixture(d, os.path.join(work, f"etl-{label}-{k:02d}", os.path.basename(d)))
            for d in day_dirs
        ]
        outside_dag("create", "create:orders", lambda: repo.create_table(
            catalog.table(spark, FIXTURE, "orders"), paths["orders"], ["o_orderstatus"]))
        outside_dag("create", "create:customer", lambda: repo.create_scd2_table(
            catalog.table(spark, FIXTURE, "customer"), paths["customer"],
            etl.effective_ts(-1)))
        for day, d in enumerate(pass_days):
            t0 = time.time()
            _ctx, runs = day_pipeline(day, d).run(spark)
            wall = time.time() - t0
            dag["overhead"] += wall - sum(r.wall_s for r in runs.values())
            dag["retries"] += sum(max(0, r.attempts - 1) for r in runs.values())
            for r in runs.values():
                # load steps record their own failures; these are the rest
                if r.status == "failed" and r.name.startswith(("extract", "transform")):
                    ops.append({"op": len(ops), "pass": k, "name": f"{r.name}:day{day}",
                                "kind": "dag", "ok": False, "error": r.error,
                                "latency_s": r.wall_s})
        outside_dag("compact", "compact:orders",
                    lambda: repo.compact_table(spark, paths["orders"]))
        on_disk = ledger.dir_files(paths["orders"])
        current = repo.current_version(paths["orders"])
        outside_dag("vacuum", "vacuum:orders", lambda: repo.vacuum(paths["orders"]))
        return ledger.space_amp(on_disk, current)

    passes: list[dict] = []
    all_paths = []
    t_start = time.time()
    while more_passes(passes, t_start, seconds, n):
        tables = os.path.join(work, f"tables-{label}-{len(passes):02d}")
        paths = {t: os.path.join(tables, t) for t in ("orders", "customer", "events", "facts")}
        all_paths.append(paths)
        p0, c0 = time.time(), tree_cpu_s()
        amp_k = one_pass(len(passes))
        passes.append({"wall_s": time.time() - p0, "cpu_s": tree_cpu_s() - c0,
                       "space_amp": amp_k})
    n = len(passes)
    layer["dag.overhead_s"] = dag["overhead"] / n
    layer["dag.retries"] = dag["retries"] / n
    layer["repository.write_amp"] = amp["written"] / amp["input"] if amp["input"] else 0.0
    layer["repository.space_amp"] = sum(p["space_amp"] for p in passes) / n
    return ops, all_paths, day_dirs, passes


def verify_etl(spark, all_paths, day_dirs, work) -> list[str]:
    """Final tables of every pass against a DuckDB replay of the same
    batches."""
    import duckdb
    from polybot_data_etl_spark.sources import repository as repo
    from scripts.check_oracle import canon_frame

    import etl

    con = duckdb.connect()
    con.execute("SET threads = 1")
    con.execute("SET memory_limit = '512MB'")
    con.execute(f"SET temp_directory = '{os.path.join(work, 'duckdb-tmp')}'")
    expected = etl.replay_expected(con, FIXTURE, day_dirs)
    want = {name: canon_frame(con.execute(sql).fetchdf())[:3] for name, sql in expected.items()}
    con.close()
    bad = []
    for k, paths in enumerate(all_paths):
        got = {
            "orders": repo.read_table(spark, paths["orders"]),
            "customer": repo.read_table(spark, paths["customer"]),
            "events": spark.read.parquet(paths["events"]),
            "facts": spark.read.parquet(paths["facts"]),
        }
        for name, df in got.items():
            a, b = canon_frame(df.toPandas())[:3], want[name]
            if a != b:
                bad.append(f"pass {k} {name}: spark {a[0]} rows {a[2]}"
                           f" vs duckdb {b[0]} rows {b[2]}")
    return bad


def op_windows(ops: list[dict]) -> list[tuple[str, float, float]]:
    """(tag, start, end) of every op phase, for jobs Spark submits
    without the calling thread's tags."""
    return [
        (f"{TAG}{letter}-{op['op']}", *op[phase])
        for op in ops
        for phase, letter in (("build", "b"), ("exec", "e"))
        if op.get(phase)
    ]


def layer_totals(ops: list[dict], by_tag: dict[str, dict], layer: dict) -> list[dict]:
    """Fold per-tag counters into per-layer totals and per-op ledger rows."""
    import ledger

    keys = ("jobs", "stages", "tasks", "failed_tasks", "queue_s", "task_wait_s",
            "executor_run_s",
            "executor_cpu_s", "gc_s", "shuffle_read_bytes", "shuffle_write_bytes",
            "spill_bytes", "input_bytes")
    rows = []
    for op in ops:
        row = {"op": op["op"], "name": op["name"], "ok": op["ok"],
               "latency_s": op["latency_s"], "cpu_s": op.get("cpu_s")}
        for phase, letter in (("build", "b"), ("exec", "e")):
            span = op.get(phase)
            if not span:
                continue
            c = by_tag.get(f"{TAG}{letter}-{op['op']}", {})
            wall = span[1] - span[0]
            jobs_s = ledger.covered_s(c.get("job_intervals", []), span[0], span[1])
            row[f"{phase}.wall_s"] = wall
            row[f"{phase}.job_wall_s"] = jobs_s
            row[f"{phase}.driver_s"] = wall - jobs_s
            for k in keys:
                row[f"{phase}.{k}"] = c.get(k, 0)
            for k in ("wall_s", "job_wall_s", "driver_s") + keys:
                layer[f"{phase}.{k}"] = layer.get(f"{phase}.{k}", 0) + row[f"{phase}.{k}"]
        rows.append(row)
    return rows


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--spawned-at", type=float, required=True)
    args = ap.parse_args()
    sys.path[:0] = [ROOT, HERE]
    traced = bool(args.trace)
    work = args.work
    layer: dict[str, float] = {}

    import bench
    from polybot_data_etl_spark import catalog

    import workloads

    t = time.time()
    spark = _session(args, work, traced)
    layer["session.build_s"] = time.time() - t
    t = time.time()
    import __spark_entry__

    qs = __spark_entry__.queries()
    layer["registry.load_s"] = time.time() - t
    if traced:  # a per-layer figure; the untimed run leaves it out of set-up
        for key in ("catalog.table_cold_s", "catalog.table_warm_s"):
            t = time.time()
            for name in catalog.TABLES:
                catalog.table(spark, FIXTURE, name)
            layer[key] = time.time() - t
    # one untimed pass of the same ops on data of its own: the JIT and
    # codegen caches are warm in the window, the program's memos are not.
    # Set-up includes it, so work a change moves out of the timed passes
    # into a first call still shows.
    t = time.time()
    if args.workload == "etl_load":
        run_etl(spark, work, 0, False, {}, n=1, label="warm")
    else:
        run_queries(spark, qs, workloads.QUERY_WORKLOADS[args.workload], 0, False,
                    work, n=1, label="warm")
    warmup_s = time.time() - t
    setup_s = time.time() - args.spawned_at
    setup_cpu_s = tree_cpu_s()

    noise = {"loadavg_start": list(os.getloadavg())}
    steal = bench.StealSampler(interval=1.0).start()
    if args.workload == "etl_load":
        ops, all_paths, day_dirs, passes = run_etl(spark, work, args.seconds, traced, layer)
        results = None
    else:
        ops, results, passes = run_queries(
            spark, qs, workloads.QUERY_WORKLOADS[args.workload], args.seconds, traced, work
        )
    noise["steal"] = steal.stop()
    noise["loadavg_end"] = list(os.getloadavg())

    out = {
        "setup_s": setup_s,
        "setup_cpu_s": setup_cpu_s,
        "warmup_s": warmup_s,
        "passes": passes,
        "ops": ops,
        "noise": noise,
        "layer": layer,
    }
    if results is None:
        import etl

        out["mismatches"] = verify_etl(spark, all_paths, day_dirs, work)
        out["rows_loaded"] = sum(
            etl.BATCH_ROWS.get(o["kind"], 0) for o in ops if o["ok"]
        )
    else:
        out["mismatches"] = verify_queries(results, ops)
    spark.stop()
    if traced:
        import ledger

        (log,) = glob.glob(os.path.join(work, "eventlog", "*"))
        by_tag, storage = ledger.fold_event_log(log, TAG, op_windows(ops))
        out["ledger"] = layer_totals(ops, by_tag, layer)
        layer["storage.pinned_bytes_peak"] = storage["pinned_bytes_peak"]
        layer["storage.pinned_bytes_end"] = storage["pinned_bytes_end"]
        # every pass does the same work on its own data: report per pass
        # (pinned blocks stay pinned, those of the warm-up pass too)
        for key in layer:
            if key.startswith(("build.", "exec.")):
                layer[key] /= len(passes)
            elif key.startswith("storage."):
                layer[key] /= len(passes) + 1
    with open(os.path.join(work, "result.json"), "w") as fh:
        json.dump(out, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
