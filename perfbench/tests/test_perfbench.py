"""Self-tests of the benchmark's own arithmetic.

Run from the repository root::

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import glob
import os
import random
import statistics
import sys
import time

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import ledger  # noqa: E402


def test_percentile_matches_inclusive_quantiles():
    rng = random.Random(7)
    for n in (2, 3, 10, 31, 101):
        xs = [rng.random() for _ in range(n)]
        cuts = statistics.quantiles(xs, n=10, method="inclusive")
        assert ledger.percentile(xs, 50) == pytest.approx(statistics.median(xs))
        assert ledger.percentile(xs, 90) == pytest.approx(cuts[-1])
    assert ledger.percentile([4.0], 90) == 4.0
    with pytest.raises(ValueError):
        ledger.percentile([], 50)


def test_samples_beyond_the_percentile():
    # ten samples beyond p90 need at least 92 of them
    assert ledger.samples_beyond(92, 90) == 10
    assert ledger.samples_beyond(91, 90) == 9
    assert ledger.samples_beyond(31, 90) == 3
    assert ledger.samples_beyond(21, 50) == 10
    for n in range(1, 120):
        xs = list(range(n))
        for q in (50, 90):
            p = ledger.percentile(xs, q)
            assert sum(x > p for x in xs) == ledger.samples_beyond(n, q)


def test_end_to_end_takes_each_ops_best_pass():
    import run

    def op(name, ok, lat, cpu):
        return {"name": name, "ok": ok, "latency_s": lat, "cpu_s": cpu}

    ops = [
        op("a", True, 3.0, 6.0), op("b", True, 1.0, 2.5),
        op("a", True, 2.0, 5.0), op("b", False, 0.1, 0.1),  # failed: not counted
        op("a", True, 2.5, 4.0), op("b", True, 1.5, 2.0),
    ]
    assert run.op_minima(ops, "latency_s") == {"a": 2.0, "b": 1.0}
    assert run.op_minima(ops, "cpu_s") == {"a": 4.0, "b": 2.0}
    res = {
        "setup_s": 12.0, "setup_cpu_s": 9.0, "warmup_s": 5.0, "ops": ops,
        "mismatches": ["a (pass 2)"],
        "passes": [{"wall_s": 4.0, "cpu_s": 8.0}, {"wall_s": 3.5, "cpu_s": 9.0}],
    }
    metrics, extra = run.end_to_end(res, 100.0)
    assert set(metrics) == set(run.END_TO_END)
    assert metrics["cpu_s"] == 8.0 and extra["wall_s"] == 3.5
    assert extra["op_cpu_p50_s"] == pytest.approx(3.0)
    assert metrics["op_cpu_p90_s"] == pytest.approx(3.8)
    assert extra["latency_p50_s"] == pytest.approx(1.5)
    assert extra["latency_p90_s"] == pytest.approx(1.9)
    assert metrics["setup_s"] == 9.0 and extra["setup_wall_s"] == 12.0
    assert metrics["peak_rss_mb"] == 100.0
    # one failed op and one verification mismatch
    assert extra["failed"] == 2
    assert extra["error_rate"] == pytest.approx(2 / 6)


def test_covered_counts_overlaps_once_and_clips_to_the_window():
    assert ledger.covered_s([], 0.0, 5.0) == 0.0
    assert ledger.covered_s([(1.0, 2.0), (1.5, 3.0)], 0.0, 5.0) == pytest.approx(2.0)
    assert ledger.covered_s([(1.0, 2.0), (3.0, 4.0)], 0.0, 5.0) == pytest.approx(2.0)
    # clipped at both ends; an interval outside the window adds nothing
    assert ledger.covered_s([(-1.0, 1.0), (4.0, 9.0), (6.0, 7.0)], 0.0, 5.0) == (
        pytest.approx(2.0)
    )
    # never more than the window, so driver time is never negative
    assert ledger.covered_s([(-9.0, 9.0)], 2.0, 3.0) == pytest.approx(1.0)


def test_write_and_space_accounting(tmp_path):
    def put(rel, size):
        p = tmp_path / rel
        p.parent.mkdir(parents=True, exist_ok=True)
        p.write_bytes(b"x" * size)

    put("v-1/a.parquet", 100)
    put("_MANIFEST", 5)
    before = ledger.dir_files(str(tmp_path))
    assert ledger.dir_bytes(before) == 105
    # a write adds a version and rewrites the manifest
    put("v-2/a.parquet", 70)
    put("v-2/b.parquet", 30)
    os.utime(tmp_path / "_MANIFEST", ns=(1, 1))
    after = ledger.dir_files(str(tmp_path))
    assert ledger.bytes_added(before, after) == 105
    assert ledger.bytes_added(after, after) == 0
    # space amplification: everything on disk over the current version
    assert ledger.space_amp(after, "v-2") == pytest.approx(205 / 100)
    assert ledger.dir_bytes(after, "v-2" + os.sep) == 100
    assert ledger.dir_files(str(tmp_path / "absent")) == {}


@pytest.fixture(scope="module")
def traced_run(tmp_path_factory):
    """A tiny tagged run (sf0.001-sized slice of the fixture) with an
    event log, plus the status tracker's view of the same jobs."""
    import pyarrow.parquet as pq

    from polybot_data_etl_spark.session import build_session

    import __spark_entry__
    import worker

    tmp = tmp_path_factory.mktemp("trace")
    sf = tmp / "sf"
    sf.mkdir()
    for f in os.listdir(worker.FIXTURE):
        t = pq.read_table(os.path.join(worker.FIXTURE, f))
        pq.write_table(t.slice(0, max(25, t.num_rows // 10)), str(sf / f))
    spark = build_session(
        app_name="perfbench-selftest",
        master="local[2]",
        shuffle_partitions=4,
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(tmp),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.logBlockUpdates.enabled": "true",
        },
    )
    qs = __spark_entry__.queries()
    ops = []
    for i, name in enumerate(("q_agg_q1", "q_dedup_minhash")):
        row = {"op": i, "name": name, "ok": True}
        with worker.Op(spark, f"{worker.TAG}b-{i}") as b:
            df = qs[name](spark, str(sf))
        with worker.Op(spark, f"{worker.TAG}e-{i}") as e:
            df.toPandas()
        row.update(build=(b.t0, b.t1), exec=(e.t0, e.t1), latency_s=e.t1 - b.t0)
        ops.append(row)
    st = spark.sparkContext.statusTracker()

    def tracker_view() -> dict:
        jobs = st.getJobIdsForGroup(None)
        stage_ids = {s for j in jobs for s in st.getJobInfo(j).stageIds}
        ran = [i for i in map(st.getStageInfo, stage_ids) if i is not None]
        return {
            "jobs": len(jobs),
            "stages": sum(1 for i in ran if i.numCompletedTasks > 0),
            "tasks": sum(i.numCompletedTasks for i in ran),
        }

    # the tracker is fed by the listener bus asynchronously: read it until
    # two reads half a second apart agree
    tracker, deadline = tracker_view(), time.time() + 20
    while time.time() < deadline:
        time.sleep(0.5)
        again = tracker_view()
        if again == tracker:
            break
        tracker = again
    spark.stop()
    (log,) = glob.glob(str(tmp / "local-*"))
    by_tag, storage = ledger.fold_event_log(log, worker.TAG, worker.op_windows(ops))
    return ops, by_tag, storage, tracker


def test_event_log_fold_agrees_with_status_tracker(traced_run):
    _ops, by_tag, _storage, tracker = traced_run
    total = {k: sum(c[k] for c in by_tag.values()) for k in ("jobs", "stages", "tasks")}
    assert total == tracker
    assert total["jobs"] > 0


def test_build_time_jobs_and_driver_time_add_up(traced_run):
    import worker

    ops, by_tag, storage, _tracker = traced_run
    layer: dict = {}
    rows = worker.layer_totals(ops, by_tag, layer)
    for row in rows:
        for phase in ("build", "exec"):
            assert row[f"{phase}.driver_s"] >= 0.0
            assert row[f"{phase}.driver_s"] + row[f"{phase}.job_wall_s"] == (
                pytest.approx(row[f"{phase}.wall_s"])
            )
    # MinHash runs jobs while its plan is built (memo fill and checkpoint
    # cuts); those land in the build tag, not the execution tag
    assert rows[1]["build.jobs"] > 0
    assert rows[1]["build.job_wall_s"] > 0.0
    assert layer["build.wall_s"] == pytest.approx(
        layer["build.driver_s"] + layer["build.job_wall_s"]
    )
    assert storage["pinned_bytes_peak"] >= storage["pinned_bytes_end"] >= 0
