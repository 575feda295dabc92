"""Repository layer (sources/repository.py): keyed upsert semantics,
idempotence, manifest-swap commit isolation, and dynamic
partition-overwrite isolation."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from polybot_data_etl_spark.catalog import table
from polybot_data_etl_spark.sources import repository as repo


@pytest.fixture()
def seeded_table(spark, sf_dir, tmp_path):
    path = str(tmp_path / "cust_repo")
    repo.create_table(table(spark, sf_dir, "customer"), path)
    return path


def test_upsert_updates_inserts_preserves(spark, seeded_table):
    before = repo.read_table(spark, seeded_table)
    n_before = before.count()
    # update two existing keys, insert one new key
    updates = spark.createDataFrame(
        [
            (1, "UPDATED-1", 0, 999.99, "BUILDING"),
            (2, "UPDATED-2", 1, 888.88, "MACHINERY"),
            (10_000_001, "NEW", 2, 1.23, "HOUSEHOLD"),
        ],
        before.schema.names,
    ).select(
        *[F.col(c).cast(t) for c, t in zip(before.schema.names,
                                           [f.dataType.simpleString()
                                            for f in before.schema.fields])]
    )
    orig3 = before.filter(F.col("c_custkey") == 3).collect()[0]
    repo.merge_upsert(spark, seeded_table, updates, ["c_custkey"])
    after = repo.read_table(spark, seeded_table)
    assert after.count() == n_before + 1
    got = {
        r["c_custkey"]: r["c_name"]
        for r in after.filter(
            F.col("c_custkey").isin(1, 2, 3, 10_000_001)
        ).collect()
    }
    assert got[1] == "UPDATED-1" and got[2] == "UPDATED-2"
    assert got[10_000_001] == "NEW"
    assert got[3] == orig3["c_name"]  # untouched key preserved verbatim


def test_upsert_idempotent(spark, seeded_table):
    before = repo.read_table(spark, seeded_table)
    updates = spark.createDataFrame(
        before.filter(F.col("c_custkey") < 5)
        .withColumn("c_acctbal", F.lit(42.0))
        .collect(),
        before.schema,
    )
    repo.merge_upsert(spark, seeded_table, updates, ["c_custkey"])
    once = repo.read_table(spark, seeded_table).toPandas()
    repo.merge_upsert(spark, seeded_table, updates, ["c_custkey"])
    twice = repo.read_table(spark, seeded_table).toPandas()
    from polybot_data_etl_spark.testing import frames_match

    ok, why = frames_match(
        once.sort_values("c_custkey").reset_index(drop=True),
        twice.sort_values("c_custkey").reset_index(drop=True),
    )
    assert ok, why


def _version_dirs(path):
    return sorted(e for e in os.listdir(path) if e.startswith("v-"))


def test_upsert_rejects_duplicate_update_keys(spark, seeded_table):
    """A batch repeating a key — NULL keys compare equal, as under
    DISTINCT — is rejected before anything is written: the manifest and
    the version directories are left as they were."""
    before = repo.read_table(spark, seeded_table)
    dup = before.limit(1).unionAll(before.limit(1))
    null_dup = before.limit(2).withColumn(
        "c_custkey", F.lit(None).cast(before.schema["c_custkey"].dataType)
    )
    version, dirs = repo.current_version(seeded_table), _version_dirs(seeded_table)
    for batch in (dup, null_dup):
        with pytest.raises(ValueError, match="key-unique"):
            repo.merge_upsert(spark, seeded_table, batch, ["c_custkey"])
    assert repo.current_version(seeded_table) == version
    assert _version_dirs(seeded_table) == dirs
    # a single NULL key is unique
    repo.merge_upsert(spark, seeded_table, null_dup.limit(1), ["c_custkey"])
    assert repo.current_version(seeded_table) != version


def test_scd2_rejects_duplicate_null_keys(spark, tmp_path):
    path = str(tmp_path / "dim_scd2_nullkey")
    repo.create_scd2_table(
        _dim(spark, [(1, "alice", "gold")]), path, "2024-01-01 00:00:00"
    )
    version, dirs = repo.current_version(path), _version_dirs(path)
    batch = _dim(spark, [(None, "x", "a"), (None, "y", "b")])
    with pytest.raises(ValueError, match="key-unique"):
        repo.scd2_merge(spark, path, batch, ["k"], "2024-02-01 00:00:00")
    assert repo.current_version(path) == version
    assert _version_dirs(path) == dirs


def test_concurrent_reader_snapshot_isolation(spark, seeded_table):
    """A reader that resolved the table BEFORE a merge keeps reading its
    immutable version files after the commit — it sees the old snapshot
    in full, never a half-written or vanished table."""
    old_reader = repo.read_table(spark, seeded_table)  # lazy: resolves v1
    old_version = repo.current_version(seeded_table)
    n_before = old_reader.count()
    bal3_before = old_reader.filter(F.col("c_custkey") == 3).collect()[0][
        "c_acctbal"
    ]

    updates = spark.createDataFrame(
        repo.read_table(spark, seeded_table)
        .filter(F.col("c_custkey") == 3)
        .withColumn("c_acctbal", F.lit(-777.0))
        .collect(),
        old_reader.schema,
    )
    repo.merge_upsert(spark, seeded_table, updates, ["c_custkey"])

    # the commit moved the manifest…
    assert repo.current_version(seeded_table) != old_version
    # …but the old snapshot still reads completely and unchanged
    assert old_reader.count() == n_before
    got3 = old_reader.filter(F.col("c_custkey") == 3).collect()[0]["c_acctbal"]
    assert got3 == bal3_before
    # while a fresh resolve sees the merged data
    new3 = (
        repo.read_table(spark, seeded_table)
        .filter(F.col("c_custkey") == 3)
        .collect()[0]["c_acctbal"]
    )
    assert new3 == -777.0


def test_vacuum_reclaims_old_versions(spark, seeded_table):
    updates = spark.createDataFrame(
        repo.read_table(spark, seeded_table)
        .filter(F.col("c_custkey") == 1)
        .withColumn("c_acctbal", F.lit(1.0))
        .collect(),
        repo.read_table(spark, seeded_table).schema,
    )
    repo.merge_upsert(spark, seeded_table, updates, ["c_custkey"])
    versions = [
        e for e in os.listdir(seeded_table) if e.startswith("v-")
    ]
    assert len(versions) == 2  # old retained for in-flight readers
    removed = repo.vacuum(seeded_table)
    assert len(removed) == 1
    left = [e for e in os.listdir(seeded_table) if e.startswith("v-")]
    assert left == [repo.current_version(seeded_table)]
    # table still reads fine after vacuum
    assert repo.read_table(spark, seeded_table).count() > 0


def test_legacy_plain_parquet_migrates(spark, sf_dir, tmp_path):
    """merge_upsert on a pre-managed plain parquet dir adopts it into
    the managed layout, then merges normally."""
    path = str(tmp_path / "legacy_repo")
    table(spark, sf_dir, "customer").write.parquet(path)
    assert not repo.is_managed(path)
    updates = spark.createDataFrame(
        spark.read.parquet(path)
        .filter(F.col("c_custkey") == 1)
        .withColumn("c_name", F.lit("MIGRATED"))
        .collect(),
        spark.read.parquet(path).schema,
    )
    repo.merge_upsert(spark, path, updates, ["c_custkey"])
    assert repo.is_managed(path)
    got = (
        repo.read_table(spark, path)
        .filter(F.col("c_custkey") == 1)
        .collect()[0]["c_name"]
    )
    assert got == "MIGRATED"


def test_dynamic_partition_overwrite_isolation(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Only the batch's partitions are replaced, by the per-write option:
    the session-wide overwrite mode is never written, so another thread's
    STATIC overwrite on the same session keeps its meaning."""
    from pyspark.sql.conf import RuntimeConfig

    conf_key = "spark.sql.sources.partitionOverwriteMode"
    writes = []
    real_set = RuntimeConfig.set

    def spy_set(self, key, value):
        writes.append(key)
        return real_set(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", spy_set)
    mode_before = spark.conf.get(conf_key)
    assert mode_before.upper() == "STATIC"

    path = str(tmp_path / "orders_by_status")
    orders = table(spark, sf_dir, "orders")
    repo.overwrite_partitions(spark, orders, path, ["o_orderstatus"])
    statuses = {
        r["o_orderstatus"]
        for r in spark.read.parquet(path).select("o_orderstatus").distinct().collect()
    }
    assert len(statuses) >= 2

    # rewrite ONLY the 'O' partition with a single marker row
    one = orders.filter(F.col("o_orderstatus") == "O").limit(1).withColumn(
        "o_totalprice", F.lit(-1.0)
    )
    repo.overwrite_partitions(spark, one, path, ["o_orderstatus"])
    after = spark.read.parquet(path)
    # 'O' partition replaced…
    o_part = after.filter(F.col("o_orderstatus") == "O").collect()
    assert len(o_part) == 1 and o_part[0]["o_totalprice"] == -1.0
    # …every other partition untouched
    other_before = orders.filter(F.col("o_orderstatus") != "O").count()
    other_after = after.filter(F.col("o_orderstatus") != "O").count()
    assert other_before == other_after
    assert conf_key not in writes
    assert spark.conf.get(conf_key) == mode_before


def _dim(spark, rows):
    return spark.createDataFrame(rows, "k int, name string, tier string")


def test_scd2_merge_tracks_history(spark, tmp_path):
    path = str(tmp_path / "dim_scd2")
    repo.create_scd2_table(
        _dim(spark, [(1, "alice", "gold"), (2, "bob", "silver")]),
        path,
        "2024-01-01 00:00:00",
    )
    # tier change for k=1, no-op for k=2, new key k=3
    repo.scd2_merge(
        spark,
        path,
        _dim(spark, [(1, "alice", "platinum"), (2, "bob", "silver"),
                     (3, "carol", "bronze")]),
        ["k"],
        "2024-02-01 00:00:00",
    )
    t = repo.read_table(spark, path)
    assert t.count() == 4  # closed v1 of k=1 + open k=1,2,3
    cur = {r.k: r for r in t.filter("is_current").collect()}
    assert set(cur) == {1, 2, 3}
    assert cur[1].tier == "platinum"
    assert str(cur[1].valid_from).startswith("2024-02-01")
    assert str(cur[2].valid_from).startswith("2024-01-01")  # untouched
    closed = t.filter(~F.col("is_current")).collect()
    assert len(closed) == 1 and closed[0].k == 1
    assert closed[0].tier == "gold"
    assert str(closed[0].valid_to).startswith("2024-02-01")


def test_scd2_merge_idempotent(spark, tmp_path):
    path = str(tmp_path / "dim_scd2_idem")
    repo.create_scd2_table(
        _dim(spark, [(1, "alice", "gold")]), path, "2024-01-01 00:00:00"
    )
    batch = _dim(spark, [(1, "alice", "platinum")])
    repo.scd2_merge(spark, path, batch, ["k"], "2024-02-01 00:00:00")
    once = sorted(map(tuple, repo.read_table(spark, path).collect()))
    repo.scd2_merge(spark, path, batch, ["k"], "2024-03-01 00:00:00")
    twice = sorted(map(tuple, repo.read_table(spark, path).collect()))
    assert once == twice  # equal attrs -> no new version rows


def test_scd2_null_attr_transitions(spark, tmp_path):
    """NULL -> value and value -> NULL both count as changes; NULL ->
    NULL does not (eqNullSafe semantics)."""
    path = str(tmp_path / "dim_scd2_null")
    repo.create_scd2_table(
        _dim(spark, [(1, "alice", None), (2, "bob", None)]),
        path,
        "2024-01-01 00:00:00",
    )
    repo.scd2_merge(
        spark,
        path,
        _dim(spark, [(1, "alice", "gold"), (2, "bob", None)]),
        ["k"],
        "2024-02-01 00:00:00",
    )
    t = repo.read_table(spark, path)
    assert t.count() == 3  # k=1 closed+new, k=2 untouched
    assert t.filter("k = 2").count() == 1


def test_scd2_three_days_keeps_every_closed_row(spark, tmp_path):
    """A key changed on two successive days leaves both closed rows
    verbatim (the first one is history by day 3, carried through the
    join alone) and exactly one open row."""
    path = str(tmp_path / "dim_scd2_days")
    repo.create_scd2_table(
        _dim(spark, [(1, "alice", "gold"), (2, "bob", "silver")]),
        path,
        "2024-01-01 00:00:00",
    )
    days = [
        ("2024-02-01 00:00:00", [(1, "alice", "platinum"), (2, "bob", "silver")]),
        ("2024-03-01 00:00:00", [(1, "alice", "diamond"), (2, "bob", "silver")]),
        ("2024-04-01 00:00:00", [(1, "alice", "diamond")]),
    ]
    for eff, rows in days:
        repo.scd2_merge(spark, path, _dim(spark, rows), ["k"], eff)

    got = {
        (r.k, r.tier, str(r.valid_from)[:10],
         None if r.valid_to is None else str(r.valid_to)[:10], r.is_current)
        for r in repo.read_table(spark, path).collect()
    }
    assert got == {
        (1, "gold", "2024-01-01", "2024-02-01", False),
        (1, "platinum", "2024-02-01", "2024-03-01", False),
        (1, "diamond", "2024-03-01", None, True),
        (2, "silver", "2024-01-01", None, True),
    }


def _physical_nodes(df) -> list:
    """Every node of ``df``'s physical plan (JVM objects)."""
    nodes, stack = [], [df._jdf.queryExecution().sparkPlan()]
    while stack:
        node = stack.pop()
        nodes.append(node)
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return nodes


def test_scd2_plan_scans_target_once_with_one_join(spark, tmp_path):
    """SCD-2 merge plan shape: exactly one join and exactly one file scan
    of the target's version directory.  The plan must contain a real
    FileScan, so the counts can't pass on a plan that hides its inputs."""
    path = str(tmp_path / "dim_scd2_plan")
    repo.create_scd2_table(
        _dim(spark, [(1, "alice", "gold"), (2, "bob", "silver")]),
        path,
        "2024-01-01 00:00:00",
    )
    repo.scd2_merge(
        spark, path, _dim(spark, [(1, "alice", "platinum")]), ["k"],
        "2024-02-01 00:00:00",
    )  # the target now holds a history row too
    target = repo.read_table(spark, path)
    merged = repo._scd2_plan(
        target, _dim(spark, [(1, "alice", "diamond"), (3, "carol", "tin")]),
        ["k"], "2024-03-01 00:00:00",
    )
    nodes = _physical_nodes(merged)
    kinds = [n.getClass().getSimpleName() for n in nodes]
    scans = [n for n, k in zip(nodes, kinds) if k == "FileSourceScanExec"]
    assert scans, f"no FileScan in the plan: {kinds}"
    vdir = os.path.join(path, repo.current_version(path))
    scanned = [
        str(s.relation().location().rootPaths().apply(0)) for s in scans
    ]
    assert sum(p.endswith(vdir) for p in scanned) == 1, scanned
    joins = [k for k in kinds if k.endswith("JoinExec") or k == "CartesianProductExec"]
    assert len(joins) == 1, kinds
    assert merged.count() == 5  # history + closed + kept + 2 fresh


def test_read_table_schema_matches_inference(spark, sf_dir, tmp_path):
    """A version read through its pinned ``_SCHEMA`` has the column
    names, order and types a footer-inferring read of the same
    directory has — unpartitioned, string- and date-partitioned."""
    cases = {
        "plain": (table(spark, sf_dir, "customer"), None),
        "by_status": (table(spark, sf_dir, "orders"), ["o_orderstatus"]),
        "by_date": (
            table(spark, sf_dir, "events").withColumn(
                "event_date", F.to_date("ts")
            ),
            ["event_date"],
        ),
    }
    for name, (df, part) in cases.items():
        path = str(tmp_path / name)
        repo.create_table(df, path, partition_by=part)
        vdir = os.path.join(path, repo.current_version(path))
        assert os.path.exists(os.path.join(vdir, repo.SCHEMA))
        pinned = repo.read_table(spark, path)
        inferred = spark.read.parquet(vdir)
        assert pinned.dtypes == inferred.dtypes, name
        assert pinned.count() == df.count(), name


def test_version_without_schema_file_still_reads(spark, sf_dir, tmp_path):
    """Versions written before ``_SCHEMA`` existed, and migrated legacy
    directories, read through schema inference."""
    path = str(tmp_path / "no_schema")
    base = table(spark, sf_dir, "customer")
    repo.create_table(base, path)
    vdir = os.path.join(path, repo.current_version(path))
    os.remove(os.path.join(vdir, repo.SCHEMA))
    got = repo.read_table(spark, path)
    assert got.dtypes == base.dtypes
    assert got.count() == base.count()

    legacy = str(tmp_path / "legacy_no_schema")
    base.write.parquet(legacy)
    repo._migrate_legacy(legacy)
    vdir = os.path.join(legacy, repo.current_version(legacy))
    assert not os.path.exists(os.path.join(vdir, repo.SCHEMA))
    assert repo.read_table(spark, legacy).count() == base.count()


def test_time_travel_reads_past_versions(spark, tmp_path):
    path = str(tmp_path / "tt")
    repo.create_table(
        spark.createDataFrame([(1, "a")], "k int, v string"), path
    )
    repo.merge_upsert(
        spark,
        path,
        spark.createDataFrame([(1, "b"), (2, "c")], "k int, v string"),
        ["k"],
    )
    versions = repo.list_versions(path)
    assert len(versions) == 2
    assert versions[-1] == repo.current_version(path)
    v0 = {(r.k, r.v) for r in repo.read_table(spark, path, -2).collect()}
    assert v0 == {(1, "a")}
    cur = {(r.k, r.v) for r in repo.read_table(spark, path).collect()}
    assert cur == {(1, "b"), (2, "c")}
    # by explicit name too
    assert {
        (r.k, r.v)
        for r in repo.read_table(spark, path, versions[0]).collect()
    } == {(1, "a")}


def test_time_travel_vacuumed_version_raises(spark, tmp_path):
    path = str(tmp_path / "ttv")
    repo.create_table(
        spark.createDataFrame([(1, "a")], "k int, v string"), path
    )
    repo.merge_upsert(
        spark,
        path,
        spark.createDataFrame([(1, "b")], "k int, v string"),
        ["k"],
    )
    old = repo.list_versions(path)[0]
    removed = repo.vacuum(path)
    assert old in removed
    assert repo.list_versions(path) == [repo.current_version(path)]
    with pytest.raises(KeyError, match="vacuumed or never"):
        repo.read_table(spark, path, old)


def test_partitioned_table_layout_survives_merge_and_prunes(
    spark, sf_dir, tmp_path
):
    """A managed table created with a partition spec keeps hive
    partitioning across merge_upsert and compact_table versions, and a
    partition-key predicate prunes (PartitionFilters) on every
    snapshot."""
    path = str(tmp_path / "events_part")
    e = table(spark, sf_dir, "events").withColumn(
        "event_date", F.to_date("ts")
    )
    repo.create_table(e, path, partition_by=["event_date"])
    assert repo.table_spec(path)["partition_by"] == ["event_date"]

    # version dir is hive-partitioned
    vdir = os.path.join(path, repo.current_version(path))
    assert any(d.startswith("event_date=") for d in os.listdir(vdir))

    # upsert one changed row: the NEW version is partitioned too
    upd = e.filter(F.col("event_id") == 1).withColumn(
        "value", F.lit(123.45)
    )
    repo.merge_upsert(spark, path, upd, ["event_id"])
    vdir2 = os.path.join(path, repo.current_version(path))
    assert vdir2 != vdir
    assert any(d.startswith("event_date=") for d in os.listdir(vdir2))

    got = repo.read_table(spark, path)
    assert got.count() == e.count()
    assert (
        got.filter(F.col("event_id") == 1).select("value").first()[0]
        == 123.45
    )

    # partition pruning in the plan on the current snapshot
    one_day = got.filter(F.col("event_date") == "2024-01-05")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = one_day._jdf.queryExecution().explainString(mode)
    assert "PartitionFilters" in plan
    assert "event_date" in plan.split("PartitionFilters")[1][:200]
    assert one_day.count() > 0

    # compaction honors the spec as well; time travel intact
    repo.compact_table(spark, path, target_file_rows=10_000)
    vdir3 = os.path.join(path, repo.current_version(path))
    assert any(d.startswith("event_date=") for d in os.listdir(vdir3))
    assert repo.read_table(spark, path).count() == e.count()
    assert repo.read_table(spark, path, version=-2).count() == e.count()


def test_writer_lock_serializes_concurrent_upserts(spark, sf_dir, tmp_path):
    """Two writers merging DISJOINT key sets concurrently must both
    land (the lock serializes the read-merge-swap sequence; an unlocked
    race would let the last swap silently drop the other's commit)."""
    import threading

    path = str(tmp_path / "locked_repo")
    base = table(spark, sf_dir, "customer")
    repo.create_table(base, path)

    def mk_update(key_val, name):
        return (
            base.filter(F.col("c_custkey") == key_val)
            .withColumn("c_name", F.lit(name))
        )

    errs = []

    def writer(key_val, name):
        try:
            repo.merge_upsert(
                spark, path, mk_update(key_val, name), ["c_custkey"]
            )
        except Exception as exc:  # noqa: BLE001 — surfaced below
            errs.append(exc)

    t1 = threading.Thread(target=writer, args=(1, "W1"))
    t2 = threading.Thread(target=writer, args=(2, "W2"))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errs, errs

    final = repo.read_table(spark, path)
    assert final.count() == base.count()
    assert final.filter(F.col("c_custkey") == 1).first().c_name == "W1"
    assert final.filter(F.col("c_custkey") == 2).first().c_name == "W2"
    # lock released
    assert not os.path.exists(os.path.join(path, repo.LOCK))


def test_writer_lock_serializes_concurrent_scd2_merges(spark, tmp_path):
    """Two SCD-2 merges on DISJOINT keys must both land: the target is
    read under the writer lock, so the second merge starts from the
    first one's commit instead of a stale snapshot."""
    import threading

    path = str(tmp_path / "locked_dim")
    repo.create_scd2_table(
        _dim(spark, [(1, "alice", "gold"), (2, "bob", "silver")]),
        path,
        "2024-01-01 00:00:00",
    )
    errs = []

    def writer(rows):
        try:
            repo.scd2_merge(
                spark, path, _dim(spark, rows), ["k"], "2024-02-01 00:00:00"
            )
        except Exception as exc:  # noqa: BLE001 — surfaced below
            errs.append(exc)

    threads = [
        threading.Thread(target=writer, args=([(1, "alice", "platinum")],)),
        threading.Thread(target=writer, args=([(2, "bob", "bronze")],)),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not any(t.is_alive() for t in threads)
    assert not errs, errs

    final = repo.read_table(spark, path)
    cur = {r.k: r.tier for r in final.filter("is_current").collect()}
    assert cur == {1: "platinum", 2: "bronze"}
    assert final.filter(~F.col("is_current")).count() == 2
    assert not os.path.exists(os.path.join(path, repo.LOCK))


def test_writer_lock_times_out_and_breaks_stale(spark, sf_dir, tmp_path):
    """A held lock times out a second writer; an orphaned (stale) lock
    is broken and the write proceeds."""
    import time as _time

    path = str(tmp_path / "stale_repo")
    repo.create_table(table(spark, sf_dir, "region"), path)

    lock_path = os.path.join(path, repo.LOCK)
    with open(lock_path, "w") as f:
        f.write("held\n")

    with pytest.raises(TimeoutError):
        with repo.table_lock(path, timeout_s=0.3, stale_s=600.0):
            pass

    # make the same lock stale: it is broken and acquisition succeeds
    old = _time.time() - 1000
    os.utime(lock_path, (old, old))
    with repo.table_lock(path, timeout_s=0.5, stale_s=600.0):
        assert os.path.exists(lock_path)
    assert not os.path.exists(lock_path)


def test_merge_upsert_schema_evolution(spark, sf_dir, tmp_path):
    """ADD COLUMN via upsert: with allow_new_columns=True the new
    column lands in the table schema, surviving rows read NULL for it,
    and the updated row carries its value; without the flag, or with a
    batch missing existing columns, the merge raises."""
    path = str(tmp_path / "evolve_repo")
    base = table(spark, sf_dir, "region")
    repo.create_table(base, path)

    upd = (
        base.filter(F.col("r_regionkey") == 0)
        .withColumn("r_tier", F.lit("gold"))
    )
    with pytest.raises(ValueError, match="adds columns"):
        repo.merge_upsert(spark, path, upd, ["r_regionkey"])
    repo.merge_upsert(
        spark, path, upd, ["r_regionkey"], allow_new_columns=True
    )

    got = repo.read_table(spark, path)
    assert "r_tier" in got.columns
    assert got.count() == base.count()
    assert got.filter(F.col("r_regionkey") == 0).first().r_tier == "gold"
    assert (
        got.filter(F.col("r_regionkey") != 0)
        .filter(F.col("r_tier").isNotNull())
        .count()
        == 0
    )

    # a later batch missing an existing column is rejected
    bad = base.filter(F.col("r_regionkey") == 1)  # lacks r_tier
    with pytest.raises(ValueError, match="lacks table columns"):
        repo.merge_upsert(spark, path, bad, ["r_regionkey"])


def test_refresh_rollup_incremental_equals_recompute(spark, sf_dir, tmp_path):
    """Continuous-aggregate maintenance: fold a new-partition delta
    into the stored daily rollup; the refreshed table must equal a
    full recompute over all history, and version history must show
    exactly one new committed version per refresh."""
    path = str(tmp_path / "rollup")
    e = table(spark, sf_dir, "events")
    grain = [
        F.col("event_type"),
        F.date_trunc("day", "ts").alias("day"),
    ]
    cut = F.lit("2024-01-21").cast("timestamp_ntz")

    def agg(df):
        return df.groupBy(*grain).agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("total"),
        )

    repo.create_table(agg(e.filter(F.col("ts") < cut)), path)
    v_before = len(repo.list_versions(path))

    delta = agg(e.filter(F.col("ts") >= cut))
    repo.refresh_rollup(
        spark, path, delta, key=["event_type", "day"], measures=["n", "total"]
    )

    got = repo.read_table(spark, path)
    want = agg(e)
    from polybot_data_etl_spark.testing import frames_match

    # totals were rounded per-slice; re-round after the additive merge
    got_pd = got.select(
        "event_type", "day", "n", F.round("total", 2).alias("total")
    ).toPandas()
    want_pd = want.select(
        "event_type", "day", "n", F.round("total", 2).alias("total")
    ).toPandas()
    ok, why = frames_match(got_pd, want_pd)
    assert ok, why
    assert len(repo.list_versions(path)) == v_before + 1
    # delta grain must be enforced
    with pytest.raises(ValueError):
        repo.refresh_rollup(
            spark, path,
            delta.unionAll(delta),
            key=["event_type", "day"], measures=["n", "total"],
        )


def test_refresh_rollup_multi_batch_sequence(spark, sf_dir, tmp_path):
    """Day-by-day incremental maintenance: applying two successive
    deltas (week 3, then week 4) must land exactly where one full
    recompute lands — the associativity that makes additive rollups
    safe to maintain forever."""
    path = str(tmp_path / "rollup_seq")
    e = table(spark, sf_dir, "events")
    grain = [F.col("event_type"), F.date_trunc("day", "ts").alias("day")]
    c1 = F.lit("2024-01-15").cast("timestamp_ntz")
    c2 = F.lit("2024-01-22").cast("timestamp_ntz")

    def agg(df):
        return df.groupBy(*grain).agg(
            F.count("*").alias("n"), F.sum("value").alias("total")
        )

    repo.create_table(agg(e.filter(F.col("ts") < c1)), path)
    repo.refresh_rollup(
        spark, path,
        agg(e.filter((F.col("ts") >= c1) & (F.col("ts") < c2))),
        key=["event_type", "day"], measures=["n", "total"],
    )
    repo.refresh_rollup(
        spark, path,
        agg(e.filter(F.col("ts") >= c2)),
        key=["event_type", "day"], measures=["n", "total"],
    )
    from polybot_data_etl_spark.testing import frames_match

    got = repo.read_table(spark, path).select(
        "event_type", "day", "n", F.round("total", 2).alias("total")
    ).toPandas()
    want = agg(e).select(
        "event_type", "day", "n", F.round("total", 2).alias("total")
    ).toPandas()
    ok, why = frames_match(got, want)
    assert ok, why
