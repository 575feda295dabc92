"""Repository-pattern persistence layer: keyed upsert (SCD-1 merge),
append, and dynamic partition-overwrite loads over parquet tables.

Reference provenance: the reference persisted typed models through a
repository layer [REC src/etl/.DS_Store:4368 models/, 4824 repository/]
fed by batch DAGs — i.e. the load step of its ETL was idempotent keyed
writes, which is exactly the surface here.

Managed-table commit protocol (a minimal Delta/Iceberg-shaped layout):
a table directory holds immutable version directories ``v-<hex>/`` plus
a ``_MANIFEST`` file naming the current one.  Every mutation writes a
COMPLETE new version directory first, then commits by atomically
replacing the manifest (``os.replace`` — an atomic rename on POSIX).
Each version directory also holds ``_SCHEMA``, the written frame's
schema as JSON (Spark skips ``_``-prefixed names when listing data
files); since a version never changes, ``read_table`` pins that schema
instead of launching a parquet footer-inference job on every read, and
falls back to inference for versions without it (migrated legacy
directories, tables written before the file existed).
Readers resolve the manifest once and read an immutable directory, so a
reader can never observe a half-written table; a reader that resolved
the previous version keeps reading its (still-present) files until
``vacuum`` reclaims them.  Writers serialize through an advisory
``_LOCK`` mutex (``table_lock`` — exclusive-create with stale-lock
breaking) held across each mutation's read of the current version AND
its manifest swap, so a concurrent commit can neither race the swap nor
be silently overwritten by a merge computed from a stale snapshot.  This
is the same reader/writer isolation a transactional table format
provides; a production deployment on an object store swaps in
Iceberg/Delta/Hudi (or their lock services) without changing any plan
shape here.

Scale posture: an upsert is one left-anti join (survivors) + a union —
shuffle keyed on the merge key, broadcast when the update batch is
small (the common case for incremental loads: a day's delta vs a full
table).  Every keyed load first checks its batch is key-unique with ONE
grouped action that stops at the first duplicate key
(``groupBy(key).count() > 1`` + ``limit(1)``): a single shuffle of the
batch, not a row count plus a distinct-key count.  For a day's batch
the cost of a Spark job is mostly fixed per-job overhead, so the load
path is built to launch as few jobs as it can.  Partition-overwrite
writes only the partitions present in the incoming batch (the per-write
``partitionOverwriteMode=dynamic`` option), so a daily load touches one
date partition of a 100 TB table instead of rewriting it.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

MANIFEST = "_MANIFEST"
LOG = "_LOG"
SPEC = "_SPEC"
LOCK = "_LOCK"
SCHEMA = "_SCHEMA"
_VERSION_PREFIX = "v-"


def _new_version() -> str:
    return f"{_VERSION_PREFIX}{uuid.uuid4().hex[:12]}"


@contextlib.contextmanager
def table_lock(
    path: str, timeout_s: float = 60.0, stale_s: float = 600.0
):
    """Advisory writer mutex for a managed table: O_CREAT|O_EXCL on a
    ``_LOCK`` file (atomic on POSIX filesystems), so two writers
    serialize their write-new-version + manifest-swap sequences instead
    of racing the swap (last-swap-wins would silently drop the loser's
    commit).  Readers never take the lock — snapshot isolation already
    protects them.

    A lock older than ``stale_s`` is presumed orphaned (writer crashed
    between acquire and release) and is broken.  On an object store,
    where exclusive-create isn't available, a production deployment
    replaces this with the table format's lock service / conditional
    puts — the mutation call sites are already funneled through here.
    """
    lock_path = os.path.join(path, LOCK)
    deadline = time.time() + timeout_s
    while True:
        try:
            fd = os.open(lock_path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            os.write(fd, f"{os.getpid()} {time.time()}\n".encode())
            os.close(fd)
            break
        except FileExistsError:
            try:
                age = time.time() - os.path.getmtime(lock_path)
            except OSError:
                continue  # holder released between exists-check and stat
            if age > stale_s:
                with contextlib.suppress(OSError):
                    os.unlink(lock_path)
                continue
            if time.time() > deadline:
                raise TimeoutError(
                    f"writer lock on {path} held for {age:.0f}s; "
                    f"gave up after {timeout_s}s"
                )
            time.sleep(0.05)
    try:
        yield
    finally:
        with contextlib.suppress(FileNotFoundError):
            os.unlink(lock_path)


def _commit(path: str, version: str) -> None:
    """Atomically point the manifest at ``version`` (os.replace is an
    atomic rename on POSIX — readers see either the old or the new
    manifest, never a partial write)."""
    tmp = os.path.join(path, f".{MANIFEST}.{uuid.uuid4().hex[:8]}")
    with open(tmp, "w") as f:
        f.write(version + "\n")
        f.flush()
        os.fsync(f.fileno())
    # Commit-log append BEFORE the swap: the log is advisory history
    # metadata (time travel / audit), so a crash between append and
    # swap leaves a logged-but-never-current version, which readers of
    # the log must tolerate — the manifest remains the single source of
    # truth for "current".
    with open(os.path.join(path, LOG), "a") as f:
        f.write(version + "\n")
    os.replace(tmp, os.path.join(path, MANIFEST))


def current_version(path: str) -> str:
    """Name of the committed version directory."""
    with open(os.path.join(path, MANIFEST)) as f:
        return f.read().strip()


def is_managed(path: str) -> bool:
    return os.path.exists(os.path.join(path, MANIFEST))


def table_spec(path: str) -> dict:
    """Table-level spec (currently: the partition columns).  Stored once
    at create time in ``_SPEC`` and honored by every later rewrite, so a
    table's physical layout survives merges/compaction — the same role
    as a table format's partition spec."""
    spec_path = os.path.join(path, SPEC)
    if not os.path.exists(spec_path):
        return {"partition_by": []}
    with open(spec_path) as f:
        return json.load(f)


def _commit_new_version(df: DataFrame, path: str) -> None:
    """Write ``df`` as a new version directory honoring the table's
    partition spec, with its ``_SCHEMA``, then commit it."""
    part = table_spec(path).get("partition_by", [])
    writer = df.write
    if part:
        writer = writer.partitionBy(*part)
    version = _new_version()
    vdir = os.path.join(path, version)
    writer.parquet(vdir)
    with open(os.path.join(vdir, SCHEMA), "w") as f:
        f.write(df.schema.json())
    _commit(path, version)


def _check_key_unique(df: DataFrame, key: list[str], what: str) -> None:
    """Raise ValueError(``what`` + the offending key) if two rows of
    ``df`` share a key.  One grouped action that stops at the first
    duplicate; NULL keys group together, so they compare equal, as
    under ``distinct``."""
    dup = (
        df.groupBy(*key)
        .agg(F.count(F.lit(1)).alias("__n"))
        .where(F.col("__n") > 1)
        .limit(1)
        .collect()
    )
    if dup:
        row = dup[0].asDict()
        n = row.pop("__n")
        raise ValueError(f"{what}: key {row} appears {n} times")


def create_table(
    df: DataFrame, path: str, partition_by: list[str] | None = None
) -> None:
    """Initialize a managed table at ``path`` from ``df`` (version 1).

    ``partition_by`` pins the physical layout for the table's lifetime:
    every version directory is hive-partitioned on these columns, so
    scans with partition-key predicates prune at the directory level
    (PartitionFilters) in every snapshot, including time-travel reads."""
    os.makedirs(path, exist_ok=True)
    if partition_by:
        tmp = os.path.join(path, f".{SPEC}.{uuid.uuid4().hex[:8]}")
        with open(tmp, "w") as f:
            json.dump({"partition_by": list(partition_by)}, f)
        os.replace(tmp, os.path.join(path, SPEC))
    _commit_new_version(df, path)


def list_versions(path: str) -> list[str]:
    """Commit history, oldest first, restricted to versions still on
    disk (``vacuum`` reclaims old ones out of the retention window).
    The last entry is the current version."""
    log_path = os.path.join(path, LOG)
    if not os.path.exists(log_path):
        return [current_version(path)]
    with open(log_path) as f:
        logged = [ln.strip() for ln in f if ln.strip()]
    return [v for v in logged if os.path.isdir(os.path.join(path, v))]


def read_table(
    spark: SparkSession, path: str, version: str | int | None = None
) -> DataFrame:
    """DataFrame over the committed version (snapshot isolation: the
    resolved version directory is immutable, later commits don't touch
    it).

    Time travel: ``version`` pins a snapshot — a version name from
    ``list_versions`` or a negative index into it (``-2`` = the commit
    before current), like a table format's VERSION AS OF. Raises
    KeyError for a vacuumed/unknown version.

    The read uses the version's ``_SCHEMA`` when it has one, so it
    launches no schema-inference job; the columns, their order and
    their types are the written frame's (partition columns last, as
    under inference, and typed as written rather than re-inferred from
    directory names)."""
    if version is None:
        v = current_version(path)
    else:
        versions = list_versions(path)
        if isinstance(version, int):
            v = versions[version]
        elif version in versions:
            v = version
        else:
            raise KeyError(
                f"version {version!r} not available (vacuumed or never "
                f"committed); on disk: {versions}"
            )
    vdir = os.path.join(path, v)
    try:
        with open(os.path.join(vdir, SCHEMA)) as f:
            schema = StructType.fromJson(json.load(f))
    except FileNotFoundError:
        return spark.read.parquet(vdir)
    return spark.read.schema(schema).parquet(vdir)


def vacuum(path: str) -> list[str]:
    """Delete all non-current version directories (breaks readers still
    pinned to them — run only after in-flight reads drain, like any
    table format's retention window). Returns what was removed."""
    keep = current_version(path)
    removed = []
    for entry in os.listdir(path):
        full = os.path.join(path, entry)
        if entry.startswith(_VERSION_PREFIX) and entry != keep and os.path.isdir(full):
            shutil.rmtree(full)
            removed.append(entry)
    return removed


def _migrate_legacy(path: str) -> None:
    """One-time adoption of a plain ``df.write.parquet(path)`` directory
    into the managed layout: move its files into a version dir, commit.
    (Not atomic for readers of the LEGACY layout — migration is a
    stop-the-world step, after which all mutations are atomic.)"""
    version = _new_version()
    vdir = os.path.join(path, version)
    os.makedirs(vdir)
    for entry in os.listdir(path):
        if entry == version or entry == MANIFEST or entry.startswith("."):
            continue
        os.rename(os.path.join(path, entry), os.path.join(vdir, entry))
    _commit(path, version)


def append_load(df: DataFrame, path: str) -> None:
    """Append-only load (the event-stream table shape)."""
    df.write.mode("append").parquet(path)


def merge_upsert(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key: list[str],
    allow_new_columns: bool = False,
) -> None:
    """SCD-1 keyed merge into the managed table at ``path``: rows whose
    key appears in ``updates`` are replaced, new keys are inserted,
    everything else is carried over unchanged.  Idempotent: applying the
    same update batch twice equals once.  A legacy plain-parquet
    directory is migrated into the managed layout first.

    Schema evolution: with ``allow_new_columns=True`` the update batch
    may carry columns the table doesn't have yet (ADD COLUMN) — the new
    columns land in the table schema and surviving rows read NULL for
    them, exactly Delta's ``mergeSchema`` semantics.  The batch must
    still contain every existing table column (dropping or renaming is
    a different, destructive operation and stays explicit); without the
    flag, any schema difference raises.

    Plan (``_upsert_plan``): target ⟕̸ updates (left-anti on the key — keeps survivors)
    ∪ updates.  The updates side is deduplicated on the key first
    (last-write-wins needs an explicit ordering column; here the batch
    is required to be key-unique, asserted).

    Commit: the merged result is fully written to a NEW version
    directory before the manifest swap, so concurrent ``read_table``
    callers see the old version until the commit instant and the new
    one after — never a mix, never missing files.
    """
    _check_key_unique(
        updates, key, f"update batch must be key-unique on {key}"
    )
    if not is_managed(path):
        _migrate_legacy(path)
    with table_lock(path):
        target = read_table(spark, path)
        _commit_new_version(
            _upsert_plan(target, updates, key, allow_new_columns), path
        )


def _upsert_plan(
    target: DataFrame,
    updates: DataFrame,
    key: list[str],
    allow_new_columns: bool = False,
) -> DataFrame:
    """The merged table of ``merge_upsert`` (survivors ∪ updates), after
    its schema checks; the caller holds the table lock."""
    missing = set(target.columns) - set(updates.columns)
    added = set(updates.columns) - set(target.columns)
    if missing:
        raise ValueError(
            f"update batch lacks table columns {sorted(missing)}; "
            "upserts must provide every existing column"
        )
    if added and not allow_new_columns:
        raise ValueError(
            f"update batch adds columns {sorted(added)}; pass "
            "allow_new_columns=True to evolve the table schema"
        )
    return target.join(
        updates.select(*key), key, "left_anti"
    ).unionByName(updates, allowMissingColumns=bool(added))


def overwrite_partitions(
    spark: SparkSession, df: DataFrame, path: str, partition_cols: list[str]
) -> None:
    """Dynamic partition overwrite: replaces ONLY the partitions present
    in ``df``, leaving all other partitions of the table untouched —
    the incremental daily-load primitive.  The mode is set on this write
    alone, never on the session, so a concurrent STATIC overwrite on the
    same session keeps its meaning."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .parquet(path)
    )


# --- SCD-2 (history-keeping) dimension merge ------------------------------

def create_scd2_table(
    df: DataFrame, path: str, effective_ts: str
) -> None:
    """Initialize a type-2 slowly-changing dimension: every input row
    becomes the open (current) version, valid from ``effective_ts``."""
    initial = (
        df.withColumn("valid_from", F.lit(effective_ts).cast("timestamp"))
        .withColumn("valid_to", F.lit(None).cast("timestamp"))
        .withColumn("is_current", F.lit(True))
    )
    create_table(initial, path)


def scd2_merge(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key: list[str],
    effective_ts: str,
) -> None:
    """Type-2 keyed merge into the managed dimension at ``path``: a key
    whose attributes changed gets its open row closed (``valid_to`` =
    ``effective_ts``) and a new open row inserted; unchanged keys are
    untouched (so re-applying the same batch is a no-op — idempotent);
    unseen keys insert as new open rows.  History rows are carried over
    unchanged, giving as-of queries the full version chain.

    Plan (``_scd2_plan``): one full outer join of the WHOLE target
    against the update batch on ``is_current AND key <=> key``.  Both
    join sides are one row per key (the open rows by the SCD-2
    invariant, the batch by the key check); history rows never satisfy
    the condition, so each comes out of the join alone and is carried
    verbatim.  One projection then emits one or two rows per joined
    row: the target row (closed when a differing update matched it) and
    a fresh open row for a new key or a differing update.  One scan of
    the target, one shuffle on the dimension key, one generate — at
    100 TB dims a standard keyed merge — and the commit is the same
    atomic manifest swap as ``merge_upsert``, under the same lock as the
    read of the target.
    """
    _check_key_unique(
        updates, key, f"update batch must be key-unique on {key}"
    )
    with table_lock(path):
        target = read_table(spark, path)
        _commit_new_version(
            _scd2_plan(target, updates, key, effective_ts), path
        )


def _scd2_plan(
    target: DataFrame, updates: DataFrame, key: list[str], effective_ts: str
) -> DataFrame:
    """The merged dimension of ``scd2_merge``, in the target's column
    order."""
    attrs = [c for c in updates.columns if c not in key]
    eff = F.lit(effective_ts).cast("timestamp")

    # Presence markers: never-null columns on each side, so outer-join
    # row provenance doesn't depend on attr/key nullability.
    t = target.withColumn("__t", F.lit(True)).alias("t")
    u = updates.withColumn("__u", F.lit(True)).alias("u")
    cond = F.col("t.is_current") & F.expr(
        " AND ".join(f"t.{k} <=> u.{k}" for k in key)
    )
    joined = t.join(u, cond, "full_outer")

    differs = F.lit(False)
    for a in attrs:
        differs = differs | ~F.col(f"t.{a}").eqNullSafe(F.col(f"u.{a}"))
    has_t = F.col("t.__t").isNotNull()
    has_u = F.col("u.__u").isNotNull()  # on a target row: it is open
    closes = has_t & has_u & differs
    opens = has_u & (~has_t | differs)

    def kept_or_closed(col: str):
        if col == "valid_to":
            return F.when(closes, eff).otherwise(F.col("t.valid_to"))
        if col == "is_current":
            return F.when(closes, F.lit(False)).otherwise(F.col("t.is_current"))
        return F.col(f"t.{col}")

    def fresh(col: str):
        if col == "valid_from":
            return eff
        if col == "valid_to":
            return F.lit(None).cast("timestamp")
        if col == "is_current":
            return F.lit(True)
        return F.col(f"u.{col}")

    cols = target.columns
    rows = F.array(
        F.when(has_t, F.struct(*[kept_or_closed(c).alias(c) for c in cols])),
        F.when(opens, F.struct(*[fresh(c).alias(c) for c in cols])),
    )
    return joined.select(F.inline(F.filter(rows, lambda r: r.isNotNull())))


def compact_table(
    spark: SparkSession, path: str, target_file_rows: int = 1_000_000
) -> int:
    """Small-file compaction: rewrite the current version into
    ``ceil(rows / target_file_rows)`` evenly-sized files and commit it
    as a new version (readers pinned to the old snapshot are
    untouched; ``vacuum`` reclaims it later).

    The small-files problem is THE silent killer of a 100 TB lake —
    every incremental ``merge_upsert``/stream batch leaves another
    file-per-partition sliver, and a million 1 MB files turn a scan
    into a metadata stampede (one task + one open per file).  Périodic
    compaction restores full-size row groups, so scans get back their
    long sequential reads and min/max pruning spans real data.
    ``repartition(n)`` (round-robin shuffle) rather than ``coalesce``:
    coalesce merges unevenly and can leave one giant straggler file;
    compaction exists precisely to make file sizes uniform.

    Returns the number of files written."""
    import math

    with table_lock(path):
        df = read_table(spark, path)
        n_files = max(1, math.ceil(df.count() / target_file_rows))
        part = table_spec(path).get("partition_by", [])
        if part:
            # partitioned table: compact WITHIN partitions (repartition
            # on the partition key so each hive directory gets one full
            # file)
            _commit_new_version(df.repartition(*part), path)
        else:
            _commit_new_version(df.repartition(n_files), path)
    return n_files


def _spread16(x):
    """Interleave-ready bit spread: 16 significant bits of ``x`` spaced
    out to every other bit of a 32-bit lane (classic Morton magic
    masks), all in JVM bitwise ops — no UDF."""
    x = x.bitwiseAND(F.lit(0xFFFF))
    x = (x.bitwiseOR(F.shiftleft(x, 8))).bitwiseAND(F.lit(0x00FF00FF))
    x = (x.bitwiseOR(F.shiftleft(x, 4))).bitwiseAND(F.lit(0x0F0F0F0F))
    x = (x.bitwiseOR(F.shiftleft(x, 2))).bitwiseAND(F.lit(0x33333333))
    x = (x.bitwiseOR(F.shiftleft(x, 1))).bitwiseAND(F.lit(0x55555555))
    return x


def cluster_table(
    spark: SparkSession, path: str, cols: list[str], n_files: int
) -> None:
    """Z-order clustered rewrite: sort the current version along the
    Morton (bit-interleaved) curve of two columns and commit the
    re-laid-out copy as a new version.

    Linear sort on one column gives perfect min/max file pruning for
    that column and none for the second; the Z-curve shares the bits,
    so a scan filtered on EITHER column (or a box on both) overlaps
    only the files whose Z-range crosses the query box — the same
    data-skipping story as Delta's OPTIMIZE ZORDER BY.  Mechanics:
    each column is affinely bucketed to 16 bits via its own min/max
    (one metadata-scale agg), the buckets are interleaved with Morton
    magic-mask shifts (pure JVM bitwise ops), and the rewrite is one
    ``repartitionByRange`` + ``sortWithinPartitions`` on the Z value —
    a single range shuffle, identical cost to a plain sorted write.

    Timestamp columns are clustered on their epoch value; the Z column
    itself is dropped before write (it is derivable, not data).

    Hive-partitioned tables are refused: a global Z-range repartition
    followed by a partitionBy write would scatter every range partition
    across every hive directory (file-count explosion) and the layout
    win belongs WITHIN each partition — the production move is
    per-partition clustering (Delta's OPTIMIZE ... WHERE partition
    predicate), which this minimal layer doesn't implement."""
    if len(cols) != 2:
        raise ValueError("cluster_table interleaves exactly 2 columns")
    part = table_spec(path).get("partition_by", [])
    if part:
        raise ValueError(
            f"cluster_table does not support hive-partitioned tables "
            f"(partition spec {part}); cluster within partitions via a "
            "per-partition rewrite instead"
        )
    with table_lock(path):
        df = read_table(spark, path)

        def _as_long(c: str):
            dt = dict(df.dtypes)[c]
            col = F.col(c)
            return F.unix_timestamp(col) if dt.startswith("timestamp") else col.cast("long")

        stats = df.agg(
            *(F.min(_as_long(c)).alias(f"mn_{i}") for i, c in enumerate(cols)),
            *(F.max(_as_long(c)).alias(f"mx_{i}") for i, c in enumerate(cols)),
        ).first()

        def _bucket(c: str, i: int):
            mn, mx = stats[f"mn_{i}"], stats[f"mx_{i}"]
            span = max(1, mx - mn)
            return F.least(
                F.lit(65535),
                ((_as_long(c) - F.lit(mn)) * 65535 / F.lit(span)).cast("long"),
            )

        z = _spread16(_bucket(cols[0], 0)).bitwiseOR(
            F.shiftleft(_spread16(_bucket(cols[1], 1)), 1)
        )
        _commit_new_version(
            df.withColumn("__z", z)
            .repartitionByRange(n_files, "__z")
            .sortWithinPartitions("__z")
            .drop("__z"),
            path,
        )


def refresh_rollup(
    spark: SparkSession,
    path: str,
    delta_agg: DataFrame,
    key: list[str],
    measures: list[str],
) -> None:
    """Incremental (continuous-aggregate) rollup maintenance: fold a
    pre-aggregated DELTA batch into the stored rollup at ``path``
    without rescanning raw history — existing keys get their additive
    measures summed, new keys are inserted.

    This is the materialized-view refresh discipline every 100 TB
    pipeline runs on: the raw event lake is touched only for the new
    partition (the caller aggregates it to the rollup grain), and the
    refresh cost is |delta| + |affected rollup keys| — history-size
    independent.  Only works for additive/mergeable measures (sums,
    counts, bitmap/HLL sketch columns); avg must be stored as
    sum+count, min/max are mergeable too via greatest/least — the same
    decomposition rule as salted_agg and the sketch family.

    NOT idempotent by design (applying a delta twice double-counts);
    exactly-once application is the commit protocol's job — pair with
    the manifest-swap versioning (each refresh lands as one committed
    version) and an upstream batch id when replays are possible.
    """
    _check_key_unique(
        delta_agg, key,
        f"delta batch must be pre-aggregated to the rollup grain {key}",
    )
    # One lock across the read and the write: a refresh computed from a
    # snapshot another writer has since replaced would drop its commit.
    with table_lock(path):
        target = read_table(spark, path)
        t, d = target.alias("t"), delta_agg.alias("d")
        touched = t.join(d, key, "inner")
        refreshed = touched.select(
            *[F.col(f"t.{k}").alias(k) for k in key],
            *[
                (F.col(f"t.{m}") + F.col(f"d.{m}")).alias(m)
                for m in measures
            ],
        )
        new_keys = d.join(t.select(*key), key, "left_anti").select(
            *key, *measures
        )
        updates = refreshed.unionByName(new_keys)
        # a target duplicated on the key fans the join out
        _check_key_unique(
            updates, key, f"update batch must be key-unique on {key}"
        )
        _commit_new_version(_upsert_plan(target, updates, key), path)
