"""Property tests for the round-6 changes.  Round 6 is a registration
freeze (VERDICT r5 #3): no new queries, so these cover the SHAPE fixes —
the long-form `q_embed_whiten` output (the only red row of the r5
driver gate) and the scaled weighted-median twin — each verified
against an independent pure-Python recomputation on sf0.001."""

from __future__ import annotations

import math
from collections import defaultdict

from polybot_data_etl_spark.catalog import table
from polybot_data_etl_spark.functions.vectors import q_embed_whiten


def test_embed_whiten_long_form_matches_python(spark, sf_dir):
    """Recompute per-dimension z-scores in pure Python (population std
    from raw moments, the engine's shared policy) and compare the
    long-form (vec_id, dim, z) frame cell by cell."""
    vecs = {
        r.vec_id: [float(x) for x in r.embedding]
        for r in table(spark, sf_dir, "embeddings").collect()
    }
    dims = len(next(iter(vecs.values())))
    sums = defaultdict(float)
    sqs = defaultdict(float)
    for emb in vecs.values():
        for d, x in enumerate(emb, start=1):
            sums[d] += x
            sqs[d] += x * x
    n = len(vecs)
    mu = {d: sums[d] / n for d in sums}
    sd = {d: math.sqrt(sqs[d] / n - mu[d] * mu[d]) for d in sums}

    rows = q_embed_whiten(spark, sf_dir).collect()
    # exactly one row per (vector, coordinate) — the long-form contract
    assert len(rows) == n * dims
    assert {(r.vec_id, r.dim) for r in rows} == {
        (v, d) for v in vecs for d in range(1, dims + 1)
    }
    for r in rows:
        want = round(
            (vecs[r.vec_id][r.dim - 1] - mu[r.dim]) / sd[r.dim] + 1e-9, 4
        )
        assert abs(r.z - want) < 1e-9, (r.vec_id, r.dim, r.z, want)
        # driver-hashable scalar cells only
        assert isinstance(r.z, float)


def test_weighted_median_scaled_matches_unscaled_and_python(spark, sf_dir):
    """The scaled twin must be value-identical to q_win_weighted_median
    (they share one oracle), and both must match a pure-Python exact-
    cents recomputation of the cumulative-weight crossing."""
    from polybot_data_etl_spark.operators.windows import (
        q_win_weighted_median,
        q_win_weighted_median_scaled,
    )

    rows = table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_quantity", "l_orderkey", "l_linenumber",
        "l_extendedprice",
    ).collect()
    by_flag = defaultdict(list)
    for r in rows:
        by_flag[r.l_returnflag].append(r)
    want = {}
    for flag, grp in by_flag.items():
        grp.sort(key=lambda r: (r.l_quantity, r.l_orderkey, r.l_linenumber))
        cents = [round(r.l_extendedprice * 100) for r in grp]
        tot = sum(cents)
        cum = 0
        for r, c in zip(grp, cents):
            cum += c
            if 2 * cum >= tot:
                want[flag] = (round(r.l_quantity, 2), round(tot / 100 + 1e-9, 2))
                break
    for fn in (q_win_weighted_median, q_win_weighted_median_scaled):
        got = {r.l_returnflag: r for r in fn(spark, sf_dir).collect()}
        assert set(got) == set(want), fn.__name__
        for flag, (qty, tot_w) in want.items():
            assert got[flag].weighted_median_qty == qty, (fn.__name__, flag)
            assert abs(got[flag].total_weight - tot_w) < 0.011, (
                fn.__name__, flag, got[flag].total_weight, tot_w,
            )


def test_empty_corpus_does_not_crash_fixed_queries(spark, sf_dir, tmp_path):
    """Round-6 empty-input audit regressions (scripts/audit_empty.py
    runs the fleet-wide version): q_embed_pca's driver-side power
    iteration crashed on the Nones a 0-row moment agg returns, and
    q_dedup_capture_recapture's coverage ratios hit ANSI
    DIVIDE_BY_ZERO when the Chapman estimate is 0.  Both must return
    (not raise) on an all-empty fixture dir — the 100 TB
    empty-partition posture."""
    from polybot_data_etl_spark.catalog import TABLES
    from polybot_data_etl_spark.functions.dedup import (
        q_dedup_capture_recapture,
    )
    from polybot_data_etl_spark.functions.vectors import q_embed_pca
    from polybot_data_etl_spark.plans import materialize

    empty = str(tmp_path / "empty_sf")
    for t in TABLES:
        spark.read.parquet(f"{sf_dir}/{t}.parquet").limit(0).write.mode(
            "overwrite"
        ).parquet(f"{empty}/{t}.parquet")

    assert q_embed_pca(spark, empty).collect() == []
    materialize.clear()
    try:
        rows = q_dedup_capture_recapture(spark, empty).collect()
        assert len(rows) == 1
        r = rows[0]
        assert (r.n_minhash, r.n_ngram, r.n_both) == (0, 0, 0)
        assert r.coverage_minhash is None and r.coverage_ngram is None
    finally:
        materialize.clear()  # don't leak the empty-dir pair frames


def test_singleton_groups_yield_null_not_crash(spark, sf_dir, tmp_path):
    """Round-6 one-row audit regressions: 37 statistics queries crashed
    with ANSI DIVIDE_BY_ZERO when a variance / n−1 / class-count
    denominator degenerates (singleton groups are a REAL data condition
    at scale).  Representative sample per family: the undefined
    statistic must come back NULL, the defined columns real."""
    from polybot_data_etl_spark.catalog import TABLES
    from polybot_data_etl_spark.functions.ml import q_ml_auc
    from polybot_data_etl_spark.functions.stats import (
        q_stats_regression,
        q_stats_wilson,
    )
    from polybot_data_etl_spark.operators.aggregates import q_agg_corr

    one = str(tmp_path / "one_sf")
    for t in TABLES:
        spark.read.parquet(f"{sf_dir}/{t}.parquet").limit(1).write.mode(
            "overwrite"
        ).parquet(f"{one}/{t}.parquet")

    corr = q_agg_corr(spark, one).collect()
    assert len(corr) == 1 and corr[0].n == 1
    assert corr[0].corr_qty_price is None
    assert corr[0].covar_qty_price is None

    reg = q_stats_regression(spark, one).collect()
    assert len(reg) == 1
    assert reg[0].slope is None and reg[0].r2 is None

    auc = q_ml_auc(spark, one).collect()
    assert len(auc) == 1 and auc[0].auc is None  # single-class sample

    # wilson: the 1-row events fixture has no click/view impressions
    for r in q_stats_wilson(spark, one).collect():
        assert r.ctr is None


def test_embed_whiten_schema_is_all_scalar(spark, sf_dir):
    """The r5 gate red was a schema-shape bug, not a math bug — pin the
    exact output schema so it cannot regress to array<double>."""
    schema = q_embed_whiten(spark, sf_dir).schema
    assert [f.name for f in schema.fields] == ["vec_id", "dim", "z"]
    assert [f.dataType.simpleString() for f in schema.fields] == [
        "bigint",
        "bigint",
        "double",
    ]


def test_null_cells_never_crash_fixed_families(spark, sf_dir, tmp_path):
    """Null-injection regression (round-6 audit #2): NULL text /
    embedding / payload cells are a 100 TB reality (failed upstream
    extraction, optional fields).  The audit found 16 queries crashing;
    the contract is now skip-or-NULL-propagate, never crash.  This pins
    one representative per fixed family against a fixture copy with
    NULLs salted into every nullable data column."""
    import pyspark.sql.functions as F

    from polybot_data_etl_spark import registry
    from polybot_data_etl_spark.catalog import TABLES
    from polybot_data_etl_spark.plans import materialize

    out = str(tmp_path / "nulled")
    keep = {"doc_id", "vec_id", "event_id"}
    for t in TABLES:
        df = spark.read.parquet(f"{sf_dir}/{t}.parquet")
        key = next(
            (c for c in df.columns if c in keep or c.endswith("key")),
            df.columns[0],
        )
        salted = F.pmod(F.hash(F.col(key)), F.lit(10)) == 0
        cols = [
            F.col(f.name)
            if (f.name in keep or f.name.endswith("key"))
            else F.when(salted, F.lit(None).cast(f.dataType))
            .otherwise(F.col(f.name))
            .alias(f.name)
            for f in df.schema.fields
        ]
        df.select(*cols).write.mode("overwrite").parquet(
            f"{out}/{t}.parquet"
        )

    representative = [
        "q_dedup_minhash",        # text kernel (minhash_signatures)
        "q_dedup_simhash",        # text kernel (simhash fingerprint)
        "q_dedup_winnowing",      # text kernel (winnowing fps)
        "q_dedup_embed",          # embedding kernel (hyperplane buckets)
        "q_dedup_semantic",       # embedding kernel (per-label G@G.T)
        "q_multimodal_decode",    # binary kernel (NULL payload)
        "q_multimodal_histogram",
        "q_sim_topk_lsh",
        "q_ts_ewma",              # empty collect_list window
        "q_dq_cardinality_shift",  # zero median denominator
    ]
    materialize.clear()
    try:
        for name in representative:
            # must not raise; row counts are free to differ (NULL rows
            # are absent from the corpus by contract)
            registry.queries()[name](spark, out).write.mode(
                "overwrite"
            ).format("noop").save()
    finally:
        materialize.clear()


def test_nan_cells_never_crash_fixed_families(spark, sf_dir, tmp_path):
    """NaN-injection regression (round-6 audit #3): ANSI CAST(NaN AS
    BIGINT) crashes the exact-cents pattern, and Spark sorts NaN above
    every number so `>= k` filters admit it.  17 queries crashed; all
    now try_cast (NaN-as-missing) or isnan-guard.  Representative per
    crash shape against NaN-salted doubles."""
    import pyspark.sql.functions as F
    import pyspark.sql.types as T

    from polybot_data_etl_spark import registry
    from polybot_data_etl_spark.catalog import TABLES

    out = str(tmp_path / "nans")
    keep = {"doc_id", "vec_id", "event_id"}
    for t in TABLES:
        df = spark.read.parquet(f"{sf_dir}/{t}.parquet")
        key = next(
            (c for c in df.columns if c in keep or c.endswith("key")),
            df.columns[0],
        )
        salted = F.pmod(F.hash(F.col(key)), F.lit(10)) == 0
        cols = [
            F.when(salted, F.lit(float("nan")).cast(f.dataType))
            .otherwise(F.col(f.name))
            .alias(f.name)
            if isinstance(f.dataType, (T.DoubleType, T.FloatType))
            and not (f.name in keep or f.name.endswith("key"))
            else F.col(f.name)
            for f in df.schema.fields
        ]
        df.select(*cols).write.mode("overwrite").parquet(
            f"{out}/{t}.parquet"
        )
    representative = [
        "q_agg_abc",             # cents cast inside a sum
        "q_win_moving",          # cents cast feeding a window
        "q_dq_benford",          # >= filter admitting NaN (isnan guard)
        "q_sql_window_clause",   # SQL-text TRY_CAST (both dialects)
        "q_ts_stl",              # cents cast behind AQE stage retry
    ]
    for name in representative:
        registry.queries()[name](spark, out).write.mode(
            "overwrite"
        ).format("noop").save()
