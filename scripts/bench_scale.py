#!/usr/bin/env python
"""Above-fixture-scale measurement (VERDICT r10 #2): run a query set
SERIALLY at two (or more) fixture scales and report per-query walls +
scaling ratios, so the 100 TB posture arguments get a measured ×10
point instead of plan-shape evidence alone.

Usage:
  python scripts/make_scaled_fixture.py --out /tmp/scale_fixtures/sf1 --k 10
  python scripts/bench_scale.py \
      --dirs /root/testdata/sf0.1 /tmp/scale_fixtures/sf1 \
      --out SCALE_POINT.json

The default query set is the round-10 committed record's heavy tier
(everything ≥ ~1 s serial at sf0.1) plus the COMPLETE dedup / ANN /
embedding family — the operators whose 100 TB claims SCALE.md argues
from bucket/banding shape.  Serial execution (one job in flight, noop
sink) so walls are latencies, not queueing; measured steal rides along
via bench.StealSampler so a degraded window self-describes.

Reading the ratios: the clone multiplies ROWS by k while keeping
calendar spans and per-replica statistics fixed, so a healthy operator
scales ≤ ~k (linear in rows) and sublinear where frames are
calendar/entity-bounded.  wall(k×)/wall(1×) well above k means the
operator does super-linear work (pair blowup, global sort) — exactly
what the plan sweeps claim cannot happen.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import StealSampler  # noqa: E402
from polybot_data_etl_spark.session import build_session  # noqa: E402
from __spark_entry__ import queries  # noqa: E402

# The dedup / similarity / embedding family: every operator whose scale
# posture rests on banding/bucketing/broadcast-budget arguments.
_FAMILY_PREFIXES = ("q_dedup_", "q_sim_", "q_embed_")

# Heavy tier of the r10 committed serial record (>= ~1 s at sf0.1).
_HEAVY = (
    "q_graph_link_predict", "q_basket_lift", "q_pipeline_entities",
    "q_win_weighted_median_scaled", "q_win_weighted_median",
    "q_agg_winsorized", "q_agg_percentile", "q_agg_boxplot",
    "q_agg_distinct", "q_dq_rle", "q_dq_id_gaps", "q_dq_drift_ks",
    "q_dq_cardinality_shift", "q_dq_reconcile", "q_link_fuzzy",
    "q_text_novelty", "q_text_repetition", "q_text_contamination",
    "q_text_tfidf", "q_ts_concurrency", "q_ts_gapfill",
    "q_ts_interval_union", "q_ts_retention_halflife", "q_join_range",
    "q_join_lead_time", "q_stats_kruskal", "q_stats_mannwhitney",
    "q_stats_hodges_lehmann", "q_udaf_grouped", "q_agg_rfm",
    "q_win_dist", "q_graph_pagerank", "q_graph_triangles",
    "q_pipeline_leakage", "q_attr_position", "q_sql_report",
)


def default_query_set(qs) -> list[str]:
    names = {n for n in qs if n.startswith(_FAMILY_PREFIXES)}
    names.update(n for n in _HEAVY if n in qs)
    return sorted(names)


def run_dir(spark, qs, names, sf_dir: str) -> dict:
    from polybot_data_etl_spark.plans import materialize

    materialize.clear()  # memoized pair frames must not leak across dirs
    walls: dict[str, float] = {}
    errors: dict[str, str] = {}
    sampler = StealSampler().start()
    t0 = time.time()
    for name in names:
        t = time.time()
        try:
            qs[name](spark, sf_dir).write.mode("overwrite").format(
                "noop"
            ).save()
            walls[name] = round(time.time() - t, 3)
        except Exception as exc:  # noqa: BLE001 — record, continue
            errors[name] = f"{type(exc).__name__}: {exc}"[:300]
            print(f"  {name} FAILED: {errors[name]}", file=sys.stderr)
    total = round(time.time() - t0, 3)
    steal = sampler.stop()
    materialize.clear()
    out = {
        "sf_dir": sf_dir,
        "total_sec": total,
        "n_queries": len(walls),
        "walls": walls,
        "steal": steal,
    }
    if errors:
        out["errors"] = errors
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--dirs", nargs="+", required=True)
    ap.add_argument("--queries", nargs="*", default=None)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    spark = build_session(
        app_name="polybot-bench-scale",
        shuffle_partitions=32,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "16g",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = queries()
    names = args.queries or default_query_set(qs)
    missing = [n for n in names if n not in qs]
    if missing:
        raise SystemExit(f"unknown queries: {missing}")

    # Warm the execution families once at the cheapest scale so the
    # first measured dir doesn't absorb JIT/Arrow bring-up.
    warm_dir = "/root/testdata/sf0.001"
    for warm in ("q_agg_q1", "q_dedup_minhash", "q_dedup_embed",
                 "q_udaf_grouped", "q_embed_hubness"):
        try:
            qs[warm](spark, warm_dir).write.mode("overwrite").format(
                "noop"
            ).save()
        except Exception as exc:  # noqa: BLE001
            print(f"warmup {warm} failed: {exc}", file=sys.stderr)

    results = []
    for d in args.dirs:
        print(f"== running {len(names)} queries serially at {d}", file=sys.stderr)
        results.append(run_dir(spark, qs, names, d))
        print(
            f"   total {results[-1]['total_sec']}s, steal "
            f"{results[-1]['steal']}",
            file=sys.stderr,
        )

    report = {"queries": names, "runs": results}
    if len(results) >= 2:
        base, scaled = results[0], results[-1]
        ratios = {
            n: round(scaled["walls"][n] / base["walls"][n], 2)
            for n in names
            if base["walls"].get(n, 0) > 0 and n in scaled["walls"]
        }
        report["wall_ratio_last_over_first"] = dict(
            sorted(ratios.items(), key=lambda kv: -kv[1])
        )
        report["total_ratio"] = round(
            scaled["total_sec"] / base["total_sec"], 2
        )
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(report, fh, indent=1)
    print(json.dumps({
        "total_secs": [r["total_sec"] for r in results],
        "total_ratio": report.get("total_ratio"),
        "worst5": dict(list(report.get(
            "wall_ratio_last_over_first", {}
        ).items())[:5]),
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
