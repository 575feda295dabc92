#!/usr/bin/env python
"""Corpus-scale stress for the dedup pair pipelines (run on demand, not
part of pytest): the fixture corpus tops out at 6 k docs (sf0.1), so
this synthesizes an N-doc corpus with a controlled near-duplicate rate
(10% of docs are light mutations of a 2% template pool — the shape of a
crawl with boilerplate reposts), writes it as a documents.parquet the
engine's catalog can read, and times the REGISTERED pipelines:

  * q_dedup_minhash   (LSH-banded candidate generation + verify)
  * q_dedup_ngram     (df-capped shingle inverted index)
  * ngram_component_labels (shared CC label frame over the pair graph)

Reports wall seconds and pair/cluster counts per corpus size — the
claim under test is SCALE.md's "pair volume tracks the near-dup rate,
not |corpus|²" (df-cap + banding bound the fan-out).

Usage:  python scripts/stress_dedup_corpus.py [--docs 20000 50000 100000]
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from polybot_data_etl_spark.session import build_session

_VOCAB = 10_000  # synthetic token space: large enough that unrelated
# docs share almost no 5-gram shingles and no shingle goes df-hot by
# vocabulary saturation (a 30-word vocab zeroed the pair set at 50 k
# docs — every shingle blew the df-cap)


def synth_documents(spark, n_docs: int, out_dir: str) -> None:
    """Deterministic corpus: 88% unique docs (hash-driven word choice),
    2% template docs, 10% near-dup mutations of a template (same word
    stream with one word swapped every 8 positions)."""
    n_templates = max(1, n_docs // 50)
    base = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        # 0 = unique, 1 = template, 2 = near-dup of template (id % pool)
        F.when(F.col("id") % 50 == 0, F.lit(1))
        .when(F.col("id") % 10 == 1, F.lit(2))
        .otherwise(F.lit(0))
        .alias("kind"),
        (F.col("id") % n_templates).alias("tmpl"),
    )
    # seed: unique docs hash their own id, dups hash their template's id
    seed = F.when(F.col("kind") == 2, F.col("tmpl") * 50).otherwise(
        F.col("doc_id")
    )
    toks = F.transform(
        F.sequence(F.lit(0), F.lit(49)),
        # mutation channel: near-dups hash every 8th word with their
        # OWN id (third hash arg) so Jaccard stays high but < 1
        lambda i: F.concat(
            F.lit("w"),
            F.pmod(
                F.xxhash64(
                    seed,
                    i,
                    F.when(
                        (F.col("kind") == 2) & (i % 8 == 0),
                        F.col("doc_id"),
                    ).otherwise(F.lit(-1)),
                ),
                F.lit(_VOCAB),
            ),
        ),
    )
    docs = base.select(
        "doc_id",
        F.array_join(toks, " ").alias("text"),
        F.lit("en").alias("lang"),
        F.concat(F.lit("src"), (F.col("doc_id") % 5)).alias("source"),
    ).withColumn("n_chars", F.length("text").cast("bigint"))
    docs.coalesce(4).write.mode("overwrite").parquet(
        os.path.join(out_dir, "documents.parquet")
    )


def timed(label: str, fn):
    t0 = time.time()
    out = fn()
    dt = time.time() - t0
    print(f"  {label:38s} {dt:7.2f} s   {out}")
    return dt


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--docs", type=int, nargs="+", default=[20_000, 50_000, 100_000]
    )
    args = ap.parse_args()

    spark = build_session(
        app_name="stress-dedup-corpus",
        shuffle_partitions=32,
        extra_conf={"spark.driver.memory": "16g"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    from polybot_data_etl_spark.functions import dedup as D
    from polybot_data_etl_spark.functions.text import q_dedup_minhash
    from polybot_data_etl_spark.plans import materialize

    for n in args.docs:
        work = tempfile.mkdtemp(prefix=f"dedup_corpus_{n}_")
        try:
            synth_documents(spark, n, work)
            materialize.clear()
            print(f"docs={n:,}")
            timed(
                "minhash LSH pairs",
                lambda: q_dedup_minhash(spark, work).count(),
            )
            timed(
                "ngram shingle-index pairs",
                lambda: D.q_dedup_ngram(spark, work).count(),
            )
            timed(
                "CC labels over pair graph",
                lambda: D.ngram_component_labels(spark, work).count(),
            )
        finally:
            shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
