#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

$SPARK_GRAFT_CPUS defaults to the cores this process may run on, and the
driver heap is sized from MemTotal (perfbench/box.py).

Prints ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ...,
   "pages_docs_per_sec": N, "pages_rows": N}

The pages ingest measure is the flagship pipeline of SURVEY.md §3.3
(scan → hash → per-partition registers → merge → estimate) over a
generated Common-Crawl-style table cached under .bench_cache/.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from perfbench.box import cores, mem_total_bytes, spark_settings  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", cores()))
PAGES_ROWS = int(os.environ.get("SPARK_GRAFT_PAGES_ROWS", "8000000"))

HEADLINE = [
    "hll_global_parts_bound",
    "hll_users_per_event_type_bound",
    "hll_users_per_day_bound",
    "hll_users_sliding_week_bound",
    "hll_merge_assoc_per_lang",
    "hll_rollup_lang_source_bound",
    "dedup_exact_docs",
    "dedup_paragraph_docs",
    "dedup_minhash_docs",
    "corpus_clean_stats",
    "decontaminate_docs",
    "stratified_sample_stats",
    "cap_per_source_stats",
    "mg_heavy_event_types",
    "dedup_url_docs",
    "token_stats_per_lang",
    "quality_score_docs",
    "dedup_span_docs",
    "session_stats_users",
    "topk_cosine_neighbors",
    "ann_ivf_recall",
    "simhash_docs",
    "pricing_summary",
]
# (streaming_daily_users_eq is deliberately NOT a headline: its wall time
# is availableNow micro-batch fixed overhead, not engine throughput — the
# driver's correctness gate still runs it against its oracle.)


def main() -> None:
    from pyspark.sql import SparkSession

    import __spark_entry__ as entry_mod
    from phphll_spark.functions import hll_global_distinct
    from phphll_spark.sources.pages import generate_pages_parquet

    box = spark_settings(CPUS, mem_total_bytes())
    spark = (
        SparkSession.builder.master(box["spark.master"])
        .appName("phphll_spark-bench")
        .config("spark.sql.shuffle.partitions", str(max(CPUS, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", box["spark.driver.memory"])
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    # warm the JVM + the Python/Arrow workers once so timings measure
    # steady-state throughput, not one-time process startup
    spark.range(0, CPUS * 4, numPartitions=CPUS).mapInPandas(
        lambda it: it, schema="id long"
    ).count()

    qs = entry_mod.queries()
    timings: dict[str, float] = {}

    # flagship ingest throughput FIRST (steady-state, before the heavy
    # headline queries churn JVM heap / Python worker memory): min of 3
    cache = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".bench_cache", f"pages_{PAGES_ROWS}")
    if not os.path.exists(os.path.join(cache, "_SUCCESS")):
        generate_pages_parquet(spark, cache, PAGES_ROWS, n_files=max(CPUS, 16))
    pages = spark.read.parquet(cache)

    est = hll_global_distinct(pages, "url")  # warm the scan/hash path
    ingest_s = float("inf")
    for _ in range(3):
        t0 = time.time()
        est = hll_global_distinct(pages, "url")
        ingest_s = min(ingest_s, time.time() - t0)
    timings["pages_ingest_distinct_urls"] = round(ingest_s, 3)
    docs_per_sec = int(PAGES_ROWS / ingest_s)

    # the north-star workload: hash the ~270 B extracted text per doc
    text_s = float("inf")
    for _ in range(3):
        t0 = time.time()
        est_text = hll_global_distinct(pages, "text")
        text_s = min(text_s, time.time() - t0)
    timings["pages_ingest_distinct_texts"] = round(text_s, 3)
    text_docs_per_sec = int(PAGES_ROWS / text_s)

    from phphll_spark.operators import release_cached

    # min-of-2 per query: the box is shared and a single co-tenant spike
    # otherwise lands straight in the recorded number (see CLAUDE.md —
    # "never conclude from one rep"); state-reuse between reps matches
    # steady-state operation (e.g. the IVF index builds once, then probes)
    for name in HEADLINE:
        best = float("inf")
        for _ in range(2):
            t0 = time.time()
            df = qs[name](spark, SF_DIR)
            n = df.count()  # materialize
            best = min(best, time.time() - t0)
            assert n >= 0
            release_cached()  # drop dedup LSH intermediates between reps
        timings[name] = round(best, 3)

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline queries + pages ingest (approx distinct) wall time",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": SF_DIR,
                "pages_rows": PAGES_ROWS,
                "pages_docs_per_sec": docs_per_sec,
                "pages_estimate": est,
                "pages_text_docs_per_sec": text_docs_per_sec,
                "pages_text_estimate": est_text,
                "cpus": CPUS,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
