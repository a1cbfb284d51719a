#!/usr/bin/env python
"""sf1-tier headline run (VERDICT r04 #4): the bench.py headline list over
the 63x-sf0.1 tables in .bench_cache/sf1 (tools/gen_sf1.py — documents
5M = 1000x, events 10M = 100x, lineitem 6M = 10x, embeddings 200k =
100x), on every core this process may run on, with the driver
heap sized from MemTotal (perfbench/box.py).

Three near-dup queries run the PRODUCTION configuration — word 5-gram
shingles + max_bucket_size=512 — instead of the oracle-paired char
5-gram one. Measured at sf1 (BENCH.md): char shingles put 4,404 docs in
the hottest LSH bucket and produce 282M candidate pairs (113M even
capped at 64) because boilerplate char-grams correlate minhashes of
unrelated docs; word shingles yield max bucket 12 and 7.1M candidates
on the same corpus. Char remains the sf0.01 oracle setting; word is
what a 100TB pipeline runs (Lee et al.'s unit), via the same operator's
`shingle_unit` flag. Every other query is the driver query verbatim.

Reps: min-of-2 for queries that finish < 120s on rep 1, single rep
otherwise (the box is shared; heavies dominate wall either way).

Usage: python tools/bench_sf1.py (pin with taskset to run on fewer cores)
Writes BENCH_sf1.json.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from perfbench.box import cores, mem_total_bytes, spark_settings  # noqa: E402

RUNNER = r"""
import json, sys, time
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession, functions as F
import __spark_entry__ as entry_mod

SF = {repo!r} + "/.bench_cache/sf1"
spark = (SparkSession.builder.master({master!r})
         .config("spark.sql.shuffle.partitions", {partitions!r})
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.driver.memory", {memory!r})
         .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
         .config("spark.ui.enabled", "false").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
spark.range(0, 4 * {cpus}, numPartitions={cpus}).mapInPandas(lambda it: it, schema="id long").count()

from phphll_spark.operators import (
    dedup_exact_keep, dedup_minhash, dedup_minhash_keep, release_cached,
)
from phphll_spark.functions import text as T
from __spark_entry__ import _portable_quality_expr, load_table

MH = dict(threshold=0.8, num_hashes=64, bands=16, shingle_k=5,
          max_bucket_size=512, shingle_unit="word")

def q_minhash_word(spark, sf):
    docs = load_table(spark, sf, "documents")
    return dedup_minhash(docs, "doc_id", "text", **MH)

def q_minhash_keep_word(spark, sf):
    docs = load_table(spark, sf, "documents")
    return dedup_minhash_keep(docs, "doc_id", "text", **MH).select("doc_id", "lang", "source")

def q_clean_word(spark, sf):
    docs = load_table(spark, sf, "documents")
    survivors = dedup_exact_keep(docs, "doc_id", "text")
    near = dedup_minhash(survivors, "doc_id", "text", **MH)
    losers = near.select(F.col("id_b").alias("doc_id")).distinct()
    cleaned = survivors.join(losers, "doc_id", "left_anti")
    kept = cleaned.withColumn("_q", _portable_quality_expr("text")).filter(F.col("_q") >= 0.3)
    return kept.groupBy("lang").agg(
        F.count("*").alias("n_docs"), F.sum(T.token_count("text")).alias("total_tokens"))

qs = entry_mod.queries()
qs["dedup_minhash_docs"] = q_minhash_word          # production word-shingle config
qs["dedup_minhash_keep_docs"] = q_minhash_keep_word
qs["corpus_clean_stats"] = q_clean_word

HEADLINE = [
    "hll_global_parts_bound", "hll_users_per_event_type_bound",
    "hll_users_per_day_bound", "hll_users_sliding_week_bound",
    "hll_merge_assoc_per_lang", "hll_rollup_lang_source_bound",
    "dedup_exact_docs", "dedup_paragraph_docs", "dedup_minhash_docs",
    "corpus_clean_stats", "decontaminate_docs", "stratified_sample_stats",
    "cap_per_source_stats", "mg_heavy_event_types", "dedup_url_docs",
    "token_stats_per_lang", "quality_score_docs", "dedup_span_docs",
    "session_stats_users", "topk_cosine_neighbors", "ann_ivf_recall",
    "simhash_docs", "pricing_summary",
]

timings, rows = {{}}, {{}}
for name in HEADLINE:
    t0 = time.time()
    n = qs[name](spark, SF).count()
    w1 = time.time() - t0
    release_cached()
    best = w1
    if w1 < 120:
        t0 = time.time()
        n = qs[name](spark, SF).count()
        best = min(best, time.time() - t0)
        release_cached()
    timings[name] = round(best, 2); rows[name] = n
    sys.stderr.write(f"{{name}}: {{best:.2f}}s rows={{n}}\n")

print(json.dumps({{
    "metric": "sf1 headline wall time (documents 5M / events 10M / lineitem 6M / embeddings 200k)",
    "value": round(sum(timings.values()), 2), "unit": "sec",
    "queries": timings, "rows": rows, "cpus": {cpus},
    "near_dup_config": "word 5-gram shingles + max_bucket_size=512 (production; char = oracle setting, see BENCH.md)",
}}))
spark.stop()
"""


def main() -> None:
    cpus = cores()
    box = spark_settings(cpus, mem_total_bytes())
    runner = RUNNER.format(
        repo=REPO,
        cpus=cpus,
        master=box["spark.master"],
        partitions=box["spark.sql.shuffle.partitions"],
        memory=box["spark.driver.memory"],
    )
    out = subprocess.run(
        [sys.executable, "-c", runner], check=True, capture_output=True, text=True
    )
    sys.stderr.write(out.stderr[-4000:])
    line = [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
    rec = json.loads(line)
    with open(os.path.join(REPO, "BENCH_sf1.json"), "w") as f:
        json.dump(rec, f, indent=2)
    print(json.dumps(rec, indent=2))


if __name__ == "__main__":
    main()
