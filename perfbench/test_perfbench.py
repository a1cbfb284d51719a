"""Tests of the benchmark's own helpers (no Spark needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import datetime as dt
import json
import os
import re

import pyarrow as pa
import pytest

from perfbench import box, data, run, workloads
from perfbench.trace import ladder_self_times

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# -- truth ------------------------------------------------------------------

def test_host_day_distinct_counts_urls_per_host_and_utc_day():
    ts = lambda s: dt.datetime.fromisoformat(s)
    table = pa.table(
        {
            "url": [
                "https://Host1.example.com/page/1",  # same host, a different url
                "https://host1.example.com/page/1",
                "https://host1.example.com/page/1",  # a repeated url counts once
                "https://host1.example.com/page/2",
                "https://host2.example.com:8080/x",
                "not a url",
            ],
            "warc_ts": pa.array(
                [
                    ts("2024-09-01 23:59:59"),
                    ts("2024-09-01 00:00:00"),
                    ts("2024-09-01 12:00:00"),
                    ts("2024-09-02 00:00:00"),
                    ts("2024-09-01 01:00:00"),
                    ts("2024-09-03 01:00:00"),
                ],
                pa.timestamp("us"),
            ),
        }
    )
    assert data.host_day_distinct(table) == {
        ("host1.example.com", "2024-09-01"): 2,
        ("host1.example.com", "2024-09-02"): 1,
        ("host2.example.com", "2024-09-01"): 1,
        ("", "2024-09-03"): 1,
    }


def test_distinct_count():
    assert data.distinct_count(pa.table({"t": ["a", "b", "a", ""]}), "t") == 3


def test_word_shingles_and_jaccard():
    a = data.word_shingles("a b c d e f")
    assert a == {("a", "b", "c", "d", "e"), ("b", "c", "d", "e", "f")}
    assert data.word_shingles("A  b") == {("a", "b")}  # shorter than k: one shingle
    assert data.word_shingles("") == set()
    assert data.jaccard(a, data.word_shingles("a b c d e")) == 0.5
    assert data.jaccard(set(), set()) == 0.0


def test_documents_are_seeded_and_planted_pairs_are_exact():
    texts, blocks = data.make_documents(2000, seed=3)
    assert (texts, blocks) == data.make_documents(2000, seed=3)
    assert texts != data.make_documents(2000, seed=4)[0]
    assert blocks and all(m[0] % 50 == 0 and all(i // 50 == m[0] // 50 for i in m) for m in blocks)
    pairs = data.planted_pairs(texts, blocks)
    for (a, b), j in pairs.items():
        assert j == data.jaccard(data.word_shingles(texts[a]), data.word_shingles(texts[b])) >= 0.8
    # a copy plus two words, n words long, has Jaccard (n-4)/(n-2) with its leader
    for m in blocks:
        for i in m[1:]:
            n = len(texts[m[0]].split())
            if texts[i] != texts[m[0]]:
                assert pairs[(m[0], i)] == pytest.approx((n - 4) / (n - 2))
            else:
                assert pairs[(m[0], i)] == 1.0


def test_hll_bound_is_six_sigma_rounded_up_plus_collision_slack():
    assert workloads.hll_bound(0) == 2
    assert workloads.hll_bound(10) == 3
    assert workloads.hll_bound(100_000) == 4877


# -- traced-run arithmetic --------------------------------------------------

def test_ladder_self_times_subtract_the_previous_rung():
    st = ladder_self_times([("scan", 1.0), ("bridge", 2.5), ("partials", 2.25), ("full", 4.0)])
    assert st == {"scan": 1.0, "bridge": 1.5, "partials": -0.25, "full": 1.75}
    assert ladder_self_times([]) == {}


def test_spark_settings_come_from_the_box():
    s = box.spark_settings(4, 16 << 30)
    assert s["spark.master"] == "local[4]"
    assert s["spark.driver.memory"] == "4096m"
    assert s["spark.sql.shuffle.partitions"] == "8"
    assert box.spark_settings(64, 512 << 30)["spark.driver.memory"] == "8192m"
    assert box.spark_settings(1, 2 << 30)["spark.driver.memory"] == "1024m"


def test_proc_readers_see_this_process():
    assert box.cores() >= 1
    assert box.mem_total_bytes() > 0
    assert box.peak_rss_mb(os.getpid()) > 0
    assert box.peak_rss_mb(-1) == 0.0


# -- metric names -----------------------------------------------------------

def test_metric_names_are_valid_and_match_what_the_runner_emits():
    b = _bench()
    names = [m["name"] for m in b["end_to_end"] + b["per_layer"]] + [w["name"] for w in b["workloads"]]
    assert all(NAME.fullmatch(n) for n in names), [n for n in names if not NAME.fullmatch(n)]
    assert len(names) == len(set(names))
    assert {m["name"] for m in b["end_to_end"]} == {
        "setup_s", "job_s_p50", "rows_per_s", "py_peak_rss_mb", "recall", "precision"
    }
    assert {w["name"] for w in b["workloads"]} <= set(workloads.WORKLOADS)
    assert all(re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}", m["unit"]) for m in b["end_to_end"] + b["per_layer"])
    assert any(m["name"] == "setup_s" and m["unit"] == "s" for m in b["end_to_end"])
    assert all(0 < m["bound"] <= 0.25 for m in b["end_to_end"])


def test_runner_refuses_a_tree_without_the_library(tmp_path, monkeypatch):
    monkeypatch.setattr(run, "ROOT", str(tmp_path))
    assert run.main(["--workload", "ingest_text", "--seed", "1", "--seconds", "1"]) == 2
