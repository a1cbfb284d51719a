"""Seeded inputs and their exact truth, cached on disk.

Every table is a pure function of (table kind, seed, size). A table and
its truth are written under ``<cache>/<kind>-s<seed>-n<rows>/`` and the
truth file is written last, so its presence marks a complete entry.

Truth is computed here with pyarrow and plain Python, never with the
library under test: exact distinct counts for the HLL workloads and exact
word-5-gram Jaccard for the planted near-duplicate pairs.
"""

from __future__ import annotations

import json
import os
import shutil
from urllib.parse import urlsplit

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

SHINGLE_WORDS = 5
NEAR_DUP_THRESHOLD = 0.8
_BLOCK = 50  # documents per planted block; the block's first doc leads it


def cached(cache_dir: str, kind: str, seed: int, rows: int, build) -> tuple[str, dict]:
    """(table directory, truth) for one entry, building it with
    ``build(table_dir) -> truth`` when absent."""
    entry = os.path.join(cache_dir, f"{kind}-s{seed}-n{rows}")
    table_dir = os.path.join(entry, "table")
    truth_file = os.path.join(entry, "truth.json")
    if not os.path.exists(truth_file):
        shutil.rmtree(entry, ignore_errors=True)
        os.makedirs(entry)
        truth = build(table_dir)
        tmp = truth_file + ".tmp"
        with open(tmp, "w") as f:
            json.dump(truth, f)
        os.replace(tmp, truth_file)
    with open(truth_file) as f:
        return table_dir, json.load(f)


# ---------------------------------------------------------------------------
# pages (Common-Crawl-style, generated by the library's own generator)
# ---------------------------------------------------------------------------

def write_pages(spark, table_dir: str, rows: int, seed: int, n_hosts: int, files: int) -> None:
    from phphll_spark.sources.pages import generate_pages

    generate_pages(spark, rows, seed=seed, n_hosts=n_hosts, partitions=files).write.parquet(table_dir)


def distinct_count(table: pa.Table, column: str) -> int:
    return int(pc.count_distinct(table[column]).as_py())


def host_of(url: str) -> str:
    """Lower-cased URL host, '' when absent (what url_host returns)."""
    return (urlsplit(url).hostname or "").lower()


def host_day_distinct(table: pa.Table) -> dict[tuple[str, str], int]:
    """Exact distinct ``url`` per (url host, UTC day of ``warc_ts``)."""
    hosts = pa.array([host_of(u) for u in table["url"].to_pylist()], pa.string())
    days = pc.cast(table["warc_ts"], pa.date32())
    grouped = (
        pa.table({"host": hosts, "day": days, "url": table["url"]})
        .group_by(["host", "day"])
        .aggregate([("url", "count_distinct")])
    )
    return {
        (h, d.isoformat()): int(n)
        for h, d, n in zip(
            grouped["host"].to_pylist(), grouped["day"].to_pylist(), grouped["url_count_distinct"].to_pylist()
        )
    }


def pages_truth(table_dir: str) -> dict:
    table = pq.read_table(table_dir, columns=["url", "warc_ts", "text"])
    groups = host_day_distinct(table)
    return {
        "rows": table.num_rows,
        "text_distinct": distinct_count(table, "text"),
        "groups": [[h, d, n] for (h, d), n in sorted(groups.items())],
    }


# ---------------------------------------------------------------------------
# documents with planted exact and near duplicates
# ---------------------------------------------------------------------------

def _vocab(rng: np.random.Generator, size: int = 2000) -> list[str]:
    # >> 40 words: a tiny vocabulary makes unrelated docs share hot
    # shingles and turns LSH buckets into one giant blob
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    return ["".join(rng.choice(letters, rng.integers(3, 9))) for _ in range(size)]


def make_documents(n_docs: int, seed: int) -> tuple[list[str], list[list[int]]]:
    """Texts of ``n_docs`` documents and the planted blocks.

    Ids fall in blocks of 50; the first id of a block leads it. Each
    other id copies its leader verbatim with probability 2% and copies it
    plus two appended words with probability 3% (the shape of
    tools/gen_sf1.gen_documents); all other docs are fresh. Words are
    Zipf-ish (squared uniform) over a 2000-word vocabulary, 15 to 74
    words per doc. Returns (texts, blocks) where each block lists the
    leader and its copies, for blocks with at least one copy."""
    rng = np.random.default_rng(seed)
    vocab = _vocab(rng)
    n_words = rng.integers(15, 75, n_docs)
    word_idx = (rng.random(int(n_words.sum())) ** 2 * len(vocab)).astype(np.int64)
    bounds = np.concatenate(([0], np.cumsum(n_words)))
    texts = [" ".join(vocab[w] for w in word_idx[bounds[i]:bounds[i + 1]]) for i in range(n_docs)]
    kind = rng.random(n_docs)
    extra = rng.integers(0, len(vocab), (n_docs, 2))
    blocks: dict[int, list[int]] = {}
    for i in range(n_docs):
        lead = i - i % _BLOCK
        if i == lead or kind[i] >= 0.05:
            continue
        texts[i] = texts[lead] if kind[i] < 0.02 else f"{texts[lead]} {vocab[extra[i, 0]]} {vocab[extra[i, 1]]}"
        blocks.setdefault(lead, [lead]).append(i)
    return texts, list(blocks.values())


def word_shingles(text: str, k: int = SHINGLE_WORDS) -> set[tuple[str, ...]]:
    """Word k-grams of normalized text; a nonempty doc shorter than k is
    its own single shingle."""
    words = text.lower().split()
    if len(words) < k:
        return {tuple(words)} if words else set()
    return {tuple(words[i:i + k]) for i in range(len(words) - k + 1)}


def jaccard(a: set, b: set) -> float:
    union = len(a | b)
    return len(a & b) / union if union else 0.0


def planted_pairs(texts: list[str], blocks: list[list[int]], threshold: float = NEAR_DUP_THRESHOLD) -> dict:
    """{(id_a, id_b): exact Jaccard} for planted pairs at or above threshold."""
    out = {}
    for members in blocks:
        sh = {i: word_shingles(texts[i]) for i in members}
        for x, a in enumerate(members):
            for b in members[x + 1:]:
                j = jaccard(sh[a], sh[b])
                if j >= threshold:
                    out[(a, b)] = j
    return out


def write_documents(table_dir: str, n_docs: int, seed: int, files: int) -> dict:
    texts, blocks = make_documents(n_docs, seed)
    os.makedirs(table_dir)
    per = -(-n_docs // files)
    for f in range(files):
        lo, hi = f * per, min(n_docs, (f + 1) * per)
        pq.write_table(
            pa.table({"doc_id": pa.array(range(lo, hi), pa.int64()), "text": pa.array(texts[lo:hi], pa.string())}),
            os.path.join(table_dir, f"part-{f:05d}.parquet"),
        )
    truth = planted_pairs(texts, blocks)
    return {
        "rows": n_docs,
        "planted_docs": sum(len(b) for b in blocks),
        "pairs": [[a, b, j] for (a, b), j in sorted(truth.items())],
    }
