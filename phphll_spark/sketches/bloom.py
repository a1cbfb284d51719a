"""Bloom filter — mergeable membership sketch on the same agg skeleton.

Distributed shape identical to the HLL path: vectorized per-partition bit
sets (np.bitwise_or.at over packed uint64 words), bit-blob-only shuffle,
bitwise-OR merge (associative/commutative/idempotent). k hash functions
derived from one murmur64 via the Kirsch-Mitzenmacher double-hashing
construction (h1 + i*h2), so membership tests cost one hash pass.

Wire format: b"BLMK" + uint8 k + 0x00 pad + uint32 m_bits (LE) + packed
little-endian uint64 words.
"""

from __future__ import annotations

import math
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.pandas.functions import pandas_udf
from pyspark.sql.types import BinaryType, BooleanType, StructField, StructType

from .. import kernel

MAGIC = b"BLMK"
_SEED1 = 0x2545F491
_SEED2 = 0x8CB92BA7


class InvalidBloomError(ValueError):
    pass


def optimal_params(n_items: int, fp_rate: float = 0.01) -> tuple[int, int]:
    """(m_bits, k) minimizing size for a target false-positive rate."""
    m = max(64, int(-n_items * math.log(fp_rate) / (math.log(2) ** 2)))
    m = ((m + 63) // 64) * 64
    k = max(1, round(m / max(n_items, 1) * math.log(2)))
    return m, min(k, 16)


def empty_bloom(m_bits: int = 8192) -> np.ndarray:
    if m_bits % 64:
        raise ValueError(f"m_bits={m_bits} is not a multiple of 64")
    return np.zeros(m_bits // 64, dtype=np.uint64)


def _bit_positions(data: np.ndarray, offsets: np.ndarray, m_bits: int, k: int) -> np.ndarray:
    """(n_items, k) bit positions via double hashing."""
    h1 = kernel.murmur64a(data, offsets, seed=_SEED1)
    h2 = kernel.murmur64a(data, offsets, seed=_SEED2) | np.uint64(1)  # odd
    i = np.arange(k, dtype=np.uint64)[None, :]
    return ((h1[:, None] + i * h2[:, None]) % np.uint64(m_bits)).astype(np.int64)


def bloom_update(words: np.ndarray, data: np.ndarray, offsets: np.ndarray, k: int) -> None:
    if len(offsets) <= 1:
        return
    pos = _bit_positions(data, offsets, words.size * 64, k).reshape(-1)
    np.bitwise_or.at(words, pos >> 6, np.uint64(1) << (pos & 63).astype(np.uint64))


def bloom_contains(words: np.ndarray, data: np.ndarray, offsets: np.ndarray, k: int) -> np.ndarray:
    """Vectorized membership test for a batch of items -> bool array."""
    n = len(offsets) - 1
    if n <= 0:
        return np.zeros(0, dtype=bool)
    pos = _bit_positions(data, offsets, words.size * 64, k)
    bits = (words[pos >> 6] >> (pos & 63).astype(np.uint64)) & np.uint64(1)
    return bits.all(axis=1)


def bloom_merge(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    if a.size != b.size:
        raise InvalidBloomError(f"cannot merge blooms of sizes {a.size * 64} and {b.size * 64} bits")
    return a | b


def bloom_serialize(words: np.ndarray, k: int) -> bytes:
    return MAGIC + bytes([k, 0]) + int(words.size * 64).to_bytes(4, "little") + words.astype("<u8").tobytes()


def bloom_deserialize(blob: bytes) -> tuple[np.ndarray, int]:
    if len(blob) < 10 or blob[:4] != MAGIC:
        raise InvalidBloomError("bad magic, expected 'BLMK'")
    k = blob[4]
    m_bits = int.from_bytes(blob[6:10], "little")
    expected = 10 + m_bits // 8
    if len(blob) != expected:
        raise InvalidBloomError(f"bloom payload length {len(blob)} != {expected} for m={m_bits}")
    return np.frombuffer(blob[10:], dtype="<u8").copy(), k


# ---------------------------------------------------------------------------
# Spark surface
# ---------------------------------------------------------------------------

def bloom_partial_sketches(
    df: DataFrame, keys: list[str], value_col: str, m_bits: int = 65536, k: int = 7
) -> DataFrame:
    from ..functions.sketch import _series_to_buffers

    key_fields = [df.schema[kk] for kk in keys]
    out_schema = StructType(list(key_fields) + [StructField("bloom", BinaryType(), False)])

    def fold(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc: dict = {}
        for pdf in batches:
            if pdf.empty:
                continue
            data, offsets, valid = _series_to_buffers(pdf[value_col])
            if not keys:
                codes = np.zeros(max(len(offsets) - 1, 0), dtype=np.int64)
                uniques_rows = [()]
            else:
                if len(keys) == 1:
                    codes_full, uniques = pd.factorize(pdf[keys[0]], use_na_sentinel=False)
                    uniques_rows = [(u,) for u in uniques]
                else:
                    mi = pd.MultiIndex.from_frame(pdf[keys])
                    codes_full, uniques = pd.factorize(mi, use_na_sentinel=False)
                    uniques_rows = list(uniques)
                codes = codes_full[valid] if valid is not None else codes_full
            for row in uniques_rows:
                if row not in acc:
                    acc[row] = empty_bloom(m_bits)
            if len(offsets) <= 1:
                continue
            pos_all = _bit_positions(data, offsets, m_bits, k)
            order = np.argsort(codes, kind="stable")
            sc = codes[order]
            bounds = np.flatnonzero(np.diff(sc)) + 1
            starts = np.concatenate(([0], bounds))
            ends = np.concatenate((bounds, [len(sc)]))
            for s, e in zip(starts.tolist(), ends.tolist()):
                words = acc[uniques_rows[sc[s]]]
                pos = pos_all[order[s:e]].reshape(-1)
                np.bitwise_or.at(words, pos >> 6, np.uint64(1) << (pos & 63).astype(np.uint64))
        if not acc:
            return
        rows = list(acc.keys())
        out = {kk: [r[ki] for r in rows] for ki, kk in enumerate(keys)}
        out["bloom"] = [bloom_serialize(acc[r], k) for r in rows]
        yield pd.DataFrame(out)

    return df.select(*keys, value_col).mapInPandas(fold, schema=out_schema)


def make_bloom_merge_agg():
    @pandas_udf(BinaryType())
    def bloom_merge_agg(blobs: pd.Series) -> bytes:
        acc, kk = None, 7
        for blob in blobs:
            if blob is None:
                continue
            words, kk = bloom_deserialize(bytes(blob))
            acc = words if acc is None else bloom_merge(acc, words)
        if acc is None:
            acc = empty_bloom()
        return bloom_serialize(acc, kk)

    return bloom_merge_agg


def bloom_sketch(df: DataFrame, keys: list[str], value_col: str, m_bits: int = 65536, k: int = 7) -> DataFrame:
    partials = bloom_partial_sketches(df, keys, value_col, m_bits, k)
    merge = make_bloom_merge_agg()
    if keys:
        return partials.groupBy(*keys).agg(merge(F.col("bloom")).alias("bloom"))
    return partials.agg(merge(F.col("bloom")).alias("bloom"))


@pandas_udf(BooleanType())
def bloom_might_contain(blobs: pd.Series, items: pd.Series) -> pd.Series:
    out = np.zeros(len(blobs), dtype=bool)
    for i, (blob, item) in enumerate(zip(blobs, items)):
        if blob is None or item is None:
            continue
        words, k = bloom_deserialize(bytes(blob))
        data, offsets = kernel.bytes_to_buffers([str(item).encode()])
        out[i] = bool(bloom_contains(words, data, offsets, k)[0])
    return pd.Series(out)
