"""Spark surface of the HLL engine: vectorized pandas/Arrow UDFs and
DataFrame-level operators.

Scale design (the part that matters at 10^12 rows):

- ``hll_sketch`` / ``hll_count_distinct`` (and so ``hll_global_distinct``)
  are two ``mapInArrow`` folds around one shuffle. The **partial fold**
  hashes each input partition's rows straight out of the Arrow buffers
  into one register state per group (sparse until
  ``_SPARSE_PROMOTE_ENTRIES`` set registers, then a raw 2^p array) and
  emits one private **raw partial** per (partition, group): a tag byte,
  then packed ``idx << 8 | rho`` uint32 words or the raw registers — no
  HYLL encoding. The partials are hash-partitioned on the keys (one
  partition when unkeyed), and the **merge fold** makes one Python call
  per partition: it folds every partial into the same sparse -> dense
  state machine (max-merge, hyperloglog.c:1038-1077, exact under any
  partitioning or AQE re-plan) and emits per group either the HYLL blob
  (``codec.serialize``) or the estimate (``kernel.estimate``) — no
  per-group UDF call, no second Python stage to count.
- ``hll_partial_sketches`` is the same partial fold with HYLL-encoded
  output, and ``make_hll_merge_agg`` / ``hll_count_sketch`` merge and
  count stored HYLL blobs: the public surfaces for SQL, streaming and
  resumable pipelines. The partial fold mirrors the reference's batched
  ``pfAddMany`` hot path (hyperloglog.c:1192-1219) with Arrow batches as
  the batch unit.
- Grouped-agg pandas UDF ``hll_sketch_agg`` is also provided for SQL
  composition (`GROUP BY` over raw values); note Spark executes grouped-agg
  pandas UDFs with a full shuffle of input rows, so the two-fold operators
  above are the preferred path at scale.

No per-row Python anywhere: hashing reads Arrow string buffers directly
(offsets + data) and the per-batch work is numpy.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.pandas.functions import pandas_udf
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .. import codec, kernel
from ..kernel import HLL_P_DEFAULT

# In-flight sparse groups promote to a raw 2^p buffer past this many set
# registers — the accumulator analog of the reference's 3000-byte sparse
# cap (hyperloglog.c:812-813): beyond it the raw buffer is both smaller
# and faster to update.
_SPARSE_PROMOTE_ENTRIES = 3072


# ---------------------------------------------------------------------------
# Arrow-buffer extraction: pd.Series[str|bytes] -> (uint8 data, int64 offsets)
# ---------------------------------------------------------------------------

def _series_to_buffers(series: pd.Series) -> tuple[np.ndarray, np.ndarray, np.ndarray | None]:
    """Zero-Python-loop extraction of the concatenated byte payload and
    offsets from a pandas Series of strings/bytes via Arrow.

    Returns (data, offsets, valid_mask); null elements are dropped by the
    caller using the mask (Spark aggregate semantics ignore NULLs).
    """
    return _arrow_to_buffers(pa.array(series, from_pandas=True))


def _arrow_to_buffers(arr: pa.Array) -> tuple[np.ndarray, np.ndarray, np.ndarray | None]:
    """Buffer extraction straight from an Arrow array (the mapInArrow hot
    path — the batch never becomes pandas objects)."""
    if pa.types.is_string(arr.type) or pa.types.is_binary(arr.type):
        arr = arr.cast(pa.large_binary())
    elif not pa.types.is_large_binary(arr.type) and not pa.types.is_large_string(arr.type):
        arr = arr.cast(pa.large_utf8())
    if pa.types.is_large_string(arr.type):
        arr = arr.cast(pa.large_binary())
    null_mask = None
    if arr.null_count:
        null_mask = np.asarray(arr.is_valid())
        arr = arr.drop_null()
    buffers = arr.buffers()
    offsets = np.frombuffer(buffers[1], dtype=np.int64, count=len(arr) + 1, offset=arr.offset * 8)
    data_buf = buffers[2]
    data = (
        np.frombuffer(data_buf, dtype=np.uint8, count=int(offsets[-1]) - int(offsets[0]), offset=int(offsets[0]))
        if data_buf is not None and len(arr)
        else np.empty(0, np.uint8)
    )
    if int(offsets[0]) != 0:
        offsets = offsets - offsets[0]
    return data, offsets, null_mask


def _batch_idx_rho(series: pd.Series, p: int) -> tuple[np.ndarray, np.ndarray, np.ndarray | None]:
    data, offsets, valid = _series_to_buffers(series)
    if len(offsets) <= 1:
        return np.empty(0, np.int64), np.empty(0, np.uint8), valid
    idx, rho = kernel.hash_idx_rho(kernel.murmur64a(data, offsets), p)
    return idx, rho, valid


def _arrow_idx_rho(arr: pa.Array, p: int) -> tuple[np.ndarray, np.ndarray, np.ndarray | None]:
    data, offsets, valid = _arrow_to_buffers(arr)
    if len(offsets) <= 1:
        return np.empty(0, np.int64), np.empty(0, np.uint8), valid
    idx, rho = kernel.hash_idx_rho(kernel.murmur64a(data, offsets), p)
    return idx, rho, valid


# The one NaN key object: NaN != NaN, so key tuples holding NaNs from
# different batches would never meet in a dict unless they share it.
_NAN = float("nan")


def _arrow_group_codes(rb: pa.RecordBatch, keys: list[str]) -> tuple[np.ndarray, list[tuple]]:
    """Per-row compact group codes + the unique key tuples they index,
    via Arrow dictionary encoding (no pandas/object materialization).
    NULL key values group as None, matching groupBy semantics; float keys
    are normalized as Spark groups them (every NaN is ``_NAN``, -0.0 is
    0.0); no keys is one group, ``()``."""
    if not keys:
        return np.zeros(rb.num_rows, dtype=np.int64), [()]

    def one(name: str) -> tuple[np.ndarray, list]:
        d = rb.column(rb.schema.get_field_index(name)).dictionary_encode()
        vals = d.dictionary.to_pylist()
        if pa.types.is_floating(d.dictionary.type):
            vals = [_NAN if v != v else 0.0 if v == 0 else v for v in vals]
        ind = d.indices
        if ind.null_count:
            import pyarrow.compute as pc

            ind = pc.fill_null(ind, len(vals))
            vals = vals + [None]
        return ind.to_numpy(zero_copy_only=False).astype(np.int64), vals

    codes, vals = one(keys[0])
    if len(keys) == 1:
        return codes, [(v,) for v in vals]
    sizes = [len(vals)]
    val_lists = [vals]
    for k in keys[1:]:
        c, v = one(k)
        codes = codes * len(v) + c
        sizes.append(len(v))
        val_lists.append(v)
    uniq_codes, inv = np.unique(codes, return_inverse=True)
    tuples = []
    for code in uniq_codes.tolist():
        parts = []
        rem = code
        for s in reversed(sizes[1:]):
            rem, r = divmod(rem, s)
            parts.append(r)
        parts.append(rem)
        idxs = list(reversed(parts))
        tuples.append(tuple(val_lists[i][idxs[i]] for i in range(len(keys))))
    return inv.astype(np.int64), tuples


# ---------------------------------------------------------------------------
# Group folds: one sparse -> dense state machine for partials and merges
# ---------------------------------------------------------------------------

# A group's in-flight state: a sparse register set (sorted unique idx +
# per-idx max rho) or, once promoted, a raw 2^p register array.
_EMPTY_STATE = (np.empty(0, dtype=np.int64), np.empty(0, dtype=np.uint8))


def _fold_update(state, idx: np.ndarray, rho: np.ndarray, p: int):
    """Fold (idx, rho) observations into one group's state; returns the
    new state. The only place the ``_SPARSE_PROMOTE_ENTRIES`` rule lives."""
    if isinstance(state, np.ndarray):  # already dense
        np.maximum.at(state, idx, rho)
        return state
    if len(idx) > _SPARSE_PROMOTE_ENTRIES:
        # heavy slice: densify now — a raw buffer is cheaper than sorting
        # large sparse merges
        regs = kernel.sparse_to_registers(state[0], state[1], p)
        np.maximum.at(regs, idx, rho)
        return regs
    ni, nr = kernel.sparse_update(state[0], state[1], idx, rho)
    if len(ni) > _SPARSE_PROMOTE_ENTRIES:
        return kernel.sparse_to_registers(ni, nr, p)
    return ni, nr


def _state_registers(state, p: int) -> np.ndarray:
    return state if isinstance(state, np.ndarray) else kernel.sparse_to_registers(state[0], state[1], p)


# Raw partials: the private wire format between the partial fold and the
# merge fold of hll_sketch / hll_count_distinct — a tag byte, then either
# little-endian uint32 ``idx << 8 | rho`` words (sparse) or the 2^p raw
# uint8 registers (dense). No RLE, no estimate: the merge decodes it with
# one vectorized pass and never sees HYLL.
_RAW_SPARSE = 0
_RAW_DENSE = 1


def _pack_partial(state) -> bytes:
    if isinstance(state, np.ndarray):
        return bytes([_RAW_DENSE]) + state.tobytes()
    idx, rho = state
    return bytes([_RAW_SPARSE]) + ((idx.astype("<u4") << 8) | rho).astype("<u4").tobytes()


def _unpack_partials(arr: pa.Array) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Raw partials -> (row, idx, rho) of every register they set, ``row``
    indexing ``arr``. Sparse words of the whole batch are gathered and
    split in one vectorized pass; dense partials contribute their nonzero
    registers."""
    data, offsets, _ = _arrow_to_buffers(arr)
    starts, ends = offsets[:-1], offsets[1:]
    plen = ends - starts - 1
    dense = data[starts] == _RAW_DENSE
    keep = np.repeat(~dense, plen + 1)
    keep[starts] = False  # tag bytes
    words = data[keep].view("<u4")
    sparse_rows = np.flatnonzero(~dense)
    rows = [np.repeat(sparse_rows, plen[sparse_rows] // 4)]
    idx = [(words >> 8).astype(np.int64)]
    rho = [(words & 0xFF).astype(np.uint8)]
    for r in np.flatnonzero(dense).tolist():
        regs = data[starts[r] + 1 : ends[r]]
        nz = np.flatnonzero(regs)
        rows.append(np.full(len(nz), r, dtype=np.int64))
        idx.append(nz)
        rho.append(regs[nz])
    return np.concatenate(rows), np.concatenate(idx), np.concatenate(rho)


def _hashed_values(value_col: str, p: int):
    """Observations of a raw value column: (row, idx, rho) of every
    non-NULL value (Spark aggregate semantics ignore NULLs)."""

    def observe(rb: pa.RecordBatch) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        idx, rho, valid = _arrow_idx_rho(rb.column(rb.schema.get_field_index(value_col)), p)
        rows = np.arange(rb.num_rows) if valid is None else np.flatnonzero(valid)
        return rows, idx, rho

    return observe


def _unpacked_partials(rb: pa.RecordBatch) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    return _unpack_partials(rb.column(rb.schema.get_field_index("sketch")))


def _group_fold(keys: list[str], p: int, observe, finish, out_schema: StructType):
    """The ``mapInArrow`` function of both halves of the aggregation: fold
    every batch's observations into per-group states, then emit
    ``keys... , finish(state)`` once per group seen. Every group present in
    a batch gets a row, even if all its values are NULL (→ empty state);
    a partition without rows emits nothing."""
    arrow_schema = to_arrow_schema(out_schema)
    out_col = out_schema.fieldNames()[-1]

    def fold(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        acc: dict = {}
        for rb in batches:
            if rb.num_rows == 0:
                continue
            codes, groups = _arrow_group_codes(rb, keys)
            for g in groups:
                acc.setdefault(g, _EMPTY_STATE)
            rows, idx, rho = observe(rb)
            if len(idx) == 0:
                continue
            if len(groups) == 1:
                acc[groups[0]] = _fold_update(acc[groups[0]], idx, rho, p)
                continue
            gc = codes[rows]
            order = np.argsort(gc, kind="stable")
            sc, si, sr = gc[order], idx[order], rho[order]
            bounds = np.flatnonzero(np.diff(sc)) + 1
            for s, e in zip([0, *bounds.tolist()], [*bounds.tolist(), len(sc)]):
                g = groups[sc[s]]
                acc[g] = _fold_update(acc[g], si[s:e], sr[s:e], p)
        if not acc:
            return
        out = {k: [g[ki] for g in acc] for ki, k in enumerate(keys)}
        out[out_col] = [finish(st) for st in acc.values()]
        yield pa.RecordBatch.from_pydict(out, schema=arrow_schema)

    return fold


# ---------------------------------------------------------------------------
# Map-side partial aggregation (the scale path)
# ---------------------------------------------------------------------------

def _partials(df: DataFrame, keys: list[str], value_col: str, p: int, finish) -> DataFrame:
    out_schema = StructType([df.schema[k] for k in keys] + [StructField("sketch", BinaryType(), False)])
    fold = _group_fold(keys, p, _hashed_values(value_col, p), finish, out_schema)
    return df.select(*keys, value_col).mapInArrow(fold, schema=out_schema)


def hll_partial_sketches(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    p: int = HLL_P_DEFAULT,
) -> DataFrame:
    """Per-partition, per-group partial HYLL sketches via ``mapInArrow``.

    Arrow-native end to end: value bytes are hashed straight out of the
    Arrow buffers and group codes come from Arrow dictionary encoding —
    the batch is never materialized as pandas objects (worth ~2x on
    ~300 B web texts).

    Output schema: ``keys... , sketch binary`` — one row per (input
    partition, group). In-flight state is SPARSE per group (sorted idx +
    rho arrays, the distributed analog of the reference's sparse encoding)
    until a group exceeds ``_SPARSE_PROMOTE_ENTRIES`` set registers, then
    it promotes to a 2^p raw buffer — so a partition holding many tiny
    groups (high-cardinality keys, rollups) costs O(set registers) per
    group, not 16 KB each. Densifying is max-merge-exact, so estimates
    are bit-identical to the always-dense path (tested).

    This is the public, HYLL-encoded form of the fold (stored partials,
    SQL ``hll_merge_agg``, streaming); ``hll_sketch`` runs the same fold
    but ships raw partials.
    """
    return _partials(df, keys, value_col, p, lambda st: codec.serialize(_state_registers(st, p)))


def hll_partial_sketches_multi(
    df: DataFrame,
    value_cols: list[str],
    p: int = HLL_P_DEFAULT,
    *,
    sum_cols: tuple[str, ...] = (),
    theta_cols: tuple[str, ...] = (),
    theta_k: int = 4096,
) -> DataFrame:
    """One ``mapInArrow`` pass folding SEVERAL value columns into one
    partial sketch each (plus optional exact int64 sums) — one row per
    input partition, schema ``sketch_<col> binary ..., sum_<col> long``.

    The one-scan building block for queries needing multiple related
    sketches of the same frame — e.g. inclusion-exclusion intersection
    (A, B and A∪B sketches + the exact overlap count from a single
    pass). Separate per-sketch plans rescan/reshuffle the source once
    per sketch, and Catalyst's column pruning specializes each branch's
    aggregate enough to defeat exchange reuse (VERDICT r02 #5), so the
    fusion has to happen here, in the fold. NULL values in a column are
    skipped (Spark agg semantics), so ``F.when(cond, col)`` selects each
    sketch's subset for free.

    ``theta_cols``: columns to ALSO fold into theta (KMV) sketches
    (``theta_<col>`` binary outputs, sketches/theta.py) — they reuse the
    very murmur pass the HLL fold already ran on that column, so
    first-class set algebra (exact intersections below ``theta_k``
    distinct) costs no extra hashing or scanning. Every theta col must
    also be in ``value_cols``."""
    import pyarrow.compute as pc

    from ..sketches.theta import _THETA_ONE, theta_fold, theta_serialize

    missing = [c for c in theta_cols if c not in value_cols]
    if missing:
        raise ValueError(f"theta_cols {missing} are not in value_cols {value_cols}")
    out_schema = StructType(
        [StructField(f"sketch_{c}", BinaryType(), False) for c in value_cols]
        + [StructField(f"theta_{c}", BinaryType(), False) for c in theta_cols]
        + [StructField(f"sum_{c}", LongType(), False) for c in sum_cols]
    )
    arrow_schema = to_arrow_schema(out_schema)
    m = kernel.m_for_p(p)

    def fold(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        regs = {c: np.zeros(m, dtype=np.uint8) for c in value_cols}
        thetas = {c: [np.empty(0, dtype=np.uint64), _THETA_ONE] for c in theta_cols}
        sums = {c: 0 for c in sum_cols}
        seen = False
        for rb in batches:
            if rb.num_rows == 0:
                continue
            seen = True
            for c in value_cols:
                data, offsets, _ = _arrow_to_buffers(rb.column(rb.schema.get_field_index(c)))
                if len(offsets) <= 1:
                    continue
                hashes = kernel.murmur64a(data, offsets)
                idx, rho = kernel.hash_idx_rho(hashes, p)
                kernel.update_registers(regs[c], idx, rho)
                if c in thetas:
                    st = thetas[c]
                    st[0], st[1] = theta_fold(st[0], st[1], hashes, theta_k)
            for c in sum_cols:
                s = pc.sum(rb.column(rb.schema.get_field_index(c))).as_py()
                sums[c] += int(s or 0)
        if not seen:
            return
        out: dict = {f"sketch_{c}": [codec.serialize(regs[c])] for c in value_cols}
        out.update(
            {f"theta_{c}": [theta_serialize(thetas[c][0], thetas[c][1], theta_k)] for c in theta_cols}
        )
        out.update({f"sum_{c}": [sums[c]] for c in sum_cols})
        yield pa.RecordBatch.from_pydict(out, schema=arrow_schema)

    return df.select(*value_cols, *sum_cols).mapInArrow(fold, schema=out_schema)


def make_hll_merge_agg(p: int = HLL_P_DEFAULT):
    """Grouped-agg pandas UDF: column of HYLL blobs -> merged HYLL blob.

    The final/merge half of the distributed aggregation; NULL inputs are
    treated as empty sketches (hyperloglog.c:1293,1319).
    """

    @pandas_udf(BinaryType())
    def hll_merge_agg(blobs: pd.Series) -> bytes:
        acc = None
        for blob in blobs:
            if blob is None:
                continue
            regs = codec.deserialize(bytes(blob), p).regs
            acc = regs if acc is None else kernel.merge_registers(acc, regs)
        if acc is None:
            acc = kernel.empty_registers(p)
        return codec.serialize(acc)

    return hll_merge_agg


def make_hll_sketch_agg(p: int = HLL_P_DEFAULT):
    """Grouped-agg pandas UDF over raw values (SQL convenience path).

    ``SELECT lang, hll_count(hll_sketch_agg(url)) ... GROUP BY lang``.
    Shuffles raw rows (Spark grouped-agg UDFs have no partial agg); prefer
    hll_count_distinct()/hll_partial_sketches() at scale.
    """

    @pandas_udf(BinaryType())
    def hll_sketch_agg(values: pd.Series) -> bytes:
        regs = kernel.empty_registers(p)
        idx, rho, _ = _batch_idx_rho(values, p)
        if len(idx):
            kernel.update_registers(regs, idx, rho)
        return codec.serialize(regs)

    return hll_sketch_agg


# ---------------------------------------------------------------------------
# Scalar sketch functions
# ---------------------------------------------------------------------------

@pandas_udf(LongType())
def hll_count_sketch(blobs: pd.Series) -> pd.Series:
    """Estimate per sketch blob (pfCount; serves the cached cardinality
    when the header's dirty bit is clear, hyperloglog.c:1223-1268)."""
    out = np.empty(len(blobs), dtype=np.int64)
    for i, blob in enumerate(blobs):
        if blob is None:
            out[i] = 0
            continue
        sk = codec.deserialize(bytes(blob))
        out[i] = sk.cached_card if sk.cached_card is not None else kernel.estimate(sk.regs)
    return pd.Series(out)


@pandas_udf(BinaryType())
def hll_merge_pair(a: pd.Series, b: pd.Series) -> pd.Series:
    """Pure two-sketch merge (hll_merge, php/hll.c:463-585); NULL = empty."""
    out = []
    for x, y in zip(a, b):
        if x is None and y is None:
            out.append(codec.serialize(kernel.empty_registers()))
            continue
        if x is None:
            out.append(bytes(y))
            continue
        if y is None:
            out.append(bytes(x))
            continue
        rx = codec.deserialize(bytes(x)).regs
        ry = codec.deserialize(bytes(y)).regs
        out.append(codec.serialize(kernel.merge_registers(rx, ry)))
    return pd.Series(out)


@pandas_udf(BinaryType())
def hll_promote_sketch(blobs: pd.Series) -> pd.Series:
    """Force dense encoding; idempotent (hll_promote, php/hll.c:707-731)."""
    return pd.Series([None if b is None else codec.promote(bytes(b)) for b in blobs])


@pandas_udf(StringType())
def hll_encoding(blobs: pd.Series) -> pd.Series:
    """'dense' | 'sparse' (hll_info, php/hll.c:734-762)."""
    return pd.Series([None if b is None else codec.info(bytes(b))["encoding"] for b in blobs])


@pandas_udf(LongType())
def hll_nonzero_registers(blobs: pd.Series) -> pd.Series:
    return pd.Series(
        [0 if b is None else codec.info(bytes(b))["nonzero_registers"] for b in blobs],
        dtype="int64",
    )


# ---------------------------------------------------------------------------
# DataFrame-level operators
# ---------------------------------------------------------------------------

def _merged(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    p: int,
    pre_repartition: int | None,
    out_field: StructField,
    finish,
) -> DataFrame:
    """Raw partial fold → hash shuffle on the keys (one partition when
    unkeyed) → one merge fold per partition emitting ``finish(registers)``
    per group."""
    src = df
    if pre_repartition and keys:
        src = df.repartition(pre_repartition, *[F.col(k) for k in keys])
    partials = _partials(src, keys, value_col, p, _pack_partial)
    partials = partials.repartition(*[F.col(k) for k in keys]) if keys else partials.repartition(1)
    out_schema = StructType([partials.schema[k] for k in keys] + [out_field])
    fold = _group_fold(keys, p, _unpacked_partials, lambda st: finish(_state_registers(st, p)), out_schema)
    return partials.mapInArrow(fold, schema=out_schema)


def hll_sketch(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    p: int = HLL_P_DEFAULT,
    *,
    pre_repartition: int | None = None,
) -> DataFrame:
    """keys... + merged HYLL ``sketch`` per group (partial fold + raw
    partial shuffle + one merge fold per partition).

    ``pre_repartition=n`` first hash-partitions rows by the group keys so
    each partition's accumulator dict only holds its own groups — use when
    group cardinality is high relative to executor memory. It bounds the
    partial fold only: the merge fold holds every group of its shuffle
    partition, whose size AQE's advisory partition size caps.
    """
    return _merged(
        df, keys, value_col, p, pre_repartition, StructField("sketch", BinaryType(), True), codec.serialize
    )


def hll_count_distinct(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    p: int = HLL_P_DEFAULT,
    *,
    alias: str = "approx_distinct",
    pre_repartition: int | None = None,
) -> DataFrame:
    """APPROX COUNT DISTINCT of ``value_col`` per group — the engine's
    flagship operator (the distributed pfAdd+pfCount+pfMerge pipeline).
    The merge fold estimates straight from the merged registers, so no
    sketch is serialized."""
    return _merged(df, keys, value_col, p, pre_repartition, StructField(alias, LongType(), True), kernel.estimate)


def hll_global_distinct(df: DataFrame, value_col: str, p: int = HLL_P_DEFAULT) -> int:
    """One global estimate (0 for an empty input). Partials merge in a
    single tiny final task (P x <=16 KB rows); the collect moves one
    integer back."""
    rows = hll_count_distinct(df, [], value_col, p).collect()
    return rows[0]["approx_distinct"] if rows else 0


# ---------------------------------------------------------------------------
# Element normalization (SURVEY.md §2.4)
# ---------------------------------------------------------------------------

def element_str(col: Column | str) -> Column:
    """Fast native normalization to Spark's string rendering (JVM-side,
    whole-stage codegen). For exact PHP float rendering use
    element_php_str (pandas UDF, parity path)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.coalesce(c.cast("string"), F.lit(""))


@pandas_udf(StringType())
def _php_render_double(values: pd.Series) -> pd.Series:
    from ..hll import php_string

    return values.map(lambda v: None if v is None or v != v else php_string(float(v)))


def element_php_str(col: Column | str, spark_type: str = "string") -> Column:
    """PHP-coercion-exact normalization (php/hll.c:273-298): bool -> '1'/'',
    null -> '', double -> %.14G, else string rendering."""
    c = F.col(col) if isinstance(col, str) else col
    if spark_type == "boolean":
        return F.when(c.isNull(), F.lit("")).when(c, F.lit("1")).otherwise(F.lit(""))
    if spark_type == "double":
        return F.coalesce(_php_render_double(c.cast("double")), F.lit(""))
    return F.coalesce(c.cast("string"), F.lit(""))


def register_sql_functions(spark, p: int = HLL_P_DEFAULT) -> None:
    """Expose the surface to Spark SQL:
    hll_sketch_agg / hll_merge_agg (aggregates), hll_count, hll_merge,
    hll_promote, hll_encoding, hll_nonzero_registers (scalars)."""
    spark.udf.register("hll_sketch_agg", make_hll_sketch_agg(p))
    spark.udf.register("hll_merge_agg", make_hll_merge_agg(p))
    spark.udf.register("hll_count", hll_count_sketch)
    spark.udf.register("hll_merge", hll_merge_pair)
    spark.udf.register("hll_promote", hll_promote_sketch)
    spark.udf.register("hll_encoding", hll_encoding)
    spark.udf.register("hll_nonzero_registers", hll_nonzero_registers)
