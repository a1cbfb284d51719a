"""The three workloads: what one job is, how its output is checked, and
the ladder of cumulative rungs the traced run times layer by layer.

Each job goes through the library's public functions only, over a table
generated from the run's seed (see data.py and NOTES.md for why each
workload exists and what it should move).
"""

from __future__ import annotations

import math
import os
import random
import statistics
import time
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.dataset as ds

from perfbench import data
from perfbench.trace import ladder_self_times

HLL_P = 14
# reference acceptance bound |est - n| <= ceil(6 * 1.04/sqrt(m) * n), plus
# two registers of slack: in a group of ~10 values, two values sharing a
# register with a third (or two colliding pairs) lowers the linear-counting
# estimate by 2 once in ~10^5 groups (observed on real generated data, and
# reproduced by the local HLL), while the relative term rounds up to 1
SIGMAS = 6.0
COLLISION_SLACK = 2
NEAR_DUP_MIN_SHARE = 0.99  # recall and precision floor for near_dup_minhash
MINHASH = dict(threshold=0.8, num_hashes=64, bands=16, shingle_k=5, max_bucket_size=512, shingle_unit="word")
SAMPLE_BLOBS = 1000
BATCH_ROWS = 65536


@dataclass
class Check:
    ok: bool
    recall: float
    precision: float
    abs_err: float  # summed |estimate - exact| over matched outputs
    exact: float  # summed exact values over matched outputs
    detail: str = ""


def hll_bound(exact: int) -> int:
    return math.ceil(SIGMAS * 1.04 / math.sqrt(1 << HLL_P) * exact) + COLLISION_SLACK


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def identity(batches):
    return batches


def bridge(df):
    """A no-op trip through the JVM -> Python Arrow bridge and back."""
    return df.mapInArrow(identity, schema=df.schema)


def arrow_buffers(arr: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """(payload bytes, int64 offsets) of a string/binary Arrow array."""
    arr = arr.cast(pa.large_binary())
    bufs = arr.buffers()
    offsets = np.frombuffer(bufs[1], dtype=np.int64, count=len(arr) + 1, offset=arr.offset * 8)
    return np.frombuffer(bufs[2], dtype=np.uint8), offsets


def hash_mb_per_s(table_dir: str, column: str) -> float:
    """Single-threaded murmur64a + idx/rho + register fold over the
    workload's own files, read with pyarrow; only the kernel is timed."""
    from phphll_spark import kernel

    regs = kernel.empty_registers(HLL_P)
    nbytes, secs = 0, 0.0
    for rb in ds.dataset(table_dir, format="parquet").to_batches(columns=[column], batch_size=BATCH_ROWS):
        buf, offsets = arrow_buffers(rb.column(0))
        t = time.perf_counter()
        idx, rho = kernel.hash_idx_rho(kernel.murmur64a(buf, offsets), HLL_P)
        kernel.update_registers(regs, idx, rho)
        secs += time.perf_counter() - t
        nbytes += int(offsets[-1] - offsets[0])
    return nbytes / 1e6 / secs


def codec_timings(partials: list[bytes], finals: list[bytes], passes: int = 3) -> dict[str, float]:
    """Per-blob decode / encode / estimate times (us, median of passes)
    over real partial and final blobs, and mean final blob size."""
    from phphll_spark import codec, kernel

    blobs = partials + finals
    dec, enc, est = [], [], []
    for _ in range(passes):
        t0 = time.perf_counter()
        regs = [codec.deserialize(b).regs for b in blobs]
        t1 = time.perf_counter()
        for r in regs:
            codec.serialize(r)
        t2 = time.perf_counter()
        for r in regs:
            kernel.estimate(r)
        t3 = time.perf_counter()
        dec.append(t1 - t0)
        enc.append(t2 - t1)
        est.append(t3 - t2)
    per = 1e6 / len(blobs)
    return {
        "codec.decode_us": statistics.median(dec) * per,
        "codec.encode_us": statistics.median(enc) * per,
        "kernel.estimate_us": statistics.median(est) * per,
        "codec.bytes_per_group": sum(map(len, finals)) / len(finals),
    }


class Workload:
    name: str
    rows: int
    _first = None  # the first checked output, which later jobs must repeat

    def prepare(self, spark, cache_dir: str, seed: int, n_cores: int) -> None:
        raise NotImplementedError

    def job(self, spark):
        raise NotImplementedError

    def check(self, result) -> Check:
        raise NotImplementedError

    def ladder(self, spark, results: list) -> list[tuple[str, object]]:
        """[(rung, thunk)], each rung doing the previous rung's work plus
        one layer; the last rung is the job, appending its result."""
        raise NotImplementedError

    def layer_metrics(self, spark, rung_s: dict[str, float], results: list, scratch: str):
        """(per-layer metrics, extra checks) of a traced run, from the
        ladder's median rung times and the full rungs' results."""
        raise NotImplementedError


class _HLLWorkload(Workload):
    keys: list[str]
    n_hosts: int

    def prepare(self, spark, cache_dir, seed, n_cores):
        def build(table_dir):
            data.write_pages(spark, table_dir, self.rows, seed, self.n_hosts, 2 * n_cores)
            return data.pages_truth(table_dir)

        self.table_dir, self.truth = data.cached(cache_dir, f"pages-h{self.n_hosts}", seed, self.rows, build)

    def pages(self, spark):
        return spark.read.parquet(self.table_dir)

    def frame(self, spark):
        return self.pages(spark).select(self.value_col)

    def ladder(self, spark, results):
        from phphll_spark.functions import hll_partial_sketches, hll_sketch

        f = self.frame(spark)
        return [
            ("scan", lambda: noop(f)),
            ("bridge", lambda: noop(bridge(f))),
            ("partials", lambda: noop(hll_partial_sketches(f, self.keys, self.value_col, HLL_P))),
            ("sketch", lambda: noop(hll_sketch(f, self.keys, self.value_col, HLL_P))),
            ("full", lambda: results.append(self.job(spark))),
        ]

    def layer_metrics(self, spark, rung_s, results, scratch):
        from pyspark.sql import functions as F

        from phphll_spark.functions import hll_encoding, hll_partial_sketches, hll_sketch

        st = ladder_self_times([(k, rung_s[k]) for k in ("scan", "bridge", "partials", "sketch", "full")])
        f = self.frame(spark)
        parts = hll_partial_sketches(f, self.keys, self.value_col, HLL_P)
        n_parts, part_bytes, n_sparse = parts.select(
            F.count("*"),
            F.sum(F.length("sketch")),
            F.sum((hll_encoding("sketch") == "sparse").cast("long")),
        ).first()

        def sample(df):
            blobs = [bytes(r[0]) for r in df.select("sketch").collect()]
            return random.Random(0).sample(blobs, min(SAMPLE_BLOBS, len(blobs)))

        finals = hll_sketch(f, self.keys, self.value_col, HLL_P)
        out = {
            "spark.scan_s": st["scan"],
            "spark.bridge_self_s": st["bridge"],
            "functions.sketch.fold_self_s": st["partials"],
            "functions.sketch.merge_self_s": st["sketch"],
            "functions.sketch.estimate_self_s": st["full"],
            "functions.sketch.partials_rows": float(n_parts),
            "functions.sketch.partials_mb": part_bytes / 1e6,
            "functions.sketch.rows_per_partial": self.truth["rows"] / n_parts,
            "functions.sketch.sparse_share": n_sparse / n_parts,
            "kernel.hash_mb_per_s": hash_mb_per_s(self.table_dir, self.value_col),
        }
        out.update(codec_timings(sample(parts), sample(finals)))
        return out, []


class IngestText(_HLLWorkload):
    """hll_global_distinct over ~270 B page texts: scan, bridge and the
    murmur kernel dominate; one dense group passes through the rest."""

    name = "ingest_text"
    rows = 400_000
    n_hosts = 1000  # generate_pages' default
    keys: list[str] = []
    value_col = "text"

    def job(self, spark):
        from phphll_spark.functions import hll_global_distinct

        return hll_global_distinct(self.pages(spark), "text", HLL_P)

    def check(self, est):
        exact = self.truth["text_distinct"]
        if self._first is None:
            self._first = est
        err = abs(est - exact)
        ok = err <= hll_bound(exact) and est == self._first
        share = 1.0 if ok else 0.0
        detail = "" if ok else f"estimate {est} vs exact {exact} (first job {self._first}, bound {hll_bound(exact)})"
        return Check(ok, share, share, err, exact, detail)

    def layer_metrics(self, spark, rung_s, results, scratch):
        out, checks = super().layer_metrics(spark, rung_s, results, scratch)
        out["functions.sketch.groups"] = 1.0
        return out, checks


class GroupedHostDay(_HLLWorkload):
    """hll_count_distinct of url per (url_host, UTC day): hundreds of
    Zipf-skewed sparse groups, so the fold, merge and estimate layers do
    most of the work and the kernel little."""

    name = "grouped_host_day"
    rows = 100_000
    n_hosts = 10
    keys = ["host", "day"]
    value_col = "url"

    def frame(self, spark):
        from pyspark.sql import functions as F

        from phphll_spark.functions.text import url_host

        return self.pages(spark).select(
            url_host("url").alias("host"), F.to_date("warc_ts").alias("day"), "url"
        )

    def job(self, spark):
        from phphll_spark.functions import hll_count_distinct

        return hll_count_distinct(self.frame(spark), self.keys, "url", HLL_P).collect()

    def check(self, rows):
        truth = {(h, d): n for h, d, n in self.truth["groups"]}
        out = {(r["host"], r["day"].isoformat()): r["approx_distinct"] for r in rows}
        good, err, exact = 0, 0, 0
        for key, est in out.items():
            n = truth.get(key)
            if n is None:
                continue
            good += abs(est - n) <= hll_bound(n)
            err += abs(est - n)
            exact += n
        ok = good == len(truth) == len(out)
        detail = "" if ok else f"{good} of {len(truth)} groups within bound, {len(out)} returned"
        return Check(ok, good / len(truth), good / max(1, len(out)), err, exact, detail)

    def layer_metrics(self, spark, rung_s, results, scratch):
        from phphll_spark.functions import (
            hll_count_sketch,
            hll_global_distinct,
            hll_sketch,
            make_hll_merge_agg,
        )

        out, checks = super().layer_metrics(spark, rung_s, results, scratch)
        out["functions.sketch.groups"] = float(len(results[-1]))
        # write the per-group sketches once, then time the read side:
        # read them back and merge per host
        stored = os.path.join(scratch, "sketches")
        hll_sketch(self.frame(spark), self.keys, "url", HLL_P).write.mode("overwrite").parquet(stored)
        merge = make_hll_merge_agg(HLL_P)
        times = []
        for _ in range(3):
            t = time.perf_counter()
            spark.read.parquet(stored).groupBy("host").agg(merge("sketch").alias("s")).select(
                "host", hll_count_sketch("s")
            ).collect()
            times.append(time.perf_counter() - t)
        out["functions.sketch.remerge_s"] = statistics.median(times)
        union = spark.read.parquet(stored).agg(merge("sketch").alias("s")).select(hll_count_sketch("s")).first()[0]
        direct = hll_global_distinct(self.pages(spark), "url", HLL_P)
        ok = union == direct
        detail = "" if ok else f"merged group sketches estimate {union}, hll_global_distinct {direct}"
        checks.append(Check(ok, float(ok), float(ok), 0.0, 0.0, detail))
        return out, checks


class NearDupMinhash(Workload):
    """dedup_minhash in the production word-shingle config over documents
    with planted exact and near duplicates."""

    name = "near_dup_minhash"
    rows = 6_000

    def prepare(self, spark, cache_dir, seed, n_cores):
        self.table_dir, self.truth = data.cached(
            cache_dir, "documents", seed, self.rows,
            lambda d: data.write_documents(d, self.rows, seed, 2 * n_cores),
        )
        self._pairs = {(a, b): j for a, b, j in self.truth["pairs"]}

    def docs(self, spark):
        return spark.read.parquet(self.table_dir)

    def job(self, spark):
        from phphll_spark.operators import dedup_minhash

        return dedup_minhash(self.docs(spark), "doc_id", "text", **MINHASH).collect()

    def check(self, rows):
        out = {(r["id_a"], r["id_b"]): r["jaccard_sim"] for r in rows}
        if self._first is None:
            self._first = out
        hit = [k for k in out if k in self._pairs]
        recall = len(hit) / len(self._pairs)
        precision = len(hit) / max(1, len(out))
        # jaccard_sim is rounded to 4 places
        err = sum(abs(out[k] - self._pairs[k]) for k in hit)
        sims_ok = all(abs(out[k] - self._pairs[k]) <= 5e-5 + 1e-12 for k in hit)
        ok = recall >= NEAR_DUP_MIN_SHARE and precision >= NEAR_DUP_MIN_SHARE and sims_ok and out == self._first
        detail = "" if ok else (
            f"recall {recall:.4f} precision {precision:.4f} sims_ok {sims_ok} same_as_first {out == self._first}"
        )
        return Check(ok, recall, precision, err, sum(self._pairs[k] for k in hit), detail)

    def ladder(self, spark, results):
        from phphll_spark.functions.similarity import with_minhash
        from phphll_spark.functions.text import normalized_text

        d = self.docs(spark)
        norm = d.select("doc_id", normalized_text("text").alias("norm"))
        sig = with_minhash(
            norm, "norm", num_hashes=MINHASH["num_hashes"], shingle_k=MINHASH["shingle_k"], unit="word"
        ).select("doc_id", "minhash")
        return [
            ("scan", lambda: noop(d.select("doc_id", "text"))),
            ("normalize", lambda: noop(norm)),
            ("bridge", lambda: noop(bridge(norm))),
            ("signature", lambda: noop(sig)),
            ("full", lambda: results.append(self.job(spark))),
        ]

    def layer_metrics(self, spark, rung_s, results, scratch):
        st = ladder_self_times([(k, rung_s[k]) for k in ("scan", "normalize", "bridge", "signature", "full")])
        return {
            "spark.scan_s": st["scan"],
            "functions.text.normalize_self_s": st["normalize"],
            "spark.bridge_self_s": st["bridge"],
            "functions.similarity.signature_self_s": st["signature"],
            "operators.dedup.pairs_self_s": st["full"],
            "operators.dedup.output_pairs": float(len(results[-1])),
            "kernel.hash_mb_per_s": hash_mb_per_s(self.table_dir, "text"),
        }, []


WORKLOADS = {w.name: w for w in (IngestText, GroupedHostDay, NearDupMinhash)}
