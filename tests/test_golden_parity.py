"""Reference byte parity pinned without the reference sources.

``golden/codec_parity.json.gz`` was written by a codec that matched the
compiled reference C byte for byte after every add
(``test_codec.py::test_pfadd_blob_byte_parity_vs_compiled_reference``,
which still runs whenever the reference sources are present). These tests
replay the same inputs through today's codec on every run.

Regenerate only from a codec that passed that live comparison:
``python tests/test_golden_parity.py``.
"""

import gzip
import hashlib
import json
import os
import sys

GOLDEN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "golden", "codec_parity.json.gz")
PFADD_ELEMENTS = 2500
PROMOTION_WINDOW = 5
CORPUS_P = (4, 10, 14, 18)
CORPUS_SIZES = (0, 1, 100, 3000, 50_000)


def _empty_sparse_blob(p=14):
    from phphll_spark import codec

    return codec.MAGIC + bytes([codec.ENC_SPARSE, 0, 0, 0]) + (0).to_bytes(8, "little") + codec.empty_sparse_payload(p)


def pfadd_stream():
    """(step, blob hex) after each of the ``el-0..el-2499`` adds, one
    element per ``pfadd_blob`` call; step 0 is hllCreate's bytes."""
    from phphll_spark import codec

    blob = _empty_sparse_blob()
    yield 0, blob.hex()
    for i in range(PFADD_ELEMENTS):
        blob, _ = codec.pfadd_blob(blob, [f"el-{i}".encode()])
        yield i + 1, blob.hex()


def pfadd_vectors() -> dict:
    """Full hex at every 100th step and within ±5 steps of the sparse →
    dense promotion, plus one sha256 chained over every step's hex."""
    steps = list(pfadd_stream())
    promoted = next(k for k, h in steps if h[8:10] == "00")  # encoding byte 0 = dense
    chain = hashlib.sha256()
    for _, h in steps:
        chain = hashlib.sha256(chain.digest() + h.encode())
    keep = {k: h for k, h in steps if k % 100 == 0 or abs(k - promoted) <= PROMOTION_WINDOW}
    return {"promotion_step": promoted, "chain_sha256": chain.hexdigest(), "hex": {str(k): h for k, h in keep.items()}}


def corpus(n: int) -> list[bytes]:
    """A fixed corpus of ``n`` elements (3n/4 + 1 distinct, 0-44 bytes
    each, every murmur tail length), seeded by construction rather than by
    an RNG whose stream could change between library versions."""
    distinct = n * 3 // 4 + 1
    return [
        hashlib.sha256(b"golden-%d" % (i % distinct)).digest()[: (i % distinct) % 37] + b"%d" % (i % distinct)
        for i in range(n)
    ]


def corpus_vectors() -> list[dict]:
    from phphll_spark import codec, kernel

    out = []
    for p in CORPUS_P:
        for n in CORPUS_SIZES:
            regs = kernel.empty_registers(p)
            data, offsets = kernel.bytes_to_buffers(corpus(n))
            kernel.add_bytes(regs, data, offsets)
            out.append(
                {
                    "p": p,
                    "n": n,
                    "estimate": kernel.estimate(regs),
                    "blob_sha256": hashlib.sha256(codec.serialize(regs)).hexdigest(),
                }
            )
    return out


def _golden() -> dict:
    with gzip.open(GOLDEN, "rt") as f:
        return json.load(f)


def test_pfadd_blob_stream_matches_golden():
    want = _golden()["pfadd"]
    got = pfadd_vectors()
    assert got["promotion_step"] == want["promotion_step"]
    assert set(got["hex"]) == set(want["hex"])
    for step, h in want["hex"].items():
        assert got["hex"][step] == h, f"blob differs after {step} adds"
    assert got["chain_sha256"] == want["chain_sha256"]


def test_corpus_estimates_match_golden():
    assert corpus_vectors() == _golden()["corpus"]


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    os.makedirs(os.path.dirname(GOLDEN), exist_ok=True)
    with gzip.GzipFile(GOLDEN, "wb", mtime=0) as f:
        f.write(json.dumps({"pfadd": pfadd_vectors(), "corpus": corpus_vectors()}, indent=1, sort_keys=True).encode())
    print("wrote", GOLDEN)
