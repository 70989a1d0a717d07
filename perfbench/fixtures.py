"""Seeded pages-style inputs with exact ground truth from generator replay.

The table follows ``hllspark.pipeline.pages``: row ``r`` belongs to document
``r // dup_factor`` and every column derives from the document id through the
same splitmix64 mixer, so a url is byte-identical to the one the library's
generator writes for that document. The seed shifts the row window by a
multiple of ``dup_factor``, which moves the document window without splitting a
document across the window edge.

Only the columns the benchmark reads are written (``url``, ``lang`` plus a
100k-key ``dom`` and a continuous ``v``); ``html``/``text`` would multiply the
generation time and parquet column pruning keeps the scans from reading them.

Ground truth is computed from the ids, never from Spark: the url path is
``hex16(mix64(doc, 1))`` and the mixer is a bijection on uint64, so distinct
urls equal distinct documents exactly, per lang and per domain too.
"""

from __future__ import annotations

import json
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from hllspark.pipeline import pages

DUP_FACTOR = 3
N_DOMAINS = 100_000
_URL_PREFIX = b"https://site"
_URL_MID = b".example/"
_URL_LEN = len(_URL_PREFIX) + 5 + len(_URL_MID) + 16
_HEX = np.frombuffer(b"0123456789abcdef", dtype=np.uint8)
_SEED_STRIDE = 1 << 32  # documents between two seeds' windows (never overlap)
# seeds map onto this many windows, so that row ids (3 x document ids) stay
# below 2**63 for any seed and fit int64 as well as uint64
_SEED_WINDOWS = 1 << 24
_CHUNK_ROWS = 1 << 20
_KEEP_CACHED = 24  # fixture directories kept besides the one in use (~0.6 GB)


def doc_offset(seed: int) -> int:
    """First document id of the seed's window. Any integer is a seed; seeds
    that agree modulo ``_SEED_WINDOWS`` share a window."""
    return (seed % _SEED_WINDOWS) * _SEED_STRIDE


def urls(docs: np.ndarray) -> pa.StringArray:
    """The pages generator's url for each document id, built as fixed-width
    bytes (``https://site{site:05d}.example/{hex16}``)."""
    docs = docs.astype(np.uint64)
    n = len(docs)
    site = np.floor((pages._mix64(docs, 0).astype(np.float64) / 2.0**64) ** 3 * 50000).astype(np.int64)
    path = pages._mix64(docs, 1)
    buf = np.empty((n, _URL_LEN), dtype=np.uint8)
    p = len(_URL_PREFIX)
    buf[:, :p] = np.frombuffer(_URL_PREFIX, dtype=np.uint8)
    for k in range(5):
        buf[:, p + k] = 48 + (site // 10 ** (4 - k)) % 10
    p += 5
    buf[:, p : p + len(_URL_MID)] = np.frombuffer(_URL_MID, dtype=np.uint8)
    p += len(_URL_MID)
    for k in range(16):
        buf[:, p + k] = _HEX[((path >> np.uint64(60 - 4 * k)) & np.uint64(0xF)).astype(np.intp)]
    offsets = np.arange(0, (n + 1) * _URL_LEN, _URL_LEN, dtype=np.int32)
    return pa.StringArray.from_buffers(n, pa.py_buffer(offsets), pa.py_buffer(buf))


def lang_codes(docs: np.ndarray) -> np.ndarray:
    """Index into ``pages.LANGS`` of each document's lang (the generator's
    thresholds replayed)."""
    code = (pages._mix64(docs.astype(np.uint64), 4) % np.uint64(100)).astype(np.int64)
    edges = np.cumsum([w for _, w in pages.LANGS])
    return np.searchsorted(edges, code, side="right")


def domains(docs: np.ndarray) -> np.ndarray:
    return (pages._mix64(docs.astype(np.uint64), 5) % np.uint64(N_DOMAINS)).astype(np.int32)


def values(docs: np.ndarray) -> np.ndarray:
    """Continuous skewed doubles: an exponential of the document's uniform."""
    u = (pages._mix64(docs.astype(np.uint64), 6) >> np.uint64(11)).astype(np.float64) * 2.0**-53
    return -np.log1p(-u)


def quantile_sample(dom) -> np.ndarray:
    """The quarter of rows the quantile job keeps (``dom % 4 == 0``)."""
    return dom % 4 == 0


_LANG_NAMES = pa.array([name for name, _ in pages.LANGS])


def _batch(docs: np.ndarray) -> pa.RecordBatch:
    dom = domains(docs)
    return pa.RecordBatch.from_arrays(
        [
            urls(docs),
            _LANG_NAMES.take(pa.array(lang_codes(docs))),
            pa.array(dom),
            pa.array(values(docs)),
        ],
        names=["url", "lang", "dom", "v"],
    )


def ground_truth(seed: int, n_rows: int, dup_factor: int = DUP_FACTOR) -> dict:
    """Exact distinct urls (global, per lang, per domain) and the exact
    quantile sample, replayed from the document ids."""
    d0 = doc_offset(seed)
    n_docs = pages.expected_distinct_urls(n_rows, dup_factor)
    docs = np.arange(d0, d0 + n_docs, dtype=np.uint64)
    per_lang = np.bincount(lang_codes(docs), minlength=len(pages.LANGS))
    dom = domains(docs)
    # each document appears dup_factor times except a short last one
    reps = np.full(n_docs, dup_factor, dtype=np.int64)
    reps[-1] = n_rows - (n_docs - 1) * dup_factor
    keep = quantile_sample(dom)
    return {
        "rows": n_rows,
        "distinct": n_docs,
        "per_lang": {name: int(c) for (name, _), c in zip(pages.LANGS, per_lang) if c},
        "per_domain": np.bincount(dom, minlength=N_DOMAINS),
        "quantile_values": np.repeat(values(docs[keep]), reps[keep]),
    }


def ensure_table(root: Path, seed: int, n_rows: int, n_files: int) -> Path:
    """Write (or reuse) the parquet table for (seed, rows, files) under
    ``root``; older fixtures beyond a few are deleted to bound disk use."""
    name = f"pages_s{seed}_n{n_rows}_f{n_files}"
    out = root / name
    marker = out / "_FIXTURE.json"
    if marker.exists():
        marker.touch()
        return out
    if out.exists():
        shutil.rmtree(out)
    out.mkdir(parents=True)
    r0 = doc_offset(seed) * DUP_FACTOR
    per_file = -(-n_rows // n_files)
    schema = _batch(np.zeros(1, dtype=np.uint64)).schema
    for i in range(n_files):
        lo, hi = r0 + i * per_file, r0 + min((i + 1) * per_file, n_rows)
        with pq.ParquetWriter(out / f"part-{i:05d}.parquet", schema, compression="zstd") as w:
            for c in range(lo, hi, _CHUNK_ROWS):
                rows = np.arange(c, min(c + _CHUNK_ROWS, hi), dtype=np.uint64)
                w.write_batch(_batch(rows // np.uint64(DUP_FACTOR)))
    marker.write_text(json.dumps({"seed": seed, "rows": n_rows, "files": n_files}))
    others = sorted(
        (p for p in root.glob("pages_s*") if p != out and (p / "_FIXTURE.json").exists()),
        key=lambda p: (p / "_FIXTURE.json").stat().st_mtime,
    )
    for old in others[:-_KEEP_CACHED] if len(others) > _KEEP_CACHED else []:
        shutil.rmtree(old)
    return out
