"""Driver-side codec-layer spans on a seeded sample of chunks.

The chunks are row slices of the workload's own corpus, read from its
parquet input.  Each public codec function is timed on its own (median of
three calls), so its speed can be told apart from the Spark stages around
it.  Decoded chunks are compared with their input, so a codec fault fails
the run."""

from __future__ import annotations

import statistics
import time
from collections import Counter

import numpy as np
import pyarrow.parquet as pq

COLUMNS = ["row_id", "repo", "path", "commit", "lang", "content"]
ENCODINGS = [
    "PLAIN", "RLE_DICTIONARY", "RLE", "DELTA_BINARY_PACKED", "DELTA_LENGTH_BYTE_ARRAY",
    "DELTA_BYTE_ARRAY", "FSST", "BYTE_STREAM_SPLIT",
]
SAMPLE_CHUNKS = 3
SAMPLE_ROWS = 4096


def _timed(fn, *args, **kw):
    """(median seconds of three calls, last result)."""
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        out = fn(*args, **kw)
        times.append(time.perf_counter() - t0)
    return statistics.median(times), out


def _chosen(chunk) -> str:
    counts = Counter(p.encoding for p in chunk.pages if p.kind == "data")
    return counts.most_common(1)[0][0]


def sample(corpus_path: str, seed: int) -> tuple[dict[str, float], list[str]]:
    """Per-layer metrics of the codec modules, and the failed checks."""
    from parquet4seastar_spark.codecs import bloom, delta, dictionary, fsst, rle
    from parquet4seastar_spark.codecs.bitpack import bit_width
    from parquet4seastar_spark.codecs.pages import ba_components, decode_chunk, encode_chunk

    table = pq.read_table(corpus_path, columns=COLUMNS).combine_chunks()
    rng = np.random.default_rng(seed)
    rows = min(SAMPLE_ROWS, table.num_rows)
    starts = rng.integers(0, table.num_rows - rows + 1, SAMPLE_CHUNKS)
    failures: list[str] = []
    in_bytes = Counter()
    enc_s = Counter()
    dec_s = Counter()
    chosen = Counter()
    auto_s = chosen_s = 0.0
    k = Counter()  # kernel seconds and bytes
    for start in starts.tolist():
        part = table.slice(start, rows)
        for col in COLUMNS:
            arr = part.column(col).combine_chunks()
            t, chunk = _timed(encode_chunk, arr, policy="auto", nullable=arr.null_count > 0)
            codec = _chosen(chunk)
            t_fixed, _ = _timed(encode_chunk, arr, policy=codec, nullable=arr.null_count > 0)
            t_dec, back = _timed(decode_chunk, chunk)
            if not back.cast(arr.type).equals(arr):
                failures.append(f"pages.roundtrip:{col}@{start}")
            in_bytes[col] += chunk.input_bytes
            enc_s[col] += t
            dec_s[col] += t_dec
            chosen[codec] += 1
            auto_s += t
            chosen_s += t_fixed
        lengths, payload = ba_components(part.column("content").combine_chunks())
        t, table_ = _timed(fsst.train_symbol_table, payload[: 1 << 16])
        k["fsst.train_s"] += t
        t, blob = _timed(fsst.fsst_encode, payload, table_)
        k["fsst.encode_s"] += t
        t, raw = _timed(fsst.fsst_decode, blob)
        k["fsst.decode_s"] += t
        if bytes(raw) != payload.tobytes():
            failures.append(f"fsst.roundtrip@{start}")
        k["fsst.bytes"] += len(payload)
        ids = part.column("row_id").to_numpy()
        t, _ = _timed(delta.dbp_encode, ids, 8)
        k["delta.s"] += t
        k["delta.bytes"] += ids.nbytes
        repo = part.column("repo").combine_chunks()
        t, (codes, dict_) = _timed(dictionary.build_dict, repo)
        k["dictionary.s"] += t
        k["dictionary.bytes"] += repo.nbytes
        t, _ = _timed(rle.rle_encode, codes.astype(np.uint64), bit_width(len(dict_)))
        k["rle.s"] += t
        k["rle.bytes"] += codes.nbytes
        c_len, c_pay = ba_components(part.column("commit").combine_chunks())
        t, _ = _timed(lambda: bloom.build_bloom(*bloom.bytes_hashes(c_len, c_pay)))
        k["bloom.build_s"] += t
    n = len(starts)
    out: dict[str, float] = {}
    for col in COLUMNS:
        out[f"pages.encode_chunk_mb_s.{col}"] = in_bytes[col] / 1e6 / enc_s[col]
        out[f"pages.decode_chunk_mb_s.{col}"] = in_bytes[col] / 1e6 / dec_s[col]
    for e in ENCODINGS:
        out[f"pages.codec_chosen.{e}"] = chosen[e]
    out["pages.auto_overhead_frac"] = (auto_s - chosen_s) / auto_s
    out["fsst.train_s"] = k["fsst.train_s"] / n
    out["fsst.encode_mb_s"] = k["fsst.bytes"] / 1e6 / k["fsst.encode_s"]
    out["fsst.decode_mb_s"] = k["fsst.bytes"] / 1e6 / k["fsst.decode_s"]
    out["delta.dbp_encode_mb_s"] = k["delta.bytes"] / 1e6 / k["delta.s"]
    out["dictionary.build_mb_s"] = k["dictionary.bytes"] / 1e6 / k["dictionary.s"]
    out["rle.encode_mb_s"] = k["rle.bytes"] / 1e6 / k["rle.s"]
    out["bloom.build_s"] = k["bloom.build_s"] / n
    return out, failures
