"""Spark-free codec ledger: real per-column encode/decode seconds and bytes.

Runs the selector and the column codecs in-process on one seeded,
pipeline-sorted chunk, the same input a partition kernel sees. The
manifest's `encode_sec` cannot serve here: it is chunk time split evenly
across columns, not a per-column measurement.
"""

from __future__ import annotations

import statistics
import time

import numpy as np

from .workloads import COLUMNS


def _timed(fn, repeats: int):
    times, out = [], None
    for _ in range(repeats):
        t0 = time.perf_counter()
        out = fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times), out


def sample_chunk(seed: int, n_convs: int, chunk_rows: int):
    """One chunk of seeded transcripts in (conv_id, turn_idx) order."""
    from supersonic_spark.datagen import generate_conv_batch
    rng = np.random.default_rng(seed)
    idx = np.sort(rng.choice(10 * n_convs, size=n_convs, replace=False))
    tbl = generate_conv_batch(idx, seed)
    tbl = tbl.sort_by([("conv_id", "ascending"), ("turn_idx", "ascending")])
    return tbl.slice(0, chunk_rows).combine_chunks()


def codec_ledger(seed: int, n_convs: int = 4000, chunk_rows: int = 65536,
                 entropy: str | None = "lz4", repeats: int = 3):
    """Returns (metrics, errors). An error is a column whose decode is not
    bit-identical to its input."""
    from supersonic_spark.codecs import decode_column, encode_column
    from supersonic_spark.selector import choose_codecs

    chunk = sample_chunk(seed, n_convs, chunk_rows)
    choose_s, codecs = _timed(lambda: choose_codecs(chunk, entropy=entropy),
                              repeats)
    metrics = {"selector.choose_s": choose_s}
    errors = []
    for name in COLUMNS:
        col = chunk.column(name).combine_chunks()
        enc_s, buf = _timed(
            lambda: encode_column(col, codecs[name], entropy=entropy),
            repeats)
        dec_s, (out, _used) = _timed(lambda: decode_column(buf), repeats)
        metrics[f"codecs.encode_s.{name}"] = enc_s
        metrics[f"codecs.decode_s.{name}"] = dec_s
        metrics[f"codecs.bytes.{name}"] = len(buf)
        if not out.equals(col):
            errors.append(f"codec ledger: {name} ({codecs[name]}) "
                          "did not round-trip")
    return metrics, errors
