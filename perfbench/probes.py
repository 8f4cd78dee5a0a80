"""Single-layer probes of the traced run: codecs and ranked kernels,
both in-process and single-threaded over a workload's final index."""

from __future__ import annotations

import time

import numpy as np
import pyarrow.parquet as pq

from perfbench.harness import Tracer

KERNEL_MODES = ("blockmax", "maxscore_blockmax", "ranked_or")


def codecs(index_dir: str, codec, tr: Tracer) -> dict:
    """Decode every list of the index (each under its own segment's
    codec), then re-encode the base segment's lists: million values
    (doc ids + freqs) per second through ``IndexCodec``."""
    from partitioned_ef_ans_spark.index.build import decode_lists_segmented

    tbl = pq.read_table(f"{index_dir}/index.parquet",
                        columns=["chunk_id", "payload"]).to_pandas()
    payloads = [bytes(p) for p in tbl["payload"]]
    chunk_ids = tbl["chunk_id"].to_numpy()
    with tr.span("codecs.decode_lists"):
        t0 = time.perf_counter()
        decoded = decode_lists_segmented(codec, payloads, chunk_ids)
        dec_s = time.perf_counter() - t0
    base = [d for d, seg in zip(decoded, chunk_ids >> 20) if seg == 0]
    docs = [np.asarray(d, dtype=np.int64) for d, _f in base]
    freqs = [np.asarray(f, dtype=np.int64) for _d, f in base]
    with tr.span("codecs.encode_lists"):
        t0 = time.perf_counter()
        codec.encode_lists(docs, freqs)
        enc_s = time.perf_counter() - t0
    dec_vals = 2 * sum(len(d) for d, _f in decoded)
    enc_vals = 2 * sum(len(d) for d in docs)
    return {
        "codecs.decode_mvals_per_s": dec_vals / 1e6 / dec_s,
        "codecs.encode_mvals_per_s": enc_vals / 1e6 / enc_s,
    }


def kernels(index_dir: str, queries, tr: Tracer) -> dict:
    """``latency.kernel_latency_stats`` per ranked kernel: q50/q95
    latency and scored_frac (blocks scored / blocks referenced)."""
    from partitioned_ef_ans_spark.latency import kernel_latency_stats

    with tr.span("kernel.latency_stats"):
        stats = kernel_latency_stats(index_dir, queries, modes=KERNEL_MODES)
    out = {}
    for mode in KERNEL_MODES:
        s = stats[mode]
        out[f"kernel.{mode}.q50_us"] = float(s["q50"])
        out[f"kernel.{mode}.q95_us"] = float(s["q95"])
        out[f"kernel.{mode}.scored_frac"] = float(s.get("scored_frac", 0.0))
    return out
