"""Gorilla codec kernels timed on the chunks a pipeline run wrote.

Each chunk's packed blobs are decoded once to recover its timestamp and
value series; then ``encode_values``, ``decode_values``,
``encode_timestamps`` and ``decode_timestamps`` are each timed over every
chunk, in passes, until ``min_seconds`` of kernel time has been spent.
Every round trip must give back the input bit for bit.
"""

from __future__ import annotations

import time


def codec_kernels(chunks: list[tuple[bytes, bytes]], min_seconds: float = 0.5) -> tuple[dict, list[str]]:
    from ingestr_spark.compression import gorilla as G

    series = [(G.decode_timestamps(t), G.decode_values(v), t, v) for t, v in chunks]
    points = sum(len(ts) for ts, _, _, _ in series)
    errs = []
    for ts, vs, t_blob, v_blob in series:
        if G.decode_timestamps(G.encode_timestamps(ts)).tobytes() != ts.tobytes():
            errs.append("codec kernel: timestamp round trip is not bit-exact")
        if G.decode_values(G.encode_values(vs)).tobytes() != vs.tobytes():
            errs.append("codec kernel: value round trip is not bit-exact")
    kernels = {
        "encode_values": (G.encode_values, [vs for _, vs, _, _ in series]),
        "decode_values": (G.decode_values, [v for _, _, _, v in series]),
        "encode_timestamps": (G.encode_timestamps, [ts for ts, _, _, _ in series]),
        "decode_timestamps": (G.decode_timestamps, [t for _, _, t, _ in series]),
    }
    out = {}
    for name, (fn, args) in kernels.items():
        passes, spent = 0, 0.0
        while spent < min_seconds or passes == 0:
            t0 = time.perf_counter()
            for a in args:
                fn(a)
            spent += time.perf_counter() - t0
            passes += 1
        out[f"codec.{name}_mpts"] = points * passes / spent / 1e6
    return out, sorted(set(errs))
