"""Seeded input generators for the benchmark workloads.

Every table is a pure function of ``(seed, size)``: the same seed gives the
same rows, byte for byte. Tables are written as parquet under the
checkout's ``.bench_cache/`` and reused when the same ``(seed, size)`` is
asked for again, so generation always happens outside every timed region.

* ``batch_table``  — the token table ``batch_pipeline`` rolls up: about 20
  sources with one hot source holding ~50% of rows, 12 calendar months of
  2023, at most 128 tokens per sequence, split into several files so the
  scan is parallel.
* ``StreamFeed``   — ``stream_maintain``'s history and micro-batches. Rows
  only fall on "active" (source, day) cells of a seeded calendar mask, so
  every source's daily series has the same gaps throughout a run; each
  micro-batch puts most rows in the newest month (2023-12) and a small
  share of late rows in older months.
"""

from __future__ import annotations

import os
import shutil
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = 50257
MAX_NTOK = 128
N_SOURCES = 20
YEAR_START_US = 1672531200 * 1_000_000  # 2023-01-01T00:00:00Z
DAY_US = 86400 * 1_000_000
N_DAYS = 365
DEC_FIRST_DAY = 334  # day index of 2023-12-01
SOURCES = ["hot"] + [f"src{i:02d}" for i in range(1, N_SOURCES)]
#: cached input sets kept per kind; older ones are deleted on the next build
KEEP_CACHED = 2


def _cache_dir(root: str, kind: str, seed: int, size: int) -> tuple[str, bool]:
    """Return the cache dir for ``(kind, seed, size)`` and whether it is
    complete. Older entries of the same kind beyond ``KEEP_CACHED`` are
    removed so the cache stays bounded however many seeds are run."""
    base = os.path.join(root, ".bench_cache")
    path = os.path.join(base, f"{kind}-s{seed}-n{size}")
    if os.path.exists(os.path.join(path, "_DONE")):
        os.utime(path)
        return path, True
    os.makedirs(base, exist_ok=True)
    old = sorted(
        (os.path.getmtime(os.path.join(base, d)), d)
        for d in os.listdir(base)
        if d.startswith(f"{kind}-") and d != os.path.basename(path)
    )
    for _, d in old[: max(0, len(old) - KEEP_CACHED + 1)]:
        shutil.rmtree(os.path.join(base, d), ignore_errors=True)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path, False


def _mark_done(path: str) -> None:
    with open(os.path.join(path, "_DONE"), "w") as fh:
        fh.write("ok\n")


def token_rows(
    rng: np.random.Generator,
    source_idx: np.ndarray,
    ts_us: np.ndarray,
    id_base: int,
) -> pa.Table:
    """Token-table rows ``(doc_id, tokens, n_tok, source, ts, qc)`` for the
    given sources and event times; token values and lengths come from
    ``rng``."""
    n = len(source_idx)
    n_tok = rng.integers(1, MAX_NTOK + 1, n).astype(np.int32)
    offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(n_tok, out=offsets[1:])
    values = rng.integers(0, VOCAB, int(offsets[-1])).astype(np.int32)
    src = np.asarray(SOURCES, dtype=object)[source_idx]
    ids = np.arange(id_base, id_base + n)
    doc_id = [f"{s}-{i:012d}" for s, i in zip(src, ids)]
    return pa.table({
        "doc_id": pa.array(doc_id, pa.string()),
        "tokens": pa.ListArray.from_arrays(pa.array(offsets), pa.array(values)),
        "n_tok": pa.array(n_tok),
        "source": pa.array(src, pa.string()),
        "ts": pa.array(ts_us, pa.timestamp("us", tz="UTC")),
        "qc": pa.array(rng.integers(0, 4, n).astype(np.int32)),
    })


def _hot_skewed_sources(rng: np.random.Generator, n: int) -> np.ndarray:
    """Source index per row: 0 (``hot``) for ~50% of rows, the rest
    uniform over the other sources."""
    hot = rng.random(n) < 0.5
    return np.where(hot, 0, rng.integers(1, N_SOURCES, n))


def batch_table(root: str, seed: int, rows: int, files: int = 8) -> str:
    """The ``batch_pipeline`` input: ``rows`` sequences over 2023, written
    as ``files`` parquet files. Returns the directory."""
    path, done = _cache_dir(root, "batch", seed, rows)
    if done:
        return path
    rng = np.random.default_rng([seed, 1])
    ts = YEAR_START_US + rng.integers(0, N_DAYS * DAY_US, rows)
    table = token_rows(rng, _hot_skewed_sources(rng, rows), ts, 0)
    step = -(-rows // files)
    for i in range(files):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i:03d}.parquet"))
    _mark_done(path)
    return path


class StreamFeed:
    """History and micro-batches for ``stream_maintain``.

    A seeded mask marks each (source, day) of 2023 active with probability
    0.8; every row lands on an active cell, so the gaps in each source's
    daily series are fixed by the seed alone. ``micro_batch(k)`` depends
    only on ``(seed, k)``, so the k-th batch is the same in every run with
    that seed, however many batches the run lands."""

    LATE_SHARE = 0.1

    def __init__(self, seed: int, history_rows: int, batch_rows: int):
        self.seed = seed
        self.history_rows = history_rows
        self.batch_rows = batch_rows
        mask = np.random.default_rng([seed, 2]).random((N_SOURCES, N_DAYS)) < 0.8
        self.cells = [np.flatnonzero(mask[s]) for s in range(N_SOURCES)]

    def _rows(self, rng, n: int, day_lo: int, day_hi: int, id_base: int) -> pa.Table:
        src = _hot_skewed_sources(rng, n)
        day = np.empty(n, dtype=np.int64)
        for s in range(N_SOURCES):
            sel = np.flatnonzero(src == s)
            cells = self.cells[s][(self.cells[s] >= day_lo) & (self.cells[s] < day_hi)]
            day[sel] = cells[rng.integers(0, len(cells), len(sel))]
        ts = YEAR_START_US + day * DAY_US + rng.integers(0, DAY_US, n)
        return token_rows(rng, src, ts, id_base)

    def history(self, root: str, files: int = 4) -> str:
        """The seeded history (all of 2023) as ``files`` parquet files."""
        path, done = _cache_dir(root, "stream", self.seed, self.history_rows)
        if done:
            return path
        rng = np.random.default_rng([self.seed, 3])
        table = self._rows(rng, self.history_rows, 0, N_DAYS, 0)
        step = -(-self.history_rows // files)
        for i in range(files):
            pq.write_table(table.slice(i * step, step), os.path.join(path, f"hist-{i:03d}.parquet"))
        _mark_done(path)
        return path

    def micro_batch(self, k: int) -> pa.Table:
        """The k-th micro-batch: most rows in 2023-12, ``LATE_SHARE`` of
        them late rows for January to November."""
        rng = np.random.default_rng([self.seed, 4, k])
        n_late = int(self.batch_rows * self.LATE_SHARE)
        id_base = self.history_rows + k * self.batch_rows
        fresh = self._rows(rng, self.batch_rows - n_late, DEC_FIRST_DAY, N_DAYS, id_base)
        late = self._rows(rng, n_late, 0, DEC_FIRST_DAY, id_base + self.batch_rows - n_late)
        return pa.concat_tables([fresh, late])


def land(table: pa.Table, input_dir: str, name: str) -> str:
    """Write ``table`` into a streaming input dir atomically: the file
    source ignores names starting with ``.``, so the file appears whole
    under its final name."""
    tmp = os.path.join(input_dir, f".{uuid.uuid4().hex}.tmp")
    pq.write_table(table, tmp)
    dst = os.path.join(input_dir, name)
    os.rename(tmp, dst)
    return dst
