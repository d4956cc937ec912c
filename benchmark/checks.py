"""Checks of the program's outputs against computations made apart from it.

Nothing here goes through Spark: tier contents are read straight from the
store's snapshot files and parquet data with DuckDB and pyarrow, expected
values come from DuckDB over the raw input (or the files landed so far)
and from numpy. Each check returns a list of error strings; empty means
the output is correct.
"""

from __future__ import annotations

import glob
import json
import os

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

GRAIN = {"1h": "hour", "1d": "day", "1mo": "month"}
ACC = ["n_seq", "sum_n_tok", "min_n_tok", "max_n_tok", "tok_sum", "tok_min", "tok_max", "qc_ok_cnt"]


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.sql("SET TimeZone = 'UTC'")
    return con


def _files_sql(files: list[str]) -> str:
    return "[" + ", ".join(f"'{f}'" for f in files) + "]"


def raw_rollup(con, files: list[str], tier: str) -> pd.DataFrame:
    """The tier's accumulators computed from raw token rows."""
    return con.sql(f"""
        SELECT source,
               date_trunc('{GRAIN[tier]}', make_timestamp(epoch_us(ts))) AS bucket,
               count(*)::BIGINT AS n_seq,
               sum(n_tok)::BIGINT AS sum_n_tok,
               min(n_tok)::BIGINT AS min_n_tok,
               max(n_tok)::BIGINT AS max_n_tok,
               sum(list_sum(tokens))::BIGINT AS tok_sum,
               min(list_min(tokens))::BIGINT AS tok_min,
               max(list_max(tokens))::BIGINT AS tok_max,
               sum(CASE WHEN qc IN (0, 1) THEN 1 ELSE 0 END)::BIGINT AS qc_ok_cnt,
               sum(n_tok)::DOUBLE / count(*) AS avg_n_tok
        FROM read_parquet({_files_sql(files)})
        GROUP BY ALL
    """).df()


# ---- store layout, read from its own metadata files ----------------------

def latest_snapshot(store: str, tier: str) -> dict:
    d = f"{store}/snapshots/{tier}"
    versions = sorted(int(f[1:-5]) for f in os.listdir(d) if f.startswith("v") and f.endswith(".json"))
    with open(f"{d}/v{versions[-1]}.json") as fh:
        return json.load(fh)


def month_dirs(store: str, tier: str) -> dict[str, list[str]]:
    """p_month -> the absolute data dirs its current snapshot entry names."""
    out = {}
    for m, entry in latest_snapshot(store, tier)["partitions"].items():
        if entry is None:
            continue
        dirs = [entry] if isinstance(entry, str) else list(entry)
        out[m] = [d if os.path.isabs(d) else f"{store}/{d}" for d in dirs]
    return out


def data_files(dirs) -> list[str]:
    return sorted(f for d in dirs for f in glob.glob(f"{d}/*.parquet"))


def store_tier(con, store: str, tier: str) -> pd.DataFrame:
    """Tier rows as a reader sees them: every stacked delta recombined."""
    files = data_files(d for ds in month_dirs(store, tier).values() for d in ds)
    return con.sql(f"""
        SELECT source, CAST(bucket AS TIMESTAMP) AS bucket,
               sum(n_seq)::BIGINT AS n_seq, sum(sum_n_tok)::BIGINT AS sum_n_tok,
               min(min_n_tok)::BIGINT AS min_n_tok, max(max_n_tok)::BIGINT AS max_n_tok,
               sum(tok_sum)::BIGINT AS tok_sum, min(tok_min)::BIGINT AS tok_min,
               max(tok_max)::BIGINT AS tok_max, sum(qc_ok_cnt)::BIGINT AS qc_ok_cnt
        FROM read_parquet({_files_sql(files)})
        GROUP BY ALL
    """).df()


def live_bytes_rows(store: str, tiers) -> tuple[int, int, int]:
    """(files, bytes, rows) of the parquet data the current snapshots
    reference, rows from the parquet footers."""
    files = data_files(d for t in tiers for ds in month_dirs(store, t).values() for d in ds)
    rows = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    return len(files), sum(os.path.getsize(f) for f in files), rows


def _same_rows(got: pd.DataFrame, want: pd.DataFrame, cols: list[str], what: str) -> list[str]:
    key = ["source", "bucket"]
    g = got[key + cols].sort_values(key).reset_index(drop=True)
    w = want[key + cols].sort_values(key).reset_index(drop=True)
    if len(g) != len(w):
        return [f"{what}: {len(g)} rows, expected {len(w)}"]
    g["bucket"] = pd.to_datetime(g["bucket"]).astype("datetime64[us]")
    w["bucket"] = pd.to_datetime(w["bucket"]).astype("datetime64[us]")
    bad = ~(g == w).all(axis=1)
    if bad.any():
        i = int(np.flatnonzero(bad)[0])
        return [f"{what}: {int(bad.sum())} rows differ, e.g. {g.iloc[i].to_dict()} vs {w.iloc[i].to_dict()}"]
    return []


def tiers_match(con, store: str, expected: dict[str, pd.DataFrame], what: str) -> list[str]:
    """Every tier's stored accumulators equal the expected rollup over the
    months the tier still holds."""
    errs = []
    for tier, want in expected.items():
        got = store_tier(con, store, tier)
        months = set(month_dirs(store, tier))
        want = want[pd.to_datetime(want["bucket"]).dt.strftime("%Y-%m").isin(months)]
        errs += _same_rows(got, want, ACC, f"{what} tier {tier}")
    return errs


# ---- batch_pipeline ------------------------------------------------------

def check_pipeline(con, store: str, expected: dict[str, pd.DataFrame], retain_before: str,
                   decode_values, decode_timestamps) -> list[str]:
    errs = tiers_match(con, store, expected, "pipeline")
    raw_months = set(pd.to_datetime(expected["1h"]["bucket"]).dt.strftime("%Y-%m"))
    h_months = set(month_dirs(store, "1h"))
    if any(m < retain_before for m in h_months):
        errs.append(f"1h keeps months before {retain_before}: {sorted(m for m in h_months if m < retain_before)}")
    if h_months != {m for m in raw_months if m >= retain_before}:
        errs.append(f"1h months {sorted(h_months)} are not exactly those from {retain_before} on")
    for tier in expected:
        for m, dirs in month_dirs(store, tier).items():
            n_files = len(data_files(dirs))
            if len(dirs) != 1 or n_files != 1:
                errs.append(f"{tier} {m}: stack depth {len(dirs)}, {n_files} files after compaction")
        referenced = {os.path.realpath(d) for ds in month_dirs(store, tier).values() for d in ds}
        on_disk = {os.path.realpath(d) for d in glob.glob(f"{store}/data/{tier}/*/p_month=*")}
        if on_disk - referenced:
            errs.append(f"{tier}: {len(on_disk - referenced)} unreferenced data dirs after gc")
        errs += _codec_matches(store, tier, expected[tier], decode_values, decode_timestamps)
    return errs


def codec_chunks(store: str, tier: str) -> list[tuple[str, bytes, bytes]]:
    """(source, ts_dod blob, vals_gorilla blob) of every packed chunk."""
    t = pq.read_table(f"{store}/compressed/{tier}", columns=["source", "ts_dod", "vals_gorilla"])
    return list(zip(t["source"].to_pylist(), t["ts_dod"].to_pylist(), t["vals_gorilla"].to_pylist()))


def codec_size(store: str, tier: str) -> tuple[int, int]:
    """(bytes of the ts_dod and vals_gorilla blobs, points they hold)."""
    t = pq.read_table(f"{store}/compressed/{tier}", columns=["n_points", "ts_dod", "vals_gorilla"])
    size = sum(len(b) for c in ("ts_dod", "vals_gorilla") for b in t[c].to_pylist())
    return size, sum(t["n_points"].to_pylist())


def _codec_matches(store, tier, want, decode_values, decode_timestamps) -> list[str]:
    """Decoded Gorilla values equal sum(n_tok)/count(*) of the raw rows,
    bit for bit, at exactly the raw buckets."""
    got = {}
    for src, ts_blob, val_blob in codec_chunks(store, tier):
        ts = decode_timestamps(ts_blob)
        vs = decode_values(val_blob)
        for t, v in zip(ts.tolist(), vs.tolist()):
            got[(src, t)] = v
    secs = pd.to_datetime(want["bucket"]).astype("datetime64[s]").astype("int64")
    exp = dict(zip(zip(want["source"], secs.tolist()), want["avg_n_tok"].tolist()))
    if got.keys() != exp.keys():
        return [f"codec {tier}: {len(got)} decoded points at other buckets than the {len(exp)} expected"]
    bad = [k for k, v in exp.items() if np.float64(got[k]).tobytes() != np.float64(v).tobytes()]
    return [f"codec {tier}: {len(bad)} decoded values differ, e.g. {bad[0]}"] if bad else []


# ---- stream_maintain -----------------------------------------------------

def hot_daily(con, files: list[str]) -> pd.DataFrame:
    return con.sql(f"""
        SELECT date_trunc('day', make_timestamp(epoch_us(ts))) AS bucket,
               count(*)::BIGINT AS n_seq, sum(n_tok)::BIGINT AS sum_n_tok
        FROM read_parquet({_files_sql(files)}) WHERE source = 'hot'
        GROUP BY ALL ORDER BY bucket
    """).df()


def check_fresh_read(got: pd.DataFrame, daily: pd.DataFrame) -> list[str]:
    """The gap-filled series equals a numpy LOCF / linear interpolation of
    DuckDB's daily rollup: exact on observed and LOCF cells, within 1e-9
    relative on interpolated cells."""
    day = np.int64(86400)
    obs_t = pd.to_datetime(daily["bucket"]).astype("datetime64[s]").astype("int64").to_numpy()
    t = np.arange(obs_t[0], obs_t[-1] + day, day)
    pos = np.searchsorted(obs_t, t)
    observed = (pos < len(obs_t)) & (obs_t[np.minimum(pos, len(obs_t) - 1)] == t)
    sums = daily["sum_n_tok"].to_numpy()
    avg = sums / daily["n_seq"].to_numpy()
    last = np.searchsorted(obs_t, t, side="right") - 1
    want_locf = sums[last]
    want_lin = np.interp(t, obs_t, avg)
    g = got.sort_values("bucket").reset_index(drop=True)
    g_t = pd.to_datetime(g["bucket"]).astype("datetime64[s]").astype("int64").to_numpy()
    if len(g_t) != len(t) or (g_t != t).any():
        return [f"fresh read: {len(g_t)} spine days, expected {len(t)}"]
    errs = []
    if (g["gap"].to_numpy(bool) != ~observed).any():
        errs.append("fresh read: gap flags differ")
    if (g["sum_locf"].to_numpy() != want_locf).any():
        errs.append("fresh read: LOCF cells differ")
    lin = g["avg_lin"].to_numpy(float)
    if (lin[observed] != avg).any():
        errs.append("fresh read: observed cells differ")
    rel = np.abs(lin[~observed] - want_lin[~observed]) / np.abs(want_lin[~observed])
    if (rel > 1e-9).any():
        errs.append(f"fresh read: interpolated cells off by up to {rel.max():.3g} relative")
    return errs


def check_stream_store(con, store: str, files: list[str], rows_landed: int, max_depth: int) -> list[str]:
    expected = {t: raw_rollup(con, files, t) for t in GRAIN}
    errs = tiers_match(con, store, expected, "stream")
    for t in GRAIN:
        months = month_dirs(store, t)
        if set(months) != set(pd.to_datetime(expected[t]["bucket"]).dt.strftime("%Y-%m")):
            errs.append(f"stream tier {t}: months differ from the landed rows")
        deep = {m: len(d) for m, d in months.items() if len(d) > max_depth}
        if deep:
            errs.append(f"stream tier {t}: stacks deeper than {max_depth}: {deep}")
    total = int(store_tier(con, store, "1h")["n_seq"].sum())
    if total != rows_landed:
        errs.append(f"stream: 1h holds {total} sequences, {rows_landed} landed")
    return errs
