"""Inputs for the benchmark: the batch star-schema fixture and the seeded
event stream.

The batch fixture is made by the engine's fixture generator (TPC-H-ish
tables plus events, documents and embeddings, numpy seed 42), so the
registered queries see the data shapes they were written for. It is fixed:
the stored output digests in ``digests.json`` are pinned to it.

The stream is made from ``--seed``: ``n_files`` time-ordered parquet files,
one per micro-batch, with Zipf-skewed user keys, row order shuffled inside
each file by at most the watermark delay and a seeded share of rows that arrive
after the watermark has closed their window.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def batch_fixture(sf: float, cache_dir: str) -> str:
    """Return the directory of the sf fixture, generating it once into
    ``cache_dir`` with the engine's own generator, ``scripts/gen_sf.py``
    (a temporary directory renamed into place, so an interrupted run never
    leaves a half-written fixture behind)."""
    out = os.path.join(cache_dir, f"sf{sf:g}")
    if os.path.isdir(out):
        return out
    sys.path.insert(0, os.path.join(ROOT, "scripts"))
    import gen_sf

    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    with contextlib.redirect_stdout(sys.stderr):  # keep stdout for the result
        gen_sf.generate(sf, tmp)
    try:
        os.rename(tmp, out)
    except OSError:  # a concurrent run renamed its copy first
        shutil.rmtree(tmp)
    return out


# ---------------------------------------------------------------- stream

STREAM_T0 = 19723 * 86_400  # epoch seconds of 2024-01-01
GRAIN_S = 30  # rollup tumbling window
SPAN_S = 600  # event-time span of one file
DELAY_S = 300  # watermark delay; bounds the disorder inside a file
N_USERS, ZIPF_S = 300, 1.1  # user keys, drawn with P(rank r) ∝ r^-ZIPF_S
LATE_FRAC = 0.004  # expected share of late rows in a file that can hold them
STREAM_SCHEMA = pa.schema([
    ("user_id", pa.int64()), ("ts", pa.timestamp("us")), ("value", pa.float64()),
])


def make_stream(seed: int, out_dir: str, n_files: int, rows_per_file: int) -> dict:
    """Write the seeded stream into ``out_dir/all`` (every row, late ones
    included) and ``out_dir/ontime`` (late rows removed), one parquet file
    per micro-batch with strictly increasing mtimes, and return what the
    output checks need: the row counts of both copies, the late count and
    the final watermark (epoch seconds).

    File k holds on-time rows with event time in [T0 + k·SPAN, T0 +
    (k+1)·SPAN), written in event-time order displaced by at most DELAY, so
    per-key arrival is in order across files and no on-time row is ever
    behind the watermark. Spark judges late rows in batch k against the
    watermark of batch k-1, which is the largest event time of files
    0..k-2 minus the delay. Late rows (so files k ≥ 2 only) fall in
    distinct tumbling windows that end before that watermark: one row per
    window, so Spark's partial aggregation cannot merge two of them and its
    dropped-row count equals the number generated.
    """
    rng = np.random.default_rng(seed)
    p = 1.0 / np.arange(1, N_USERS + 1) ** ZIPF_S
    p /= p.sum()
    user_perm = rng.permutation(N_USERS)
    files_all, files_ontime, file_max = [], [], []
    late_total = 0
    for k in range(n_files):
        lo = STREAM_T0 + k * SPAN_S
        users = user_perm[rng.choice(N_USERS, rows_per_file, p=p)]
        ts = lo + rng.integers(0, SPAN_S, rows_per_file)
        val = np.round(rng.exponential(50.0, rows_per_file), 2)
        ontime = (users, ts, val)
        late = (np.empty(0, "int64"), np.empty(0, "int64"), np.empty(0))
        if k >= 2:
            wm = max(file_max[:k - 1]) - DELAY_S  # batch k's late-row watermark
            closed = (wm // GRAIN_S) * GRAIN_S - GRAIN_S  # leave a margin
            n_closed = (closed - STREAM_T0) // GRAIN_S
            n_late = min(int(rng.binomial(rows_per_file, LATE_FRAC)), int(n_closed))
            wins = rng.choice(n_closed, n_late, replace=False)
            late = (
                user_perm[rng.choice(N_USERS, n_late, p=p)],
                STREAM_T0 + wins * GRAIN_S + rng.integers(0, GRAIN_S, n_late),
                np.round(rng.exponential(50.0, n_late), 2),
            )
            late_total += n_late
        file_max.append(int(ts.max()))
        cols = [np.concatenate([a, b]) for a, b in zip(ontime, late)]
        is_late = np.arange(cols[1].size) >= rows_per_file
        order = np.argsort(cols[1] + rng.integers(0, DELAY_S + 1, cols[1].size),
                           kind="stable")
        cols, is_late = [c[order] for c in cols], is_late[order]
        files_all.append(cols)
        files_ontime.append([c[~is_late] for c in cols])
    rows_all = _write_files(os.path.join(out_dir, "all"), files_all)
    rows_ontime = _write_files(os.path.join(out_dir, "ontime"), files_ontime)
    return {
        "dir_all": os.path.join(out_dir, "all"),
        "dir_ontime": os.path.join(out_dir, "ontime"),
        "rows_all": rows_all,
        "rows_ontime": rows_ontime,
        "late_rows": late_total,
        "final_watermark_s": max(file_max) - DELAY_S,
    }


def _write_files(path: str, files: list) -> int:
    os.makedirs(path)
    base = 1_600_000_000  # fixed mtimes: the file source replays in mtime order
    n = 0
    for k, (users, ts, val) in enumerate(files):
        f = os.path.join(path, f"part-{k:04d}.parquet")
        pq.write_table(pa.table({
            "user_id": pa.array(users, pa.int64()),
            "ts": pa.array(ts.astype("int64") * 1_000_000, pa.timestamp("us")),
            "value": pa.array(val, pa.float64()),
        }, schema=STREAM_SCHEMA), f)
        os.utime(f, (base + 10 * k, base + 10 * k))
        n += len(users)
    return n
