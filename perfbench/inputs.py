"""Seeded input generation for the engine benchmark.

Inputs are generated with numpy and written with pyarrow, never through
``rtsa_spark``: the program under test only ever sees the finished parquet
files.  The same seed and parameters always give byte-identical files.

Generated files are cached under ``.perfbench/cache/<key>/``, where the
key hashes every generation parameter (workload, rows, sources, token cap,
gappy sources, late-row share, batch size, batch count and seed).  Timed
set-up never includes generation: a cache miss is filled before the clock
starts, so ``setup_s`` has one meaning whether the cache was warm or cold.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = datetime(2024, 1, 1)  # naive UTC
EPOCH_US = 1_704_067_200_000_000  # EPOCH in microseconds
DAY_US = 86_400_000_000
HOUR_US = 3_600_000_000
HORIZON_DAYS = 120  # 2024-01-01 .. 2024-04-29: four calendar months
NEWEST_MONTH_START_US = EPOCH_US + 91 * DAY_US  # 2024-04-01
VOCAB = 32768
DOMINANT_SHARE = 0.30  # one source holds ~30% of rows (skew)
FORMAT_VERSION = 1  # bump when the generator's output changes

SCHEMA = pa.schema(
    [
        ("doc_id", pa.string()),
        ("tokens", pa.list_(pa.int32())),
        ("n_tok", pa.int32()),
        ("source", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)


# Every generation parameter; ``cache_key`` hashes all of them.
ROWS = 60_000
SOURCES = 16
TOKEN_CAP = 32
GAPPY_SOURCES = ("s003", "s007")
GAP_SHARE = 0.5  # share of (source, hour) cells knocked out
LATE_SHARE = 0.10  # share of each micro-batch in older months
BATCH_ROWS = 5_000
BATCHES = 6
CORRECTION_SHARE = 0.10  # rows of the corrected month rewritten


def params(workload: str, seed: int) -> dict:
    """The generation parameters of one workload's inputs."""
    return {
        "v": FORMAT_VERSION, "workload": workload, "seed": seed,
        "rows": ROWS, "sources": SOURCES, "token_cap": TOKEN_CAP,
        "gappy_sources": list(GAPPY_SOURCES), "gap_share": GAP_SHARE,
        "late_share": LATE_SHARE, "batch_rows": BATCH_ROWS, "batches": BATCHES,
        "correction_share": CORRECTION_SHARE,
    }


def cache_key(workload: str, seed: int) -> str:
    blob = json.dumps(params(workload, seed), sort_keys=True)
    return hashlib.sha256(blob.encode()).hexdigest()[:16]


def _rows(
    rng: np.random.Generator,
    n: int,
    prefix: str,
    ts_lo_us: int,
    ts_hi_us: int,
) -> dict[str, np.ndarray]:
    dominant = rng.random(n) < DOMINANT_SHARE
    src_idx = np.where(dominant, 0, rng.integers(1, SOURCES, n))
    # log-uniform token count in [1, token_cap]
    n_tok = np.minimum(
        TOKEN_CAP,
        np.maximum(1, (TOKEN_CAP ** rng.random(n)).astype(np.int32)),
    ).astype(np.int32)
    ts = rng.integers(ts_lo_us, ts_hi_us, n, dtype=np.int64)
    ts -= ts % 1_000_000  # whole seconds
    return {
        "doc_id": np.array([f"{prefix}{i:08d}" for i in range(n)], dtype=object),
        "tokens": _tokens(rng, n_tok),
        "n_tok": n_tok,
        "source": np.array([f"s{i:03d}" for i in src_idx], dtype=object),
        "ts": ts,
    }


def _tokens(rng: np.random.Generator, n_tok: np.ndarray) -> np.ndarray:
    flat = rng.integers(0, VOCAB, int(n_tok.sum()), dtype=np.int32)
    out = np.empty(len(n_tok), dtype=object)
    out[:] = np.split(flat, np.cumsum(n_tok)[:-1])
    return out


def _knock_out(cols: dict, seed: int) -> dict:
    """Drop every row of a gappy source whose (source, hour) cell is
    killed; the kill decision depends only on (seed, source, hour)."""
    hour = (cols["ts"] - EPOCH_US) // HOUR_US
    n_hours = HORIZON_DAYS * 24
    keep = np.ones(len(hour), dtype=bool)
    for j, src in enumerate(GAPPY_SOURCES):
        killed = np.random.default_rng([seed, 7, j]).random(n_hours) < GAP_SHARE
        keep &= ~((cols["source"] == src) & killed[hour])
    return {k: v[keep] for k, v in cols.items()}


def _table(cols: dict) -> pa.Table:
    return pa.table(
        {
            "doc_id": pa.array(cols["doc_id"], pa.string()),
            "tokens": pa.array(list(cols["tokens"]), pa.list_(pa.int32())),
            "n_tok": pa.array(cols["n_tok"], pa.int32()),
            "source": pa.array(cols["source"], pa.string()),
            "ts": pa.array(cols["ts"], pa.timestamp("us", tz="UTC")),
        },
        schema=SCHEMA,
    )


def _concat(a: dict, b: dict) -> dict:
    return {k: np.concatenate([a[k], b[k]]) for k in a}


def _base(seed: int) -> dict:
    rng = np.random.default_rng([seed, 1])
    cols = _rows(rng, ROWS, f"d{seed}_", EPOCH_US, EPOCH_US + HORIZON_DAYS * DAY_US)
    return _knock_out(cols, seed)


def _correction(seed: int, base: dict) -> tuple[dict, str]:
    """One late correction confined to a seeded month among the first
    three: ``CORRECTION_SHARE`` of its rows get a new token count, a fifth
    of that share is deleted, and half that share arrives as new rows."""
    rng = np.random.default_rng([seed, 2])
    month = int(rng.integers(0, 3))
    bounds = [EPOCH_US, EPOCH_US + 31 * DAY_US, EPOCH_US + 60 * DAY_US,
              NEWEST_MONTH_START_US]
    lo, hi = bounds[month], bounds[month + 1]
    in_month = (base["ts"] >= lo) & (base["ts"] < hi)
    u = rng.random(len(in_month))
    share = CORRECTION_SHARE
    deleted = in_month & (u < share / 5)
    rewritten = in_month & (u >= share / 5) & (u < share)
    cols = {k: v.copy() for k, v in base.items()}
    new_n = np.minimum(
        TOKEN_CAP, cols["n_tok"][rewritten] + rng.integers(1, 4, int(rewritten.sum()))
    ).astype(np.int32)
    cols["n_tok"][rewritten] = new_n
    cols["tokens"][rewritten] = _tokens(rng, new_n)
    cols = {k: v[~deleted] for k, v in cols.items()}
    late = _rows(rng, max(1, int(in_month.sum() * share / 2)), f"late{seed}_", lo, hi)
    return _concat(cols, late), f"2024-{month + 1:02d}"


def _batch(seed: int, b: int) -> dict:
    rng = np.random.default_rng([seed, 3, b])
    n_late = int(round(BATCH_ROWS * LATE_SHARE))
    fresh = _rows(rng, BATCH_ROWS - n_late, f"b{b}_{seed}_",
                  NEWEST_MONTH_START_US, EPOCH_US + HORIZON_DAYS * DAY_US)
    late = _rows(rng, n_late, f"bl{b}_{seed}_", EPOCH_US, NEWEST_MONTH_START_US)
    return _concat(fresh, late)


def materialize(workload: str, seed: int, cache_root: str) -> dict:
    """Write (or reuse) the workload's input files; returns their paths:
    ``base`` always, ``corrected`` + ``corrected_month`` for the batch
    ladder, ``batches`` (one file each) for ingest."""
    out = os.path.join(cache_root, cache_key(workload, seed))
    manifest = os.path.join(out, "manifest.json")
    if os.path.exists(manifest):
        return _resolve(out)
    tmp = f"{out}.tmp{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)
    base = _base(seed)
    names: dict = {"base": "base.parquet"}
    pq.write_table(_table(base), os.path.join(tmp, "base.parquet"))
    if workload == "batch_ladder":
        corrected, month = _correction(seed, base)
        pq.write_table(_table(corrected), os.path.join(tmp, "corrected.parquet"))
        names["corrected"] = "corrected.parquet"
        names["corrected_month"] = month
    else:
        names["batches"] = []
        for b in range(BATCHES):
            name = f"batch{b:02d}.parquet"
            pq.write_table(_table(_batch(seed, b)), os.path.join(tmp, name))
            names["batches"].append(name)
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(names, f)
    try:
        os.rename(tmp, out)
    except OSError:  # another process filled the same key first
        shutil.rmtree(tmp, ignore_errors=True)
    return _resolve(out)


def _resolve(out: str) -> dict:
    with open(os.path.join(out, "manifest.json")) as f:
        names = json.load(f)
    paths = dict(names)
    for k in ("base", "corrected"):
        if k in names:
            paths[k] = os.path.join(out, names[k])
    if "batches" in names:
        paths["batches"] = [os.path.join(out, n) for n in names["batches"]]
    return paths
