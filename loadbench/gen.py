"""Seeded input generators for the benchmark's lakes.

Every generator is a pure function of its seed: the same seed writes
byte-identical parquet files (fixed column order, no pandas metadata, one
row group per file, fixed writer options). Each (workload, seed) pair gets
its own directory because ``sources.load_table`` caches DataFrames by path,
so two seeds must never share a path inside one process.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

MOVE_TYPES = ("Local", "Intercity", "International", "Office")
N_BRANCHES = 110
FIRST_DAY = dt.date(2019, 1, 1)
LAST_DAY = dt.date(2024, 12, 31)
NULL_SHARE = 0.001

N_DOCS = 5000
N_VECS = 2000
EMB_DIM = 64
VOCAB = (
    "a the data spark line column order small sort fast value scan hash "
    "slow group batch agg filter query big key window row part table stream "
    "merge join vector customer"
).split()  # 31 tokens


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(
        table, path, compression="snappy", row_group_size=1 << 30,
        write_statistics=True, use_dictionary=True,
    )


def serve_lake(seed: int, out_dir: str) -> dict:
    """The reference's two input tables, ``historical_data`` (Date, Branch,
    MoveType, Count) and ``forecasting_data`` (Date, Branch, Count), daily
    over 2019-2024 for 110 integer branch ids.

    Which engine property each distribution exercises:

    - branch volumes are Zipf-weighted (rank^-1): the per-branch model fits
      and the (branch, month, day) aggregates see skewed group sizes, and
      small branches sit near the zero-total guard of the percentage ETL;
    - each branch has its own Dirichlet move-type mix, and a branch-specific
      type may be absent on low-volume days: zero-move combos must still
      yield 0.0 percentage rows (the ETL's cross-join domain);
    - yearly and weekly multiplicative seasonality with Poisson noise gives
      the Fourier OLS surrogate a real signal to fit;
    - the range includes Feb 29 (2020, 2024): the (month, day) grid has 366
      days and trends windows cross it;
    - about 0.1% of ``historical_data`` counts are NULL, the reference's
      warned-about case: aggregates must skip them, and a trends window
      whose only row for a type is NULL reaches the NULL-sum path.
    """
    os.makedirs(out_dir, exist_ok=True)
    days = np.arange(
        np.datetime64(FIRST_DAY), np.datetime64(LAST_DAY) + 1, dtype="datetime64[D]"
    )
    n_days = len(days)
    rng = np.random.default_rng(seed)
    ranks = rng.permutation(N_BRANCHES) + 1
    base = 600.0 / ranks  # Zipf volume per branch
    mix = rng.dirichlet(np.full(len(MOVE_TYPES), 1.5), size=N_BRANCHES)
    phase = rng.uniform(0, 2 * np.pi, size=N_BRANCHES)
    t = np.arange(n_days, dtype=np.float64)
    dow = (days.astype("datetime64[D]").view("int64") + 3) % 7  # 0 = Monday
    yearly = 1.0 + 0.3 * np.sin(2 * np.pi * t / 365.25 + phase[:, None])
    weekly = np.where(dow >= 5, 1.25, 1.0)[None, :]
    trend = 1.0 + 0.05 * (t / 365.25)[None, :]
    lam = base[:, None] * yearly * weekly * trend  # (branch, day)
    # (branch, type, day) counts
    counts = rng.poisson(lam[:, None, :] * mix[:, :, None])
    total = counts.sum(axis=1)  # (branch, day)

    b_idx, m_idx, d_idx = np.meshgrid(
        np.arange(N_BRANCHES), np.arange(len(MOVE_TYPES)), np.arange(n_days),
        indexing="ij",
    )
    flat = counts.reshape(-1).astype(np.int64)
    null_mask = rng.random(flat.shape[0]) < NULL_SHARE
    hist = pa.table({
        "Date": pa.array(days[d_idx.reshape(-1)], pa.date32()),
        "Branch": pa.array(b_idx.reshape(-1) + 1, pa.int64()),
        "MoveType": pa.array(np.array(MOVE_TYPES)[m_idx.reshape(-1)], pa.string()),
        "Count": pa.array(flat, pa.int64(), mask=null_mask),
    })
    fb, fd = np.meshgrid(np.arange(N_BRANCHES), np.arange(n_days), indexing="ij")
    fcast = pa.table({
        "Date": pa.array(days[fd.reshape(-1)], pa.date32()),
        "Branch": pa.array(fb.reshape(-1) + 1, pa.int64()),
        "Count": pa.array(total.reshape(-1).astype(np.int64), pa.int64()),
    })
    _write(hist, os.path.join(out_dir, "historical_data.parquet"))
    _write(fcast, os.path.join(out_dir, "forecasting_data.parquet"))
    return {
        "historical_data_rows": hist.num_rows,
        "forecasting_data_rows": fcast.num_rows,
        "historical_null_counts": int(null_mask.sum()),
        "branches": N_BRANCHES,
        "move_types": len(MOVE_TYPES),
        "days": n_days,
    }


def curate_lake(seed: int, out_dir: str) -> dict:
    """``documents`` and ``embeddings`` in the engine's fixture schema.

    - documents: 5,000 docs of 40-90 tokens drawn uniformly from a
      31-token vocabulary, so the 3-shingle space (~30k) is shared thinly
      and no shingle reaches the max_df=1000 fence; random pairs sit far
      below the 0.5 Jaccard threshold;
    - every 20th doc is a near-copy of an earlier original with one token
      appended or the last one dropped, and every 100th a near-copy of an
      earlier near-copy, so duplicate clusters have two to four members and
      the transitive closure has work to do. Any two docs of a cluster are
      at most two edits apart, so their Jaccard is >= 0.94 and the MinHash
      8x4 banding misses such a pair with probability < 1e-5: the cascade's
      output must equal the exact inverted-index pass;
    - every 500th doc is an exact copy up to case and surrounding
      whitespace: the canonical fingerprint must fold it;
    - the shares are fixed positions, not draws, so every seed has the same
      amount of duplicate work;
    - embeddings: 2,000 unit 64-d vectors around 20 cluster centres, so
      exact top-k neighbours are well separated (ties are measure-zero)
      and the sign-random-projection buckets have real locality.
    """
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed + 1_000_003)
    vocab = np.array(VOCAB)
    toks: list[list[str]] = []
    originals: list[int] = []
    copies: list[int] = []
    texts = []
    for i in range(N_DOCS):
        pool = originals if i % 20 == 7 else copies if i % 100 == 13 else None
        if i >= 50 and pool:
            src = toks[pool[int(rng.integers(0, len(pool)))]]
            if rng.random() < 0.5:
                ws = src[:-1]
            else:
                ws = src + [str(vocab[rng.integers(0, len(vocab))])]
            copies.append(i)
            text = " ".join(ws)
        elif i >= 50 and i % 500 == 250:
            ws = list(toks[originals[int(rng.integers(0, len(originals)))]])
            text = "  " + " ".join(ws).upper() + " "
        else:
            n = int(rng.integers(40, 91))
            ws = [str(w) for w in vocab[rng.integers(0, len(vocab), n)]]
            originals.append(i)
            text = " ".join(ws)
        toks.append(ws)
        texts.append(text)
    docs = pa.table({
        "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(["en", "de", "zh"], N_DOCS), pa.string()),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 5, N_DOCS)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    centres = rng.normal(size=(20, EMB_DIM))
    label = rng.integers(0, 20, N_VECS)
    vecs = centres[label] + 0.6 * rng.normal(size=(N_VECS, EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table({
        "vec_id": pa.array(np.arange(N_VECS), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })
    _write(docs, os.path.join(out_dir, "documents.parquet"))
    _write(emb, os.path.join(out_dir, "embeddings.parquet"))
    return {"documents_rows": N_DOCS, "embeddings_rows": N_VECS, "emb_dim": EMB_DIM}
