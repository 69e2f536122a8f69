"""Pandas oracle for the flagship pipeline (tests only).

Independent re-computation of every flagship feature with
pandas/numpy groupbys — no Spark, and no kernel shared with the engine.
The text blocks tokenize Python strings with ``str.split(" ")`` and
hash every gram with ``zlib.crc32``, where the engine's Arrow kernel
(features/text.text_block) works on byte spans of the Arrow buffers;
the window and as-of blocks (lag, rolling, sessionization, strict-past
join) run on a totally different execution model.
"""

from __future__ import annotations

import re
from zlib import crc32

import numpy as np
import pandas as pd

from protosc_spark.features.text import (
    CHAR_HIST_BINS,
    CHAR_HIST_RANGE,
    NGRAM_BUCKETS,
    ROLES,
    TOKEN_ID_SCALE,
    TOKEN_IDS_K,
    TOOLS,
)

# Spark's regexp_extract(tok, "(\d+)", 1): Java's \d is ASCII-only, and
# only the first run of digits counts.
_FIRST_DIGITS = re.compile(r"[0-9]+")


def _token_lists(texts) -> list:
    return [t.split(" ") if t else [] for t in texts]


def token_length_hist_np(texts: np.ndarray) -> np.ndarray:
    """Density histogram of token lengths per text (same semantics as
    np.histogram with bins=8, range=(0,8), density=True)."""
    return _char_hist_from_tokens(_token_lists(texts))


def _char_hist_from_tokens(tok_lists: list) -> np.ndarray:
    n = len(tok_lists)
    lens_per_row = [[len(tok) for tok in v] for v in tok_lists]
    counts = np.fromiter((len(v) for v in lens_per_row), dtype=np.int64, count=n)
    if counts.sum() == 0:
        return np.zeros((n, CHAR_HIST_BINS))
    rows = np.repeat(np.arange(n), counts)
    vals = np.fromiter(
        (x for v in lens_per_row for x in v), dtype=np.float64, count=counts.sum()
    )
    lo, hi = CHAR_HIST_RANGE
    width = (hi - lo) / CHAR_HIST_BINS
    in_range = (vals >= lo) & (vals <= hi)
    bins = np.minimum(
        ((vals - lo) / width).astype(np.int64), CHAR_HIST_BINS - 1
    )  # right edge of the last bin is inclusive, like np.histogram
    flat = np.bincount(
        rows[in_range] * CHAR_HIST_BINS + bins[in_range],
        minlength=n * CHAR_HIST_BINS,
    ).reshape(n, CHAR_HIST_BINS)
    totals = flat.sum(axis=1, keepdims=True).astype(np.float64)
    totals[totals == 0] = 1.0  # empty rows -> all-zero histogram
    return flat / (totals * width)


def hashed_ngram_np(texts: np.ndarray, buckets: int = NGRAM_BUCKETS) -> np.ndarray:
    """L1-normalized counts of token uni+bigrams per ``crc32 % buckets``
    bucket, one ``zlib.crc32`` call per gram."""
    return _ngram_from_tokens(_token_lists(texts), buckets)


def _ngram_from_tokens(tok_lists: list, buckets: int = NGRAM_BUCKETS) -> np.ndarray:
    n = len(tok_lists)
    uni = [g.encode() for v in tok_lists for g in v]
    bi = [
        (a + " " + b).encode()
        for v in tok_lists
        for a, b in zip(v, v[1:])
    ]
    n_uni = np.fromiter((len(v) for v in tok_lists), dtype=np.int64, count=n)
    rows = np.concatenate(
        [
            np.repeat(np.arange(n), n_uni),
            np.repeat(np.arange(n), np.maximum(n_uni - 1, 0)),
        ]
    )
    grams = uni + bi
    if not grams:
        return np.zeros((n, buckets))
    h = np.fromiter(map(crc32, grams), dtype=np.int64, count=len(grams))
    flat = np.bincount(
        rows * buckets + h % buckets, minlength=n * buckets
    ).reshape(n, buckets)
    totals = flat.sum(axis=1, keepdims=True).astype(np.float64)
    totals[totals == 0] = 1.0
    return flat / totals


def oracle_flagship(
    transcripts: pd.DataFrame, updates: pd.DataFrame | None = None
) -> pd.DataFrame:
    """Return (conv_id, turn_idx, ts, features list) sorted by key."""
    df = (
        transcripts.sort_values(["conv_id", "turn_idx", "ts", "role"], kind="mergesort")
        .groupby(["conv_id", "turn_idx"], as_index=False)
        .first()
        .sort_values(["conv_id", "turn_idx"], kind="mergesort")
        .reset_index(drop=True)
    )
    texts = df["text"].fillna("").to_numpy()

    # per-turn extractors ---------------------------------------------------
    n_tokens = np.array([len(t.split(" ")) if t else 1 for t in texts], float)
    n_chars = np.array([len(t) for t in texts], float)
    avg_tok = (n_chars - (n_tokens - 1)) / n_tokens
    length_block = np.column_stack([n_chars, n_tokens, avg_tok])

    char_block = token_length_hist_np(texts)
    ngram_block = hashed_ngram_np(texts)

    tok_block = np.full((len(df), TOKEN_IDS_K), -1.0 / TOKEN_ID_SCALE)
    for i, t in enumerate(texts):
        toks = t.split(" ")[:TOKEN_IDS_K] if t else []
        for j, tok in enumerate(toks):
            m = _FIRST_DIGITS.search(tok)
            tok_block[i, j] = (float(m.group()) if m else -1.0) / TOKEN_ID_SCALE

    role_block = np.zeros((len(df), len(ROLES) + len(TOOLS) + 1))
    for i, (r, tl) in enumerate(zip(df["role"], df["tool"])):
        if r in ROLES:
            role_block[i, ROLES.index(r)] = 1.0
        if isinstance(tl, str):
            if tl in TOOLS:
                role_block[i, len(ROLES) + TOOLS.index(tl)] = 1.0
            role_block[i, -1] = 1.0

    # window features --------------------------------------------------------
    g = df.groupby("conv_id", sort=False)
    prev_nt = pd.Series(n_tokens).groupby(df["conv_id"].values).shift(1)
    prev_nt = prev_nt.fillna(-1.0).to_numpy()
    ts_s = df["ts"].astype("int64") // 10**9
    prev_ts = g["ts"].shift(1)
    gap = (ts_s - prev_ts.astype("int64").floordiv(10**9)).astype(float)
    gap[prev_ts.isna()] = -1.0
    gap = gap.to_numpy()

    roll5 = (
        pd.Series(n_tokens)
        .groupby(df["conv_id"].values)
        .rolling(5, min_periods=1)
        .mean()
        .reset_index(level=0, drop=True)
        .sort_index()
        .to_numpy()
    )

    is_new = ((prev_ts.isna()) | ((ts_s - prev_ts.astype("int64").floordiv(10**9)) > 1800)).astype(int)
    session_id = is_new.groupby(df["conv_id"].values).cumsum().to_numpy()
    turn_in_session = (
        df.assign(sid=session_id)
        .groupby(["conv_id", "sid"], sort=False)
        .cumcount()
        .to_numpy()
        + 1
    )
    window_block = np.column_stack(
        [prev_nt, gap, roll5, turn_in_session.astype(float), session_id.astype(float)]
    )

    blocks = [length_block, char_block, ngram_block, tok_block, role_block,
              window_block]

    # strict-past as-of ------------------------------------------------------
    if updates is not None:
        left = df[["conv_id", "turn_idx", "ts"]].sort_values(
            ["ts", "conv_id"], kind="mergesort"
        )
        right = updates.sort_values(["ts", "conv_id"], kind="mergesort")
        m = pd.merge_asof(
            left, right, on="ts", by="conv_id", direction="backward",
            allow_exact_matches=False,
        ).sort_values(["conv_id", "turn_idx"], kind="mergesort")
        known = m["attr_value"].notna().to_numpy().astype(float)
        val = m["attr_value"].fillna(-1.0).to_numpy()
        blocks.append(np.column_stack([val, known]))

    feats = np.hstack(blocks)
    return pd.DataFrame(
        {
            "conv_id": df["conv_id"],
            "turn_idx": df["turn_idx"],
            "ts": df["ts"],
            "features": list(feats),
        }
    )
