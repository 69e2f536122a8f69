"""The Arrow text kernel (features/text.text_block) against the pandas
oracle's per-token kernels: bit-equal, no Spark needed."""

import zlib

import numpy as np
import pyarrow as pa
import pytest

from protosc_spark.features.text import (
    CHAR_HIST_BINS,
    NGRAM_BUCKETS,
    crc32_spans,
    text_block,
)
from protosc_spark.oracle.pandas_flagship import (
    hashed_ngram_np,
    token_length_hist_np,
)

HAND = [
    "",
    None,
    "a  b",
    " x",
    "x ",
    "  ",
    " ",
    "a",
    "héllo wörld",
    "a \U0001F600 b \U0001F600\U0001F600",
    "abcdefgh abcdefghi supercalifragilistic x",
    "ü" * 9 + " " + "é" * 8,
    "x" * 100_000,
    "y " + "z" * 100_000 + " w",
]


def _datagen_texts(n: int, seed: int = 0) -> list[str]:
    """Texts shaped like datagen's: 1-48 ``tokNNN`` tokens (NNN < 997)."""
    rng = np.random.default_rng(seed)
    return [
        " ".join(f"tok{i}" for i in rng.integers(0, 997, k))
        for k in rng.integers(1, 49, n)
    ]


def _oracle(texts: list) -> np.ndarray:
    t = np.array([s or "" for s in texts], dtype=object)
    return np.hstack([token_length_hist_np(t), hashed_ngram_np(t)])


def _check(arr: pa.Array, texts: list) -> None:
    got = text_block(arr)
    assert got.shape == (len(texts), CHAR_HIST_BINS + NGRAM_BUCKETS)
    assert np.array_equal(got, _oracle(texts))


@pytest.mark.parametrize("case", HAND, ids=range(len(HAND)))
def test_hand_case_bit_equal_oracle(case):
    _check(pa.array([case], pa.string()), [case])


def test_hand_cases_in_one_batch():
    _check(pa.array(HAND), HAND)


def test_datagen_shaped_bit_equal_oracle():
    texts = _datagen_texts(3000)
    _check(pa.array(texts), texts)


def test_mixed_batch_with_nulls():
    texts = _datagen_texts(200, seed=1)
    texts[::7] = [None] * len(texts[::7])
    texts = HAND[:12] + texts + HAND[:12]
    _check(pa.array(texts), texts)


def test_sliced_array_nonzero_offset():
    texts = HAND[:12] + _datagen_texts(300, seed=2)
    arr = pa.array(texts)
    for lo, hi in [(1, 50), (5, 6), (7, len(texts)), (20, 20)]:
        part = arr.slice(lo, hi - lo)
        assert part.offset == lo
        _check(part, texts[lo:hi])


def test_large_string_input():
    texts = HAND + _datagen_texts(300, seed=3)
    _check(pa.array(texts, pa.large_string()), texts)
    _check(pa.array(texts, pa.large_string()).slice(3, 100), texts[3:103])


def test_all_null_and_empty_batches():
    _check(pa.array([None, None], pa.string()), [None, None])
    _check(pa.array(["", "", None]), ["", "", None])
    _check(pa.array([], pa.string()), [])


def test_crc32_spans_equals_zlib():
    rng = np.random.default_rng(4)
    data = rng.integers(0, 256, 5000, dtype=np.uint8)
    length = np.concatenate(
        [rng.integers(0, 40, 500), [0, 1, 254, 255, 256, 300, 509, 510, 511, 1000, 4000, 255]]
    ).astype(np.int32)
    start = (rng.random(len(length)) * (len(data) - length)).astype(np.int32)
    got = crc32_spans(data, start, length)
    want = [zlib.crc32(data[s:s + n].tobytes()) for s, n in zip(start, length)]
    assert got.dtype == np.uint32
    assert got.tolist() == want
