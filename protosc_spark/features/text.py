"""Per-turn text feature extractors.

Each is the transcript analog of a reference extractor (SURVEY.md §2.3)
and obeys the same contract: fixed declared width, per-sample map, no
cross-row state (cross-row features come from windows.py, never here —
that separation is what makes leakage impossible in this layer).

JVM-expression extractors stay inside whole-stage codegen. char_hist
and hashed_ngram are two slices of ONE Arrow UDF (``F.arrow_udf``,
which Spark plans as a single ArrowEvalPython node): its kernel,
:func:`text_block`, reads the ``text`` column's Arrow offset and data
buffers and returns one flat float64 buffer as a ListArray. Tokens and
grams are byte spans of the input buffer; there is no Python loop over
rows, tokens or grams, and no Python string is ever built. The pandas
oracle (oracle/pandas_flagship.py) recomputes both blocks with
per-token Python kernels, as an independent check.

Reference analogies:
* length_stats  — the scalar summaries protosc computes implicitly
* char_hist     — ColorFeatures histogram-density per channel
                  (reference protosc/feature_extraction/color.py:6-45)
* hashed_ngram  — FourierFeatures' fixed-width spectral signature
                  (reference protosc/feature_extraction/fourier_features.py:10-58)
* token_ids     — PixelFeatures' resize-and-flatten
                  (reference protosc/feature_extraction/pixel.py:7-47)
* role_onehot   — SetColorChannels-style channel projection
                  (reference protosc/feature_extraction/color_channels.py:6-41)
"""

from __future__ import annotations

import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from protosc_spark.extract import Extractor

ARR = T.ArrayType(T.DoubleType())

# ---------------------------------------------------------------------------
# length_stats: [n_chars, n_tokens, avg_token_len]  (pure JVM expressions)
# ---------------------------------------------------------------------------


def _length_stats(df: DataFrame) -> Column:
    n_tok = F.size(F.col("__tokens")).cast("double")
    n_chars = F.col("__n_chars")
    avg_tok = (n_chars - (n_tok - 1)) / n_tok
    return F.array(n_chars, n_tok, avg_tok)


length_stats = Extractor(
    name="length_stats",
    width=3,
    build=_length_stats,
    requires=("__tokens", "__n_chars"),
    feature_names=("n_chars", "n_tokens", "avg_token_len"),
)

# ---------------------------------------------------------------------------
# char_hist + hashed_ngram: one Arrow-native kernel over the text buffers
# ---------------------------------------------------------------------------

CHAR_HIST_BINS = 8
CHAR_HIST_RANGE = (0.0, 8.0)
NGRAM_BUCKETS = 16


def _crc32_table() -> np.ndarray:
    """zlib's byte table for the reflected CRC-32 (polynomial 0xEDB88320)."""
    c = np.arange(256, dtype=np.uint32)
    for _ in range(8):
        c = np.where(c & 1, np.uint32(0xEDB88320) ^ (c >> 1), c >> 1)
    return c


_CRC32_TABLE = _crc32_table()
_CRC_PIECE = 255  # longest span hashed byte by byte; longer ones are split
_LOW_BYTE = 0 if sys.byteorder == "little" else 3  # of a uint32 viewed as bytes


def _zero_bytes_table(n: int) -> np.ndarray:
    """(4, 256) tables of the linear map that runs ``n`` zero bytes
    through the CRC register, one table per register byte. It is the
    map of zlib's crc32_combine: ``crc32(a + b) == shift(crc32(a)) ^
    crc32(b)`` when ``len(b) == n``."""
    v = np.arange(256, dtype=np.uint32)[None, :] << (
        8 * np.arange(4, dtype=np.uint32)[:, None]
    )
    for _ in range(n):
        v = _CRC32_TABLE[v & 0xFF] ^ (v >> 8)
    return v


_PIECE_SHIFT = _zero_bytes_table(_CRC_PIECE)


def _crc32_short(data: np.ndarray, start: np.ndarray, length: np.ndarray) -> np.ndarray:
    """crc32 of spans of at most ``_CRC_PIECE`` bytes, table-driven: one
    numpy step per byte position instead of one call per span. Spans are
    ordered by descending length (a uint8 radix argsort), so the spans
    still running at position ``j`` are a prefix that shrinks as they
    end."""
    k = len(start)
    order = np.argsort((_CRC_PIECE - length).astype(np.uint8), kind="stable")
    ptr = start[order].astype(np.intp)  # np.take converts narrower indices
    running = k - np.cumsum(np.bincount(length))  # spans longer than j
    crc = np.full(k, 0xFFFFFFFF, np.uint32)
    byte, word = np.empty(k, np.uint8), np.empty(k, np.uint32)
    for j, m in enumerate(running[:-1]):
        c, x, t = crc[:m], byte[:m], word[:m]
        np.take(data[j:], ptr[:m], out=x)  # byte j of every running span
        x ^= c.view(np.uint8)[_LOW_BYTE::4]  # low byte of the register
        c >>= 8
        np.take(_CRC32_TABLE, x, out=t)
        c ^= t
    out = np.empty_like(crc)
    out[order] = crc ^ np.uint32(0xFFFFFFFF)
    return out


def crc32_spans(data: np.ndarray, start: np.ndarray, length: np.ndarray) -> np.ndarray:
    """``zlib.crc32(data[start[i]:start[i] + length[i]])`` for every span
    at once (uint32).

    A span longer than ``_CRC_PIECE`` bytes is cut into a head of
    1..255 bytes and whole 255-byte pieces; every piece is hashed as a
    short span, and a span's pieces are folded left to right with
    ``crc32(a + piece) == shift(crc32(a)) ^ crc32(piece)``. So the
    numpy loops run at most 255 steps plus one per piece of the longest
    span, however long a token is."""
    long = np.flatnonzero(length > _CRC_PIECE)
    if not len(long):
        return _crc32_short(data, start, length)
    n_bytes = length[long].astype(np.int64)
    n_pieces = -(-n_bytes // _CRC_PIECE)
    by_pieces = np.argsort(-n_pieces, kind="stable")  # fold prefix shrinks
    long, n_bytes, n_pieces = long[by_pieces], n_bytes[by_pieces], n_pieces[by_pieces]
    first = np.cumsum(n_pieces) - n_pieces
    span = np.repeat(np.arange(len(long)), n_pieces)
    j = np.arange(len(span)) - first[span]
    head = (n_bytes - _CRC_PIECE * (n_pieces - 1))[span]
    short = np.flatnonzero(length <= _CRC_PIECE)
    piece_start = start[long][span] + np.where(j, head + (j - 1) * _CRC_PIECE, 0)
    piece_len = np.where(j, _CRC_PIECE, head)
    crc = _crc32_short(
        data,
        np.concatenate([start[short], piece_start]),
        np.concatenate([length[short], piece_len]),
    )
    out = np.empty(len(start), np.uint32)
    out[short] = crc[: len(short)]
    piece = crc[len(short):]
    acc = piece[first]
    s0, s1, s2, s3 = _PIECE_SHIFT
    running = len(long) - np.cumsum(np.bincount(n_pieces))  # spans with > j pieces
    for j, m in enumerate(running[1:-1], 1):
        c = acc[:m]
        shifted = s0[c & 0xFF] ^ s1[(c >> 8) & 0xFF] ^ s2[(c >> 16) & 0xFF] ^ s3[c >> 24]
        acc[:m] = shifted ^ piece[first[:m] + j]
    out[long] = acc
    return out


def _utf8_rows(texts: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """(bytes, row boundaries) straight from the Arrow buffers: row ``i``
    is ``bytes[pos[i]:pos[i + 1]]``; NULL reads as ``""``. Positions are
    int32 unless the batch holds 2 GiB of text."""
    if texts.null_count:
        texts = pc.fill_null(texts, "")
    n = len(texts)
    _, offsets, values = texts.buffers()
    odt = np.int64 if pa.types.is_large_string(texts.type) else np.int32
    off = np.frombuffer(offsets, odt, count=texts.offset + n + 1)[texts.offset:]
    base, top = int(off[0]), int(off[-1])
    if top == base:
        return np.empty(0, np.uint8), np.zeros(n + 1, np.int32)
    data = np.frombuffer(values, np.uint8, count=top)[base:]
    idx = np.int32 if top - base < 2**31 else np.int64
    return data, (off - base).astype(idx)


def _row_density(keys: np.ndarray, n: int, width: int, out: np.ndarray, scale: float = 1.0) -> None:
    """Per-row histogram of ``keys`` (row * width + bin) divided by the
    row's total count times ``scale``; rows with no counts stay 0."""
    flat = np.bincount(keys, minlength=n * width).reshape(n, width)
    totals = flat.sum(axis=1, keepdims=True).astype(np.float64)
    totals[totals == 0] = 1.0
    np.divide(flat, totals * scale, out=out)


def text_block(texts: pa.Array) -> np.ndarray:
    """char_hist ++ hashed_ngram (width 8 + 16) of a string Arrow array.

    Works on the buffers, never on Python strings, and is bit-identical
    to tokenizing with ``str.split(" ")``:

    * tokens are the spans between 0x20 bytes of a row, so ``""`` has
      no token and doubled, leading or trailing spaces make empty ones;
    * a token's length in characters is its byte length minus its UTF-8
      continuation bytes (0x80-0xBF), which is Python's ``len``;
    * the bigram ``"a b"`` is the byte span from the start of ``a`` to
      the end of ``b``, so every gram is a (start, length) span hashed
      in place by :func:`crc32_spans`.

    char_hist is the density histogram of token lengths (``np.histogram``
    with ``bins=8, range=(0, 8), density=True``; longer tokens fall
    outside); hashed_ngram is the L1-normalized count of uni+bigrams per
    ``crc32 % 16`` bucket. The crc32 bucket is part of the feature
    definition: platform-stable, and equal to Spark's ``crc32``.
    """
    n = len(texts)
    data, pos = _utf8_rows(texts)
    idx = pos.dtype
    spaces = np.flatnonzero(data == 0x20).astype(idx)
    nonempty = pos[1:] > pos[:-1]
    n_tok = np.diff(np.searchsorted(spaces, pos)).astype(idx) + 1
    n_tok[~nonempty] = 0
    n_tokens = int(n_tok.sum())
    # Tokens in buffer order: a row's first token starts at the row,
    # every other one one byte after a space; a row's last token ends
    # at the row's end, every other one at a space.
    is_first = np.zeros(n_tokens + 1, bool)
    is_first[(np.cumsum(n_tok) - n_tok)[nonempty]] = True
    is_first[n_tokens] = True
    is_last = is_first[1:]
    is_first = is_first[:-1]
    tok_start = np.empty(n_tokens, idx)
    tok_start[is_first] = pos[:-1][nonempty]
    tok_start[~is_first] = spaces + 1
    tok_end = np.empty(n_tokens, idx)
    tok_end[is_last] = pos[1:][nonempty]
    tok_end[~is_last] = spaces
    tok_row = np.repeat(np.arange(n, dtype=idx), n_tok)
    tok_bytes = tok_end - tok_start

    out = np.empty((n, CHAR_HIST_BINS + NGRAM_BUCKETS))

    if n_tokens and data.max() >= 0x80:
        n_cont = np.zeros(len(data) + 1, idx)
        np.cumsum((data & 0xC0) == 0x80, out=n_cont[1:])
        tok_chars = tok_bytes - (n_cont[tok_end] - n_cont[tok_start])
    else:
        tok_chars = tok_bytes
    lo, hi = CHAR_HIST_RANGE
    bin_width = (hi - lo) / CHAR_HIST_BINS
    fits = (tok_chars >= lo) & (tok_chars <= hi)
    # the right edge of the last bin is inclusive, like np.histogram
    bins = np.minimum(((tok_chars[fits] - lo) / bin_width).astype(idx), CHAR_HIST_BINS - 1)
    _row_density(tok_row[fits] * CHAR_HIST_BINS + bins, n, CHAR_HIST_BINS,
                 out[:, :CHAR_HIST_BINS], bin_width)

    pair = ~is_last[:-1]  # token k and k + 1 share a row
    bi_start = tok_start[:-1][pair]
    crc = crc32_spans(
        data,
        np.concatenate([tok_start, bi_start]),
        np.concatenate([tok_bytes, tok_end[1:][pair] - bi_start]),
    )
    gram_row = np.concatenate([tok_row, tok_row[:-1][pair]])
    _row_density(gram_row * NGRAM_BUCKETS + (crc % NGRAM_BUCKETS).astype(idx), n,
                 NGRAM_BUCKETS, out[:, CHAR_HIST_BINS:])
    return out


@F.arrow_udf(ARR)
def _text_block_udf(texts: pa.Array) -> pa.Array:
    """char_hist and hashed_ngram both slice this one call; Spark's
    ExtractPythonUDFs dedups the identical calls into one ArrowEvalPython
    node, so ``text`` crosses to Python and is tokenized once."""
    m = text_block(texts)
    offsets = np.arange(0, m.size + 1, m.shape[1], dtype=np.int32)
    return pa.ListArray.from_arrays(offsets, m.ravel())


def _char_hist_jvm(df: DataFrame) -> Column:
    """Pure-JVM variant, bit-equal to :func:`text_block`. NOT the
    default: Spark evaluates higher-order functions (transform/filter)
    interpreted, per element, and does NOT share the bin array across
    the 16 filter lambdas — measured over ~20x SLOWER than the Arrow
    UDF at sf0.1. Kept as a second reference implementation for the bit-parity
    test and as documentation of the measurement."""
    lo, hi = CHAR_HIST_RANGE
    lens = F.transform(F.col("__tokens"), lambda t: F.length(t).cast("double"))
    in_range = F.filter(lens, lambda v: (v >= F.lit(lo)) & (v <= F.lit(hi)))
    total = F.size(in_range)
    width = (hi - lo) / CHAR_HIST_BINS
    bins = F.transform(
        in_range,
        lambda v: F.least(
            ((v - F.lit(lo)) / F.lit(width)).cast("long"),
            F.lit(CHAR_HIST_BINS - 1),
        ),
    )
    counts = F.transform(
        F.sequence(F.lit(0), F.lit(CHAR_HIST_BINS - 1)),
        lambda b: F.size(F.filter(bins, lambda x: x == b.cast("long"))),
    )
    dens = F.transform(
        counts, lambda c: c.cast("double") / total.cast("double") / F.lit(width)
    )
    zeros = F.array(*[F.lit(0.0)] * CHAR_HIST_BINS)
    return F.when(
        F.col("text").isNull() | (F.length("text") == 0) | (total == 0), zeros
    ).otherwise(dens)


char_hist = Extractor(
    name="char_hist",
    width=CHAR_HIST_BINS,
    build=lambda df: F.slice(_text_block_udf(F.col("text")), 1, CHAR_HIST_BINS),
)

# ---------------------------------------------------------------------------
# hashed_ngram: L1-normalized counts of hashed token uni+bigrams
# ---------------------------------------------------------------------------

_FNV_OFFSET = 14695981039346656037
_FNV_PRIME = 1099511628211
_MASK64 = (1 << 64) - 1


def _fnv1a(s: str) -> int:
    """FNV-1a 64-bit (wrap-around by design) — same arithmetic on
    driver, executor and oracle."""
    h = _FNV_OFFSET
    for b in s.encode("utf-8"):
        h = ((h ^ b) * _FNV_PRIME) & _MASK64
    return h


def _hashed_ngram_jvm(df: DataFrame) -> Column:
    """Pure-JVM variant of the hashed_ngram block of :func:`text_block`
    (Spark's crc32 == zlib's, so buckets are bit-identical). NOT the
    default — same interpreted higher-order-function cost as
    _char_hist_jvm (crc32 re-evaluated once per bucket comparison pass);
    the Arrow UDF is over ~20x faster. Kept for the bit-parity test."""
    toks = F.col("__tokens")
    n = F.size(toks)
    bucket = lambda c: F.pmod(F.crc32(F.encode(c, "UTF-8")), F.lit(NGRAM_BUCKETS))  # noqa: E731
    uni = F.transform(toks, bucket)
    bi = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: bucket(
                F.concat(
                    F.element_at(toks, i), F.lit(" "), F.element_at(toks, i + 1)
                )
            ),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    grams = F.concat(uni, bi)
    total = F.size(grams)
    counts = F.transform(
        F.sequence(F.lit(0), F.lit(NGRAM_BUCKETS - 1)),
        lambda b: F.size(F.filter(grams, lambda x: x == b.cast("bigint"))),
    )
    zeros = F.array(*[F.lit(0.0)] * NGRAM_BUCKETS)
    return F.when(
        F.col("text").isNull() | (F.length("text") == 0) | (total == 0), zeros
    ).otherwise(
        F.transform(counts, lambda c: c.cast("double") / total.cast("double"))
    )


hashed_ngram = Extractor(
    name="hashed_ngram",
    width=NGRAM_BUCKETS,
    build=lambda df: F.slice(
        _text_block_udf(F.col("text")), CHAR_HIST_BINS + 1, NGRAM_BUCKETS
    ),
)

# ---------------------------------------------------------------------------
# token_ids: first K token ids, scaled; padded with -1 (PixelFeatures analog)
# ---------------------------------------------------------------------------

TOKEN_IDS_K = 8
TOKEN_ID_SCALE = 1000.0


def _token_ids(df: DataFrame) -> Column:
    ids = F.transform(
        F.slice(F.col("__tokens"), 1, TOKEN_IDS_K),
        lambda x: F.coalesce(
            F.regexp_extract(x, r"(\d+)", 1).try_cast("double"), F.lit(-1.0)
        )
        / F.lit(TOKEN_ID_SCALE),
    )
    padded = F.concat(
        ids, F.array_repeat(F.lit(-1.0 / TOKEN_ID_SCALE), TOKEN_IDS_K)
    )
    return F.slice(padded, 1, TOKEN_IDS_K)


token_ids = Extractor(
    name="token_ids",
    width=TOKEN_IDS_K,
    build=_token_ids,
    requires=("__tokens",),
)

# ---------------------------------------------------------------------------
# role_onehot: role + tool indicator block (projection analog)
# ---------------------------------------------------------------------------

ROLES = ("user", "assistant", "tool")
TOOLS = ("search", "exec", "read", "write")


def _role_onehot(df: DataFrame) -> Column:
    cols = [
        (F.col("role") == r).cast("double") for r in ROLES
    ] + [
        (F.col("tool") == t).cast("double") for t in TOOLS
    ] + [F.col("tool").isNotNull().cast("double")]
    # tool equality on null yields null -> coalesce to 0
    cols = [F.coalesce(c, F.lit(0.0)) for c in cols]
    return F.array(*cols)


role_onehot = Extractor(
    name="role_onehot",
    width=len(ROLES) + len(TOOLS) + 1,
    build=_role_onehot,
    feature_names=tuple(f"role_{r}" for r in ROLES)
    + tuple(f"tool_{t}" for t in TOOLS)
    + ("has_tool",),
)


def default_text_extractors() -> list[Extractor]:
    return [length_stats, char_hist, hashed_ngram, token_ids, role_onehot]
