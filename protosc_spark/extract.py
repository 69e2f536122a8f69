"""Feature-extraction framework: declared-width extractors, plan-time
common-subexpression sharing, and assembly into a single
``features: array<double>`` column plus a feature registry.

Reference mapping (this is the Spark re-expression of the reference's
pipeline/feature-matrix layer):

* ``BasePipeElement`` / ``Pipeline`` / ``PipeComplex`` (reference
  protosc/pipeline.py:7-69, protosc/pipe_complex.py:7-133) — a branch
  becomes an :class:`Extractor`; branch outputs become column groups.
* Shared-prefix execution (reference protosc/pipe_complex.py:136-171
  runs common elements once per sample) — here extractors declare the
  *intermediate* columns they need (e.g. the token array); each
  intermediate is computed once in a single ``select`` and reused by
  every consumer (plan-time CSE, see SURVEY.md §4.1).
* ``FeatureMatrix`` + ``rev_lookup_table`` (reference
  protosc/feature_matrix.py:8-84) — the dense matrix becomes the
  ``features`` array column; the lookup table becomes
  :class:`FeatureRegistry` (driver-side, broadcast-small). Schema is
  declared at construction time instead of inferred from sample 0
  (reference protosc/feature_matrix.py:48-67), which is what lets the
  Arrow UDFs have static return types.

Scale notes: extraction is a single narrow ``select`` over the scan —
no shuffle; JVM-expression extractors stay inside whole-stage codegen,
and the Arrow-UDF extractors (features/text.py) ride one Arrow batch
exchange: one ArrowEvalPython node, whose kernel reads the Arrow
buffers of ``text`` and writes one flat float64 buffer per batch, with
no Python work per row, token or gram. Window features are appended
afterwards by the pipeline (windows.py) and share one shuffle on
conv_id.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from collections.abc import Callable, Sequence

import numpy as np

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Extractor:
    """One feature-extraction branch producing ``width`` doubles.

    ``build(df) -> Column`` must return an ``array<double>`` of exactly
    ``width`` elements (checked at assembly in tests). ``requires``
    names intermediate columns from INTERMEDIATES that must exist
    before ``build`` runs; they are computed once and shared.
    """

    name: str
    width: int
    build: Callable[[DataFrame], Column]
    requires: tuple[str, ...] = ()
    feature_names: tuple[str, ...] | None = None
    # channel columns per LOGICAL feature (reference features own 1..k
    # adjacent columns, protosc/feature_matrix.py:20-27,48-67). The
    # build output is laid out row-major (sub_feature, channel):
    # sub0_ch0..sub0_chk-1, sub1_ch0, ... width must divide by channels.
    channels: int = 1

    @property
    def n_logical(self) -> int:
        assert self.width % self.channels == 0, (self.name, self.width)
        return self.width // self.channels

    def names(self) -> list[str]:
        if self.feature_names is not None:
            assert len(self.feature_names) == self.n_logical
            return [f"{self.name}:{n}" for n in self.feature_names]
        return [f"{self.name}:{i}" for i in range(self.n_logical)]


@dataclass
class FeatureRegistry:
    """Driver-side provenance map: feature id -> (pipeline, sub id,
    column slice of the assembled array). The Spark analog of the
    reference's rev_lookup_table (protosc/feature_matrix.py:20-27)."""

    entries: list[dict] = field(default_factory=list)

    @classmethod
    def from_extractors(cls, extractors: Sequence[Extractor]) -> "FeatureRegistry":
        entries, col = [], 0
        for ex in extractors:
            for i, fname in enumerate(ex.names()):
                entries.append(
                    {
                        "feature_id": fname,
                        "pipeline": ex.name,
                        "sub_feature_id": i,
                        "col_ids": [col + c for c in range(ex.channels)],
                    }
                )
                col += ex.channels
        return cls(entries)

    @property
    def n_features(self) -> int:
        return len(self.entries)

    @property
    def n_columns(self) -> int:
        return sum(len(e["col_ids"]) for e in self.entries)

    def feature_ids(self) -> list[str]:
        return [e["feature_id"] for e in self.entries]

    def col_groups(self) -> list[list[int]]:
        """Logical-feature -> channel columns, the shape FilterModel
        and the grouped statistics take."""
        return [list(e["col_ids"]) for e in self.entries]

    def index_of(self, feature_id: str) -> int:
        for i, e in enumerate(self.entries):
            if e["feature_id"] == feature_id:
                return i
        raise KeyError(feature_id)


# Intermediate columns shared across extractors (plan-time CSE).
# Key -> builder; each is computed at most once per extract() call.
INTERMEDIATES: dict[str, Callable[[], Column]] = {
    "__tokens": lambda: F.split(F.col("text"), " "),
    "__n_chars": lambda: F.length(F.col("text")).cast("double"),
}


def extract(
    df: DataFrame,
    extractors: Sequence[Extractor],
    keep_cols: Sequence[str] | None = None,
    out_col: str = "features",
) -> tuple[DataFrame, FeatureRegistry]:
    """Run every extractor in ONE select pass; concat into ``out_col``.

    Returns (DataFrame with keep_cols + out_col, registry). Extractors
    whose ``requires`` overlap share the intermediate columns.
    """
    keep_cols = list(keep_cols if keep_cols is not None else df.columns)
    needed = []
    for ex in extractors:
        for r in ex.requires:
            if r not in needed:
                needed.append(r)
    staged = df
    for r in needed:
        if r not in staged.columns:
            staged = staged.withColumn(r, INTERMEDIATES[r]())

    arrays = [ex.build(staged).alias(f"__x_{ex.name}") for ex in extractors]
    registry = FeatureRegistry.from_extractors(extractors)
    out = staged.select(*keep_cols, *arrays).select(
        *keep_cols,
        F.concat(*[F.col(f"__x_{ex.name}") for ex in extractors]).alias(out_col),
    )
    return out, registry


def features_to_columns(
    df: DataFrame, registry: FeatureRegistry, features_col: str = "features"
) -> DataFrame:
    """Explode the feature array into one named double column per
    feature (for inspection / oracle comparison; not the hot path)."""
    cols = []
    for e in registry.entries:
        if len(e["col_ids"]) == 1:
            cols.append(F.col(features_col)[e["col_ids"][0]].alias(e["feature_id"]))
        else:
            cols.extend(
                F.col(features_col)[c].alias(f"{e['feature_id']}:ch{k}")
                for k, c in enumerate(e["col_ids"])
            )
    return df.select(*[c for c in df.columns if c != features_col], *cols)


def add_random_features(
    df: DataFrame,
    registry: FeatureRegistry,
    n: int,
    seed: int = 0,
    key_cols: Sequence[str] = ("conv_id", "turn_idx"),
    features_col: str = "features",
) -> tuple[DataFrame, FeatureRegistry]:
    """Append ``n`` standard-normal probe features (the reference's
    add_random_columns, protosc/feature_matrix.py:96-114 — used by the
    genetic model to calibrate selection thresholds).

    NOT ``F.randn``: its stream is indexed by partition, so values
    change under repartitioning — breaking the engine's
    determinism-across-parallelism contract. Instead Box–Muller over
    two xxhash64-derived uniforms of (seed, key, i): a pure function
    of the row key, identical at any parallelism.
    """
    m = float(1 << 61)

    def _unif(i: int, salt: int) -> Column:
        h = F.pmod(
            F.xxhash64(F.lit(seed), F.lit(salt), F.lit(i), *key_cols),
            F.lit(1 << 61),
        )
        return (h.cast("double") + 0.5) / m  # in (0, 1), never 0

    probes = [
        F.sqrt(-2.0 * F.log(_unif(i, 1)))
        * F.cos(2.0 * float(np.pi) * _unif(i, 2))
        for i in range(n)
    ]
    out = df.withColumn(
        features_col, F.concat(F.col(features_col), F.array(*probes))
    )
    base = registry.n_columns
    new_entries = registry.entries + [
        {
            "feature_id": f"random:{i}",
            "pipeline": "random",
            "sub_feature_id": i,
            "col_ids": [base + i],
        }
        for i in range(n)
    ]
    return out, FeatureRegistry(new_entries)
