"""Flagship pipeline: allclose parity vs the pandas oracle, registry
consistency, and determinism across parallelism (the reference's
tests/test_parallel.py analog at the engine level)."""

import numpy as np
import pytest

from protosc_spark.datagen import (
    generate_attribute_updates,
    generate_transcripts_dirty,
)
from protosc_spark.oracle.pandas_flagship import oracle_flagship
from protosc_spark.pipeline import flagship_features


@pytest.fixture(scope="module")
def flagship(spark, transcripts):
    updates = generate_attribute_updates(spark, n_conversations=120, seed=42)
    out, registry = flagship_features(transcripts, updates)
    pdf = out.orderBy("conv_id", "turn_idx").toPandas()
    return pdf, registry, transcripts.toPandas(), updates.toPandas()


def test_registry_width_matches(flagship):
    pdf, registry, _, _ = flagship
    widths = {len(f) for f in pdf["features"]}
    assert widths == {registry.n_features}
    assert len(set(registry.feature_ids())) == registry.n_features


def test_allclose_vs_pandas_oracle(flagship):
    pdf, registry, tr_pdf, up_pdf = flagship
    want = oracle_flagship(tr_pdf, up_pdf)
    assert len(pdf) == len(want)
    assert (pdf["conv_id"].values == want["conv_id"].values).all()
    assert (pdf["turn_idx"].values == want["turn_idx"].values).all()
    got = np.array(pdf["features"].tolist())
    exp = np.array(want["features"].tolist())
    assert got.shape == exp.shape
    bad = ~np.isclose(got, exp, atol=1e-9, equal_nan=True)
    if bad.any():
        i, j = np.argwhere(bad)[0]
        raise AssertionError(
            f"mismatch at row {i} ({pdf['conv_id'][i]},{pdf['turn_idx'][i]}) "
            f"feature {registry.feature_ids()[j]}: got {got[i, j]} want {exp[i, j]}"
        )


def test_dirty_input_same_features(spark, transcripts, flagship):
    """Stable-ordering invariant: a dirty table (dups, perturbed ts)
    dedups to the same feature vectors."""
    pdf, _, _, up_pdf = flagship
    dirty = generate_transcripts_dirty(spark, n_conversations=120, seed=42)
    from protosc_spark.datagen import generate_attribute_updates

    updates = generate_attribute_updates(spark, n_conversations=120, seed=42)
    out2, _ = flagship_features(dirty, updates)
    pdf2 = out2.orderBy("conv_id", "turn_idx").toPandas()
    got = np.array(pdf["features"].tolist())
    got2 = np.array(pdf2["features"].tolist())
    assert got.shape == got2.shape
    assert np.allclose(got, got2, atol=0)


def test_deterministic_across_parallelism(spark, transcripts, flagship):
    """Same vectors when the input is split into very different
    partition counts (local analog of N vs 4N executors)."""
    pdf, _, _, _ = flagship
    updates = generate_attribute_updates(spark, n_conversations=120, seed=42)
    out2, _ = flagship_features(transcripts.repartition(97), updates)
    pdf2 = out2.orderBy("conv_id", "turn_idx").toPandas()
    got = np.array(pdf["features"].tolist())
    got2 = np.array(pdf2["features"].tolist())
    assert np.array_equal(got, got2)


def test_add_random_features_deterministic_and_normal(spark, transcripts):
    """Probe columns (reference add_random_columns,
    protosc/feature_matrix.py:96-114): registry bookkeeping, identical
    values at any partitioning, plausibly standard-normal."""
    import numpy as np
    from pyspark.sql import functions as F

    from protosc_spark.extract import add_random_features, extract
    from protosc_spark.features.text import default_text_extractors

    base, reg = extract(
        transcripts, list(default_text_extractors()),
        keep_cols=["conv_id", "turn_idx"],
    )
    out, reg2 = add_random_features(base, reg, n=5, seed=7)
    assert reg2.n_features == reg.n_features + 5
    assert reg2.entries[-1]["pipeline"] == "random"
    rows = {(r.conv_id, r.turn_idx): r.features[-5:] for r in out.collect()}

    out_b, _ = add_random_features(base.repartition(7), reg, n=5, seed=7)
    rows_b = {(r.conv_id, r.turn_idx): r.features[-5:] for r in out_b.collect()}
    assert rows == rows_b  # bitwise identical across partitionings

    vals = np.array(list(rows.values())).ravel()
    assert abs(vals.mean()) < 0.05 and abs(vals.std() - 1.0) < 0.05
    # different seed -> different probes
    out_c, _ = add_random_features(base, reg, n=5, seed=8)
    rows_c = {(r.conv_id, r.turn_idx): r.features[-5:] for r in out_c.collect()}
    assert rows != rows_c


def test_hand_texts_match_oracle(spark):
    """Edge-case texts through the whole pipeline vs the oracle, whose
    text blocks share no kernel with the engine. token_ids takes a
    token's FIRST run of ASCII digits (Java's \\d), so "a1b2" -> 1 and
    the Arabic-Indic digits of "x٣٤" do not count."""
    import datetime as dt

    import pandas as pd

    texts = ["a1b2", "x٣٤", "12abc", "abc", "", "a  b", " x", "x ", "  ",
             "héllo wörld", "a \U0001F600 b", "supercalifragilistic 7",
             "tok1 tok22 tok333"]
    t0 = dt.datetime(2024, 1, 1)
    pdf = pd.DataFrame({
        "conv_id": "c0",
        "turn_idx": range(len(texts)),
        "role": "user",
        "text": texts,
        "tool": None,
        "ts": [t0 + dt.timedelta(seconds=60 * i) for i in range(len(texts))],
    })
    df = spark.createDataFrame(
        pdf,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    out, registry = flagship_features(df)
    got = np.array(out.orderBy("turn_idx").toPandas()["features"].tolist())
    exp = np.array(oracle_flagship(pdf)["features"].tolist())
    assert np.allclose(got, exp, atol=1e-9)
    ids = got[:4, registry.index_of("token_ids:0")]
    assert ids.tolist() == [0.001, -0.001, 0.012, -0.001]
