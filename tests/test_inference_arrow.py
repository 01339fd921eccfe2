"""Spark-free checks of the Arrow batch → matrix step the J1 UDFs share
(``ml.inference.embedding_matrix``)."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest

from embarrassingly_parallel_image_classification_spark.ml.inference import (
    EMB_DIM,
    embedding_matrix,
)

FLOATS = pa.list_(pa.float32())


def test_sliced_batch_matches_np_stack():
    """A slice with a nonzero offset must yield its own rows, exactly
    what the pandas path's ``np.stack`` produced."""
    rng = np.random.default_rng(7)
    rows = rng.standard_normal((9, EMB_DIM)).astype(np.float32)
    batch = pa.array(list(rows), FLOATS).slice(3, 4)
    assert batch.offset == 3

    got = embedding_matrix(batch)
    want = np.stack(batch.to_pandas().to_numpy())
    assert got.dtype == want.dtype == np.float32
    assert np.array_equal(got, want)
    assert np.array_equal(got, rows[3:7])


def test_ragged_row_raises():
    """Row lengths d-1 and d+1 total 2d: a bare reshape would accept
    this batch."""
    batch = pa.array([[1.0] * (EMB_DIM - 1), [1.0] * (EMB_DIM + 1)], FLOATS)
    with pytest.raises(ValueError, match=f"length {EMB_DIM}"):
        embedding_matrix(batch)


def test_null_row_raises():
    batch = pa.array([[1.0] * EMB_DIM, None, [2.0] * EMB_DIM], FLOATS)
    with pytest.raises(ValueError, match="null"):
        embedding_matrix(batch)
