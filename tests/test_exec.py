"""The pure execution helpers: rechunk and flat_matrix (no Spark session)."""

import numpy as np
import pandas as pd
import pyarrow as pa

from exactextractr_spark.operators._exec import flat_matrix, rechunk


def _frames(sizes, start=0):
    out = []
    for n in sizes:
        out.append(pd.DataFrame({"i": np.arange(start, start + n)}))
        start += n
    return out


def test_rechunk_coalesces_small_batches_in_order():
    got = list(rechunk(iter(_frames([16] * 10)), 64))
    assert [len(f) for f in got] == [64, 64, 32]
    assert np.array_equal(np.concatenate([f["i"] for f in got]), np.arange(160))


def test_rechunk_splits_oversized_and_skips_empty():
    got = list(rechunk(iter(_frames([0, 150, 0, 16, 0])), 64))
    assert [len(f) for f in got] == [64, 64, 38]
    assert np.array_equal(np.concatenate([f["i"] for f in got]), np.arange(166))
    assert list(rechunk(iter(_frames([0, 0])), 64)) == []


def test_flat_matrix_reads_equal_length_rows():
    rows = [[1.5, -2.0, 3.25], [0.0, 4.0, 1e-7]]
    arr = pa.array(rows, type=pa.list_(pa.float32()))
    got = flat_matrix(arr)
    want = np.vstack(arr.to_numpy(zero_copy_only=False)).astype(np.float64)
    assert got.dtype == np.float64 and got.shape == (2, 3)
    assert got.tobytes() == want.tobytes()  # bit-identical to the vstack read


def test_flat_matrix_sliced_and_chunked_input():
    rows = [[float(i), float(i) + 0.5] for i in range(6)]
    arr = pa.array(rows, type=pa.list_(pa.float64()))
    assert np.array_equal(flat_matrix(arr.slice(2, 3)), np.array(rows[2:5]))
    chunked = pa.chunked_array([arr.slice(0, 2), arr.slice(2, 4)])
    assert np.array_equal(flat_matrix(chunked), np.array(rows))
    ragged = pa.chunked_array(
        [arr.slice(0, 2), pa.array([[1.0]], type=pa.list_(pa.float64()))]
    )
    assert flat_matrix(ragged) is None


def test_flat_matrix_rejects_unflattenable_rows():
    t = pa.list_(pa.float64())
    assert flat_matrix(pa.array([[1.0, 2.0], [1.0]], type=t)) is None  # ragged
    assert flat_matrix(pa.array([[1.0, 2.0], None], type=t)) is None  # null row
    assert flat_matrix(pa.array([[1.0, None], [1.0, 2.0]], type=t)) is None
    assert flat_matrix(pa.array([[], []], type=t)) is None  # zero-length rows
    assert flat_matrix(pa.array([], type=t)) is None  # no rows
