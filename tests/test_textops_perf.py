"""r6 optimization-round data contracts.

The Arrow-vectorized cosine paths (ann_ivf assignment, dedup_embedding's
in-bucket scorer) reproduce the JVM fold bit-exactly by accumulating over
exactly ``_EMB_DIM`` dimensions in ascending order — which is only the
same computation if every embeddings row really is ``_EMB_DIM`` floats.
Assert that contract against every scale factor present, plus the
bit-identity of the shared numpy kernel with the scalar fold on a
synthetic case.
"""

from __future__ import annotations

import glob
import math
import os

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from crawlspark.textops import _EMB_DIM, _np_dots, _np_norms


@pytest.mark.parametrize("path", sorted(glob.glob(
    "/root/testdata/sf*/embeddings.parquet")))
def test_embeddings_are_fixed_dim(path):
    if not os.path.exists(path):
        pytest.skip("no testdata")
    t = pq.read_table(path, columns=["embedding"])
    lens = pc.list_value_length(t["embedding"])
    assert pc.min(lens).as_py() == _EMB_DIM
    assert pc.max(lens).as_py() == _EMB_DIM


def test_numpy_stepwise_fold_matches_sequential_sum():
    """The Arrow scorers' numpy cosine kernel (``_np_dots``/``_np_norms``)
    is the SAME float op sequence as the scalar left fold the JVM runs
    (acc = 0.0; acc += a[i]*b[i] in ascending i) — bit-equal, not just
    approximately equal, for every pair and every row."""
    rng = np.random.RandomState(3)
    a = rng.randn(41, _EMB_DIM)
    b = rng.randn(37, _EMB_DIM)
    dots = _np_dots(a, b.T.copy())
    norms = _np_norms(a)
    for i in range(len(a)):
        for j in range(len(b)):
            acc = 0.0
            for d in range(_EMB_DIM):
                acc += a[i, d] * b[j, d]
            assert acc == dots[i, j]      # bitwise float64 equality
        acc = 0.0
        for d in range(_EMB_DIM):
            acc += a[i, d] * a[i, d]
        assert math.sqrt(acc) == norms[i]
