"""operators/scratch.py: the per-worker reusable buffer pool behind the
block-pair near-dup kernel (r15, the r14 first-touch-fault mitigation)."""

from __future__ import annotations

import numpy as np

from aws_cloudfront_realtime_monitoring_spark.operators.scratch import (
    clear_pool,
    pool_stats,
    scratch,
)


def test_scratch_reuses_and_grows():
    clear_pool()
    a = scratch("t.a", (4, 8), np.int64)
    assert a.shape == (4, 8) and a.dtype == np.int64
    base = a.base if a.base is not None else a
    b = scratch("t.a", (2, 8), np.int64)  # smaller: same backing buffer
    assert (b.base if b.base is not None else b) is base
    c = scratch("t.a", (100, 8), np.int64)  # bigger: grown (2x geometric)
    assert c.shape == (100, 8)
    assert pool_stats()["t.a"][0] >= 800
    # dtype change replaces the buffer rather than reinterpreting it
    d = scratch("t.a", (4, 8), np.float64)
    assert d.dtype == np.float64
    clear_pool()
    assert pool_stats() == {}


def test_scratch_keys_do_not_alias():
    clear_pool()
    x = scratch("t.x", (3,), np.int64)
    y = scratch("t.y", (3,), np.int64)
    x[:] = 1
    y[:] = 2
    assert (x == 1).all() and (y == 2).all()
    clear_pool()


def test_scratch_out_parameter_values_match_fresh():
    """The pool must be value-transparent: matmul/divide through scratch
    buffers == the fresh-allocation spelling, bit for bit."""
    clear_pool()
    rng = np.random.RandomState(7)
    a = rng.randint(-1000, 1000, (37, 16)).astype(np.int64)
    b = rng.randint(-1000, 1000, (29, 16)).astype(np.int64)
    fresh_dots = a @ b.T
    fresh_cos = (fresh_dots
                 / np.sqrt(np.einsum("ij,ij->i", a, a))[:, None]
                 / np.sqrt(np.einsum("ij,ij->i", b, b))[None, :])
    dots = scratch("t.dots", (37, 29), np.int64)
    np.matmul(a, b.T, out=dots)
    assert (dots == fresh_dots).all()
    cos = scratch("t.cos", (37, 29), np.float64)
    np.divide(dots, np.sqrt(np.einsum("ij,ij->i", a, a))[:, None], out=cos)
    np.divide(cos, np.sqrt(np.einsum("ij,ij->i", b, b))[None, :], out=cos)
    assert (cos == fresh_cos).all()  # bit-identical, not just close
    clear_pool()

