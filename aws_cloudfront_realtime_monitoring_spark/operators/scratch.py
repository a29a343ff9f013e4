"""Per-worker reusable numpy scratch buffers for Python-side kernels.

Why this exists (r14 → r15): the ANN scale sweep isolated a memory
regime in which FIRST-TOUCH page faults collapse to ~10 MB/s (0.5 ms a
fault; hypervisor lazy backing, no /proc CPU signature) while reads of
already-backed pages run ~8 GB/s — so a Python worker that allocates
fresh numpy arrays for every ``applyInPandas`` group pays an
integer-factor fault tax in bad windows (88.6–425 s walls on an
identical plan, SCALE.md "Measured ANN/similarity decade"), and a
worker that reuses warm pages does not. Spark reuses Python workers
across tasks (``spark.python.worker.reuse`` defaults true) and one
task processes MANY groups, so module-level buffers here are touched
once per worker lifetime instead of once per group.

Contract:

- ``scratch(key, shape, dtype)`` returns a view of a persistent
  per-process buffer with EXACTLY the requested shape. Contents are
  UNDEFINED — callers must fully overwrite (``np.matmul(..., out=)``,
  ``np.divide(..., out=)``, ``np.stack(..., out=)``); nothing may read
  before writing.
- Buffers grow geometrically per key and never shrink; keys are
  namespaced strings ("ndup.dots") so two kernels sharing a worker
  can't alias each other's tiles.
- NOT thread-safe. Spark's Python workers are single-threaded per
  process; if a future caller runs inside a thread pool it must bring
  its own keys per thread.
- Values produced through these buffers must be BIT-IDENTICAL to the
  fresh-allocation spelling (same dtypes, same operation order) — the
  pool changes where results live, never what they are; the oracle
  hash checks enforce this.
"""

from __future__ import annotations

import numpy as np

_POOL: dict[str, np.ndarray] = {}


def scratch(key: str, shape: tuple[int, ...], dtype) -> np.ndarray:
    """A ``shape``-shaped view of the persistent buffer for ``key``
    (grown to at least the needed size, 2× geometric so repeated
    near-misses don't re-fault). Contents are undefined."""
    dt = np.dtype(dtype)
    n = 1
    for s in shape:
        n *= int(s)
    buf = _POOL.get(key)
    if buf is None or buf.dtype != dt or buf.size < n:
        grow = buf.size * 2 if buf is not None and buf.dtype == dt else 0
        _POOL[key] = buf = np.empty(max(n, grow), dtype=dt)
    return buf[:n].reshape(shape)


def pool_stats() -> dict[str, tuple[int, str]]:
    """(size, dtype) per live key — test/diagnostic surface."""
    return {k: (int(v.size), str(v.dtype)) for k, v in _POOL.items()}


def clear_pool() -> None:
    """Drop every buffer (tests only; production workers keep theirs
    for the process lifetime — that is the point)."""
    _POOL.clear()
