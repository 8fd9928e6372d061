"""Run a block of numpy math with the process's BLAS on one thread.

Multi-threaded OpenBLAS splits a GEMM's rows between its threads, and the
split changes which rows its edge kernels compute, so the same input row
can round differently depending on the thread count and the rows around it
(measured with numpy 1.26's bundled OpenBLAS 0.3.23, Prescott kernels, on
a 4-core x86-64 VM: a (3000, 128) @ (128, 128) float32 product differs in
902 elements between 1 and 4 threads). Spark's Python workers run BLAS on
one thread (local mode sets OMP_NUM_THREADS=1 for them), while the driver
process uses every core. Code whose driver-side results must equal its
executor-side ones bit for bit runs its products under `one_thread()`, and
checks `can_pin()` first: with no pinnable BLAS it must compute where the
executors do.

Only OpenBLAS is handled, found among the libraries the process has mapped
under any of its export names (`openblas_*`, the ILP64 `openblas_*64_`, and
the `scipy_openblas_*` builds numpy 2 bundles). The pin is process-global:
while a block holds it, BLAS calls from other driver threads run on one
thread too.
"""

from __future__ import annotations

import contextlib
import ctypes
import functools
import threading

_LOCK = threading.RLock()  # one_thread blocks may nest


@functools.cache
def _openblas_api():
    """(get_num_threads, set_num_threads) of the mapped OpenBLAS, or None."""
    try:
        with open("/proc/self/maps") as f:
            paths = {line.split()[-1] for line in f if "openblas" in line.lower()}
    except OSError:
        return None
    for path in sorted(paths):
        try:
            lib = ctypes.CDLL(path)
        except OSError:
            continue
        for prefix in ("", "scipy_"):
            for suffix in ("64_", ""):  # ILP64 builds suffix their symbols
                get = getattr(lib, f"{prefix}openblas_get_num_threads{suffix}", None)
                set_ = getattr(lib, f"{prefix}openblas_set_num_threads{suffix}", None)
                if get is not None and set_ is not None:
                    get.argtypes, get.restype = [], ctypes.c_int
                    set_.argtypes, set_.restype = [ctypes.c_int], None
                    return get, set_
    return None


def can_pin() -> bool:
    """Whether one_thread() can pin this process's BLAS."""
    return _openblas_api() is not None


@contextlib.contextmanager
def one_thread():
    """Pin OpenBLAS to one thread for the block, then restore its count.
    Does nothing when can_pin() is False."""
    api = _openblas_api()
    if api is None:
        yield
        return
    get, set_ = api
    with _LOCK:
        before = get()
        set_(1)
        try:
            yield
        finally:
            set_(before)
