"""How fast the host runs a fixed CPU-bound reference task right now.

The 4-core host is a share of a bigger machine, and the CPU seconds a fixed
piece of work takes on it drift by up to twofold over tens of minutes as
its neighbours' load changes. The benchmark times this reference task
between its draws and divides its CPU figures by the run's
:func:`slowdown`, so that they read in seconds of a calm host.

The task mixes interpreted Python with native code (a NumPy sort, zlib),
as the measured draws mix the JVM's compiled code with the Python
workers' interpreter and native kernels. It runs in the benchmark's own
process and touches none of the program.
"""

from __future__ import annotations

import time
import zlib

import numpy as np

#: CPU seconds of one reference task on a calm host (median of 40 calls on
#: a 4-core Intel Xeon VM at 2.1 GHz)
REFERENCE_S = 0.1
_DATA = np.random.default_rng(0).random(3_000_000)
_BYTES = _DATA[:150_000].tobytes()


def reference_task() -> float:
    """Run the reference task once; return its CPU seconds."""
    t0 = time.process_time()
    acc = 0
    for i in range(600_000):
        acc += i * i % 7
    np.sort(_DATA)
    zlib.compress(_BYTES, 6)
    return time.process_time() - t0


def slowdown(samples: list[float]) -> float:
    """The host's slowdown against the calm host: the median reference
    task time of a run over :data:`REFERENCE_S`."""
    from summary import median
    return median(samples) / REFERENCE_S
