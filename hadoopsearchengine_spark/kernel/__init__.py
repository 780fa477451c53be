"""Pure deterministic kernels shared between the Spark engine and the
single-node oracle (``oracle/``). No Spark imports allowed here — identity
between the distributed path and the oracle path is *by construction*."""

import numpy as np


def round_half_up(x, nd: int):
    """Round half AWAY FROM ZERO to ``nd`` decimals, exactly as SQL round()
    does in DuckDB and Spark (``std::round(x * 10^nd) / 10^nd``). numpy's
    and Python's round() go half to even, so an exact tie such as 0.0078125
    (a WAV peak of 256/32768, or an expected-reward walk mass) gives
    0.007812 where SQL gives 0.007813; the oracle compare hashes values, so
    the tie side must match. Scalars in, numpy scalars out."""
    scale = 10.0 ** nd
    x = np.multiply(x, scale)
    t = np.trunc(x)
    return (t + np.where(np.abs(x - t) >= 0.5, np.sign(x), 0.0)) / scale
