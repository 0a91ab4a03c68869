"""Core temporal operators of the engine, each a pure DataFrame→DataFrame fn.

These are the Spark-native re-expressions of the reference's pandas kernels
(reference: src/qafs/backend/pandas.py, src/qafs/timeseries.py):

* :mod:`dedup` — last-write-wins per timestamp (J3)
* :mod:`ffill` — forward-fill, scalable two-pass variant (J1/W1)
* :mod:`resample` — time-grid generation + as-of semantics (J2)
* :mod:`align` — multi-series outer alignment (J1), and the versioned pivot
  that resolves last-write-wins for every series of a feature load at once
* :mod:`timetravel` — as-of-creation filtering (P2)
* :mod:`asof` — generic as-of join (pandas merge_asof / DuckDB ASOF JOIN)
* :mod:`interval` — interval-containment join (binned range join)
"""

from .align import align_features
from .asof import asof_join
from .dedup import last_write_wins
from .ffill import ffill
from .interval import interval_join
from .resample import resample_asof, time_grid
from .timetravel import time_travel_filter

__all__ = [
    "align_features",
    "asof_join",
    "last_write_wins",
    "ffill",
    "interval_join",
    "resample_asof",
    "time_grid",
    "time_travel_filter",
]
