"""Process-wide diagnostics shared by the pipeline modules.

:func:`warn_once` is the one once-per-process warning: a signal the
operator should see the first time a default changes behaviour (an
approximate tier, a skew guard, a multi-pass fallback, a degraded probe),
not once per call.
"""

from __future__ import annotations

import warnings

# keys already warned about in this process
_warned: set = set()


def warn_once(key: str, message: str, stacklevel: int) -> None:
    """``warnings.warn(message, UserWarning)`` the first time ``key`` is
    seen in this process; later calls with the same key are silent.
    ``stacklevel`` counts from the caller, as if it called
    ``warnings.warn`` itself."""
    if key in _warned:
        return
    _warned.add(key)
    warnings.warn(message, UserWarning, stacklevel=stacklevel + 1)
