"""Percentiles over latency samples."""

from __future__ import annotations

import numpy as np


def pct(values, q: float) -> float:
    """``q``-th percentile (linear interpolation); 0.0 for no samples."""
    a = np.asarray(values, dtype=float)
    return float(np.percentile(a, q)) if a.size else 0.0
