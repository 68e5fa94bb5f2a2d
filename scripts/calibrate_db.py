#!/usr/bin/env python
"""Fit the DB detector forward's weights in-sandbox (M5): gradient
descent from the hand-constructed init against the renderer's dilated
text-region masks (the DBNet shrink-mask supervision shape). Saves
models/db_calibrated.npz, which db_forward auto-loads.

Usage: python scripts/calibrate_db.py [out_path]
Deterministic: seeded batch order, fixed data.
"""

from __future__ import annotations

import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    out = sys.argv[1] if len(sys.argv) > 1 else "models/db_calibrated.npz"
    from kiri_ocr_spark.operators import db_calibrate as C

    params, hist = C.calibrate()
    os.makedirs(os.path.dirname(out) or ".", exist_ok=True)
    np.savez(out, **params)
    print({"bce_first": round(hist[0], 4), "bce_last": round(hist[-1], 4),
           "out": out})
    return 0


if __name__ == "__main__":
    sys.exit(main())
