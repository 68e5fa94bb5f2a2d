#!/usr/bin/env python
"""Fit the CRAFT forward's weights in-sandbox (M6): pixel-BCE against
the renderer's character-region + inter-character-affinity masks from
the hand-constructed init. Saves models/craft_calibrated.npz, which
craft_forward auto-loads.

Usage: python scripts/calibrate_craft.py [out_path]
"""

from __future__ import annotations

import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    out = sys.argv[1] if len(sys.argv) > 1 else "models/craft_calibrated.npz"
    from kiri_ocr_spark.operators import craft_calibrate as CC

    params, hist = CC.calibrate()
    os.makedirs(os.path.dirname(out) or ".", exist_ok=True)
    np.savez(out, **params)
    print({"bce_first": round(hist[0], 4), "bce_last": round(hist[-1], 4),
           "out": out})
    return 0


if __name__ == "__main__":
    sys.exit(main())
