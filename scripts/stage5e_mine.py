#!/usr/bin/env python
"""Stage-5e hard-negative miner: find the candidate artifact's residual
CTC failure surface by DECODING, not by guessing families.

Stages 5a-5d attacked the round-5 coverage residuals with hand-designed
adjacency/interior/trigram/thinpair families; they drove the held-out
coverage misses 4/200 -> 1/200 but the last miss ('...ណi(' gaining a
phantom '2') survived every family because it needs a symbol/Khmer-heavy
PREFIX as well as the pair — a joint context no marginal family samples
densely (probe: 8/160 misses with full-charset 2-word prefixes vs 0/52
with alnum prefixes). This script mines that joint distribution
directly: generate seeded random lines from three styles (coverage-like,
symbol-heavy cluster-tail, thinpair-like), batch-decode them with the
candidate, and keep the misses. The fine-tune stage then trains on the
MINED misses (oversampled with fresh prefix redraws) — classic
hard-example mining, targeting exactly what the zero-miss gate measures
without ever touching the gate's own held-out lines (string-equality
exclusion against every family's held-out set, asserted here).

Usage: python scripts/stage5e_mine.py [model_prefix] [n_lines] [out_json]
Deterministic: fixed seeds, fixed artifact, multiprocessing only shards
work (each shard seeds independently).
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# argv parsing lives in main() — this module is also imported by
# stage5e_finetune.py for heldout_exclusions()


def gen_lines(n: int, seed: int) -> list[str]:
    """Three mining styles, interleaved: (a) coverage-style full-deck
    words, (b) symbol/Khmer-heavy 2-word prefix + wide+thin+sym tail
    cluster (the probed failure shape), (c) thinpair-style flank+pair
    words. Seeds are disjoint from every training/held-out family seed
    (coverage 61/62, pattern 71, adjacency 83/84, interior 97/98,
    trigram 113/114, thinpair 127/128)."""
    import numpy as np

    from kiri_ocr_spark.imaging.glyphs import CHARSET
    from kiri_ocr_spark.operators.train import (
        charset_coverage_lines,
        charset_thinpair_lines,
    )

    rng = np.random.default_rng(seed)
    full = list(CHARSET)
    wide = [c for c in CHARSET if (not c.isascii()) or c.isupper()]
    thin = [c for c in CHARSET if c in "iljft1!|()[]{};:',.\"`"]
    sym = [c for c in CHARSET if not c.isalnum()]
    n3 = n // 3
    style_b = []
    for _ in range(n - 2 * n3):
        w1 = "".join(rng.choice(full, rng.integers(3, 6)))
        w2 = "".join(rng.choice(full, rng.integers(3, 6)))
        tail = (
            rng.choice(wide)
            + rng.choice(thin)
            + rng.choice(sym if rng.integers(2) else full)
        )
        style_b.append(f"{w1} {w2} {tail}")
    # style (d): DENSE grid over the residual's structural family —
    # every (wide-flank, thin, bracket-ish sym) ordered tail once, each
    # behind a fresh symbol-heavy 2-word prefix. Random tails hit a
    # specific combo like 'ណi(' with P ~ 1e-5 per line (the round-5/6
    # residual survived five family stages exactly because of that);
    # grid density guarantees every combo is probed once per sweep.
    brackets = [c for c in CHARSET if c in "()[]{}!?/\\\"'|"]
    grid = []
    for wd in wide:
        for th in thin:
            for br in brackets:
                w1 = "".join(rng.choice(full, rng.integers(3, 6)))
                w2 = "".join(rng.choice(full, rng.integers(3, 6)))
                grid.append(f"{w1} {w2} {wd}{th}{br}")
    return (
        charset_coverage_lines(n3, seed + 1)
        + style_b
        + charset_thinpair_lines(n3, seed + 2)
        + grid
    )


def heldout_exclusions() -> set[str]:
    """Every line string any gate evaluation holds out — mined training
    text must never overlap these."""
    from kiri_ocr_spark.operators.train import (
        charset_adjacency_lines,
        charset_coverage_lines,
        charset_interior_lines,
        charset_pattern_lines,
        charset_thinpair_lines,
        charset_trigram_lines,
    )

    out: set[str] = set()
    out.update(charset_coverage_lines(200, 62))
    # pattern held-out is a slice of one seed-71 draw; excluding the
    # whole draw (train + heldout) is strictly safe
    out.update(charset_pattern_lines(1100, 71))
    out.update(charset_adjacency_lines(200, 84))
    out.update(charset_interior_lines(200, 98))
    out.update(charset_trigram_lines(200, 114))
    out.update(charset_thinpair_lines(200, 128))
    return out


def _decode_shard(args):
    shard_lines, model_prefix = args
    import numpy as np

    from kiri_ocr_spark.operators.model import ENCODE_CHUNK, load_model
    from kiri_ocr_spark.operators.train import render_crop

    model = load_model(model_prefix)
    misses = []
    samples = [
        render_crop(ln, model.tok, tinted=(i % 5 == 3))
        for i, ln in enumerate(shard_lines)
    ]
    crops = [s[1] for s in samples]
    for i in range(0, len(crops), ENCODE_CHUNK):
        chunk = np.stack(crops[i : i + ENCODE_CHUNK]).astype(np.float32)
        for j, (t, _) in enumerate(model.ctc_greedy(model.encode(chunk, fp32=True))):
            if t != samples[i + j][0]:
                misses.append(
                    {"line": samples[i + j][0], "decoded": t,
                     "tinted": (i + j) % 5 == 3}
                )
    return misses


def main() -> int:
    MODEL_PREFIX = sys.argv[1] if len(sys.argv) > 1 else "models/trained_full"
    N_LINES = int(sys.argv[2]) if len(sys.argv) > 2 else 9000
    OUT = sys.argv[3] if len(sys.argv) > 3 else "models/stage5e_mined.json"
    t0 = time.monotonic()
    lines = gen_lines(N_LINES, seed=3001)
    excl = heldout_exclusions()
    lines = [ln for ln in lines if ln not in excl]
    nproc = min(12, os.cpu_count() or 4)
    shards = [(lines[i::nproc], MODEL_PREFIX) for i in range(nproc)]
    with mp.Pool(nproc) as pool:
        misses = [m for part in pool.map(_decode_shard, shards) for m in part]
    out = {
        "model": MODEL_PREFIX,
        "n_lines": len(lines),
        "n_misses": len(misses),
        "miss_rate": round(len(misses) / max(1, len(lines)), 5),
        "mine_sec": round(time.monotonic() - t0, 1),
        "misses": misses,
    }
    with open(OUT, "w") as f:
        json.dump(out, f, ensure_ascii=False, indent=1)
    print(
        f"mined {len(misses)}/{len(lines)} misses "
        f"({out['miss_rate']:.3%}) in {out['mine_sec']}s -> {OUT}"
    )
    for m in misses[:20]:
        print(" ", repr(m["line"]), "->", repr(m["decoded"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
