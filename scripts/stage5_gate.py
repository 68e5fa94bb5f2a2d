#!/usr/bin/env python
"""Stage-5 artifact gate: validate the adjacency-finetuned candidate and
swap it into models/trained_full only on a clean sweep.

Gate (all must hold, evaluated with the CURRENT decode code — the
training process may predate it):
  1. corpus CTC zero-miss over every fixture media line at sf0.001/0.01/0.1
     — in BOTH crop geometries: training-style rendered crops AND the
     deployment kernel's detect-based crops (pipeline_line_crops; added
     after stage 5f regressed two sf0.1 lines visible only through the
     latter)
  2. coverage held-out (200 lines, independent seed) CTC zero-miss —
     the round-5 artifact's 4/200 residual misses are the target
  3. pattern held-out CTC zero-miss + charset-oracle ids (%17==0)
     glyph-exact at sf0.001 and sf0.1
  4. adjacency/interior/trigram/thinpair held-out CTC zero-miss
  5. beam (CTC-fusion alpha 0.4 + rescore gamma 1.0): coverage CER <=
     CTC coverage CER, corpus/pattern beam CER == 0

On PASS: ships npz + meta (alpha 0.4, gamma 1.0) to models/trained_full
and writes models/trained_full_charset_report.json (stage-5 block
appended). On FAIL: writes the report with failures, leaves the shipped
artifact untouched.

Usage: python scripts/stage5_gate.py candidate_prefix [apply]
       (apply='dry' validates without swapping)
"""

from __future__ import annotations

import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np

SF_DIRS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"]


def _cer_and_misses(model, samples, method="ctc", limit=None):
    from kiri_ocr_spark.operators import train as T

    cer = T.evaluate_cer(model, samples[:limit] if limit else samples, method=method)
    misses = []
    if method == "ctc":
        from kiri_ocr_spark.operators.model import ENCODE_CHUNK

        crops = [s[1] for s in samples]
        for i in range(0, len(crops), ENCODE_CHUNK):
            chunk = np.stack(crops[i : i + ENCODE_CHUNK]).astype(np.float32)
            for j, (t, _) in enumerate(
                model.ctc_greedy(model.encode(chunk, fp32=True))
            ):
                if t != samples[i + j][0]:
                    misses.append((samples[i + j][0], t))
    return cer, misses


def charset_oracle_lines(sf_dir: str) -> list[str]:
    import duckdb

    from kiri_ocr_spark.queries import _MODEL_DECODE_CHARSET_SQL

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
    )
    return [r[1] for r in con.execute(_MODEL_DECODE_CHARSET_SQL).fetchall()]


def main() -> int:
    if len(sys.argv) < 2:
        print(__doc__.split("Usage: ")[1], file=sys.stderr)
        return 2
    cand = sys.argv[1]
    apply = (sys.argv[2] if len(sys.argv) > 2 else "apply") != "dry"

    from kiri_ocr_spark.operators import train as T
    from kiri_ocr_spark.operators.model import load_model, save_model

    model = load_model(cand)
    # decode knobs under test ride the model config, not the stale
    # candidate meta (the trainer's process predates the rescore knob)
    model.cfg.CTC_FUSION_ALPHA = 0.4
    model.cfg.CTC_RESCORE_GAMMA = 1.0

    result: dict = {"candidate": cand, "failures": []}

    corpus_held_all = []
    for d in SF_DIRS:
        tr, he = T.fixture_line_crops(d, tok=model.tok)
        all_lines = tr + he
        cer, misses = _cer_and_misses(model, all_lines)
        result[f"corpus_ctc_{os.path.basename(d)}"] = [round(cer, 6), len(misses)]
        corpus_held_all += he
        if misses:
            result["failures"].append(f"corpus {d}: {len(misses)} misses")

    # DEPLOYMENT-geometry corpus sweep (added after stage 5f): the same
    # lines through the trained kernel's detect-based crops. Stage 5f
    # passed every training-style deck yet regressed two sf0.1 lines
    # through these crops — caught only by the post-swap oracle run;
    # this closes that blind spot at gate time.
    pipe_beam_miss, pipe_beam_total = 0, 0
    for d in SF_DIRS:
        pipe_samples, layout_misses = T.pipeline_line_crops(d)
        cer_p, miss_p = _cer_and_misses(model, pipe_samples)
        result[f"corpus_pipeline_{os.path.basename(d)}"] = [
            round(cer_p, 6), len(miss_p), len(layout_misses)
        ]
        if miss_p or layout_misses:
            result[f"corpus_pipeline_misses_{os.path.basename(d)}"] = \
                [(a, b) for a, b in miss_p][:10]
            result["failures"].append(
                f"pipeline-crop corpus {d}: {len(miss_p)} decode + "
                f"{len(layout_misses)} layout misses"
            )
        # the same lesson applied to the ACCURACY mode: extract_spans_beam
        # beam-decodes THESE crops at table scope, so the swap gate sweeps
        # beam over the deployment-geometry held-out split too (shipped
        # artifact baseline: 0/1384)
        for s in (x for x in pipe_samples if x[2] % 7 == 0):
            mem = model.encode(
                np.stack([s[1]]).astype(np.float32), fp32=True
            )[0]
            if model.beam_decode(mem)[0] != s[0]:
                pipe_beam_miss += 1
            pipe_beam_total += 1
    result["pipeline_beam_held"] = [pipe_beam_miss, pipe_beam_total]
    if pipe_beam_miss:
        result["failures"].append(
            f"pipeline-crop beam held-out: {pipe_beam_miss}/{pipe_beam_total}"
        )

    _, cov_held = T.charset_coverage_crops(model.tok, n_train=0)
    cer_cov, miss_cov = _cer_and_misses(model, cov_held)
    result["coverage_ctc"] = [round(cer_cov, 6), len(miss_cov)]
    result["coverage_misses"] = [(a, b) for a, b in miss_cov][:10]
    if miss_cov:
        result["failures"].append(f"coverage held-out: {len(miss_cov)}/200 misses")

    _, pat_held = T.charset_pattern_crops(model.tok, n_train=0)
    cer_pat, miss_pat = _cer_and_misses(model, pat_held)
    result["pattern_ctc"] = [round(cer_pat, 6), len(miss_pat)]
    if miss_pat:
        result["failures"].append(f"pattern held-out: {len(miss_pat)} misses")

    _, adj_held = T.charset_adjacency_crops(model.tok, n_train=0)
    cer_adj, miss_adj = _cer_and_misses(model, adj_held)
    result["adjacency_ctc"] = [round(cer_adj, 6), len(miss_adj)]
    result["adjacency_misses"] = [(a, b) for a, b in miss_adj][:10]
    if miss_adj:
        result["failures"].append(f"adjacency held-out: {len(miss_adj)} misses")

    _, int_held = T.charset_interior_crops(model.tok, n_train=0)
    cer_int, miss_int = _cer_and_misses(model, int_held)
    result["interior_ctc"] = [round(cer_int, 6), len(miss_int)]
    result["interior_misses"] = [(a, b) for a, b in miss_int][:10]
    if miss_int:
        result["failures"].append(f"interior held-out: {len(miss_int)} misses")

    _, tri_held = T.charset_trigram_crops(model.tok, n_train=0)
    cer_tri, miss_tri = _cer_and_misses(model, tri_held)
    result["trigram_ctc"] = [round(cer_tri, 6), len(miss_tri)]
    result["trigram_misses"] = [(a, b) for a, b in miss_tri][:10]
    if miss_tri:
        result["failures"].append(f"trigram held-out: {len(miss_tri)} misses")

    _, thp_held = T.charset_thinpair_crops(model.tok, n_train=0)
    cer_thp, miss_thp = _cer_and_misses(model, thp_held)
    result["thinpair_ctc"] = [round(cer_thp, 6), len(miss_thp)]
    result["thinpair_misses"] = [(a, b) for a, b in miss_thp][:10]
    if miss_thp:
        result["failures"].append(f"thinpair held-out: {len(miss_thp)} misses")

    for d in (SF_DIRS[0], SF_DIRS[2]):
        lines = charset_oracle_lines(d)
        samples = [T.render_crop(l, model.tok) for l in lines]
        cer, misses = _cer_and_misses(model, samples)
        result[f"charset_oracle_{os.path.basename(d)}"] = [
            round(cer, 6),
            len(misses),
            len(lines),
        ]
        if misses:
            result["failures"].append(
                f"charset oracle {d}: {len(misses)}/{len(lines)} misses"
            )

    # beam on the charset-oracle ids too: q_model_decode_beam requires
    # hash-exact beam text on exactly these lines, so the swap gate must
    # guarantee it (sf0.001's 30 lines keep the check cheap; the pattern
    # beam CER==0 criterion below covers the family's structure at depth)
    oracle_lines_tiny = charset_oracle_lines(SF_DIRS[0])
    oracle_samples = [T.render_crop(l, model.tok) for l in oracle_lines_tiny]
    beam_oracle_misses = sum(
        model.beam_decode(
            model.encode(
                np.stack([s[1]]).astype(np.float32), fp32=True
            )[0]
        )[0] != s[0]
        for s in oracle_samples
    )
    result["charset_oracle_beam_sf0.001"] = [
        int(beam_oracle_misses), len(oracle_samples)
    ]
    if beam_oracle_misses:
        result["failures"].append(
            f"charset oracle beam: {beam_oracle_misses}/{len(oracle_samples)}"
        )

    cov_beam = T.evaluate_cer(model, cov_held, method="beam", limit=200)
    corpus_beam = T.evaluate_cer(model, corpus_held_all, method="beam", limit=80)
    pat_beam = T.evaluate_cer(model, pat_held, method="beam", limit=100)
    result["coverage_beam"] = round(cov_beam, 6)
    result["corpus_beam"] = round(corpus_beam, 6)
    result["pattern_beam"] = round(pat_beam, 6)
    if cov_beam > cer_cov:
        result["failures"].append(f"beam coverage {cov_beam} > ctc {cer_cov}")
    if corpus_beam > 0 or pat_beam > 0:
        result["failures"].append("beam corpus/pattern nonzero")

    result["pass"] = not result["failures"]
    if result["pass"] and apply:
        save_model(model, "models/trained_full")  # meta carries alpha+gamma
        # keep the full four-stage report and append the stage-5 block
        rep_path = "models/trained_full_charset_report.json"
        rep = json.load(open(rep_path)) if os.path.exists(rep_path) else {}
        cand_rep = (
            json.load(open(cand + "_charset_report.json"))
            if os.path.exists(cand + "_charset_report.json")
            else {}
        )
        rep["stage5"] = {**cand_rep, "gate": result}
        json.dump(rep, open(rep_path, "w"), indent=2)
        result["swapped"] = True
    print(json.dumps(result, ensure_ascii=False, indent=2))
    with open("/tmp/stage5_result.json", "w") as f:
        json.dump(result, f, ensure_ascii=False)
    return 0 if result["pass"] else 1


if __name__ == "__main__":
    sys.exit(main())
