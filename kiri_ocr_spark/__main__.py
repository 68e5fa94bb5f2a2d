"""CLI parity with the reference's `kiri-ocr <image>` entry point
(/root/reference/kiri_ocr/cli.py:81-160,516-530):

    python -m kiri_ocr_spark extract page.png [--out-dir D] [--json]
                                              [--overlay] [--html]
                                              [--method M] [--model W]
    python -m kiri_ocr_spark batch <png_dir> --out <parquet_dir>
                                   [--recognizer trained|template]
                                   [--detector legacy|db|craft]

`extract` runs the OCR class (ocr.py) on one image driver-side (no
Spark session — the reference's single-image path is single-machine too):
`--method` picks the line finder and `--model` the recognizer, each
independent of the other. It writes the reference's sink set:
extracted_text.txt (S7), ocr_results.json (S8, indent=2
ensure_ascii=False like cli.py:120-124), boxes overlay PNG (S9) and HTML
report (S10) on request.

`batch` is the distributed path the reference lacks: a
`spark.read.format("binaryFile")` scan (SURVEY §2.1 S1 mapping) over a
directory of PNGs -> the extraction default's Arrow-batched OCR kernel
(trained recognizer and legacy line finder unless `--recognizer` /
`--detector` pick another mode) -> parquet of (path, text, conf, n_lines).
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def run_extract(args: argparse.Namespace) -> int:
    from .ocr import OCR
    from .operators.page import read_page

    with open(args.image, "rb") as f:
        gray, _ = read_page(f.read())
    # --method picks the line finder, --model the recognizer (--decode its
    # mode); without --model the glyph templates read the lines
    ocr = OCR(
        model_path=args.model,
        det_method=args.method,
        decode_method=args.decode if args.model else "fast",
    )
    return _write_extract_sinks(args, gray, ocr.process_document(gray))


def _write_extract_sinks(args, gray, results) -> int:
    """Reference sink set (cli.py:120-160): txt + stdout, optional JSON /
    overlay PNG / HTML report."""
    import numpy as np

    from .imaging.overlay import draw_overlay, html_report
    from .imaging.png import encode_gray

    results = [
        {**r, "confidence": round(r["confidence"], 4),
         "det_confidence": round(r["det_confidence"], 4)}
        for r in results
    ]
    full_text = "\n".join(r["text"] for r in results)
    out_dir = args.out_dir
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "extracted_text.txt"), "w") as f:
        f.write(full_text)
    print(full_text)
    if args.json:
        with open(os.path.join(out_dir, "ocr_results.json"), "w") as f:
            json.dump(results, f, indent=2, ensure_ascii=False)
    if args.overlay:
        over = draw_overlay(
            gray,
            np.array([r["box"] + [r["confidence"]] for r in results])
            if results
            else np.zeros((0, 5)),
        )
        with open(os.path.join(out_dir, "boxes.png"), "wb") as f:
            f.write(encode_gray(over))
    if args.html:
        with open(os.path.join(out_dir, "report.html"), "w") as f:
            f.write(html_report(results))
    return 0


def run_batch(args: argparse.Namespace) -> int:
    from pyspark.sql import functions as F

    from .pipeline import OCR_SCHEMA, _ocr_batches
    from .operators.model import trained_model_path
    from .session import get_spark

    spark = get_spark(app_name="kiri-batch")
    spark.sparkContext.setLogLevel("WARN")
    scan = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.png")
        .load(args.png_dir)
        .select(
            F.col("path").alias("media_ref"),
            F.col("content").alias("png_bytes"),
            F.lit(-1).cast("long").alias("doc_id"),
            F.lit(0).alias("offset"),
            F.lit("media").alias("kind"),
        )
    )
    # the media kernel of extract_span_rows(recognizer=, detector=);
    # "template" decodes through the glyph templates, without weights
    model_path = None if args.recognizer == "template" else trained_model_path()
    ocr = scan.mapInPandas(
        _ocr_batches(model_path, args.detector), schema=OCR_SCHEMA
    ).select("media_ref", "text", "conf", "n_lines")
    ocr.write.mode("overwrite").parquet(args.out)
    n = spark.read.parquet(args.out).count()
    print(json.dumps({"images": n, "out": args.out}))
    spark.stop()
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="kiri_ocr_spark", description=__doc__)
    sub = ap.add_subparsers(dest="cmd", required=True)
    ex = sub.add_parser("extract", help="OCR one image driver-side")
    ex.add_argument("image")
    ex.add_argument("--out-dir", default=".")
    ex.add_argument(
        "--method",
        default="projection",
        choices=["projection", "craft", "db", "legacy"],
        help="line finder: 'projection' (CC+projection-profile exactness "
        "path, default) or the reference facade methods craft/db/legacy "
        "(craft/db run the in-repo numpy forwards by default); it holds "
        "with --model too",
    )
    ex.add_argument(
        "--model",
        default=None,
        help="trained weights (.npz from scripts/train_model.py): route "
        "recognition through the neural decode paths",
    )
    ex.add_argument(
        "--decode",
        default="fast",
        choices=["fast", "accurate", "beam"],
        help="decode path when --model is given (reference aliases)",
    )
    ex.add_argument("--json", action="store_true")
    ex.add_argument("--overlay", action="store_true")
    ex.add_argument("--html", action="store_true")
    ex.set_defaults(fn=run_extract)
    ba = sub.add_parser("batch", help="distributed OCR over a PNG directory")
    ba.add_argument("png_dir")
    ba.add_argument("--out", required=True)
    ba.add_argument(
        "--recognizer",
        default="trained",
        choices=["trained", "template"],
        help="line recognizer: the trained CTC model (default) or the "
        "glyph-template path",
    )
    ba.add_argument(
        "--detector",
        default="legacy",
        choices=["legacy", "db", "craft"],
        help="line finder of the page kernel (default legacy)",
    )
    ba.set_defaults(fn=run_batch)
    args = ap.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
