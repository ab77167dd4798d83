"""spark-submit entry point for the extraction job.

Packaging contract (north_rule): ``spark-submit --py-files pkg.zip -m``
on a multi-executor cluster.  The arg surface mirrors the reference's
option record (ConvertDocumentsRequestOptions fields we honor,
/root/reference/docling_serve/datamodel/convert.py:20-40) the way its
FormDepends maps pydantic fields to CLI-ish form fields
(/root/reference/docling_serve/helper_functions.py:46-115).

Usage:
    spark-submit --py-files /tmp/pkg.zip webextract/cli.py \\
        --input /path/pages_parquet --output /path/ice_table \\
        --partitions 256 --waves 8 [--synth N] [--to-formats md,text] \\
        [--chunk hybrid --chunk-tokenizer subword|trained \\
         --chunk-max-tokens 256 [--chunk-merges /path/merges_parquet]]

Either --input (a parquet dir with the input_hint schema) or --synth N
(generate N deterministic pages executor-side) must be given.
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import SparkSession


def _bool(v: str) -> bool:
    """Strict boolean literals — a typo must be a parse error, not a
    silent False (the reference's form validation 422 analogue)."""
    low = v.lower()
    if low in ("1", "true", "yes", "on"):
        return True
    if low in ("0", "false", "no", "off"):
        return False
    raise argparse.ArgumentTypeError(f"not a boolean: {v!r}")


def build_parser() -> argparse.ArgumentParser:
    from webextract.options import DEFAULT_OPTIONS as D
    p = argparse.ArgumentParser(prog="webextract")
    p.add_argument("--input", help="parquet dir of pages (url, warc_ts, html, text, lang)")
    p.add_argument("--synth", type=int, default=0,
                   help="generate N synthetic pages instead of --input")
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--output", required=True, help="IceTable root dir")
    p.add_argument("--partitions", type=int, default=64)
    p.add_argument("--waves", type=int, default=4)
    p.add_argument("--cpus", type=int, default=32,
                   help="accepted for compatibility; unused")
    p.add_argument("--run-id", default=None)
    p.add_argument("--fail-after-wave", type=int, default=None,
                   help="inject a crash after wave K (resume testing)")
    p.add_argument("--split-bytes", type=int, default=None,
                   help="fan out oversized mini-PDFs (>= this many "
                        "bytes) by page group across tasks (split.py)")
    p.add_argument("--html-split", action="store_true",
                   help="with --split-bytes: also fan out oversized "
                        "HTML via the cut-point tier (htmlsplit.py)")
    # --- conversion option surface (reference form fields, usage.md:14-41) ---
    p.add_argument("--to-formats", default=",".join(D.to_formats))
    p.add_argument("--from-formats", default=",".join(D.from_formats))
    p.add_argument("--max-file-size", type=int, default=D.max_file_size)
    p.add_argument("--max-num-pages", type=int, default=D.max_num_pages)
    p.add_argument("--page-range", default=f"{D.page_range[0]},{D.page_range[1]}",
                   help="inclusive 1-based page slice, e.g. 2,5")
    p.add_argument("--md-page-break-placeholder", default=D.md_page_break_placeholder)
    p.add_argument("--image-export-mode", default=D.image_export_mode,
                   choices=("placeholder", "embedded", "referenced"))
    p.add_argument("--include-images", type=_bool, default=D.include_images)
    p.add_argument("--images-scale", type=float, default=D.images_scale)
    p.add_argument("--document-timeout", type=float, default=D.document_timeout)
    p.add_argument("--abort-on-error", type=_bool, default=D.abort_on_error)
    # OCR / backend / pipeline selectors — recorded no-ops (options.py)
    p.add_argument("--do-ocr", type=_bool, default=D.do_ocr)
    p.add_argument("--force-ocr", type=_bool, default=D.force_ocr)
    p.add_argument("--ocr-engine", default=D.ocr_engine)
    p.add_argument("--ocr-lang", default="",
                   help="comma list, e.g. en,fr")
    p.add_argument("--pdf-backend", default=D.pdf_backend)
    p.add_argument("--pipeline", default=D.pipeline)
    # table structure / enrichment stages — recorded no-ops
    p.add_argument("--do-table-structure", type=_bool, default=D.do_table_structure)
    p.add_argument("--table-mode", default=D.table_mode)
    p.add_argument("--table-cell-matching", type=_bool, default=D.table_cell_matching)
    p.add_argument("--do-code-enrichment", type=_bool, default=D.do_code_enrichment)
    p.add_argument("--do-formula-enrichment", type=_bool, default=D.do_formula_enrichment)
    p.add_argument("--do-picture-classification", type=_bool,
                   default=D.do_picture_classification)
    p.add_argument("--do-picture-description", type=_bool,
                   default=D.do_picture_description)
    p.add_argument("--picture-description-area-threshold", type=float,
                   default=D.picture_description_area_threshold)
    p.add_argument("--picture-description-local", default=None)
    p.add_argument("--picture-description-api", default=None)
    # --- chunker surface (reference chunker endpoints' option family,
    # app.py:1145-1150, datamodel/requests.py:109-130) ---
    p.add_argument("--chunk", default="none",
                   choices=("none", "hybrid", "hierarchical"),
                   help="also emit chunks (written under <output>/chunks)")
    p.add_argument("--chunk-max-tokens", type=int, default=256)
    p.add_argument("--chunk-tokenizer", default="word",
                   choices=("word", "subword", "trained"),
                   help="subword = the fixed-merge-table tokenizer "
                        "(chunk.SUBWORD_PIECES); trained = a BPE merge "
                        "table (the reference's model-name-selects-"
                        "vocab knob) — from --chunk-merges, or trained "
                        "on the committed table and saved under "
                        "<output>/merges")
    p.add_argument("--chunk-merges", default=None,
                   help="parquet dir of a trained merge table "
                        "(corpus.bpe_train output: rank, lhs, rhs, n) "
                        "for --chunk-tokenizer trained")
    p.add_argument("--chunk-train-rounds", type=int, default=16,
                   help="merge rounds when training the vocabulary "
                        "in-run (no --chunk-merges given)")
    p.add_argument("--chunk-trainer", default="bpe",
                   choices=("bpe", "wordpiece"),
                   help="which trainer builds the in-run vocabulary "
                        "for --chunk-tokenizer trained (both emit the "
                        "same merge-table shape; the replay kernel is "
                        "shared)")
    p.add_argument("--chunk-merge-peers", type=_bool, default=True)

    # -- table maintenance (run INSTEAD of extraction when given;
    #    the reference's /v1/clear endpoints analogue, app.py:1540-1564)
    p.add_argument("--maintenance", default=None,
                   choices=("compact", "expire"),
                   help="run a maintenance pass on --output instead of "
                        "extracting: compact = rewrite small data files "
                        "(Iceberg rewrite_data_files), expire = drop old "
                        "snapshot history + GC unreferenced files")
    p.add_argument("--target-file-bytes", type=int, default=128 << 20,
                   help="compact: output file size target")
    p.add_argument("--keep-snapshots", type=int, default=2,
                   help="expire: newest chain entries to keep")
    p.add_argument("--sort-by", default=None,
                   help="compact: cluster rewritten data on this column "
                        "(range-repartition + in-file sort) so file "
                        "min/max bounds become disjoint and scan() "
                        "prunes range queries to few files")
    p.add_argument("--orphan-grace", type=float, default=86400.0,
                   help="expire: never GC unreferenced files younger "
                        "than this many seconds (Iceberg's older_than "
                        "contract) — a live run's staged wave files are "
                        "unreferenced until their commit, and deleting "
                        "them mid-run silently empties the part")
    return p


def options_from_args(args) -> "ConvertOptions":
    """argparse namespace -> full ConvertOptions record (the reference's
    FormDepends flattening, helper_functions.py:46-115)."""
    from webextract.options import ConvertOptions
    lo, hi = (int(x) for x in args.page_range.split(","))
    return ConvertOptions(
        from_formats=tuple(f for f in args.from_formats.split(",") if f),
        to_formats=tuple(f for f in args.to_formats.split(",") if f),
        max_file_size=args.max_file_size,
        max_num_pages=args.max_num_pages,
        page_range=(lo, hi),
        md_page_break_placeholder=args.md_page_break_placeholder,
        image_export_mode=args.image_export_mode,
        include_images=args.include_images,
        images_scale=args.images_scale,
        document_timeout=args.document_timeout,
        abort_on_error=args.abort_on_error,
        do_ocr=args.do_ocr, force_ocr=args.force_ocr,
        ocr_engine=args.ocr_engine,
        ocr_lang=tuple(x for x in args.ocr_lang.split(",") if x),
        pdf_backend=args.pdf_backend, pipeline=args.pipeline,
        do_table_structure=args.do_table_structure,
        table_mode=args.table_mode,
        table_cell_matching=args.table_cell_matching,
        do_code_enrichment=args.do_code_enrichment,
        do_formula_enrichment=args.do_formula_enrichment,
        do_picture_classification=args.do_picture_classification,
        do_picture_description=args.do_picture_description,
        picture_description_area_threshold=args.picture_description_area_threshold,
        picture_description_local=args.picture_description_local,
        picture_description_api=args.picture_description_api,
    )


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    if args.maintenance:
        from webextract.icetable import IceTable
        tbl = IceTable(args.output)
        if args.maintenance == "compact":
            import datetime
            # only the compact path reads data through Spark; expire is
            # pure metadata/filesystem work and skips the JVM entirely
            spark = (SparkSession.builder.appName("webextract-maint")
                     .config("spark.sql.session.timeZone", "UTC")
                     .getOrCreate())
            out = tbl.compact(spark, args.target_file_bytes,
                              committed_at=datetime.datetime.now(
                                  datetime.timezone.utc).isoformat(),
                              sort_by=args.sort_by)
        else:
            out = tbl.expire_snapshots(keep=args.keep_snapshots,
                                       grace_seconds=args.orphan_grace)
        print(json.dumps(out))
        return 0
    if not args.input and not args.synth:
        print("one of --input / --synth required", file=sys.stderr)
        return 2

    from webextract.pipeline import run_extract
    from webextract.sources import read_pages
    from webextract.synth import pages_df

    spark = (SparkSession.builder.appName("webextract")
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.session.timeZone", "UTC")
             .getOrCreate())
    opt = options_from_args(args)
    # scheme-agnostic (file://, s3a://, ...) with fail-fast contract check
    pages = (read_pages(spark, args.input) if args.input
             else pages_df(spark, args.synth, seed=args.seed))
    summary = run_extract(
        spark, pages, args.output, opt=opt, partitions=args.partitions,
        waves=args.waves, cpus=args.cpus, run_id=args.run_id,
        fail_after_wave=args.fail_after_wave, split_bytes=args.split_bytes,
        html_split=args.html_split)
    if args.chunk != "none":
        # chunk stage over the COMMITTED table (reads manifests, so a
        # resumed/partial run never chunks uncommitted rows); chunks
        # land as parquet under <output>/chunks
        from webextract.icetable import IceTable
        from webextract.pipeline import chunks_df
        committed = IceTable(args.output).read(spark)
        merges = None
        if args.chunk_tokenizer == "trained":
            # the vocabulary artifact: read a saved merge table, or
            # train on the committed text and save it for reuse (the
            # reference's tokenizer-parameterized chunker, a model
            # name selecting the vocab — app.py:1145-1150)
            merges_dir = args.chunk_merges or f"{args.output}/merges"
            if args.chunk_merges:
                mdf = spark.read.parquet(merges_dir)
            else:
                from webextract import corpus
                trainer = (corpus.wordpiece_train
                           if args.chunk_trainer == "wordpiece"
                           else corpus.bpe_train)
                mdf = trainer(committed.select("text"),
                              n_merges=args.chunk_train_rounds)
                mdf.select("rank", "lhs", "rhs", "n") \
                    .write.mode("overwrite").parquet(merges_dir)
                summary["merges_dir"] = merges_dir
            merges = tuple((r["lhs"], r["rhs"])
                           for r in mdf.orderBy("rank").collect())
        ch = chunks_df(committed,
                       args.chunk, args.chunk_max_tokens,
                       args.chunk_tokenizer, args.chunk_merge_peers,
                       merges=merges)
        chunks_dir = f"{args.output}/chunks"
        ch.write.mode("overwrite").parquet(chunks_dir)
        summary["chunks_dir"] = chunks_dir
        summary["n_chunks"] = spark.read.parquet(chunks_dir).count()
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
