"""Command-line entry points.

``python -m nhs_data_pipeline_spark.cli build-supporting-facilities``
replaces the reference's two-script chain (build_datasets_main.py:305-386
cleaning block + clean_org_changes_supporting_facilities.R) with one
command: raw appended CSV -> clean panel -> org-change-adjusted panel,
written as single CSVs (reference-format parity) or parquet. Every CSV
the command reads (the raw release, the clean panel it round-trips and
the trust lookup) goes through one reader, ``read_messy_csv``.
"""

from __future__ import annotations

import argparse
import sys

from pyspark.sql import functions as F


def build_supporting_facilities(args: argparse.Namespace) -> None:
    from nhs_data_pipeline_spark.io.readers import read_messy_csv
    from nhs_data_pipeline_spark.io.writers import write_parquet, write_single_csv
    from nhs_data_pipeline_spark.pipelines.supporting_facilities import (
        adjust_supporting_facilities,
        clean_supporting_facilities,
    )
    from nhs_data_pipeline_spark.session import get_spark

    spark = get_spark("build-supporting-facilities")

    def read(path):
        # header row 0, "NA" and empty cells missing (R read.csv defaults)
        return read_messy_csv(spark, path, header=0, na_tokens=["NA", ""])

    clean = clean_supporting_facilities(read(args.raw))

    # the adjuster needs the ingest row index for its name-pick order;
    # round-trip the clean panel through the messy-CSV reader
    clean_csv = f"{args.out}/supporting-facilities_clean.csv"
    write_single_csv(clean, clean_csv, order_by=["year_var", "quarter_var"])
    clean_indexed = read(clean_csv)

    lookup = read(args.lookup)
    # computed once: the sink and the printed count read the same rows
    adjusted = adjust_supporting_facilities(clean_indexed, lookup).localCheckpoint()

    if args.format == "csv":
        # arrange(org_code, year, quarter), ties ordered by the other
        # columns so the file's bytes do not depend on the plan
        key = ["org_code", "year", "quarter"]
        write_single_csv(
            adjusted,
            f"{args.out}/supporting-facilities_clean_org_change_adj.csv",
            order_by=key + [c for c in adjusted.columns if c not in key],
            null_value="NA",  # R write.csv NA rendering
        )
    else:
        write_parquet(
            adjusted,
            f"{args.out}/supporting-facilities_adjusted.parquet",
            partition_by=["year"],
        )
    print(f"clean rows: {clean_indexed.count()}  adjusted rows: {adjusted.count()}")


def curate(args: argparse.Namespace) -> None:
    """Corpus in (parquet or JSONL) -> audit panel -> keep-filtered
    documents out as deterministic JSONL shards, panel written
    alongside as parquet for the evidence trail."""
    from nhs_data_pipeline_spark.io.formats import read_jsonl
    from nhs_data_pipeline_spark.io.writers import write_jsonl_shards, write_parquet
    from nhs_data_pipeline_spark.llm.curate import audit_panel
    from nhs_data_pipeline_spark.session import get_spark

    spark = get_spark("curate")
    fmt = args.format
    if fmt == "auto":
        import glob as _glob
        import os as _os

        if args.input.endswith((".jsonl", ".json", ".jsonl.gz", ".json.gz")):
            fmt = "jsonl"
        elif _os.path.isdir(args.input) and _glob.glob(
            _os.path.join(args.input, "**", "*.json*"), recursive=True
        ):
            fmt = "jsonl"  # e.g. a previous run's kept/ shard directory
        else:
            fmt = "parquet"
    docs = (
        read_jsonl(spark, args.input).drop("_corrupt_record")
        if fmt == "jsonl"
        else spark.read.parquet(args.input)
    )

    # The panel is the most expensive lineage in the repo (six signal
    # subplans); eager-persist it once instead of recomputing it for
    # the panel write, the kept join, and the count.
    thresholds = {
        k: v
        for k, v in {
            "quality_min": args.quality_min,
            "dup3_max": args.dup3_max,
            "span_dup_max": args.span_dup_max,
            "oov_max": args.oov_max,
            "lm_ce_max": args.lm_ce_max,
        }.items()
        if v is not None
    }
    panel = audit_panel(
        docs,
        lm_reference=F.expr(args.lm_reference),
        dsir_target=F.expr(args.dsir_target),
        text_col=args.text_col,
        id_col=args.id_col,
        thresholds=thresholds or None,
        vocab_k=args.vocab_k,
    ).persist()
    n_in = panel.count()
    try:
        write_parquet(panel, f"{args.out}/panel")
        kept = docs.join(
            panel.filter(F.col("keep")).select(
                F.col("doc_id").alias(args.id_col)
            ),
            args.id_col,
        )
        write_jsonl_shards(kept, f"{args.out}/kept", args.shards, args.id_col)
        n_kept = panel.filter(F.col("keep")).count()
    finally:
        panel.unpersist()
    print(f"curate: {n_in} docs in, {n_kept} kept -> {args.out}")


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(prog="nhs_data_pipeline_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser(
        "build-supporting-facilities",
        help="raw appended CSV -> clean -> org-change-adjusted panel",
    )
    b.add_argument("--raw", required=True, help="appended raw CSV path")
    b.add_argument("--lookup", required=True, help="trust lookup CSV path")
    b.add_argument("--out", required=True, help="output directory")
    b.add_argument("--format", choices=["csv", "parquet"], default="csv")
    b.set_defaults(fn=build_supporting_facilities)

    c = sub.add_parser(
        "curate",
        help="corpus (parquet/JSONL) -> audit panel -> kept JSONL shards",
    )
    c.add_argument("--input", required=True, help="corpus path")
    c.add_argument("--out", required=True, help="output directory")
    c.add_argument("--shards", type=int, default=8)
    c.add_argument("--text-col", default="text")
    c.add_argument("--id-col", default="doc_id")
    c.add_argument(
        "--format",
        choices=["auto", "parquet", "jsonl"],
        default="auto",
        help="input format; auto sniffs suffix, then *.json* files in a directory",
    )
    # Keep thresholds (defaults live in llm/curate.py and were
    # calibrated on the synthetic gate corpus — tune for real text).
    c.add_argument("--quality-min", type=float, default=None)
    c.add_argument("--dup3-max", type=float, default=None)
    c.add_argument("--span-dup-max", type=float, default=None)
    c.add_argument("--oov-max", type=float, default=None)
    c.add_argument("--lm-ce-max", type=float, default=None)
    c.add_argument(
        "--vocab-k",
        type=int,
        default=25,
        help="top-K corpus vocabulary for the OOV signal (raise for natural text)",
    )
    c.add_argument(
        "--lm-reference",
        default="true",
        help="SQL predicate selecting the perplexity-LM training slice",
    )
    c.add_argument(
        "--dsir-target",
        default="true",
        help="SQL predicate selecting the DSIR target domain",
    )
    c.set_defaults(fn=curate)

    args = p.parse_args(argv)
    args.fn(args)


if __name__ == "__main__":
    main(sys.argv[1:])
