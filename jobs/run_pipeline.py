"""spark-submit entry point (EP-1 / EP-3, SURVEY.md §3).

Cluster usage (the north rule's launch shape):

    make dist   # builds dist/openie_spark.zip
    spark-submit --py-files dist/openie_spark.zip \
        --conf spark.sql.adaptive.enabled=true \
        jobs/run_pipeline.py \
        --input  /data/documents_parquet_or_iceberg_table \
        --alias-dict /data/alias_dict.parquet \
        --output /data/kg \
        --run-id prod-2026-08-16 \
        --stage all            # or a prefix: extract[,link[,canonicalize]]
        [--n-buckets 4096] [--parallelism 2048]

Sandbox smoke:
    python jobs/run_pipeline.py --input .fixtures/golden_docs.parquet \
        --alias-dict .fixtures/alias_dict.parquet --output /tmp/kg --run-id t

Incremental contract (resume is the DEFAULT; no flag needed): re-submitting
the same --output/--run-id over docs ∪ delta re-extracts only the buckets
the delta touches (per-bucket fingerprints, plans/checkpoint.py); buckets
whose docs vanished are purged; downstream stages (link/canonicalize/
materialize) recompute iff their chained fingerprint changed.  Gated at
the process boundary by tests/prop/test_cli_pipeline.py (two separate
CLI invocations) and in-session by test_pipeline_e2e.py::test_incremental_*.
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from openie_spark.catalog import ParquetCatalog
from openie_spark.plans.pipeline import (
    STAGES,
    PipelineConfig,
    run_pipeline,
    validate_stages,
)
from openie_spark.session import get_spark
from openie_spark.sources.tables import load_alias_dict, load_docs


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="openIE→KG construction pipeline")
    ap.add_argument("--input", required=True, help="documents parquet path (DOC_SCHEMA)")
    ap.add_argument("--alias-dict", required=True, help="alias dict parquet path")
    ap.add_argument("--output", required=True, help="output catalog root")
    ap.add_argument("--run-id", required=True)
    ap.add_argument("--stage", default="all",
                    help=f"all, or a comma list forming a prefix of {STAGES}")
    ap.add_argument("--n-buckets", type=int, default=64)
    ap.add_argument("--parallelism", type=int, default=None)
    ap.add_argument("--no-counts", action="store_true",
                    help="skip informational count() actions (fewer jobs)")
    ap.add_argument("--no-invariant", action="store_true",
                    help="skip the in-run span-invariant scan (pytest gates it)")
    ap.add_argument("--lineage-cut", default=None,
                    choices=("local", "reliable", "none"),
                    help="stage-boundary lineage policy "
                         "(spark.openie.lineageCut); 'reliable' checkpoints "
                         "to <output>/_checkpoints for multi-executor fault "
                         "tolerance")
    ap.add_argument("--cluster-extract", default="auto",
                    choices=("auto", "on", "off"),
                    help="extract-stage salt width: 'on' = bounded salt "
                         "refining partition_id (one corpus shuffle, no "
                         "triples re-shuffle — the big-input plan), 'off' = "
                         "full-width salt + triples repartition (small "
                         "inputs), 'auto' (default) switches at >=1000 "
                         "docs per sub-bucket")
    ap.add_argument("--master", default=None)
    args = ap.parse_args(argv)

    try:
        stages = validate_stages(
            STAGES if args.stage == "all" else args.stage.split(",")
        )
    except ValueError as e:
        ap.error(str(e))

    spark = get_spark(app=f"kg-{args.run_id}", master=args.master)
    try:
        if args.lineage_cut:
            spark.conf.set("spark.openie.lineageCut", args.lineage_cut)
            if args.lineage_cut == "reliable":
                spark.conf.set(
                    "spark.openie.checkpointDir",
                    str(Path(args.output) / "_checkpoints"),
                )
        docs = load_docs(spark, args.input)
        aliases = load_alias_dict(spark, args.alias_dict)
        cfg = PipelineConfig(
            run_id=args.run_id,
            n_buckets=args.n_buckets,
            repartition=args.parallelism,
            stages=stages,
            collect_counts=not args.no_counts,
            check_invariant=not args.no_invariant,
            cluster_before_extract={"auto": None, "on": True, "off": False}[
                args.cluster_extract
            ],
        )
        res = run_pipeline(spark, docs, aliases, ParquetCatalog(spark, args.output), cfg)
        print(json.dumps(res, default=str))
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
