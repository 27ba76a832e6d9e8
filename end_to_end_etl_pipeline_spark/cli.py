"""Pipeline CLI — the reference's operational surface (``main.py:29-40``
loads per-layer JSON configs and runs bronze → silver → gold
sequentially, fail-fast) rebuilt over the declarative engine:

    python -m end_to_end_etl_pipeline_spark path/to/pipeline.json
    python -m end_to_end_etl_pipeline_spark cfg.json --catalog-root /lake \\
        --layers bronze,silver

One JSON document holds all three layers (the reference splits them
across five files stitched by hardcoded imports; one config = one
reviewable unit). Schema: ``{"catalog_root": ..., "bronze": [...],
"silver": [...], "gold": [...]}`` — the entry shapes are
:mod:`plans.medallion`'s specs verbatim.

Exit codes: 0 success, 2 bad config, 1 pipeline failure (fail-fast,
like the reference's unguarded sequential calls — a half-built layer
is never silently promoted; layer writes are atomic catalog commits,
so a failed run leaves prior published state readable).
"""

from __future__ import annotations

import argparse
import json
import sys


def _build_parser() -> argparse.ArgumentParser:
    # no abbreviations: a stale ``--catalog <kind>`` (a removed
    # option) must fail, not silently parse as ``--catalog-root``
    p = argparse.ArgumentParser(
        prog="end_to_end_etl_pipeline_spark",
        description="Run the config-driven bronze→silver→gold pipeline.",
        allow_abbrev=False,
    )
    p.add_argument("config", help="pipeline JSON (bronze/silver/gold entry lists)")
    p.add_argument(
        "--catalog-root",
        default=None,
        help="table root; overrides config catalog_root",
    )
    p.add_argument(
        "--layers",
        default="bronze,silver,gold",
        help="comma list of layers to run (always in bronze, silver, "
        "gold order)",
    )
    p.add_argument("--master", default=None, help="Spark master override")
    return p


def _query_main(argv: list[str]) -> int:
    """``python -m end_to_end_etl_pipeline_spark query <name>`` — run
    any registered engine query by name (the full conformance surface
    is the user-facing query library). ``query --list`` enumerates."""
    p = argparse.ArgumentParser(
        prog="end_to_end_etl_pipeline_spark query",
        description="Run a registered engine query.",
    )
    p.add_argument("name", nargs="?", help="query name (see --list)")
    p.add_argument("--list", action="store_true", help="list registered queries")
    p.add_argument(
        "--sf-dir",
        default=None,
        help="testdata dir (default $SPARK_GRAFT_SF_DIR or sf0.01)",
    )
    p.add_argument("--limit", type=int, default=20, help="rows to print")
    p.add_argument(
        "--output", default=None, help="write full result as parquet here"
    )
    p.add_argument("--master", default=None, help="Spark master override")
    args = p.parse_args(argv)

    from end_to_end_etl_pipeline_spark.queries.catalog import REGISTRY

    if args.list:
        for name, q in REGISTRY.items():
            print(f"{name}\t{'oracle' if q.oracle else 'rows-only'}")
        return 0
    if not args.name:
        p.print_usage(sys.stderr)
        return 2
    q = REGISTRY.get(args.name)
    if q is None:
        print(f"unknown query: {args.name} (try --list)", file=sys.stderr)
        return 2
    import os

    sf_dir = args.sf_dir or os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"
    )
    from end_to_end_etl_pipeline_spark.session import create_spark_session

    spark = create_spark_session(app_name=f"query-{args.name}", master=args.master)
    df = q.spark(spark, sf_dir)
    if args.output:
        df.write.mode("overwrite").parquet(args.output)
        print(f"wrote {args.output}")
        return 0
    # deterministic preview: sort by every column so reruns agree
    shown = df.orderBy(*df.columns).limit(args.limit).collect()
    print("\t".join(df.columns))
    for r in shown:
        print("\t".join(str(v) for v in r))
    return 0


def main(argv: list[str] | None = None) -> int:
    argv = list(sys.argv[1:]) if argv is None else list(argv)
    if argv and argv[0] == "query":
        return _query_main(argv[1:])
    args = _build_parser().parse_args(argv)
    try:
        with open(args.config) as f:
            config = json.load(f)
    except (OSError, json.JSONDecodeError) as e:
        print(f"bad config {args.config}: {e}", file=sys.stderr)
        return 2
    if not isinstance(config, dict):
        print(
            f"bad config {args.config}: expected a JSON object, got "
            f"{type(config).__name__}",
            file=sys.stderr,
        )
        return 2
    root = args.catalog_root or config.get("catalog_root")
    if not root:
        print("no catalog root (config catalog_root or --catalog-root)", file=sys.stderr)
        return 2
    layers = [x.strip() for x in args.layers.split(",") if x.strip()]
    unknown = [x for x in layers if x not in ("bronze", "silver", "gold")]
    if unknown:
        print(f"unknown layers: {unknown}", file=sys.stderr)
        return 2

    from end_to_end_etl_pipeline_spark.plans.medallion import MedallionPipeline
    from end_to_end_etl_pipeline_spark.session import create_spark_session

    spark = create_spark_session(app_name="medallion-cli", master=args.master)
    pipe = MedallionPipeline(spark, root)
    try:
        pipe.run({layer: config.get(layer, ()) for layer in layers})
    except Exception as e:  # fail-fast, report, nonzero exit
        print(f"pipeline failed: {type(e).__name__}: {e}", file=sys.stderr)
        return 1
    for layer in layers:
        for spec in config.get(layer, ()):
            print(f"published {layer}: {spec['table']}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
