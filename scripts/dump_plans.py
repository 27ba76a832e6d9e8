"""Dump `.explain("formatted")` for bench/registry queries to files —
an optimization round's plan evidence (<out>/<q>_{before,after}.txt).
The default output directory is gitignored: dumps are regenerable, so
they are not committed.

Usage: python scripts/dump_plans.py --suffix before [--out .scratch/plans] [q1 q2 ...]
Default query set: every BENCH_QUERIES entry that is registry-backed,
plus the bench's three store-backed entries (built untimed, exactly as
bench.py does).
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

import bench  # noqa: E402
from end_to_end_etl_pipeline_spark.queries.catalog import REGISTRY  # noqa: E402
from end_to_end_etl_pipeline_spark.session import create_spark_session  # noqa: E402


def formatted_plan(spark, df) -> str:
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--suffix", required=True)
    ap.add_argument("--out", default=".scratch/plans")
    ap.add_argument("--sf-dir",
                    default=os.environ.get("SPARK_GRAFT_SF_DIR",
                                           "/root/testdata/sf0.1"))
    ap.add_argument("queries", nargs="*", default=None)
    args = ap.parse_args()
    os.makedirs(args.out, exist_ok=True)

    spark = create_spark_session(app_name="dump_plans")
    spark.sparkContext.setLogLevel("ERROR")

    names = args.queries or list(bench.BENCH_QUERIES) + [
        "ivfpq_store_topk", "dedup_store_probe", "png_decode_only",
    ]
    cleanup: list[str] = []
    try:
        fns = {}
        for name in names:
            if name in REGISTRY:
                fns[name] = REGISTRY[name].spark
            elif name == "ivfpq_store_topk":
                _c, fn, d = bench._build_ann_store(spark, args.sf_dir)
                cleanup.append(d)
                fns[name] = fn
            elif name == "dedup_store_probe":
                _c, fn, d = bench._build_dedup_store(spark, args.sf_dir)
                cleanup.append(d)
                fns[name] = fn
            elif name == "png_decode_only":
                fn, d = bench._build_png_blobs(spark, args.sf_dir)
                cleanup.append(d)
                fns[name] = fn
            else:
                print(f"skip unknown query {name}", file=sys.stderr)
        for name, fn in fns.items():
            df = fn(spark, args.sf_dir)
            path = os.path.join(args.out, f"{name}_{args.suffix}.txt")
            with open(path, "w") as f:
                f.write(formatted_plan(spark, df))
            print("wrote", path)
    finally:
        for d in cleanup:
            shutil.rmtree(d, ignore_errors=True)


if __name__ == "__main__":
    main()
