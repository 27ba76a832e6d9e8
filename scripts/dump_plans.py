"""Dump `.explain("formatted")` for bench/registry queries to files —
an optimization round's plan evidence (<out>/<q>_{before,after}.txt).
The default output directory is gitignored: dumps are regenerable, so
they are not committed.

Usage: python scripts/dump_plans.py --suffix before [--out .scratch/plans] [q1 q2 ...]
Default query set: every BENCH_QUERIES entry that is registry-backed,
plus the bench's three store-backed entries (built untimed, exactly as
bench.py does).

Fingerprint mode: python scripts/dump_plans.py --fingerprint [q1 q2 ...]
prints one ``<query> <md5>`` line per registered query (default: all
of them) — "plans unchanged" for a refactor is a diff of two runs.
The md5 covers the optimized plan of every SQL execution the query
ran while it was built (an eager query's writes, e.g. a medallion
run's layer commits) and of the DataFrame it returns, plus their
analyzed plans: a cached relation's optimized form keeps only its
output columns, because the physical plan it carries shows AQE
decisions that depend on when the cache was filled. Each query runs
in a fresh process, because expression ids come from one JVM-wide
counter and some plans order columns by id hash; the digest strips
ids and ``plan_id=``s, and canonicalizes temp-dir names, 32-hex
uuids and fractional-second timestamp literals (an eager
``current_timestamp()`` folds into one).
"""

from __future__ import annotations

import argparse
import hashlib
import os
import re
import shutil
import subprocess
import sys
from concurrent.futures import ThreadPoolExecutor

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


_CANON = [
    (re.compile(r"#\d+L?"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"\btmp[a-z0-9_]{8}\b"), "tmp*"),
    (re.compile(r"\b[0-9a-f]{32}\b"), "<hex>"),
    (re.compile(r"\b[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}\b"), "<uuid>"),
    (re.compile(r"\d{4}-\d\d-\d\d \d\d:\d\d:\d\d\.\d+"), "<ts>"),
]
_TREE_PREFIX = re.compile(r"^[ :+-]*")


def _plans(qe) -> str:
    """``qe``'s analyzed plan and its optimized plan, minus the
    physical plan under each ``InMemoryRelation``."""
    lines, cached_depth = [], None
    for line in qe.optimizedPlan().toString().splitlines():
        depth = len(_TREE_PREFIX.match(line).group())
        if cached_depth is not None and depth > cached_depth:
            continue
        cached_depth = depth if "InMemoryRelation" in line else None
        lines.append(line)
    return qe.analyzed().toString() + "\n".join(lines)


class _ExecutedPlans:
    """A ``QueryExecutionListener`` (via the py4j callback server)
    that keeps the plans of every finished SQL execution."""

    def __init__(self):
        self.plans: list[str] = []

    def onSuccess(self, func, qe, duration_ns):  # noqa: N802
        self.plans.append(_plans(qe))

    def onFailure(self, func, qe, exc):  # noqa: N802
        self.plans.append(_plans(qe))

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def fingerprint_one(name: str, sf_dir: str) -> str:
    from pyspark.java_gateway import ensure_callback_server_started

    spark = create_spark_session(app_name="dump_plans")
    spark.sparkContext.setLogLevel("ERROR")
    ensure_callback_server_started(spark.sparkContext._gateway)
    executed = _ExecutedPlans()
    spark._jsparkSession.listenerManager().register(executed)
    df = REGISTRY[name].spark(spark, sf_dir)
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    text = "\n".join([*executed.plans, _plans(df._jdf.queryExecution())])
    for pattern, repl in _CANON:
        text = pattern.sub(repl, text)
    return hashlib.md5(text.encode()).hexdigest()


def fingerprint(names: list[str], sf_dir: str) -> None:
    """One fresh child process per query (see the module docstring),
    two at a time."""
    if len(names) == 1:
        print(names[0], fingerprint_one(names[0], sf_dir), flush=True)
        return

    def child(name: str) -> str:
        cmd = [sys.executable, os.path.abspath(__file__), "--fingerprint",
               "--sf-dir", sf_dir, name]
        out = subprocess.run(cmd, capture_output=True, text=True)
        lines = out.stdout.strip().splitlines()
        ok = out.returncode == 0 and lines
        return lines[-1] if ok else f"{name} ERROR rc={out.returncode}"

    with ThreadPoolExecutor(2) as pool:
        for line in pool.map(child, names or list(REGISTRY)):
            print(line, flush=True)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--suffix")
    ap.add_argument("--fingerprint", action="store_true")
    ap.add_argument("--out", default=".scratch/plans")
    ap.add_argument("--sf-dir",
                    default=os.environ.get("SPARK_GRAFT_SF_DIR",
                                           "/root/testdata/sf0.1"))
    ap.add_argument("queries", nargs="*", default=None)
    args = ap.parse_args()
    if args.fingerprint:
        fingerprint(args.queries, args.sf_dir)
        return
    if not args.suffix:
        ap.error("--suffix is required unless --fingerprint")
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
