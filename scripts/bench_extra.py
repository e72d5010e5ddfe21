"""Per-query isolation bench (guide §1.4): times each headline query with
the noop sink, N legs each, and dumps .explain("formatted") plans.

Usage:
  python scripts/bench_extra.py [--queries q19_minhash_lsh_pairs,...]
      [--legs 3] [--plans-dir plans/r06] [--suffix before]

Separate from the FROZEN bench.py (driver contract): this file exists for
optimization-round attribution only; its numbers are cited in
OPTIMIZATION_r06.md.
"""
from __future__ import annotations

import argparse
import io
import json
import os
import sys
import time
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", default=None)
    ap.add_argument("--legs", type=int, default=3)
    ap.add_argument("--plans-dir", default=None)
    ap.add_argument("--suffix", default="before")
    args = ap.parse_args()
    names = args.queries.split(",") if args.queries else HEADLINE

    from mlscraper_spark.caches import release_caches
    from mlscraper_spark.queries import QUERIES
    from mlscraper_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("bench-extra")
    spark.range(1000).selectExpr("sum(id)").collect()

    def _identity(batches):
        for pdf in batches:
            yield pdf

    n = spark.sparkContext.defaultParallelism
    (spark.range(n * 4).repartition(n).mapInPandas(_identity, "id long").count())

    out: dict[str, list[float]] = {}
    for name in names:
        fn = QUERIES[name]
        if args.plans_dir:
            os.makedirs(args.plans_dir, exist_ok=True)
            release_caches()
            spark.catalog.clearCache()
            df = fn(spark, sf_dir)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            with open(
                os.path.join(args.plans_dir, f"{name}_{args.suffix}.txt"), "w"
            ) as f:
                f.write(buf.getvalue())
        legs = []
        for _ in range(args.legs):
            release_caches()
            spark.catalog.clearCache()
            spark.sparkContext.setJobDescription(name)
            t0 = time.time()
            df = fn(spark, sf_dir)
            df.write.mode("overwrite").format("noop").save()
            legs.append(round(time.time() - t0, 3))
            spark.sparkContext.setJobDescription(None)
        out[name] = legs
        print(f"{name}: {legs} min={min(legs)}", file=sys.stderr)
    print(json.dumps({k: {"legs": v, "min": min(v)} for k, v in out.items()}))
    spark.stop()


if __name__ == "__main__":
    main()
