"""spark-submit entry point for the crawl engine (north_rule launch shape).

Cluster usage:

    cd /root/repo && zip -r /tmp/mlscraper_spark.zip mlscraper_spark
    spark-submit --py-files /tmp/mlscraper_spark.zip \
        scripts/submit_crawl.py --root /data/crawl --hosts 200 --epochs 5

`--root` may be any Hadoop path (`/data/crawl` on the cluster's default
filesystem, `hdfs://nn/crawl`, `file:///data/crawl`): tables, manifests
and the snapshot listing all go through the filesystem of that path.

Without a cluster manager the same script runs under local[N]; the code
path is identical (`--master local[8]`).
"""
from __future__ import annotations

import argparse
import json
import sys
import time


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--root", required=True, help="snapshot directory (any Hadoop path)")
    ap.add_argument("--hosts", type=int, default=100)
    ap.add_argument("--seeds", type=int, default=8)
    ap.add_argument("--budget", type=int, default=4)
    ap.add_argument("--epochs", type=int, default=5)
    ap.add_argument("--buckets", type=int, default=32)
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    from mlscraper_spark.crawl.engine import (
        CrawlConfig,
        last_complete_epoch,
        read_fetch_log,
        run_crawl,
    )
    from mlscraper_spark.crawl.synthweb import WebConfig
    from mlscraper_spark.session import get_spark

    spark = get_spark("mlscraper-crawl", master=args.master)
    web = WebConfig(n_hosts=args.hosts)
    t0 = time.time()
    run_crawl(
        spark,
        args.root,
        web.seeds(args.seeds),
        web,
        CrawlConfig(budget_per_host=args.budget, n_buckets=args.buckets),
        max_epochs=args.epochs,
    )
    took = time.time() - t0
    n = read_fetch_log(spark, args.root).count()
    print(
        json.dumps(
            {
                "fetched_urls": n,
                "epochs_done": last_complete_epoch(args.root) + 1,
                "sec": round(took, 2),
                "urls_per_sec": round(n / took, 1),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
