"""spark-submit / python -m entrypoint for the crawl engine.

The north_rule's deployment surface: the SAME module runs as

  # local
  python -m crawlspark crawl --pages pages.parquet --warehouse wh/

  # multi-executor cluster (the production shape)
  python -m crawlspark package --out crawlspark.zip
  spark-submit --py-files crawlspark.zip --master <cluster> \\
      path/to/crawlspark/__main__.py crawl --pages ... --warehouse ...

Subcommands:
  crawl   run waves until the frontier drains (resumes automatically
          from the warehouse's last committed snapshot — P10)
  synth   generate a deterministic pages corpus + seed list
  status  print the warehouse's snapshot/lineage summary
  package zip the package for --py-files

A killed `crawl` re-run with the same --warehouse resumes from the
last atomic snapshot and reproduces the uninterrupted run bit-for-bit
(tests/test_driver.py pins the equivalence; tests/test_cli.py pins
this entrypoint end-to-end through a real spark-submit).
"""

from __future__ import annotations

import argparse
import json
import sys


def _spark(args):
    from crawlspark.session import get_spark

    return get_spark("crawlspark-cli", master=args.master,
                     shuffle_partitions=args.shuffle_partitions)


def cmd_crawl(args) -> int:
    import pandas as pd
    from pyspark.sql import functions as F

    from crawlspark import synth
    from crawlspark.driver import WaveDriver
    from crawlspark.tables import SnapshotStore

    spark = _spark(args)
    pages = spark.read.parquet(args.pages)
    robots = (spark.read.parquet(args.robots) if args.robots
              else spark.createDataFrame(synth.gen_robots()))
    ranks = (spark.read.parquet(args.host_rank) if args.host_rank
             else spark.createDataFrame(synth.gen_host_rank()))
    store = SnapshotStore(args.warehouse)
    drv = WaveDriver(spark, store, source=args.source,
                     num_partitions=args.shuffle_partitions or 32)
    if store.latest() is None:
        if args.seeds:
            seeds = pd.read_parquet(args.seeds)
        else:
            # depth-0 list pages straight from the corpus: pages whose
            # url matches the LIST grammar (synth.list_url — the
            # closed-world fixture shape), with the real page number so
            # the (wave, page, rank) FIFO contract holds. Other corpora
            # must pass an explicit --seeds (url, host, page, depth).
            lists = (pages.withColumn("host", F.expr("parse_url(url, 'HOST')"))
                     .filter(F.col("url").rlike(
                         r"/viec-lam(-trang-\d+)?-vi\.html$"))
                     .withColumn("page", F.coalesce(
                         F.regexp_extract("url", r"-trang-(\d+)-vi",
                                          1).try_cast("int"), F.lit(1)))
                     .select("url", "host", "page").distinct())
            seeds = lists.toPandas()
            if seeds.empty:
                raise SystemExit(
                    "no list pages matched the fixture URL grammar; "
                    "pass --seeds (parquet: url, host, page, depth)")
            seeds["depth"] = 0
        drv.bootstrap(seeds)
    elif args.seeds:
        # resuming warehouse + explicit seeds = a new crawl cycle:
        # enqueue unseen seed urls via the P6 reseed path
        drv.reseed(pd.read_parquet(args.seeds))
    stats = drv.run_until_done(pages, robots, ranks,
                               max_waves=args.max_waves)
    for s in stats:
        print(json.dumps({k: s[k] for k in
                          ("wave", "fetched", "enqueued", "missing",
                           "deferred", "disallowed", "wall_ms")}))
    total = sum(s["fetched"] for s in stats)
    print(json.dumps({"waves": len(stats), "total_fetched": total,
                      "warehouse": str(store.root)}))
    spark.stop()
    return 0


def cmd_synth(args) -> int:
    from crawlspark import synth

    spark = _spark(args)
    (synth.gen_pages_spark(spark, args.n,
                           parallelism=args.shuffle_partitions or 32)
     .write.mode("overwrite").parquet(args.out))
    synth.gen_seed_list(args.n).to_parquet(args.out + ".seeds.parquet")
    print(json.dumps({"pages": args.out,
                      "seeds": args.out + ".seeds.parquet", "n": args.n}))
    spark.stop()
    return 0


def cmd_status(args) -> int:
    from pyspark.sql import functions as F

    from crawlspark.tables import SnapshotStore

    store = SnapshotStore(args.warehouse)
    snaps = store.snapshots()
    out = {"snapshots": len(snaps),
           "latest_wave": store.latest_wave(),
           "tables": sorted(snaps[-1]["tables"]) if snaps else []}
    if snaps and "lineage" in snaps[-1]["tables"]:
        spark = _spark(args)
        lin = store.read(spark, "lineage")
        row = lin.agg(F.sum("urls_fetched").alias("fetched"),
                      F.sum("unchanged").alias("unchanged")).first()
        out["urls_fetched"] = int(row["fetched"] or 0)
        # dedup hits are the urls classified unchanged
        out["dedup_hits"] = int(row["unchanged"] or 0)
        spark.stop()
    print(json.dumps(out))
    return 0


def cmd_package(args) -> int:
    from crawlspark.session import build_package_zip

    build_package_zip(args.out)
    print(json.dumps({"zip": args.out}))
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="crawlspark")
    p.add_argument("--master", default=None)
    p.add_argument("--shuffle-partitions", type=int, default=None)
    sub = p.add_subparsers(dest="cmd", required=True)

    c = sub.add_parser("crawl")
    c.add_argument("--pages", required=True)
    c.add_argument("--warehouse", required=True)
    c.add_argument("--seeds")
    c.add_argument("--robots")
    c.add_argument("--host-rank")
    c.add_argument("--source", default="vieclam24h")
    c.add_argument("--max-waves", type=int, default=50)
    c.set_defaults(fn=cmd_crawl)

    s = sub.add_parser("synth")
    s.add_argument("--n", type=int, required=True)
    s.add_argument("--out", required=True)
    s.set_defaults(fn=cmd_synth)

    st = sub.add_parser("status")
    st.add_argument("--warehouse", required=True)
    st.set_defaults(fn=cmd_status)

    pk = sub.add_parser("package")
    pk.add_argument("--out", required=True)
    pk.set_defaults(fn=cmd_package)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
