"""CLI entrypoint: run a config-driven pipeline update.

Usage (mirrors the reference's `databricks bundle run` + parameters,
`/root/reference/resources/sdp_pipeline.pipeline.yml:22-29`):

    python -m datapipeline_template_spark run \\
        --source-location /data/raw \\
        [--config /data/raw/dp_config_template.json] \\
        [--catalog engine] [--bronze-db bronze] [--silver-db silver] \\
        [--soft-deletes N] [--external-location ...] \\
        [--batch] [--full-refresh]

The run flags fill a ``config.PipelineParams``; ``spark.conf`` (the
reference's parameter transport) is not read for them.
"""

from __future__ import annotations

import argparse
import os
import sys

from .config import PipelineParams, load_config
from .plans.pipeline import Pipeline
from .session import get_spark


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(prog="datapipeline_template_spark")
    sub = parser.add_subparsers(dest="cmd", required=True)
    run = sub.add_parser("run", help="execute a pipeline update")
    run.add_argument("--source-location", required=True)
    run.add_argument("--config", default=None, help="defaults to {source}/dp_config_template.json")
    run.add_argument("--catalog", default="engine")
    run.add_argument("--bronze-db", default="bronze")
    run.add_argument("--silver-db", default="silver")
    run.add_argument("--soft-deletes", default="N", choices=["Y", "N", "y", "n"])
    run.add_argument("--external-location", default="")
    run.add_argument("--checkpoint-root", default=None)
    run.add_argument("--batch", action="store_true", help="batch reads instead of streaming")
    run.add_argument("--full-refresh", action="store_true")
    run.add_argument(
        "--silver-mode",
        default="full",
        choices=["full", "incremental"],
        help="'full' recomputes silver each run (reference semantics); "
        "'incremental' rewrites only pk-hash buckets containing changed keys",
    )
    run.add_argument("--n-buckets", type=int, default=64)

    q = sub.add_parser("query", help="run a registered catalog query")
    q.add_argument("name", help="query name (see `list`) or 'all'")
    q.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    q.add_argument("--limit", type=int, default=20, help="rows to show")

    ex = sub.add_parser("explain", help="show a query's physical plan")
    ex.add_argument("name")
    ex.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ex.add_argument("--mode", default="formatted",
                    choices=["simple", "extended", "formatted", "cost"])

    sub.add_parser("list", help="list registered queries")

    sn = sub.add_parser("snapshot", help="inspect/maintain a snapshot table")
    sn.add_argument("action", choices=["history", "read", "optimize", "vacuum"])
    sn.add_argument("path", help="snapshot table root directory")
    sn.add_argument("--version", type=int, default=None, help="time travel (read)")
    sn.add_argument("--retention", default="interval 14 days", help="vacuum window")
    sn.add_argument("--target-file-mb", type=int, default=128, help="optimize size")
    sn.add_argument("--zorder-by", default=None,
                    help="comma-separated columns: OPTIMIZE ZORDER BY analog")
    sn.add_argument("--limit", type=int, default=20, help="rows to show (read)")

    args = parser.parse_args(argv)

    if args.cmd == "snapshot":
        from .plans.snapshots import SnapshotTable

        spark = get_spark(app_name="datapipeline_template_spark")
        spark.sparkContext.setLogLevel("ERROR")
        tbl = SnapshotTable(spark, args.path)
        if args.action == "history":
            for h in tbl.history():
                print(
                    f"v{h['version']:>4}  {h['operation']:<10} "
                    f"+{h['num_added']} -{h['num_removed']}  ts={h['timestamp_ms']}"
                )
        elif args.action == "read":
            df = tbl.read(version=args.version)
            df.show(args.limit, truncate=40)
            print(f"({df.count()} rows total)")
        elif args.action == "optimize":
            v = tbl.optimize(
                target_file_bytes=args.target_file_mb * 1024 * 1024,
                zorder_by=args.zorder_by.split(",") if args.zorder_by else None,
            )
            print(f"optimized -> version {v}" if v is not None else "nothing to compact")
        else:
            deleted = tbl.vacuum(args.retention)
            print(f"vacuumed {len(deleted)} file(s)")
        return 0

    if args.cmd in ("query", "explain", "list"):
        from .queries import load_all

        registry = load_all()
        spark = get_spark(app_name="datapipeline_template_spark")
        spark.sparkContext.setLogLevel("ERROR")
        if args.cmd == "list":
            for name, qq in sorted(registry.items()):
                kind = "oracle" if qq.oracle else "rows-only"
                print(f"{name:40s} [{kind}]")
            return 0
        if args.cmd == "query" and args.name == "all":
            for name in sorted(registry):
                df = registry[name].fn(spark, args.sf_dir)
                print(f"=== {name} ===")
                df.show(args.limit, truncate=40)
                print(f"({df.count()} rows total)")
            return 0
        if args.name not in registry:
            print(f"unknown query {args.name!r}; run `list`", file=sys.stderr)
            return 2
        df = registry[args.name].fn(spark, args.sf_dir)
        if args.cmd == "explain":
            df.explain(mode=args.mode)
        else:
            df.show(args.limit, truncate=40)
            print(f"({df.count()} rows total)")
        return 0

    spark = get_spark(app_name="datapipeline_template_spark", hive_metastore=True)
    params = PipelineParams(
        source_location=args.source_location,
        catalog=args.catalog,
        bronze_database=args.bronze_db,
        silver_database=args.silver_db,
        soft_deletes=args.soft_deletes.upper(),
        external_location=args.external_location,
    )
    cfg_path = args.config or os.path.join(args.source_location, params.config_file_name)
    entities = load_config(spark, cfg_path)
    pipe = Pipeline(
        spark,
        params,
        entities,
        checkpoint_root=args.checkpoint_root,
        streaming=not args.batch,
        silver_mode=args.silver_mode,
        n_buckets=args.n_buckets,
    )
    pipe.run(full_refresh=args.full_refresh)
    for e in entities:
        n = spark.read.table(pipe.silver_table(e.name)).count()
        print(f"silver_{e.name}: {n} rows")
    return 0


if __name__ == "__main__":
    sys.exit(main())
