#!/usr/bin/env python
"""spark-submit entry point (north_rule: run via spark-submit --py-files).

    ./scripts/build_pyfiles.sh                 # -> dist/couch_to_mongo_spark.zip
    spark-submit --py-files dist/couch_to_mongo_spark.zip submit_main.py \
        replay --table /data/tbl --changes /data/changes --checkpoint /data/ckpt

Subcommands mirror the reference's two phases + operations (SURVEY.md §3):
bootstrap (bulk snapshot copy), replay (availableNow CDC catch-up), tail
(continuous CDC), compact, state (count + latest snapshot probe — the
reference's countDocuments validation, Couch.java:94), vacuum (snapshot
expiry + orphan staging-dir GC).

On a cluster, master/executors come from spark-submit; locally it falls
back to local[$SPARK_GRAFT_CPUS].
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import SparkSession


def _spark(app: str) -> SparkSession:
    # under spark-submit the master/conf come from the launcher; only fill
    # engine-required defaults here
    b = (
        SparkSession.builder.appName(app)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    )
    return b.getOrCreate()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="couch_to_mongo_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    p = sub.add_parser("bootstrap", help="phase-1 bulk snapshot copy")
    p.add_argument("--table", required=True)
    p.add_argument("--source", required=True, help="parquet dir/file of the source snapshot")
    p.add_argument("--n-buckets", type=int, default=64)
    p.add_argument("--run-id", default="bootstrap")

    # the flags `replay` and `tail` share: one CdcPipeline configuration
    stream = argparse.ArgumentParser(add_help=False)
    stream.add_argument("--table", required=True)
    stream.add_argument("--changes", required=True)
    stream.add_argument("--checkpoint", required=True)
    stream.add_argument("--n-buckets", type=int, default=64)
    stream.add_argument("--max-files-per-trigger", type=int, default=None)
    stream.add_argument("--emit-cdf", action="store_true",
                        help="write the row-level change feed per batch")
    stream.add_argument("--maintain-view", default=None, metavar="PATH",
                        help="keep a rendered-conversation corpus table fresh "
                             "at PATH (O(touched convs) refresh per batch)")
    stream.add_argument("--view-refresh-every", type=int, default=1, metavar="K",
                        help="defer view maintenance: catch up every K batches "
                             "+ at end of run instead of per batch (crash-safe; "
                             "changed convs derived from the primary's _seq "
                             "bounds)")
    stream.add_argument("--retention-keep-last", type=int, default=None,
                        help="expire snapshots beyond the last N on the "
                             "maintenance loop (bounds the version log on long "
                             "streams; time travel valid within the window)")
    stream.add_argument("--retention-every", type=int, default=50,
                        help="run snapshot expiry every N applied batches")

    p = sub.add_parser("replay", parents=[stream], help="CDC catch-up (availableNow)")
    p.add_argument("--since-seq", type=int, default=None)

    p = sub.add_parser("tail", parents=[stream], help="continuous CDC tail")
    p.add_argument("--trigger", default="5 seconds")

    p = sub.add_parser(
        "view-catchup",
        help="bring a rendered-corpus view up to the primary's current "
        "snapshot (deferred/crashed maintenance repair; O(new files))",
    )
    p.add_argument("--table", required=True)
    p.add_argument("--view", required=True)
    p.add_argument("--run-id", default="view-catchup")

    p = sub.add_parser("compact", help="fold MOR delta files")
    p.add_argument("--table", required=True)
    p.add_argument("--max-files-per-bucket", type=int, default=8)
    p.add_argument("--purge-tombstones", action="store_true")

    p = sub.add_parser("state", help="table probe: snapshot + live row count")
    p.add_argument("--table", required=True)
    p.add_argument("--buckets", action="store_true",
                   help="add per-bucket file counts + manifest bytes "
                        "(compaction-debt view; metadata-only, no scan)")

    p = sub.add_parser(
        "rescale", help="re-key the table to a new bucket count (atomic)"
    )
    p.add_argument("--table", required=True)
    p.add_argument("--n-buckets", type=int, required=True)

    p = sub.add_parser(
        "changes", help="read the semantic change feed (CDF) written by "
        "replay/tail --emit-cdf"
    )
    p.add_argument("--table", required=True)
    p.add_argument("--limit", type=int, default=20)
    p.add_argument("--include-uncommitted", action="store_true")
    p.add_argument("--expire-keep", type=int, default=None,
                   help="drop batches more than N below each run's fence "
                        "instead of printing rows")

    p = sub.add_parser(
        "render", help="export training docs from table state: one ordered "
        "role-tagged document per conversation (optionally packed into "
        "fixed-length token sequences)"
    )
    p.add_argument("--table", required=True)
    p.add_argument("--out", required=True, help="output parquet directory")
    p.add_argument("--sep", default="\n")
    p.add_argument("--no-roles", action="store_true",
                   help="render bare turn text without 'role: ' tags")
    p.add_argument("--tool-tags", action="store_true",
                   help="mark tool-call turns 'role [tool]: text' (uses "
                        "the state's tool column)")
    p.add_argument("--max-turns", type=int, default=None,
                   help="context-window truncation (keeps --keep side)")
    p.add_argument("--keep", choices=["first", "last"], default="last")
    p.add_argument("--pack-seq-len", type=int, default=None,
                   help="also emit concat-then-chunk sequence spans at "
                        "this token length")
    p.add_argument("--pack-shards", type=int, default=64)
    p.add_argument("--drop-boilerplate", type=int, default=None,
                   metavar="MIN_CONVS",
                   help="drop turns whose exact text occurs in >= "
                        "MIN_CONVS distinct conversations (C4 line rule) "
                        "before rendering")

    p = sub.add_parser("vacuum", help="expire old snapshots + reclaim orphans")
    p.add_argument("--table", required=True)
    p.add_argument("--keep-last", type=int, default=10)
    p.add_argument("--grace-seconds", type=float, default=3600.0)

    p = sub.add_parser(
        "dead-letter", help="quarantine ops: list / inspect / replay"
    )
    p.add_argument("action", choices=["list", "inspect", "replay"])
    p.add_argument("--table", required=True)
    p.add_argument("--run-id", default=None)
    p.add_argument("--batch-id", type=int, default=None)
    p.add_argument("--limit", type=int, default=20)
    p.add_argument(
        "--no-normalize", action="store_true",
        help="replay without the text-normalizer kernel",
    )

    args = ap.parse_args(argv)
    spark = _spark(f"c2m-{args.cmd}")

    if args.cmd == "bootstrap":
        from couch_to_mongo_spark.bootstrap import bulk_bootstrap

        src = spark.read.parquet(args.source)
        _, res = bulk_bootstrap(
            spark, args.table, src, n_buckets=args.n_buckets, run_id=args.run_id
        )
        print(json.dumps(res.to_lineage()))
    elif args.cmd in ("replay", "tail"):
        from couch_to_mongo_spark.streaming.cdc import CdcPipeline

        pipe = CdcPipeline(
            spark,
            table_path=args.table,
            changes_dir=args.changes,
            checkpoint_dir=args.checkpoint,
            n_buckets=args.n_buckets,
            max_files_per_trigger=args.max_files_per_trigger,
            since_seq=getattr(args, "since_seq", None),
            emit_cdf=getattr(args, "emit_cdf", False),
            maintain_view=getattr(args, "maintain_view", None),
            view_refresh_every=getattr(args, "view_refresh_every", 1),
            retention_keep_last=getattr(args, "retention_keep_last", None),
            retention_every=getattr(args, "retention_every", 50),
        )
        if args.cmd == "replay":
            pipe.run_available()
            print(
                json.dumps(
                    {
                        "batches_applied": pipe.batches_applied,
                        "batches_fenced": pipe.batches_fenced,
                        "compactions": pipe.compactions,
                        "last_seq": pipe.lineage.last_seq(),
                        "snapshot": pipe.table.snapshot().snapshot_id,
                    }
                )
            )
        else:
            pipe.tail(processing_time=args.trigger)
    elif args.cmd == "view-catchup":
        from couch_to_mongo_spark.operators.corpus_view import RenderedCorpusView
        from couch_to_mongo_spark.tableformat import LakeTable

        primary = LakeTable(spark, args.table)
        view = RenderedCorpusView(spark, primary, args.view)
        res = view.catch_up(run_id=args.run_id)
        print(
            json.dumps(
                {
                    "caught_up": res is not None,
                    "already_current": res is None,
                    "rows_applied": getattr(res, "rows_applied", 0) if res else 0,
                    "view_seq_hwm": view.view.seq_high_water(),
                }
            )
        )
    elif args.cmd == "compact":
        from couch_to_mongo_spark.operators.compact import compact
        from couch_to_mongo_spark.tableformat import LakeTable

        table = LakeTable(spark, args.table)
        folded = compact(
            table,
            max_files_per_bucket=args.max_files_per_bucket,
            purge_tombstones=args.purge_tombstones,
        )
        print(json.dumps({"buckets_compacted": len(folded)}))
    elif args.cmd == "render":
        from couch_to_mongo_spark.functions.transcripts import (
            render_conversations,
        )
        from couch_to_mongo_spark.operators.merge import read_state
        from couch_to_mongo_spark.tableformat import LakeTable

        state = read_state(LakeTable(spark, args.table))
        if args.drop_boilerplate is not None:
            from couch_to_mongo_spark.functions.transcripts import (
                turn_boilerplate,
            )

            verdicts = turn_boilerplate(
                state, min_convs=args.drop_boilerplate
            ).where("keep").select("conv_id", "turn_idx")
            state = state.join(verdicts, ["conv_id", "turn_idx"], "left_semi")
        role_col = None if args.no_roles or "role" not in state.columns else "role"
        tool_col = (
            "tool" if args.tool_tags and "tool" in state.columns else None
        )
        docs = render_conversations(
            state,
            role_col=role_col,
            tool_col=tool_col,
            sep=args.sep,
            max_turns=args.max_turns,
            keep=args.keep,
        )
        out = {"out": args.out}
        if args.pack_seq_len is not None:
            from couch_to_mongo_spark.functions.transcripts import pack_sequences

            docs.write.mode("overwrite").parquet(args.out + "/docs")
            spans = pack_sequences(
                spark.read.parquet(args.out + "/docs"),
                seq_len=args.pack_seq_len,
                n_shards=args.pack_shards,
                text_col="doc",
                id_col="conv_id",
            )
            spans.write.mode("overwrite").parquet(args.out + "/sequences")
            out["n_conversations"] = spark.read.parquet(
                args.out + "/docs"
            ).count()
            out["n_sequence_spans"] = spark.read.parquet(
                args.out + "/sequences"
            ).count()
        else:
            docs.write.mode("overwrite").parquet(args.out)
            out["n_conversations"] = spark.read.parquet(args.out).count()
        print(json.dumps(out))
    elif args.cmd == "vacuum":
        from couch_to_mongo_spark.tableformat import LakeTable

        table = LakeTable(spark, args.table)
        expired = table.expire_snapshots(keep_last=args.keep_last)
        orphans = table.gc_orphans(grace_seconds=args.grace_seconds)
        print(json.dumps({**expired, "orphans_reclaimed": len(orphans)}))
    elif args.cmd == "dead-letter":
        import os

        from couch_to_mongo_spark.sources.json_changes import DeadLetterLog
        from couch_to_mongo_spark.tableformat import LakeTable

        log = DeadLetterLog(os.path.join(args.table, "_dead_letter"))
        if args.action == "list":
            for r in log.summary(spark).collect():
                print(json.dumps(r.asDict()))
        elif args.action == "inspect":
            if args.run_id is None or args.batch_id is None:
                ap.error("inspect requires --run-id and --batch-id")
            rows = log.rows_for(spark, args.run_id, args.batch_id).limit(args.limit)
            for r in rows.collect():
                print(json.dumps({k: repr(v) for k, v in r.asDict().items()}))
        else:  # replay
            if args.run_id is None or args.batch_id is None:
                ap.error("replay requires --run-id and --batch-id")
            transform = None
            if not args.no_normalize:
                from couch_to_mongo_spark.functions.normalize import normalize_kernel
                from couch_to_mongo_spark.operators.poison import isolate_poison

                def transform(df):  # noqa: E731 - mirrors CdcPipeline's wiring
                    return isolate_poison(df, normalize_kernel)

            res = log.replay_into(
                LakeTable(spark, args.table),
                args.run_id,
                args.batch_id,
                transform_after_dedup=transform,
                dead_letter=log,
            )
            print(json.dumps(res.to_lineage()))
    elif args.cmd == "rescale":
        from couch_to_mongo_spark.operators.rescale import rescale_buckets
        from couch_to_mongo_spark.tableformat import LakeTable

        info = rescale_buckets(LakeTable(spark, args.table), args.n_buckets)
        print(json.dumps(info))
    elif args.cmd == "changes":
        import os

        from couch_to_mongo_spark.operators.cdf import ChangeFeedLog
        from couch_to_mongo_spark.tableformat import LakeTable

        log = ChangeFeedLog(spark, os.path.join(args.table, "_changes"))
        if args.expire_keep is not None:
            removed = log.expire(
                LakeTable(spark, args.table), keep_batches=args.expire_keep
            )
            print(json.dumps({"expired_batches": len(removed)}))
            return 0
        feed = log.read(
            LakeTable(spark, args.table),
            committed_only=not args.include_uncommitted,
        )
        for r in feed.orderBy("_batch_id").limit(args.limit).collect():
            print(json.dumps({k: str(v) for k, v in r.asDict().items()}))
    elif args.cmd == "state":
        from couch_to_mongo_spark.operators.merge import read_state
        from couch_to_mongo_spark.tableformat import LakeTable

        table = LakeTable(spark, args.table)
        snap = table.snapshot()
        out = {
            "snapshot_id": snap.snapshot_id,
            "version": snap.version,
            "n_files": len(snap.all_files()),
            "live_rows": read_state(table).count(),
            "fenced_runs": {r: v[0] for r, v in snap.fences.items()},
        }
        if args.buckets:
            # write-side observability: per-bucket file counts (compaction
            # debt — MOR deltas pile up here) + manifest bytes (metadata
            # growth), straight from the snapshot, no data scan
            import os

            per_bucket = {b: len(fl) for b, fl in sorted(
                snap.files.items(), key=lambda kv: int(kv[0])
            )}
            manifest_bytes = sum(
                os.path.getsize(os.path.join(table.manifest_dir, name))
                for name in snap.manifests.values()
            )
            counts = list(per_bucket.values()) or [0]
            out["buckets"] = {
                "files_per_bucket": per_bucket,
                "max_files_in_bucket": max(counts),
                "manifest_bytes": manifest_bytes,
                "n_manifests": len(snap.manifests),
            }
        print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
