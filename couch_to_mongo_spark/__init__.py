"""couch_to_mongo_spark — a PySpark-native CDC / incremental-ingest engine.

Brand-new engine with the *capabilities* of simagix/couch-to-mongo
(reference at /root/reference, surveyed in SURVEY.md): bulk snapshot copy,
change-feed tail, idempotent upsert, resumable checkpointing, per-batch
lineage — re-expressed Spark-first:

- thread pool            -> Spark executors / Catalyst-planned scans
- key-range partitions   -> hash buckets on conv_id (skew-safe)
- in-memory dedup maps   -> last-writer-wins aggregation (partial-agg safe)
- Mongo $set upsert      -> merge-on-read LWW MERGE into a mini lakehouse
                            table (parquet + atomic snapshot log)
- metadata collection    -> lineage table + Structured Streaming checkpoint
"""

__version__ = "0.1.0"
