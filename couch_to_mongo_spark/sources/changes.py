"""Change-feed source: seq-ordered change-log files (SURVEY.md §2.1 S4).

The reference tails CouchDB's ``_changes`` HTTP feed with a 5 s poll loop
(reference: ChangeFeedClient.java:61-71, 129-155). Our CDC source is a
directory of seq-ordered parquet files — the lake-native rendering of a
binlog/WAL — consumed either:

- batch: one ``spark.read`` with union-by-name schema merge (replay), or
- stream: ``spark.readStream`` file source + ``maxFilesPerTrigger``
  (the reference's poll-interval/backpressure knob, SURVEY.md §2.2 P3).

Schema inference reads parquet *footers only* via pyarrow — metadata I/O,
no data scan — so drift detection stays cheap even with 10^5 files.
"""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from pyspark.sql.pandas.types import from_arrow_type


def _spark_type(arrow_type) -> T.DataType:
    dt = from_arrow_type(arrow_type)
    # normalize: engine uses session-TZ timestamps everywhere
    if isinstance(dt, T.TimestampNTZType):
        return T.TimestampType()
    return dt


# numeric widening lattice: a feed that starts int and later carries long
# (or double) widens the inferred column instead of failing in from_json /
# align. Mirrors Iceberg's safe type-promotion rules.
_WIDEN_RANK: dict[type, int] = {
    T.IntegerType: 1,
    T.LongType: 2,
    T.FloatType: 3,
    T.DoubleType: 4,
}


def widen_type(a: T.DataType, b: T.DataType) -> T.DataType | None:
    """The wider of two types if they sit on the widening lattice, the
    common type if equal, else None (incompatible)."""
    if a == b:
        return a
    ra, rb = _WIDEN_RANK.get(type(a)), _WIDEN_RANK.get(type(b))
    if ra is None or rb is None:
        return None
    # float is NOT a widening of long (precision loss) — only int->long,
    # int/long/float->double, int->float? no: keep the conservative set
    wide, narrow = (a, b) if ra > rb else (b, a)
    allowed = {
        (T.LongType, T.IntegerType),
        (T.DoubleType, T.IntegerType),
        (T.DoubleType, T.LongType),
        (T.DoubleType, T.FloatType),
    }
    if (type(wide), type(narrow)) in allowed:
        return wide
    return None


def infer_feed_schema(changes_dir: str, sample_limit: int | None = 64) -> T.StructType:
    """Union schema across change files (footer metadata only).

    New columns appended in file order — the evolved schema lists columns
    in the order they first appeared in the feed. Numeric type conflicts
    resolve to the wider type (int -> long -> double); incompatible
    conflicts raise.

    ``sample_limit`` (default 64) bounds the footer reads to the first +
    last K/2 files: in an append-only feed columns only ever accrete, so
    the newest files carry the fully-evolved schema and the oldest carry
    the baseline — a 10^5-file feed no longer costs 10^5 serial driver
    metadata reads per (re)start. The bound can miss a column that
    appeared mid-feed and then vanished from every later file (not a
    thing an accreting feed does); pass ``sample_limit=None`` to scan
    everything, and mid-stream drift is still caught per-batch by
    :func:`feed_schema_drift` on exactly the files being applied.
    """
    files = sorted(glob.glob(os.path.join(changes_dir, "*.parquet")))
    if sample_limit:
        # footers are cheap, but allow bounding for gigantic feeds: first +
        # last K files see every evolution boundary in an append-only feed
        k = sample_limit // 2
        files = files[:k] + files[-k:] if len(files) > sample_limit else files
    fields: dict[str, T.StructField] = {}
    order: list[str] = []
    for f in files:
        sch = pq.read_schema(f)
        for name, atype in zip(sch.names, sch.types):
            st = _spark_type(atype)
            if name not in fields:
                fields[name] = T.StructField(name, st, True)
                order.append(name)
            elif fields[name].dataType != st:
                w = widen_type(fields[name].dataType, st)
                if w is None:
                    raise TypeError(
                        f"incompatible feed types for column {name}: "
                        f"{fields[name].dataType.simpleString()} vs {st.simpleString()} in {f}"
                    )
                fields[name] = T.StructField(name, w, True)
    if not fields:
        raise FileNotFoundError(f"no change files in {changes_dir}")
    return T.StructType([fields[n] for n in order])


def feed_schema_drift(
    paths: list[str], known: T.StructType
) -> tuple[list[str], list[str], list[str]]:
    """Schema drift of a batch's input files vs the stream's known schema,
    in ONE footer pass over all files (no per-file driver round-trips).

    Returns (new_columns, widened_columns, incompatible_columns): columns
    absent from `known`; columns whose file type is strictly wider than
    the known type (e.g. int32 -> int64 mid-stream); and columns whose
    type changed OFF the widening lattice (e.g. long -> string). Any of
    the three is drift — the first two restart the stream with a
    re-inferred schema, the third must surface as SchemaDrift rather than
    let the narrower read schema crash (or silently corrupt) the scan.
    """
    known_types = {f.name: f.dataType for f in known.fields}
    new_cols: set[str] = set()
    widened: set[str] = set()
    incompatible: set[str] = set()
    for path in paths:
        sch = pq.read_schema(path)
        for name, atype in zip(sch.names, sch.types):
            kt = known_types.get(name)
            if kt is None:
                new_cols.add(name)
                continue
            st = _spark_type(atype)
            if st == kt:
                continue
            w = widen_type(kt, st)
            if w == st:
                widened.add(name)
            elif w is None:
                incompatible.add(name)
            # w == kt: file is NARROWER than known (old files after a
            # widening restart) — readable under the wider schema, no drift
    return sorted(new_cols), sorted(widened), sorted(incompatible)


def read_changes_stream(
    spark: SparkSession,
    changes_dir: str,
    schema: T.StructType,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    reader = spark.readStream.format("parquet").schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", int(max_files_per_trigger))
    # file mtime order == seq order by generator contract; latestFirst off
    return reader.load(changes_dir)
