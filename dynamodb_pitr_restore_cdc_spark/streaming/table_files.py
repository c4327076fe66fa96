"""Shared physical-file plumbing for the table-format sinks.

Both from-scratch lakehouse formats (the Delta-shaped log and the
Iceberg-shaped metadata tree) write data the same way — immutable
bucket-partitioned parquet under an attempt-scoped directory, with
per-file column bounds peeked from parquet footers — and differ only
in the METADATA shape those facts are recorded in (add actions vs
manifest entries). This module holds the common physics; each sink
maps the neutral per-file records into its own protocol. It also holds
the changefeed classification (`diff_states`) every versioned format
shares."""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

STAT_COLS = ("key", "last_seq", "op")


@dataclass(frozen=True)
class DataFileInfo:
    """Format-neutral facts about one written data file."""

    rel_path: str
    bucket: int
    size_bytes: int
    num_rows: int
    mins: dict
    maxs: dict


def repartition_by_bucket(bucketed: DataFrame, n_buckets: int) -> DataFrame:
    """The one bucket-write exchange every sink uses before its
    partitionBy("bucket") write: a hash exchange on ``bucket``, so each
    bucket lands in exactly one task and every (bucket, commit) pair
    yields exactly one file, with no small-file slivers.

    The partition count is EXPLICIT, min(n_buckets, the frame's own
    session spark.sql.shuffle.partitions): AQE coalesces a by-column
    exchange (a repartition on the column alone) into one partition at
    these sizes, so one task would write every bucket file of the
    commit serially; a by-number exchange is never coalesced. A width
    pin around the write (util.pinned_shuffle_width) governs it like
    any shuffle.

    Apply it LAST: CollapseRepartition lets an outer repartition
    replace this one silently."""
    width = int(bucketed.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return bucketed.repartition(min(n_buckets, width), "bucket")


def write_bucketed_files(
    bucketed: DataFrame, table_path: str, rel_dir: str, n_buckets: int
) -> list[DataFileInfo]:
    """Write one commit ATTEMPT's data files (immutable, attempt-scoped
    dir — the caller embeds a uuid so a crashed or race-losing attempt
    can never collide with a retry) and collect their footer-derived
    stats: a driver-side parquet-metadata peek, not a data scan.
    repartition_by_bucket puts each bucket in one task (buckets spread
    over parallel tasks), so every (bucket, commit) pair yields exactly
    one file."""
    import pyarrow.parquet as pq

    out = os.path.join(table_path, rel_dir)
    (
        repartition_by_bucket(bucketed, n_buckets)
        .write.mode("error")
        .partitionBy("bucket")
        .parquet(out)
    )
    infos: list[DataFileInfo] = []
    for bdir in sorted(os.listdir(out)):
        if not bdir.startswith("bucket="):
            continue
        b = int(bdir.split("=", 1)[1])
        for fn in sorted(os.listdir(os.path.join(out, bdir))):
            if not fn.endswith(".parquet"):
                continue
            full = os.path.join(out, bdir, fn)
            md = pq.ParquetFile(full).metadata
            names = {md.schema.column(i).name: i for i in range(md.num_columns)}
            mins: dict = {}
            maxs: dict = {}
            for rg in range(md.num_row_groups):
                for col in STAT_COLS:
                    if col not in names:
                        continue
                    st = md.row_group(rg).column(names[col]).statistics
                    if st is None or not st.has_min_max:
                        continue
                    if col in mins:
                        mins[col] = min(mins[col], st.min)
                        maxs[col] = max(maxs[col], st.max)
                    else:
                        mins[col], maxs[col] = st.min, st.max
            infos.append(
                DataFileInfo(
                    rel_path=os.path.join(rel_dir, bdir, fn),
                    bucket=b,
                    size_bytes=os.path.getsize(full),
                    num_rows=md.num_rows,
                    mins=mins,
                    maxs=maxs,
                )
            )
    return infos


def bucket_counters(b: int) -> dict:
    """Zeroed per-bucket maintenance counters (one shape for every
    sink's optimize_plan — the policy is format-independent; only the
    stats EXTRACTION differs per metadata protocol)."""
    return {
        "bucket": b,
        "base_files": 0,
        "base_records": 0,
        "delta_files": 0,
        "delta_records": 0,
        "delta_removes": 0,
        "small_delta_files": 0,
    }


def optimize_decisions(
    spark,
    per_bucket: dict[int, dict],
    min_small_files: int,
    tombstone_pct: int,
    table_rows: list[dict] | None = None,
) -> DataFrame:
    """The shared COMPACT/SKIP policy over per-bucket counters: compact
    when the read-side merge fan-in has grown (≥ min_small_files small
    pending files) or the tombstone debt has (pending REMOVE entries
    exceed tombstone_pct% of the bucket's rows). ONE implementation so
    the Delta and Iceberg twins (and their oracles) can never silently
    diverge on a threshold tweak; integer in, integer out, so the
    decision table is oracle-expressible.

    ``table_rows``: TABLE-scoped maintenance decisions (decision
    preset by the caller — e.g. the Iceberg sink's manifest REPACK
    pricing) appended after the per-bucket rows under the same schema;
    per-bucket thresholds never apply to them."""
    import pandas as pd

    rows = []
    for d in sorted(per_bucket.values(), key=lambda r: r["bucket"]):
        compact = d["small_delta_files"] >= min_small_files or (
            100 * d["delta_removes"]
            > tombstone_pct * (d["base_records"] + d["delta_records"])
        )
        rows.append({**d, "decision": "COMPACT" if compact else "SKIP"})
    rows.extend(table_rows or [])
    cols = [
        "bucket", "base_files", "base_records", "delta_files",
        "delta_records", "delta_removes", "small_delta_files", "decision",
    ]
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=cols),
        schema=(
            "bucket long, base_files long, base_records long, "
            "delta_files long, delta_records long, delta_removes long, "
            "small_delta_files long, decision string"
        ),
    )


def read_with_schema(spark, schema_json: str, paths: list[str]) -> DataFrame:
    """Parquet read under an explicit table schema (matched by name):
    files written before an add-column evolution lack the new columns
    and read back as nulls — the schema-on-read half of evolution, ONE
    implementation for both table formats (their read paths must never
    drift on this)."""
    schema = StructType.fromJson(json.loads(schema_json))
    return spark.read.schema(schema).parquet(*paths)


def empty_frame(spark, schema_json: str) -> DataFrame:
    """Zero-row frame in the table schema: typed null casts behind
    WHERE FALSE fold to a LocalRelation — zero Spark jobs (the
    createDataFrame([], schema) trap, CLAUDE.md)."""
    schema = StructType.fromJson(json.loads(schema_json))
    cols = [F.lit(None).cast(f.dataType).alias(f.name) for f in schema.fields]
    return spark.range(1).select(*cols).where(F.lit(False))


# -- schema evolution (shared by both table-format sinks) --------------------

# columns owned by the sink protocols, never payload: the batch's
# ordering column, the table's folded form of it, the op marker and the
# physical partition column
PROTOCOL_COLS = frozenset({"seq_no", "last_seq", "op", "bucket"})


def evolve_schema_json(
    schema_json: str, batch_schema: StructType, key: str
) -> tuple[str, bool]:
    """Union-by-name widened table schema: batch payload columns absent
    from the table schema are APPENDED as nullable fields (add-column
    is the only evolution shape supported — the reference's payload is
    schemaless, `lambda-backfill/main.py:35-39` passes NewImage
    opaquely, so mid-stream attribute ADDS are the user path; renames/
    drops/retypes are rejected loudly). Returns (new_json, changed).

    A type CONFLICT on an existing payload column is an error, not an
    evolution: silently casting would corrupt rows written under the
    old type."""
    from pyspark.sql.types import StructField

    old = StructType.fromJson(json.loads(schema_json))
    have = {f.name: f for f in old.fields}
    added: list[StructField] = []
    for f in batch_schema.fields:
        if f.name == key or f.name in PROTOCOL_COLS:
            continue
        if f.name in have:
            # simpleString: nullability-insensitive comparison — a
            # lit(None).cast("array<long>") batch column differs from
            # the stored ArrayType only in containsNull, which is not
            # a type CONFLICT
            if have[f.name].dataType.simpleString() != f.dataType.simpleString():
                raise ValueError(
                    f"schema conflict on column {f.name!r}: table has "
                    f"{have[f.name].dataType.simpleString()}, batch has "
                    f"{f.dataType.simpleString()} (add-column is the only "
                    f"supported evolution)"
                )
            continue
        added.append(StructField(f.name, f.dataType, nullable=True))
    if not added:
        return schema_json, False
    return StructType(old.fields + added).json(), True


def payload_cols_of(schema_json: str, key: str) -> tuple[str, ...]:
    """Payload columns of a table schema: everything that isn't the
    merge key or a protocol column, in schema order (the one list both
    the merge and the read-side fold must agree on)."""
    schema = StructType.fromJson(json.loads(schema_json))
    return tuple(
        f.name
        for f in schema.fields
        if f.name != key and f.name not in PROTOCOL_COLS
    )


def align_to_payloads(df: DataFrame, schema_json: str, key: str) -> DataFrame:
    """Null-fill a batch to the table's payload column set: columns the
    batch lacks become typed nulls, so a NARROW batch arriving after an
    evolution merges cleanly (and, per full-image semantics, a winning
    narrow row REPLACES the wide row — the missing attribute reads back
    null, exactly what a full-image put of the narrow item means)."""
    schema = StructType.fromJson(json.loads(schema_json))
    have = set(df.columns)
    missing = [
        F.lit(None).cast(f.dataType).alias(f.name)
        for f in schema.fields
        if f.name not in have and f.name != key and f.name not in PROTOCOL_COLS
    ]
    return df.select("*", *missing) if missing else df


def diff_states(
    a_vis: DataFrame,
    b_vis: DataFrame,
    payload_cols: tuple[str, ...] = ("payload_value",),
    key: str = "key",
) -> DataFrame:
    """Classified per-key diff of two VISIBLE states: the engine-side
    half of the changefeed, shared by every versioned sink format
    (VersionedCdcSink, the log formats' changes_between) so the
    classification semantics cannot silently diverge. The pre-image
    columns are what an incremental consumer needs to retract.
    `payload_cols` comes from the TO-side schema on evolved tables
    (both inputs aligned by the caller) so the feed carries every
    payload column — a consumer mirroring the table through the feed
    must converge to visible(), new columns included (round-10
    review)."""
    j = a_vis.alias("a").join(b_vis.alias("b"), on=key, how="full_outer")
    return (
        j.select(
            F.col(key),
            F.when(F.col("a.last_seq").isNull(), F.lit("INSERT"))
            .when(F.col("b.last_seq").isNull(), F.lit("DELETE"))
            .otherwise(F.lit("UPDATE"))
            .alias("change_type"),
            F.coalesce(F.col("b.last_seq"), F.col("a.last_seq")).alias("last_seq"),
            # NULL for DELETE
            *[F.col(f"b.{c}").alias(c) for c in payload_cols],
            # pre-image: what the row was at v_from (NULL for INSERT) —
            # exactly what an incremental consumer needs to retract
            *[F.col(f"a.{c}").alias(f"{c}_old") for c in payload_cols],
        )
        # an unchanged key living in a changed bucket is not a change
        .where(
            F.col("a.last_seq").isNull()
            | F.col("b.last_seq").isNull()
            | (F.col("a.last_seq") != F.col("b.last_seq"))
        )
    )
