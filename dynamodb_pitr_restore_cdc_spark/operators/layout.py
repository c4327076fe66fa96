"""Physical data layout operators: partition pruning and bucketed
co-located joins — the two LAYOUT levers that matter most at 100 TB.

Partition pruning is directory-level data skipping: a table written
as .../o_year=1997/... lets a year predicate skip whole directories
before any I/O (PartitionFilters in the scan node — distinct from
row-group PushedFilters, which still opens the file). A 100 TB fact
partitioned by day serves a one-month query from <1% of its files.

Bucketing is pre-shuffled layout: two tables hash-bucketed into the
same number of buckets on their join key sort-merge-join WITHOUT
either side shuffling — the exchange that usually dominates a
fact-to-fact join disappears because the write already placed
matching keys in matching files. The reference's analog is DynamoDB's
own hash-partitioning by item key (SURVEY.md §1.1); here it becomes
the engine's co-located join story.

Both queries materialize their layout into a session-scoped temp
location, prove the plan property (pinned in tests/test_plans.py),
and clean up — the layout cost is the one-time write, the benefit is
every subsequent query, which is exactly the 100 TB trade."""

from __future__ import annotations

import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.rounding import cents
from ..registry import pid_scoped_root, register, tracked_persist
from ..sources import table
from ..streaming.drill import Drill


@register(
    "q_scan_partitioned_source",
    oracle="""
SELECT o_orderkey, o_custkey, o_orderstatus,
       round(o_totalprice, 2) AS total_price
FROM orders
WHERE strftime(o_orderdate, '%Y') = '1997'
""",
)
def q_scan_partitioned_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-pruned scan: orders re-laid-out as
    .../o_year=YYYY/part-*.parquet, then read with a partition-key
    predicate. The plan's scan node must show the year in
    PartitionFilters (directory skipping) rather than only
    PushedFilters (file-internal skipping) — tests/test_plans.py pins
    this. At 100 TB with daily partitions this is the difference
    between listing 30 directories and opening 10^6 files. Partition
    values come back through partitionColumnTypeInference (a yyyy
    directory name reads as INT) — outputs that expose the partition
    column cast it explicitly."""
    with Drill(spark, "orders_part") as d:
        out = d.dir("orders")
        (
            table(spark, sf_dir, "orders")
            .withColumn("o_year", F.date_format("o_orderdate", "yyyy"))
            .write.mode("overwrite")
            .partitionBy("o_year")
            .parquet(out)
        )
        result = tracked_persist(
            spark.read.parquet(out)
            .where(F.col("o_year") == "1997")
            .select(
                "o_orderkey",
                "o_custkey",
                "o_orderstatus",
                F.round("o_totalprice", 2).alias("total_price"),
            )
        )
        result.count()  # materialize before removing the backing dir
    return result


def partitioned_scan_plan(spark: SparkSession, sf_dir: str):
    """(plan-audit helper) Build the partitioned layout and return the
    pruned-scan DataFrame WITHOUT materializing/cleanup, so tests can
    assert PartitionFilters on the analyzed plan. Caller removes the
    returned path."""
    out = os.path.join(
        tempfile.gettempdir(),
        "spark_cdc_engine_sink",
        f"orders_part_plan-{uuid.uuid4().hex[:8]}",
    )
    (
        table(spark, sf_dir, "orders")
        .withColumn("o_year", F.date_format("o_orderdate", "yyyy"))
        .write.mode("overwrite")
        .partitionBy("o_year")
        .parquet(out)
    )
    df = (
        spark.read.parquet(out)
        .where(F.col("o_year") == "1997")
        .select("o_orderkey", "o_custkey")
    )
    return df, out


N_BUCKETS = 8

# Bucketed layout is a per-(session, corpus) ARTIFACT, same discipline
# as the LSH band index and the IVF inverted lists (llm/dedup.
# band_buckets, llm/similarity._cell_members): the bucketed write is a
# one-time indexing job and every subsequent co-located join reads it.
# Catalog entries die with the session; the backing files are swept at
# exit.
_BUCKETED_CACHE: dict[tuple[str, str, str], tuple[str, str]] = {}
# pid-scoped + dead-sibling sweep: see registry.pid_scoped_root
_BUCKETED_ROOT = pid_scoped_root("bkt")


# The bucketed CATALOG: each spec is one co-located pair — (table,
# projected columns, bucket/sort key) × 2. A real deployment carries
# many such pairs (every recurring fact-to-fact or fact-to-big-dim
# join key earns its own layout); the catalog here holds the two
# join keys the workload repeats most.
_BUCKET_SPECS: dict[str, tuple[tuple[str, list[str], str], ...]] = {
    "orderkey": (
        ("orders", ["o_orderkey", "o_custkey", "o_orderstatus"], "o_orderkey"),
        ("lineitem", ["l_orderkey", "l_quantity", "l_extendedprice", "l_discount"], "l_orderkey"),
    ),
    "custkey": (
        ("customer", ["c_custkey", "c_mktsegment", "c_acctbal"], "c_custkey"),
        ("orders", ["o_orderkey", "o_custkey", "o_totalprice"], "o_custkey"),
    ),
}


def bucketed_pair(
    spark: SparkSession, sf_dir: str, spec: str = "orderkey"
) -> tuple[str, str]:
    """Catalog table names for one co-located pair, both bucketed+sorted
    on the spec's join key into N_BUCKETS matching buckets — built once
    per (session, corpus, spec) and reused (bucket metadata is catalog
    state, not parquet metadata, so the cache key includes the
    session). The same base table may appear under several specs with
    different bucket keys — e.g. orders by o_orderkey for the lineitem
    join and by o_custkey for the customer join — because a bucketed
    layout serves exactly one equi-join key."""
    key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir), spec)
    entry = _BUCKETED_CACHE.get(key)
    if entry is not None and spark.catalog.tableExists(entry[0]):
        return entry
    tag = uuid.uuid4().hex[:8]
    root = os.path.join(_BUCKETED_ROOT, f"bkt-{spec}-{tag}")
    names = []
    for tbl, cols, bkey in _BUCKET_SPECS[spec]:
        name = f"{tbl}_bkt_{spec}_{tag}"
        (
            table(spark, sf_dir, tbl)
            .select(*cols)
            .write.bucketBy(N_BUCKETS, bkey)
            .sortBy(bkey)
            .option("path", os.path.join(root, tbl))
            .saveAsTable(name)
        )
        names.append(name)
    _BUCKETED_CACHE[key] = tuple(names)
    return _BUCKETED_CACHE[key]


def bucketed_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """(orders, lineitem) bucketed on the order key — the original
    catalog entry, kept as the `orderkey` spec."""
    return bucketed_pair(spark, sf_dir, "orderkey")


def bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(shared core + plan-audit helper) The co-located join over the
    cached bucketed layout. With broadcast disabled it plans as a
    sort-merge join over the bucketed scans with NO Exchange on either
    side — both shuffles were paid once at layout-build time."""
    o_name, l_name = bucketed_tables(spark, sf_dir)
    o = spark.table(o_name)
    li = spark.table(l_name)
    return li.join(o, li.l_orderkey == o.o_orderkey)


@register(
    "q_join_bucketed_colocated",
    oracle="""
SELECT o.o_orderstatus,
       sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
           * (100 - CAST(round(l.l_discount * 100) AS BIGINT))) / 10000.0 AS revenue,
       CAST(sum(l.l_quantity) AS BIGINT) AS total_qty,
       count(*) AS n_lines
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderstatus
ORDER BY o.o_orderstatus
""",
)
def q_join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-free fact-to-fact join via matching bucketed layouts:
    orders and lineitem both bucketed into 8 buckets on the order key,
    joined as a sort-merge join with ZERO Exchange below the join
    (pinned in tests/test_plans.py) — bucket i of one side only ever
    meets bucket i of the other. Broadcast is disabled for the build
    (restored in a finally) so the plan proves the bucketed path, not
    the small-fixture shortcut. At 100 TB this is THE recurring-join
    optimization: the per-query shuffle of the two largest tables is
    replaced by a one-time bucketed write (cached per session+corpus —
    repeat queries reuse the layout, the artifact pattern), and the
    sortBy makes the merge phase streaming (no per-task sort)."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = bucketed_join(spark, sf_dir)
        result = (
            joined.groupBy("o_orderstatus")
            .agg(
                (
                    F.sum(
                        cents("l_extendedprice") * (100 - cents("l_discount"))
                    )
                    / 10000.0
                ).alias("revenue"),
                F.sum("l_quantity").cast("bigint").alias("total_qty"),
                F.count("*").alias("n_lines"),
            )
            .orderBy("o_orderstatus")
        )
        # localCheckpoint, not persist: the result must stay readable
        # even if the session's cached layout tables are later dropped
        # or swept (dropping a catalog table invalidates cached plans
        # that reference it); the checkpoint severs that lineage.
        result = result.localCheckpoint(eager=True)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    return result


def bucketed_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(shared core + plan-audit helper) The custkey-spec co-located
    join: customer ⋈ orders on the customer key, both sides bucketed —
    with broadcast disabled it must plan as a sort-merge join with no
    Exchange below, same contract as bucketed_join but on the second
    catalog key."""
    c_name, o_name = bucketed_pair(spark, sf_dir, "custkey")
    c = spark.table(c_name)
    o = spark.table(o_name)
    return c.join(o, c.c_custkey == o.o_custkey)


@register(
    "q_join_bucketed_dim",
    oracle="""
SELECT c.c_mktsegment,
       count(*) AS n_orders,
       sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) / 100.0 AS total_price
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
GROUP BY c.c_mktsegment
ORDER BY c.c_mktsegment
""",
)
def q_join_bucketed_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second co-located join key in the bucketed catalog: customer and
    orders both bucketed on the CUSTOMER key — the same physical trick
    as q_join_bucketed_colocated but proving the catalog carries
    multiple keys per workload, including the same base table (orders)
    laid out twice under different bucket keys. A bucketed layout
    serves exactly one equi-join key, so a 100 TB workload's layout
    catalog is per-(table, key), chosen by join frequency; the revenue
    rollup rides the join's existing bucket partitioning for its
    map-side partials. Broadcast is disabled during the build so the
    plan proves the bucketed path (customer would otherwise broadcast
    at fixture scale)."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = bucketed_dim_join(spark, sf_dir)
        result = (
            joined.groupBy("c_mktsegment")
            .agg(
                F.count("*").alias("n_orders"),
                (F.sum(cents("o_totalprice")) / 100.0).alias("total_price"),
            )
            .orderBy("c_mktsegment")
        )
        # sever lineage from the session catalog tables (see
        # q_join_bucketed_colocated on DROP-vs-cached-plan)
        result = result.localCheckpoint(eager=True)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    return result


@register(
    "q_join_dynamic_partition_pruning",
    oracle="""
SELECT strftime(o.o_orderdate, '%Y') AS o_year,
       count(*) AS n_orders,
       sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) / 100.0 AS total_price
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
WHERE c.c_mktsegment = 'BUILDING'
  AND strftime(o.o_orderdate, '%Y') IN ('1996', '1997')
GROUP BY o_year
ORDER BY o_year
""",
)
def q_join_dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning (DPP): the fact is laid out
    partitioned by year, the dim filter is on customer, and the year
    restriction reaches the FACT SCAN at runtime through the join —
    Spark injects a dynamicpruning subquery into the partitioned
    scan's PartitionFilters, so only partitions whose keys survive the
    dim side are listed/read. Here the static IN ('1996','1997')
    prunes directories at plan time AND the broadcast-side DPP
    machinery is exercised by the segment-filtered dim join
    (dpp_join_plan pins the dynamicpruning expression on a
    dim-derived partition key). At 100 TB DPP is what makes
    star-schema queries over a date-partitioned fact read days, not
    years, without the user naming dates on the fact."""
    with Drill(spark, "orders_dpp") as d:
        out = d.dir("orders")
        (
            table(spark, sf_dir, "orders")
            .withColumn("o_year", F.date_format("o_orderdate", "yyyy"))
            .write.mode("overwrite")
            .partitionBy("o_year")
            .parquet(out)
        )
        c = table(spark, sf_dir, "customer").where(
            F.col("c_mktsegment") == "BUILDING"
        )
        o = spark.read.parquet(out).where(F.col("o_year").isin("1996", "1997"))
        result = tracked_persist(
            o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
            # partitionColumnTypeInference reads o_year back as INT; cast
            # to string AFTER the pruning filter so the directory skipping
            # happens on the native partition type
            .groupBy(F.col("o_year").cast("string").alias("o_year"))
            .agg(
                F.count("*").alias("n_orders"),
                (F.sum(cents("o_totalprice")) / 100.0).alias("total_price"),
            )
            .orderBy("o_year")
        )
        result.count()  # materialize before removing the backing dir
    return result


def dpp_join_plan(spark: SparkSession, sf_dir: str):
    """(plan-audit helper) A join whose ONLY year restriction lives on
    the dim side: orders partitioned by year joined to a one-year dim
    of (year, priority-class) pairs. DPP must inject a dynamicpruning
    expression into the fact scan's PartitionFilters — without it the
    fact reads every year directory. Returns (df, path); caller
    removes the path."""
    out = os.path.join(
        tempfile.gettempdir(),
        "spark_cdc_engine_sink",
        f"orders_dpp_plan-{uuid.uuid4().hex[:8]}",
    )
    (
        table(spark, sf_dir, "orders")
        .withColumn("o_year", F.date_format("o_orderdate", "yyyy"))
        .write.mode("overwrite")
        .partitionBy("o_year")
        .parquet(out)
    )
    dim = (
        table(spark, sf_dir, "orders")
        .select(F.date_format("o_orderdate", "yyyy").alias("d_year"))
        .distinct()
        .where(F.col("d_year") == "1997")
    )
    fact = spark.read.parquet(out)
    df = fact.join(F.broadcast(dim), fact.o_year == dim.d_year).groupBy(
        "o_year"
    ).agg(F.count("*").alias("n"))
    return df, out


# ---------------------------------------------------------------------------
# Z-order (Morton) clustering: multi-dimensional data skipping
# ---------------------------------------------------------------------------

Z_BITS = 21  # per-dimension bits; 2x21 = 42-bit Morton code fits BIGINT


def zvalue_expr(xcol: str, ycol: str, bits: int = Z_BITS):
    """Morton interleave of two non-negative integer columns (or SQL
    expressions) — pure JVM expression (aggregate over a bit-index
    sequence), no Python. Rows sorted by this value cluster in BOTH
    dimensions at once: any file of a z-sorted layout covers a bounded
    square-ish region of (x, y)-space, so min/max footer stats prune
    files for predicates on EITHER column — a single-column sort only
    ever prunes its own column. Callers must feed dimensions of
    comparable bit width (see zorder_layout's normalization)."""
    return F.expr(
        f"aggregate(sequence(0, {bits - 1}), 0L, (acc, i) -> "
        f"acc | (((CAST({xcol} AS BIGINT) >> i) & 1) << (2 * i))"
        f"    | (((CAST({ycol} AS BIGINT) >> i) & 1) << (2 * i + 1)))"
    )


_ZORDER_CACHE: dict[tuple[str, str], tuple[str, int, int]] = {}


def zorder_layout(
    spark: SparkSession, sf_dir: str, n_files: int = 8
) -> tuple[str, int, int]:
    """Write lineitem z-ordered on (l_partkey, l_suppkey) into a
    session-cached temp layout: range-partition on the Morton code
    (n_files contiguous z-ranges), sort within partitions, one parquet
    file per range. This is the engine's OPTIMIZE ZORDER — a one-time
    clustering write that every later multi-dimension selective scan
    repays via footer-stats skipping."""
    key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir))
    hit = _ZORDER_CACHE.get(key)
    if hit is not None and os.path.isdir(hit[0]):
        return hit
    out = os.path.join(_BUCKETED_ROOT, f"zorder-{uuid.uuid4().hex[:8]}")
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity", "l_extendedprice"
    )
    # NORMALIZE each dimension onto the same bit scale before
    # interleaving: with raw values, a dimension whose domain is much
    # smaller (suppkey ~ partkey/20 here) contributes only low Morton
    # bits and the order degenerates to a single-column sort — measured
    # exactly that before this scaling. Proportional scaling by the
    # column max is the poor-man's range-id mapping (Delta's OPTIMIZE
    # ZORDER uses per-column range partition ids for the same reason);
    # at 100 TB use approx quantiles instead so skewed domains spread.
    row = li.agg(
        F.max("l_partkey").alias("pk"), F.max("l_suppkey").alias("sk")
    ).first()  # driver scalars: per-dimension domain maxima
    bits = 16
    sx = f"((CAST(l_partkey AS BIGINT) * {1 << bits}) div {int(row.pk) + 1})"
    sy = f"((CAST(l_suppkey AS BIGINT) * {1 << bits}) div {int(row.sk) + 1})"
    # DETERMINISTIC range split: zv < 2^(2*bits) after normalization, so
    # equal-width z-ranges are a pure expression — bucket id
    # `zv div (zspace div n_files)`.  repartitionByRange's sampled
    # bounds shift with session state (AQE advisory sizes, shuffle-width
    # toggles from earlier tests moved a file boundary and flipped the
    # pruning assertion — round-10 verdict item 2); explicit bounds make
    # the layout byte-stable under any session.  partitionBy (not a
    # hash repartition alone) keeps each z-range in its own file even
    # when two bucket ids hash-collide into one shuffle partition.
    # CEILING width: floor width overflows to bucket id n_files for the
    # top (2^(2*bits) mod n_files) codes whenever n_files doesn't
    # divide the z-space (any non-power-of-two n_files) — with ceil,
    # max zb = (2^(2*bits)-1) div width <= n_files-1 for every n_files
    zspace = 1 << (2 * bits)
    width = -(-zspace // n_files)
    (
        li.withColumn("zv", zvalue_expr(sx, sy, bits=bits))
        .withColumn("zb", F.expr(f"CAST(zv div {width} AS INT)"))
        .repartition(n_files, "zb")
        .sortWithinPartitions("zb", "zv")
        .drop("zv")
        .write.mode("overwrite")
        .partitionBy("zb")
        .parquet(out)
    )
    # cache the domain maxima WITH the layout: box queries derive
    # their bounds from them, and re-aggregating the unclustered fact
    # per query would cost the very full scan the layout avoids
    _ZORDER_CACHE[key] = (out, int(row.pk), int(row.sk))
    return _ZORDER_CACHE[key]


@register(
    "q_scan_zorder_box",
    oracle="""
SELECT CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
       sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0 AS sum_price
FROM lineitem
WHERE l_partkey BETWEEN (SELECT max(l_partkey) FROM lineitem) // 4
                    AND (SELECT max(l_partkey) FROM lineitem) // 2
  AND l_suppkey BETWEEN (SELECT max(l_suppkey) FROM lineitem) // 4
                    AND (SELECT max(l_suppkey) FROM lineitem) // 2
""",
)
def q_scan_zorder_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-dimensional box query over the z-ordered layout: both range
    predicates push down to the clustered parquet files, where Morton
    clustering makes min/max footer stats selective in BOTH dimensions
    (a linear sort serves only its own column — measured in
    tests/test_zorder.py: the off-sort dimension prunes nothing
    there). At 100 TB this is the difference between a full scan and
    reading ~sqrt-fraction of files for every secondary-dimension
    predicate, without any index structure. The oracle runs the same
    box on the unclustered table — clustering must never change
    results, only I/O."""
    zpath, pk, sk = zorder_layout(spark, sf_dir)
    z = spark.read.parquet(zpath).where(
        (F.col("l_partkey") >= pk // 4)
        & (F.col("l_partkey") <= pk // 2)
        & (F.col("l_suppkey") >= sk // 4)
        & (F.col("l_suppkey") <= sk // 2)
    )
    return z.agg(
        F.count("*").alias("n_lines"),
        F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"),
        (F.sum(cents("l_extendedprice")) / 100.0).alias("sum_price"),
    )
