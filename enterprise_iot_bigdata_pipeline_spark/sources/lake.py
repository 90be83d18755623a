"""The partitioned parquet lake (SURVEY §2.1 S2/K1) and its write policy.

Reference layout: ``…/datalog_v2/hiveperiod=YYYY-MM-DD/dstrct_code=X/*.parquet``
written by ``COPY … PARTITION_BY (hiveperiod,dstrct_code) … APPEND``
(gzip-to-parquet-etl.py:262-274) targeting 150-250 MB files per partition
(README-compacterv1.md:79-104).

Spark: ``partitionBy`` writes the same Hive layout with task-UUID file
names; partition discovery/pruning on read is built in. The writer
repartitions by the partition columns first so each partition is produced
by few tasks (the big-file goal) instead of #tasks × #partitions shards.

Every writer into the lake — the compacter (``compact_batch``), the
streaming sink (``write_epoch_batch``), the misfiled-partition repair, the
daily compactor and the MERGE — goes through the two functions here:
``write_lake`` owns the writer chain (partition repartition, snappy,
``partitionBy``, writer-level dynamic overwrite) and ``replace_partitions``
owns the replace bookkeeping (overwrite exactly a frame's partitions, then
delete the in-scope partitions the write left empty — the reference's
repair appended and left stale copies behind, SURVEY §3.4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

PARTITION_COLS = ("hiveperiod", "dstrct_code")


def read_lake(
    spark: SparkSession, root: str, empty_schema: StructType | str | None = None
) -> DataFrame:
    """Whole-lake scan (glob, S2).

    ``empty_schema``: a lake that streaming sinks populate may not EXIST
    yet — day-one deploy, new tenant, every micro-batch empty so far (the
    skip-on-empty sink writes nothing). A dashboard read must see an empty
    typed table then, not PATH_NOT_FOUND (empty-corpus probe, round 12).
    With a schema provided, a missing root returns a zero-row frame of
    that schema; without one, the loud error stands (a TYPO'd path must
    not silently read as empty).
    """
    if empty_schema is not None:
        from py4j.protocol import Py4JJavaError

        jvm = spark.sparkContext._jvm
        jconf = spark.sparkContext._jsc.hadoopConfiguration()
        jpath = jvm.org.apache.hadoop.fs.Path(root)
        try:
            exists = jpath.getFileSystem(jconf).exists(jpath)
        except Py4JJavaError:
            exists = False
        if not exists:
            return spark.createDataFrame([], empty_schema)
    return spark.read.parquet(root)


def write_lake(
    df: DataFrame,
    root: str,
    mode: str = "append",
    partition_cols: tuple[str, ...] = PARTITION_COLS,
    files_per_partition: int = 1,
) -> None:
    """The lake's writer chain: partitioned snappy parquet (K1).

    ``repartition`` on the partition key concentrates each partition into
    one task → few large files; ``files_per_partition`` > 1 adds a
    content-hash salt to that key so each partition fans out to about that
    many tasks and files while the job stays #partitions × files wide.

    ``mode="overwrite"`` is a writer-level DYNAMIC overwrite: only the
    partitions present in ``df`` are replaced. Mutating the session conf
    instead would silently flip every later partitioned overwrite in the
    session. Partitions the write leaves empty survive it — see
    ``replace_partitions``.
    """
    keys = [F.col(c) for c in partition_cols]
    if files_per_partition > 1:
        keys.append(
            F.pmod(
                F.xxhash64(F.struct(*[F.col(c) for c in df.columns])),
                F.lit(files_per_partition),
            )
        )
    w = df.repartition(*keys).write.mode(mode).option("compression", "snappy")
    if mode == "overwrite":
        w = w.option("partitionOverwriteMode", "dynamic")
    w.partitionBy(*partition_cols).parquet(root)


def replace_partitions(df: DataFrame, root: str, scope: DataFrame) -> int:
    """Make ``df`` the full content of its partitions in the lake at
    ``root`` and delete every partition of ``scope`` it leaves empty.

    ``scope``'s columns are the lake's partition columns, in layout order;
    its rows are the partitions the caller is rewriting. Dynamic overwrite
    only replaces partitions PRESENT in the output, so a scope partition
    whose rows all moved elsewhere would otherwise keep its stale files.

    Both partition sets are taken BEFORE the write: afterwards frames
    reading the lake would see the just-overwritten files. ``df`` is
    persisted because the set, the count and the write all consume it.
    Returns the number of rows written.
    """
    pcols = tuple(scope.columns)
    in_scope = partition_values_set(scope, pcols)
    df = df.persist()
    try:
        written = partition_values_set(df, pcols)
        n = df.count()
        write_lake(df, root, "overwrite", pcols)
    finally:
        df.unpersist()
    _delete_partition_dirs(df.sparkSession, root, pcols, in_scope - written)
    return n


def table_partition_cols(spark: SparkSession, root: str) -> tuple[str, ...]:
    """Derive a lake's hive partition columns from its directory layout
    (walk one ``col=value`` chain from the root). Lets the maintenance
    operators handle both plain ``(hiveperiod, dstrct_code)`` lakes and
    epoch-partitioned streaming targets (``write_epoch_batch`` writes
    ``ingest_epoch=…/hiveperiod=…/dstrct_code=…``) instead of silently
    rewriting a mixed layout (round-2 advice)."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(root)
    fs = p.getFileSystem(conf)
    cols: list[str] = []
    while True:
        nxt = None
        for status in fs.listStatus(p):
            name = status.getPath().getName()
            if status.isDirectory() and "=" in name and not name.startswith("_"):
                nxt = (name.split("=", 1)[0], status.getPath())
                break
        if nxt is None:
            return tuple(cols)
        cols.append(nxt[0])
        p = nxt[1]


def partition_values_set(df: DataFrame, pcols) -> set[tuple]:
    """Distinct partition-value tuples of ``df`` as SPARK-cast strings
    (None preserved): the same string Spark's writer derives the
    directory name from — unlike Python ``str()``, which formats
    booleans/floats/None differently and would compose paths that never
    match the on-disk layout."""
    return {
        tuple(r[c] for c in pcols)
        for r in df.select(
            *[F.col(c).cast("string").alias(c) for c in pcols]
        )
        .distinct()
        .collect()
    }


def _delete_partition_dirs(spark: SparkSession, root: str, pcols, parts) -> None:
    """Remove partition directories for the given value tuples (ordered as
    ``pcols``, values Spark-cast strings or None — see
    ``partition_values_set``), pruning ancestors left childless, via
    Hadoop FileSystem — storage-agnostic.

    Directory names are composed with Spark's own
    ``ExternalCatalogUtils.getPartitionPathString`` so NULL values map to
    ``__HIVE_DEFAULT_PARTITION__`` and special characters URL-escape
    exactly as the writer escaped them — a raw ``f"{c}={v}"`` silently
    misses those directories and the stale partition survives."""
    if not parts:
        return
    jvm = spark.sparkContext._jvm
    cat = jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    root_path = jvm.org.apache.hadoop.fs.Path(root)
    fs = root_path.getFileSystem(conf)
    # Qualified-Path equality, not string comparison: a scheme-qualified
    # or unnormalized root ('file:///x', '/x//y') never string-matches
    # Path.toString(), and the prune would climb past — and delete — the
    # table root itself (then NPE at the filesystem root).
    root_q = fs.makeQualified(root_path)
    for values in sorted(parts, key=lambda vs: tuple(v or "" for v in vs)):
        rel = "/".join(
            cat.getPartitionPathString(c, v) for c, v in zip(pcols, values)
        )
        p = fs.makeQualified(jvm.org.apache.hadoop.fs.Path(f"{root}/{rel}"))
        fs.delete(p, True)
        parent = p.getParent()
        while (
            parent is not None
            and not parent.equals(root_q)
            and fs.exists(parent)
            and len(fs.listStatus(parent)) == 0
        ):
            fs.delete(parent, True)
            parent = parent.getParent()


def write_sorted_lake(
    df: DataFrame,
    root: str,
    sort_cols: tuple[str, ...],
    n_files: int = 8,
) -> None:
    """Data-skipping layout: range-partition by ``sort_cols`` then sort
    within each file, so every parquet file covers a DISJOINT value range
    and its footer min/max stats let readers skip whole files/row groups
    for selective filters (the poor man's clustering/Z-order for a single
    sort dimension — the dashboard's time-range scans read only the files
    whose range overlaps the predicate).
    """
    (
        df.repartitionByRange(n_files, *[df[c] for c in sort_cols])
        .sortWithinPartitions(*sort_cols)
        .write.mode("overwrite")
        .option("compression", "snappy")
        .parquet(root)
    )


def zorder_key(cols, ranges: dict, bits: int = 8):
    """Z-order (Morton) interleave of the given numeric columns: each
    column maps to a ``bits``-bit cell via ``width_bucket`` over its
    ``(lo, hi)`` range, then the bit planes interleave into one long.
    Sorting by this key clusters rows that are close in EVERY dimension
    into the same files, so footer min/max stats prune selective filters
    on ANY of the clustered columns — the multi-dimensional counterpart
    of ``write_sorted_lake``'s single-sort.

    Pure map-side JVM expressions (width_bucket + bit arithmetic) given
    the precomputed ranges — no window, no global sort, no UDF.
    """
    import math

    # The interleaved key must fit the sign-excluded 63 bits of a long —
    # past that the sign bit flips sort order and high planes silently
    # drop. Auto-shrink per-column resolution instead of corrupting keys.
    bits = min(bits, 63 // max(len(cols), 1))
    if bits < 1:
        raise ValueError(f"too many z-order columns ({len(cols)}) for a 64-bit key")
    n_cells = 1 << bits

    def cell(c):
        lo, hi = ranges[c]
        # Empty input / all-null / non-finite stats degrade to the
        # constant-column single cell rather than emitting broken ranges.
        if (
            lo is None
            or hi is None
            or not math.isfinite(lo)
            or not math.isfinite(hi)
            or hi <= lo
        ):
            return F.lit(0).cast("long")
        b = F.width_bucket(
            F.col(c).cast("double"), F.lit(float(lo)), F.lit(float(hi)), F.lit(n_cells)
        )
        return F.least(F.greatest(b - 1, F.lit(0)), F.lit(n_cells - 1)).cast("long")

    cells = {c: cell(c) for c in cols}
    key = F.lit(0).cast("long")
    for plane in range(bits - 1, -1, -1):
        for c in cols:
            bit = F.shiftrightunsigned(cells[c], plane).bitwiseAND(F.lit(1))
            key = F.shiftleft(key, 1).bitwiseOR(bit)
    return key


def write_zordered_lake(
    df: DataFrame,
    root: str,
    cluster_cols: tuple[str, ...],
    n_files: int = 8,
) -> None:
    """Multi-dimensional clustering write (Delta's OPTIMIZE ZORDER shape):
    one bounded min/max agg per clustered column (control-plane: 2 scalars
    each), then range-partition + sort by the Morton key so files cover
    compact hyper-rectangles and parquet footer stats prune point/range
    filters on every clustered column, not just the leading sort column."""
    stats = df.agg(
        *[F.min(F.col(c).cast("double")).alias(f"lo_{c}") for c in cluster_cols],
        *[F.max(F.col(c).cast("double")).alias(f"hi_{c}") for c in cluster_cols],
    ).collect()[0]
    ranges = {c: (stats[f"lo_{c}"], stats[f"hi_{c}"]) for c in cluster_cols}
    zcol = "__z"
    while zcol in df.columns:  # never shadow (then drop) a user column
        zcol += "_"
    keyed = df.withColumn(zcol, zorder_key(cluster_cols, ranges))
    (
        keyed.repartitionByRange(n_files, F.col(zcol))
        .sortWithinPartitions(zcol)
        .drop(zcol)
        .write.mode("overwrite")
        .option("compression", "snappy")
        .parquet(root)
    )
