"""The compacter pipeline — the reference engine's reason to exist.

``compact_batch`` is the batch form of v1's loop body / v2's DAG
(SURVEY §3.1-3.2): NDJSON paths → enrich (district literal, multi-scale
epoch → hiveperiod/datetime_wita, source filename) → partitioned snappy
parquet append. ``repair_misfiled`` finishes what the reference's
data-cleaner starts (SURVEY §3.4) and ``compact_partitions`` implements the
stubbed daily compactor (datalog_compacter.py:1-26). This module decides
WHAT to write; how the lake is written — the writer chain, dynamic
partition overwrite and the deletion of partitions a rewrite leaves empty
(the reference's duplicate-on-repair gap: old files were never deleted) —
lives in ``sources.lake`` (``write_lake`` / ``replace_partitions``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from enterprise_iot_bigdata_pipeline_spark.functions.epoch import (
    derive_hiveperiod,
    normalize_epoch_auto,
    to_local,
)
from enterprise_iot_bigdata_pipeline_spark.sources.lake import (
    PARTITION_COLS,
    replace_partitions,
    table_partition_cols,
    write_lake,
)
from enterprise_iot_bigdata_pipeline_spark.sources.ndjson import read_ndjson


def enrich(df: DataFrame, distrik: str, tz_hours: int = 8) -> DataFrame:
    """The signature enrichment (gzip-to-parquet-etl.py:225-244):
    dstrct_code literal, hiveperiod/datetime_wita from heartbeat."""
    local_ts = to_local(normalize_epoch_auto(F.col("heartbeat")), tz_hours)
    return (
        df.withColumn("dstrct_code", F.lit(distrik))
        .withColumn("hiveperiod", local_ts.cast("date"))
        .withColumn("datetime_wita", local_ts)
    )


def compact_batch(
    spark: SparkSession,
    paths: list[str],
    target: str,
    distrik: str,
    schema=None,
) -> int:
    """One micro-batch: read NDJSON → enrich → partitioned append.

    Returns the row count (0 → nothing written, the reference's
    empty-batch short-circuit, gzip-to-parquet-etl.py:254-257).
    """
    from pyspark.errors.exceptions.base import AnalysisException

    try:
        raw = read_ndjson(spark, paths, schema=schema)
    except AnalysisException as exc:
        # ONLY the empty/uninferable-input case short-circuits; a blanket
        # catch here silently dropped whole batches on PATH_NOT_FOUND
        # (one typo'd or raced-away path = every other file's rows lost
        # with "0 rows, success" reported)
        cond = getattr(exc, "getCondition", exc.getErrorClass)()
        if cond == "UNABLE_TO_INFER_SCHEMA":
            return 0
        raise
    if not raw.columns or raw.columns == ["source_file"]:
        return 0  # inference found no data columns (all-empty files)
    if "heartbeat" not in raw.columns and schema is None:
        # poison batch: every line corrupt (columns = [_corrupt_record,
        # source_file]) or a foreign feed without the heartbeat field —
        # enrich() would abort the stream on UNRESOLVED_COLUMN. Same
        # graceful quarantine as the empty batch, but say so.
        import warnings

        warnings.warn(
            f"compact_batch: no 'heartbeat' column in batch {paths[:3]}… "
            f"(inferred: {raw.columns}) — batch skipped, not compacted",
            stacklevel=2,
        )
        return 0
    # persist: the count and the write must not each re-gunzip and
    # re-parse every input file (micro-batches are bounded by
    # maxFilesPerTrigger, so caching one batch is cheap)
    df = enrich(raw, distrik).persist()
    try:
        n = df.count()
        if n == 0:
            return 0
        write_lake(df, target)
    finally:
        df.unpersist()
    return n


def _misfiled(accurate: Column) -> Column:
    """Null-safe misfiled predicate for a row whose event-time date is
    ``accurate``: a row stored in the NULL partition
    (__HIVE_DEFAULT_PARTITION__) with a valid heartbeat IS misfiled —
    plain != evaluates to NULL there and silently hides it. Rows whose
    accurate date can't be computed (null heartbeat) are not misfiled:
    there is no correct partition to move them to."""
    return ~F.col("hiveperiod").eqNullSafe(accurate) & accurate.isNotNull()


def audit_misfiled(lake: DataFrame, tz_hours: int = 8) -> DataFrame:
    """Rows whose stored partition date ≠ true event-time date — the
    reference's production invariant (data-cleaner.py:109-117). Returns
    DISTINCT (hiveperiod, dstrct_code, accurate_wita_date) to repair."""
    return (
        lake.withColumn("accurate_wita_date", derive_hiveperiod(F.col("heartbeat"), tz_hours))
        .filter(_misfiled(F.col("accurate_wita_date")))
        .select("hiveperiod", "dstrct_code", "accurate_wita_date")
        .distinct()
    )


def repair_misfiled(spark: SparkSession, root: str, tz_hours: int = 8) -> int:
    """Rewrite misfiled rows into their correct partitions.

    Unlike the reference (append-only, leaves stale copies), this replaces
    partitions (``replace_partitions``). The rewrite set is the union of
    source (bad) and target (accurate-date) partitions: dynamic overwrite
    replaces every partition present in the output, so the target
    partitions must be read and rewritten too or their pre-existing correct
    rows would be dropped. One pass is closed under movement — every
    misfiled row's current partition is by definition a bad period, so no
    row can move to a partition outside bad ∪ target. A bad partition
    whose rows were ALL misfiled is left empty by the rewrite and deleted.

    Partition columns are DERIVED from the table's directory layout
    (round-2 advice): an epoch-partitioned streaming target
    (``ingest_epoch=…/hiveperiod=…/dstrct_code=…``) is rewritten under its
    own full layout — misfiled rows move across hiveperiod *within* their
    other partition values, and the dynamic overwrite keys on the real
    partition tuple instead of leaving the epoch level's files behind.
    """
    pcols = table_partition_cols(spark, root) or PARTITION_COLS
    if "hiveperiod" not in pcols:
        raise ValueError(
            f"repair_misfiled: lake at {root} has partition layout {pcols} "
            "without a hiveperiod level — nothing to repair by event date"
        )
    lake = spark.read.parquet(root)
    accurate = derive_hiveperiod(F.col("heartbeat"), tz_hours)
    affected = (
        lake.withColumn("target_period", accurate)
        .filter(_misfiled(F.col("target_period")))
        .select(*pcols, "target_period")
        .distinct()
    )
    moves = affected.collect()  # partition list: tiny, control plane
    if not moves:
        return 0

    # The bad partitions, rebuilt from the already-collected moves:
    # control-plane rows, no second lake scan.
    bad = spark.createDataFrame(moves, affected.schema).select(*pcols)
    periods = sorted(
        {str(r["hiveperiod"]) for r in moves if r["hiveperiod"] is not None}
        | {str(r["target_period"]) for r in moves}
    )
    in_scope = F.col("hiveperiod").isin(periods)
    if any(r["hiveperiod"] is None for r in moves):
        # rows misfiled INTO the null partition are in scope too
        in_scope = in_scope | F.col("hiveperiod").isNull()
    subset = lake.filter(in_scope)
    # Rows whose accurate date can't be computed (null heartbeat) keep
    # their current partition instead of migrating to the null partition.
    fixed = subset.withColumn("hiveperiod", F.coalesce(accurate, F.col("hiveperiod")))
    # CRASH IDEMPOTENCE: a crash between the overwrite commit and the
    # stale-dir delete leaves a row's corrected copy in its target
    # partition AND its stale copy in the (not-yet-deleted) bad dir; a
    # rerun reads BOTH and would bake the duplicate into the target
    # forever. Reconstruct each row group's true multiplicity as the MAX
    # over its ORIGIN partitions: crash twins live in different origins
    # (max(1,1) = 1 collapses them) while genuine duplicate rows share
    # one origin (max keeps their count). Needs groupable columns — a
    # map-typed lake falls back to the direct rewrite with a warning.
    data_cols = list(lake.columns)
    if any("map<" in t for _, t in lake.dtypes):
        import warnings

        warnings.warn(
            "repair_misfiled: map-typed column prevents the crash-twin "
            "dedup; a rerun after a mid-repair crash may duplicate moved "
            "rows",
            stacklevel=2,
        )
        out = fixed
    else:
        origin = subset.withColumn("_origin", F.col("hiveperiod")).withColumn(
            "hiveperiod", F.coalesce(accurate, F.col("hiveperiod"))
        )
        per_origin = origin.groupBy(*data_cols, "_origin").agg(
            F.count(F.lit(1)).alias("_n")
        )
        mult = per_origin.groupBy(*data_cols).agg(F.max("_n").alias("_n"))
        out = mult.select(
            *data_cols,
            F.explode(F.sequence(F.lit(1), F.col("_n"))).alias("_i"),
        ).drop("_i")
    return replace_partitions(out, root, bad)


def compact_partitions(spark: SparkSession, root: str, target_files: int = 1) -> None:
    """Daily small-file compaction (the reference's TODO stub): rewrite
    each partition into ~``target_files`` files, dynamic overwrite. The
    partition layout is derived from the table, so epoch-partitioned
    streaming targets compact under their own full layout instead of
    collapsing the epoch level into duplicated rows (round-2 advice).

    Shuffle shape: ``write_lake``'s repartition on the partition columns
    plus a content-hash salt mod ``target_files`` — each partition fans
    out to ~``target_files`` tasks/files while job parallelism stays
    #partitions × target_files. (The earlier ``repartition(target_files,
    *pcols)`` set the TOTAL task count to target_files: with the default
    1, one task rewrote the entire lake serially, and the per-partition
    file count never followed the knob at all.)"""
    pcols = table_partition_cols(spark, root) or PARTITION_COLS
    write_lake(spark.read.parquet(root), root, "overwrite", pcols, int(target_files))
