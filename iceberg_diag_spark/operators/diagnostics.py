"""Iceberg table-diagnostics metrics as a Spark DataFrame pipeline.

Re-expresses the reference aggregation engine
(``icebergdiag/metrics/table_metrics.py:46-155``) Spark-first, with no
Python on the executors:

  files ──one exchange──► hash aggregate per partition: BEFORE stats
         + sorted DATA sizes ──► SQL aggregate() bin-pack fold (A1, A8/A9)
  ──single agg──► all 9 global metrics                   (A2-A7, A10)
  unpivot (inline) ──► 9-row metric table with improvement  (A11)

Scale notes (100 TB):
- The input relation is Iceberg *metadata* (one row per data file):
  even a 100 TB table is ~1e6-1e8 rows — comfortably shuffle-able.
  Both aggregates are keyed by the partition value (or its table), and
  AQE coalesces the tiny post-agg exchanges.
- Per-partition stats are one row per partition; the final global agg
  is a single reduce — no driver-side loops. The one list buffered is
  each partition's DATA file sizes (metadata scale, boxed longs:
  ~16-24 MB per 10^6 files), folded in place by ``pack_fold_sql``.
- The plan is built from SQL text (``selectExpr`` / ``F.expr``), a few
  py4j calls per panel instead of thousands of Column builders.

Metric semantics pinned by tests/test_diagnostics_golden.py, derived
from the reference unit test (tests/test_metric_calculator.py:46-91).
All SQL-text builders here interpolate column names verbatim: they
take trusted identifiers only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from iceberg_diag_spark.functions.cost import (
    CONTENT_DATA,
    FETCH_SIZE,
    MILLISECONDS_PER_SCAN,
)
from iceberg_diag_spark.operators.binpack import pack_fold_sql

# Display order + reference display names (table_metric.py:9-18).
METRICS = [
    ("FULL_SCAN_OVERHEAD", "Full Scan Overhead"),
    ("WORST_SCAN_OVERHEAD", "Worst Partition Scan Overhead"),
    ("FILE_COUNT", "Total File Count"),
    ("WORST_FILE_COUNT", "Worst Partition File Count"),
    ("AVG_FILE_SIZE", "Avg Data File Size"),
    ("WORST_AVG_FILE_SIZE", "Worst Partition Avg Data File Size"),
    ("TOTAL_TABLE_SIZE", "Total Table Size"),
    ("LARGEST_PARTITION_SIZE", "Largest Partition Size"),
    ("TOTAL_PARTITIONS", "Total Partitions"),
]

_MS = MILLISECONDS_PER_SCAN


def _before_sql(size: str, content: str) -> list[str]:
    """BEFORE aggregates per partition (table_metrics.py:56-74):
    counts/sizes/overhead include ALL content kinds; data_* are
    DATA-only (content == 0)."""
    data = f"{content} = {CONTENT_DATA}"
    return [
        "count(*) AS file_count",
        f"sum({size}) AS total_size",
        f"sum({size} div {FETCH_SIZE} + 2) * {_MS} AS scan_overhead",
        f"sum(IF({data}, 1, 0)) AS data_file_count",
        f"coalesce(sum(IF({data}, {size}, NULL)), 0) AS data_size",
    ]


def partition_stats(
    files: DataFrame,
    partition_col: str = "partition_key",
    size_col: str = "file_size_in_bytes",
    content_col: str = "content",
) -> DataFrame:
    """Per-partition BEFORE aggregates — one shuffle, map-side combine.

    Columns out: partition_key, file_count, total_size, scan_overhead,
    data_file_count, data_size.
    """
    return files.groupBy(F.col(partition_col).alias("partition_key")).agg(
        *[F.expr(e) for e in _before_sql(size_col, content_col)]
    )


def partition_stats_with_after(
    files: DataFrame,
    partition_col: str = "partition_key",
    size_col: str = "file_size_in_bytes",
    content_col: str = "content",
    table_col: str | None = None,
) -> DataFrame:
    """BEFORE stats fused with simulated-compaction AFTER stats.

    AFTER per partition (table_metrics.py:136-141): bin-pack DATA file
    sizes; after_file_count = number of groups; after_scan_overhead =
    sum over groups of read_cost(group_total) * 1ms. Partitions whose
    files are all deletes get 0 groups (reference packs an empty list).

    Plan shape: ONE scan → ONE exchange on the partition key → one
    hash aggregate computing the BEFORE sums and
    ``array_sort(collect_list(DATA size))``, then the ``aggregate()``
    fold over that array in the projection above it. Separate BEFORE
    and AFTER branches would scan and shuffle the source twice
    (Catalyst reuses no exchange across them) and need a join.

    Output: one row per partition — (partition_key, file_count,
    total_size, scan_overhead, data_file_count, data_size,
    after_file_count, after_scan_overhead). With table_col set, the
    group key is (table, partition) and the table column is carried
    through — the multi-table single-job path (SURVEY §2 X1: the
    reference fans a thread pool across tables; here every table's
    metadata is one unioned relation and Spark schedules all tables'
    partitions as one job).
    """
    keys = [table_col] if table_col else []
    sizes = (
        f"array_sort(collect_list(IF({content_col} = {CONTENT_DATA},"
        f" CAST({size_col} AS BIGINT), NULL))) AS sizes"
    )
    cols = keys + [
        "partition_key", "file_count", "total_size", "scan_overhead",
        "data_file_count", "data_size",
    ]
    return (
        files.groupBy(*keys, F.col(partition_col).alias("partition_key"))
        .agg(*[F.expr(e) for e in _before_sql(size_col, content_col) + [sizes]])
        .selectExpr(*cols, f"{pack_fold_sql('sizes')} AS packed")
        .selectExpr(
            *cols,
            "packed.groups AS after_file_count",
            f"packed.cost * {_MS} AS after_scan_overhead",
        )
    )


def _worst_sql(name: str, before: str, after: str) -> str:
    red = f"{before} - {after}"
    return (
        f"max(IF({red} > 0, named_struct('red', {red}, 'before', {before},"
        f" 'after', {after}), NULL)) AS worst_{name}"
    )


# Second-level aggregation over per-partition rows (A2-A7 + the A10
# argmax), per table on the multi-table path. worst = min per-partition
# average over ALL files (deletes included —
# PartitionMetrics.average_file_size, :32-34).
#
# Argmax by reduction (A10, table_metrics.py:134-153): track the
# partition with max (before - after) reduction; only reductions
# strictly > 0 qualify (initial max is 0). max() over a struct orders
# lexicographically — reduction first — so one aggregate replaces the
# reference's sequential scan. Ties: the reference takes first-seen
# (dict order); we break by larger before value, deterministic under
# any partitioning.
_PER_TABLE_SQL = [
    "coalesce(sum(file_count), 0) AS file_count",
    "coalesce(sum(total_size), 0) AS total_size",
    "coalesce(sum(scan_overhead), 0) AS scan_overhead_sum",
    "coalesce(sum(data_file_count), 0) AS data_file_count",
    "coalesce(sum(data_size), 0) AS data_size",
    "count(*) AS total_partitions",
    "coalesce(min(total_size / file_count), 0D) AS worst_avg_file_size",
    "coalesce(max(total_size), 0) AS largest_partition_size",
    "coalesce(sum(after_file_count), 0) AS after_file_count",
    "coalesce(sum(after_scan_overhead), 0) AS after_full_scan_overhead",
    _worst_sql("fc", "file_count", "after_file_count"),
    _worst_sql("oh", "scan_overhead", "after_scan_overhead"),
]


def _aggregate_per_part(per_part: DataFrame, group_cols: list[str]) -> DataFrame:
    """Per-table stats from per-partition rows. The manifest term of
    FULL_SCAN_OVERHEAD is added by _nine_metric_rows (it is per-table
    external state, not derivable from the files relation)."""
    return per_part.groupBy(*group_cols).agg(*[F.expr(e) for e in _PER_TABLE_SQL])


# (before, after) SQL per metric; {m} is the per-table manifest count.
# Metrics without a local-mode "after" (table_metric.py:86-96) carry
# NULL after → NULL improvement.
_METRIC_SQL = {
    "FULL_SCAN_OVERHEAD": (
        f"scan_overhead_sum + {{m}} * {_MS}", "after_full_scan_overhead"
    ),
    "WORST_SCAN_OVERHEAD": (
        "coalesce(worst_oh.before, 0)", "coalesce(worst_oh.after, 0)"
    ),
    "FILE_COUNT": ("file_count", "after_file_count"),
    "WORST_FILE_COUNT": (
        "coalesce(worst_fc.before, 0)", "coalesce(worst_fc.after, 0)"
    ),
    "AVG_FILE_SIZE": (
        "IF(data_file_count > 0, data_size / data_file_count, 0D)", None
    ),
    "WORST_AVG_FILE_SIZE": ("worst_avg_file_size", None),
    "TOTAL_TABLE_SIZE": ("total_size", None),
    "LARGEST_PARTITION_SIZE": ("largest_partition_size", None),
    "TOTAL_PARTITIONS": ("total_partitions", None),
}

# Improvement (A11, table_metric.py:67-70): (1 - after/before)*100; 0
# when both are 0; +inf when before is 0 but after isn't; NULL when
# there is no after value.
_IMPROVEMENT_SQL = (
    "CASE WHEN after IS NULL THEN NULL"
    " WHEN before = 0 AND after = 0 THEN 0D"
    " WHEN before = 0 THEN CAST('Infinity' AS DOUBLE)"
    " ELSE (1D - after / before) * 100D END AS improvement"
)


def _nine_metric_rows(g: DataFrame, key_cols: list[str], manifests: str) -> DataFrame:
    """Unpivot the per-table stats into the 9-row metric layout with
    improvement (A11); ``manifests`` is SQL for the table's manifest
    count. key_cols pass through (empty for single-table,
    ["table_name"] for the multi-table job)."""
    structs = ", ".join(
        f"named_struct('metric', '{key}', 'ordinal', {i},"
        f" 'before', CAST({_METRIC_SQL[key][0].format(m=manifests)} AS DOUBLE),"
        f" 'after', CAST({_METRIC_SQL[key][1] or 'NULL'} AS DOUBLE))"
        for i, (key, _display) in enumerate(METRICS)
    )
    return (
        g.selectExpr(*key_cols, f"inline(array({structs}))")
        .selectExpr(*key_cols, "metric", "ordinal", "before", "after", _IMPROVEMENT_SQL)
        .orderBy(*key_cols, "ordinal")
    )


def table_metrics(files: DataFrame, manifest_files_count: int = 0) -> DataFrame:
    """The flagship diagnostics query: 9 metrics with before / after /
    improvement, exactly matching the reference's local mode.

    Output: (metric string, ordinal int, before double, after double
    nullable, improvement double nullable) — 9 rows.
    """
    g = _aggregate_per_part(partition_stats_with_after(files), [])
    return _nine_metric_rows(g, [], str(int(manifest_files_count)))


def multi_table_metrics(
    files: DataFrame,
    manifest_counts: DataFrame,
    table_col: str = "table_name",
) -> DataFrame:
    """ALL tables' diagnostics in ONE Spark job (SURVEY §2 X1 as a
    unioned job instead of the reference's 10-thread pool): `files`
    carries a table_name column (union of every table's `.files`
    relation), `manifest_counts` is the small (table_name,
    manifest_count) side — broadcast, since it is one row per table.

    Output: 9 metric rows per table, keyed by table_name. Scale
    shape: one exchange on (table, partition) feeds the fused
    stats+pack aggregate, one tiny per-table aggregate follows — 1000
    tables schedule as ordinary partitions of one job, not 1000
    sequential jobs.
    """
    per_part = partition_stats_with_after(files, table_col=table_col)
    g = _aggregate_per_part(per_part, [table_col]).join(
        F.broadcast(manifest_counts), table_col, "left"
    )
    return _nine_metric_rows(g, [table_col], "coalesce(manifest_count, 0)")
