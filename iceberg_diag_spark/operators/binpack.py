"""Greedy bin-packing of file sizes — the one operator in the
reference that is genuinely not window/relational-expressible.

Reference semantics (``icebergdiag/metrics/table_metrics.py:179-197``):
sort sizes ascending, fold left accumulating into the current group;
a group is closed only when its running total ALREADY exceeds the cap
before appending the next file ("check-before-append"), so every
closed group slightly exceeds the 750 MiB cap. The reset depends on
where the previous group closed, which makes it a sequential stateful
fold — not expressible with window prefix sums.

Spark mapping, two forms:
- ``pack_fold_sql`` (the diagnostics panel): the partition's hash
  aggregate buffers its DATA sizes as one sorted array and the SQL
  ``aggregate()`` higher-order function folds it to (groups, cost) —
  no Python worker, no per-group rows. At 100 TB the input is
  *metadata* scale (one row per data file), so one partition's buffer
  is a list of longs, boxed in the JVM: ~16-24 MB per 10^6 files.
- ``binpack_groups``: grouped-map ``applyInPandas`` keyed by
  partition, for callers that need one row per (partition, group).

Parallelism caveat (inherent to the reference's per-partition fold):
both forms fold one partition in one task, so an UNPARTITIONED table
folds in one task. That task is O(n log n) over the table's
file-count metadata (sort + one pass); a table whose *file count*
alone is too large for one task's aggregate buffer has bigger
problems than this fold.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame

from iceberg_diag_spark.functions.cost import FETCH_SIZE, MAX_GROUP_BYTE_SIZE

GROUPS_SCHEMA = (
    "partition_key string, group_id long, group_file_count long, group_size long"
)


def pack_sizes(sizes, max_bytes_per_group: int = MAX_GROUP_BYTE_SIZE):
    """Pure-python reference fold, the oracle of the property tests.
    Returns list of (count, total_size) per group.

    Mirrors check-before-append semantics exactly.
    """
    groups: list[tuple[int, int]] = []
    count = 0
    total = 0
    for s in sorted(sizes):
        if total > max_bytes_per_group:
            groups.append((count, total))
            count = 0
            total = 0
        count += 1
        total += int(s)
    if count:
        groups.append((count, total))
    return groups


def pack_fold_sql(sizes: str) -> str:
    """SQL text folding an ascending array<bigint> of sizes to
    ``struct<groups bigint, cost bigint>``: the number of packed
    groups and the sum of their read costs (``total DIV FETCH + 2``),
    exactly ``pack_sizes``' result at the 750 MiB cap in aggregate
    form. State (g, c, t): closed groups, their cost, the open group's
    total; an empty array packs to (0, 0).

    ``sizes`` is interpolated verbatim: pass trusted identifiers only.
    """
    cap, fetch = MAX_GROUP_BYTE_SIZE, FETCH_SIZE
    return (
        f"aggregate({sizes}, named_struct('g', 0L, 'c', 0L, 't', 0L), (a, s) ->"
        f" IF(a.t > {cap}, named_struct('g', a.g + 1,"
        f" 'c', a.c + a.t div {fetch} + 2, 't', s),"
        f" named_struct('g', a.g, 'c', a.c, 't', a.t + s)),"
        f" a -> IF(size({sizes}) > 0, named_struct('groups', a.g + 1,"
        f" 'cost', a.c + a.t div {fetch} + 2),"
        f" named_struct('groups', 0L, 'cost', 0L)))"
    )


def binpack_groups(
    data_files: DataFrame,
    partition_col: str = "partition_key",
    size_col: str = "file_size_in_bytes",
    max_bytes_per_group: int = MAX_GROUP_BYTE_SIZE,
) -> DataFrame:
    """DATA-file sizes per partition -> one row per packed group.

    Input: DataFrame with (partition_col, size_col) — caller filters to
    DATA content. Output: (partition_key, group_id, group_file_count,
    group_size).
    """

    def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
        key = pdf[partition_col].iloc[0]
        sizes = np.sort(pdf[size_col].to_numpy())
        rows = []
        count = 0
        total = 0
        gid = 0
        for s in sizes:
            if total > max_bytes_per_group:
                rows.append((key, gid, count, total))
                gid += 1
                count = 0
                total = 0
            count += 1
            total += int(s)
        if count:
            rows.append((key, gid, count, total))
        return pd.DataFrame(
            rows,
            columns=[partition_col, "group_id", "group_file_count", "group_size"],
        )

    cols = data_files.select(partition_col, size_col)
    return cols.groupBy(partition_col).applyInPandas(_pack, schema=GROUPS_SCHEMA)
