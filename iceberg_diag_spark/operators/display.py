"""Display layer: format the 9-metric diagnostics table into the
reference's human-readable 4-column layout (Metric / Before / After /
Improvement) as a DataFrame of strings.

Semantics mirrored from the reference
(icebergdiag/metrics/table_metric.py:86-176,
table_metrics_displayer.py:26-46):
- metric types: duration (ms) / int / size (bytes) decide formatting;
- AVG_FILE_SIZE, WORST_AVG_FILE_SIZE never show improvement;
- durations with before<10ms and after<10ms display "0.00%";
- WORST_AVG_FILE_SIZE is hidden in local mode;
- missing after → empty strings.

Everything is one select of SQL-text CASE ladders (a few py4j calls
per panel), so the display transform itself distributes. Metric keys
are interpolated verbatim: they are this module's constants.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from iceberg_diag_spark.functions.formatting import (
    format_duration_ms,
    format_percent,
    format_size,
)
from iceberg_diag_spark.operators.diagnostics import METRICS

DURATION_METRICS = ["FULL_SCAN_OVERHEAD", "WORST_SCAN_OVERHEAD"]
INT_METRICS = ["FILE_COUNT", "WORST_FILE_COUNT", "TOTAL_PARTITIONS"]
SIZE_METRICS = [
    "AVG_FILE_SIZE",
    "WORST_AVG_FILE_SIZE",
    "TOTAL_TABLE_SIZE",
    "LARGEST_PARTITION_SIZE",
]
NO_IMPROVEMENT_METRICS = ["AVG_FILE_SIZE", "WORST_AVG_FILE_SIZE"]
REMOTE_ONLY_METRICS = ["WORST_AVG_FILE_SIZE"]

_DISPLAY_NAMES = dict(METRICS)


def _sql_list(values) -> str:
    return ", ".join(f"'{v}'" for v in values)


_IS_DURATION = f"metric IN ({_sql_list(DURATION_METRICS)})"
_NAME_SQL = (
    "CASE metric"
    + "".join(f" WHEN '{k}' THEN '{d}'" for k, d in _DISPLAY_NAMES.items())
    + " ELSE metric END AS metric_name"
)
_IMPROVEMENT_SQL = (
    f"CASE WHEN metric IN ({_sql_list(NO_IMPROVEMENT_METRICS)}) THEN ''"
    " WHEN improvement IS NULL THEN ''"
    f" WHEN {_IS_DURATION} AND before < 10 AND after < 10 THEN '0.00%'"
    f" ELSE {format_percent('improvement')} END AS improvement"
)


def _value_sql(col: str) -> str:
    return (
        f"CASE WHEN {col} IS NULL THEN ''"
        f" WHEN {_IS_DURATION} THEN {format_duration_ms(col)}"
        f" WHEN metric IN ({_sql_list(INT_METRICS)})"
        f" THEN CAST(CAST({col} AS BIGINT) AS STRING)"
        f" ELSE {format_size(col)} END AS {col}"
    )


def format_metrics(metrics: DataFrame, mode: str = "local") -> DataFrame:
    """(metric, ordinal, before, after, improvement) → formatted
    display rows (metric_name, before, after, improvement strings)."""
    out = metrics.selectExpr(
        "ordinal", _NAME_SQL, _value_sql("before"), _value_sql("after"),
        _IMPROVEMENT_SQL,
    )
    if mode == "local":
        hidden = [_DISPLAY_NAMES[m] for m in REMOTE_ONLY_METRICS]
        out = out.where(f"metric_name NOT IN ({_sql_list(hidden)})")
    return out.orderBy("ordinal").drop("ordinal")
