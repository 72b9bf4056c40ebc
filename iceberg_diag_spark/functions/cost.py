"""Scan cost model as Catalyst column expressions.

Semantics from the reference (constants and formula:
``icebergdiag/metrics/table_metrics.py:17-19,200-210``):
  read_cost(bytes) = bytes DIV 32MiB + 2   (floor division)
  overhead_ms     = read_cost * 1 ms, plus 1 ms per manifest file.
  compaction target group = 750 MiB (group closes only after the
  running size already EXCEEDS the cap — "check before append").

Kept as plain column expressions so they fold into whole-stage
codegen — no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

FETCH_SIZE = 32 * 1024 * 1024
MAX_GROUP_BYTE_SIZE = 750 * 1024 * 1024
MILLISECONDS_PER_SCAN = 1

# Iceberg DataFileContent codes (Iceberg spec).
CONTENT_DATA = 0
CONTENT_POSITION_DELETES = 1
CONTENT_EQUALITY_DELETES = 2


def read_file_cost(size: Column) -> Column:
    """Cost units to read one file: ``size DIV 32MiB + 2``."""
    return (size.cast("long") / F.lit(FETCH_SIZE)).cast("long") + F.lit(2)
