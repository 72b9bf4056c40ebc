"""Independent expected outputs for the benchmark's correctness checks.

- ``fleet_panel``: the reference ``MetricsCalculator`` re-implemented
  over numpy arrays (per-partition accumulation, the sequential
  check-before-append bin-pack fold, argmax-by-reduction worst
  partitions) plus the reference display formatting. It shares no
  code with the package.
- ``canonical_rows``: the row canonicalization the repository's
  DuckDB parity tests use (sorted column names, sorted rows, floats
  by repr), for comparing a collected Spark result with a DuckDB one.
"""

from __future__ import annotations

import math
import re
from decimal import ROUND_HALF_UP, Decimal

import numpy as np

FETCH_SIZE = 32 * 1024 * 1024
MAX_GROUP_BYTE_SIZE = 750 * 1024 * 1024

_DISPLAY = [
    ("FULL_SCAN_OVERHEAD", "Full Scan Overhead", "duration"),
    ("WORST_SCAN_OVERHEAD", "Worst Partition Scan Overhead", "duration"),
    ("FILE_COUNT", "Total File Count", "int"),
    ("WORST_FILE_COUNT", "Worst Partition File Count", "int"),
    ("AVG_FILE_SIZE", "Avg Data File Size", "size"),
    ("WORST_AVG_FILE_SIZE", "Worst Partition Avg Data File Size", "size"),
    ("TOTAL_TABLE_SIZE", "Total Table Size", "size"),
    ("LARGEST_PARTITION_SIZE", "Largest Partition Size", "size"),
    ("TOTAL_PARTITIONS", "Total Partitions", "int"),
]
_NO_IMPROVEMENT = {"AVG_FILE_SIZE", "WORST_AVG_FILE_SIZE"}
_LOCAL_HIDDEN = {"WORST_AVG_FILE_SIZE"}


def _pack(sorted_sizes) -> tuple[int, int]:
    """Sequential greedy fold: a group closes once its running total
    already exceeds the cap, before the next file is appended.
    Returns (groups, summed read cost of the groups)."""
    groups = cost = count = total = 0
    for s in sorted_sizes:
        if total > MAX_GROUP_BYTE_SIZE:
            groups += 1
            cost += total // FETCH_SIZE + 2
            count = total = 0
        count += 1
        total += s
    if count:
        groups += 1
        cost += total // FETCH_SIZE + 2
    return groups, cost


def table_metrics(keys, sizes, content, manifests: int) -> dict:
    """{metric: (before, after or None)} for one table."""
    keys = np.asarray(keys)
    sizes = np.asarray(sizes, dtype=np.int64)
    content = np.asarray(content)
    order = np.argsort(keys, kind="stable")
    keys, sizes, content = keys[order], sizes[order], content[order]
    bounds = np.flatnonzero(keys[1:] != keys[:-1]) + 1
    starts = np.concatenate([[0], bounds])
    ends = np.concatenate([bounds, [keys.size]])
    parts = []
    for a, b in zip(starts, ends):
        sz, ct = sizes[a:b], content[a:b]
        data = np.sort(sz[ct == 0])
        groups, cost = _pack(data.tolist())
        parts.append({
            "files": int(b - a),
            "size": int(sz.sum()),
            "overhead": int((sz // FETCH_SIZE + 2).sum()),
            "data_files": int(data.size),
            "data_size": int(data.sum()),
            "after_files": groups,
            "after_overhead": cost,
        })

    def worst(before: str, after: str) -> tuple[float, float]:
        best = None
        for p in parts:
            red = p[before] - p[after]
            if red > 0:
                cand = (red, p[before], p[after])
                best = cand if best is None or cand > best else best
        return (float(best[1]), float(best[2])) if best else (0.0, 0.0)

    data_files = sum(p["data_files"] for p in parts)
    data_size = sum(p["data_size"] for p in parts)
    return {
        "FULL_SCAN_OVERHEAD": (
            float(sum(p["overhead"] for p in parts) + manifests),
            float(sum(p["after_overhead"] for p in parts)),
        ),
        "WORST_SCAN_OVERHEAD": worst("overhead", "after_overhead"),
        "FILE_COUNT": (
            float(sum(p["files"] for p in parts)),
            float(sum(p["after_files"] for p in parts)),
        ),
        "WORST_FILE_COUNT": worst("files", "after_files"),
        "AVG_FILE_SIZE": (data_size / data_files if data_files else 0.0, None),
        "WORST_AVG_FILE_SIZE": (min(p["size"] / p["files"] for p in parts), None),
        "TOTAL_TABLE_SIZE": (float(sum(p["size"] for p in parts)), None),
        "LARGEST_PARTITION_SIZE": (float(max(p["size"] for p in parts)), None),
        "TOTAL_PARTITIONS": (float(len(parts)), None),
    }


def _fixed2(x: float) -> str:
    """printf("%.2f") as the JVM renders it: HALF_UP on the shortest
    decimal form of the double."""
    if math.isinf(x):
        return "Infinity" if x > 0 else "-Infinity"
    return str(Decimal(repr(x)).quantize(Decimal("0.01"), rounding=ROUND_HALF_UP))


def _duration(ms: float) -> str:
    ts = ms / 1000.0
    hours = math.floor(ts / 3600)
    minutes = math.floor((ts % 3600) / 60)
    seconds = ts % 60
    if hours > 0:
        return f"{hours}h {minutes}m {math.floor(seconds)}s"
    if minutes > 0:
        return f"{minutes}m {math.floor(seconds)}s"
    if 0 < seconds < 0.01:
        return "<0.01s"
    return re.sub(r"\.$", "", re.sub(r"0+$", "", _fixed2(seconds))) + "s"


def _size(b: float) -> str:
    units = ["B", "KB", "MB", "GB", "TB", "PB"]
    for i, u in enumerate(units):
        scaled = b / (1024.0 ** i)
        if scaled < 1024.0 or i == len(units) - 1:
            return f"{_fixed2(scaled)} {u}"
    raise AssertionError


def fleet_panel(keys, sizes, content, manifests: int) -> list[tuple[str, str, str, str]]:
    """The local-mode display panel: (metric_name, before, after,
    improvement) strings in display order."""
    m = table_metrics(keys, sizes, content, manifests)
    rows = []
    for key, name, kind in _DISPLAY:
        if key in _LOCAL_HIDDEN:
            continue
        before, after = m[key]
        fmt = {"duration": _duration, "int": lambda v: str(int(v)), "size": _size}[kind]
        if after is None or key in _NO_IMPROVEMENT:
            imp = ""
        elif kind == "duration" and before < 10 and after < 10:
            imp = "0.00%"
        elif before == 0 and after == 0:
            imp = _fixed2(0.0) + "%"
        elif before == 0:
            imp = "Infinity%"
        else:
            imp = _fixed2((1.0 - after / before) * 100.0) + "%"
        rows.append((name, fmt(before), "" if after is None else fmt(after), imp))
    return rows


_NUM = re.compile(r"^(-?\d+(?:\.\d+)?)(.*)$")


def _cell_equal(got: str, want: str) -> bool:
    """Exact, or equal up to the last printed digit of a two-decimal
    number (the JVM and Python may round a decimal tie apart)."""
    if got == want:
        return True
    a, b = _NUM.match(got), _NUM.match(want)
    if not (a and b) or a.group(2) != b.group(2) or "." not in got:
        return False
    return abs(float(a.group(1)) - float(b.group(1))) <= 0.0100001


def panel_matches(got_rows, want_rows) -> bool:
    if len(got_rows) != len(want_rows):
        return False
    return all(
        len(g) == len(w) and all(_cell_equal(str(x), y) for x, y in zip(g, w))
        for g, w in zip(got_rows, want_rows)
    )


def _norm(v) -> str:
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v + 0.0)
    if isinstance(v, bytes):
        return v.hex()
    return repr(v)


def canonical_rows(cols, rows) -> tuple:
    """(sorted column names, sorted canonical rows) — the shape the
    parity comparison uses."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return (
        tuple(sorted(cols)),
        tuple(sorted(tuple(_norm(r[i]) for i in idx) for r in rows)),
    )
