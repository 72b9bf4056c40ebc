"""Human-readable formatting as SQL text (SURVEY §2 F1-F3; reference:
icebergdiag/metrics/table_metric.py:62-65,134-176).

These are display-layer concerns, but implemented as JVM expressions
(CASE ladders over log-scaled units) rather than Python UDFs so a
formatted export of a billion-row result is still a codegen'd scan.
Each helper maps the SQL text of a numeric expression to the SQL text
of its formatted string — use it through ``F.expr`` / ``selectExpr``.
The argument is interpolated verbatim: pass trusted identifiers only.
"""

from __future__ import annotations

_SIZE_UNITS = ["B", "KB", "MB", "GB", "TB", "PB"]


def format_size(size: str) -> str:
    """bytes → '1.21 KB' (÷1024 ladder, 2 decimals, B..PB).

    Mirrors table_metric.py:164-176: unit advances while size >= 1024
    and a larger unit exists, i.e. PB is the terminal unit.
    """
    scaled = [f"CAST({size} AS DOUBLE) / {1024.0 ** i!r}D" for i in range(6)]
    steps = [f"format_string('%.2f {u}', {v})" for u, v in zip(_SIZE_UNITS, scaled)]
    whens = "".join(
        f" WHEN {v} < 1024D THEN {step}" for v, step in zip(scaled[:-1], steps)
    )
    # terminal unit — no further division regardless of size
    return f"CASE{whens} ELSE {steps[-1]} END"


def format_duration_ms(ms: str) -> str:
    """milliseconds → '1h 0m 0s' / '2m 5s' / '5.5s' / '<0.01s'
    (table_metric.py:134-150, including trailing-zero stripping on
    the seconds-only form)."""
    total = f"(CAST({ms} AS DOUBLE) / 1000D)"
    hours = f"FLOOR({total} / 3600)"
    minutes = f"FLOOR(({total} % 3600) / 60)"
    secs = f"({total} % 60)"
    secs_str = (
        f"regexp_replace(regexp_replace(format_string('%.2f', {secs}),"
        " '0+$', ''), '[.]$', '')"
    )
    return (
        f"CASE WHEN {hours} > 0"
        f" THEN format_string('%dh %dm %ds', {hours}, {minutes}, FLOOR({secs}))"
        f" WHEN {minutes} > 0"
        f" THEN format_string('%dm %ds', {minutes}, FLOOR({secs}))"
        f" WHEN {secs} > 0 AND {secs} < 0.01D THEN '<0.01s'"
        f" ELSE concat({secs_str}, 's') END"
    )


def format_percent(x: str) -> str:
    """float → '12.34%' (table_metric.py:62-65)."""
    return f"format_string('%.2f%%', CAST({x} AS DOUBLE))"


def glob_to_regex(pattern: str) -> str:
    """fnmatch-style glob → anchored Java regex (SURVEY §2 F4/P1):
    ``*`` → ``.*``, ``?`` → ``.``, everything else quoted."""
    special = set(r".^$+{}[]()|\\")
    out = []
    for ch in pattern:
        if ch == "*":
            out.append(".*")
        elif ch == "?":
            out.append(".")
        elif ch in special:
            out.append("\\" + ch)
        else:
            out.append(ch)
    return "^" + "".join(out) + "$"
