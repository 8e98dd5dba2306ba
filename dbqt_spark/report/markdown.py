"""Markdown report sinks.

``write_nullcheck_report`` reproduces the reference's report shape
(dbqt/tools/nullcheck.py:72-104, golden-string tested in the reference's
tests/tools/test_nullcheck.py:67-105): per-table NULL columns,
low-distinct dict, global summary.
"""

from __future__ import annotations


def format_nullcheck_report(results: dict[str, dict[str, int]]) -> str:
    """results: {table: {column: distinct_count}} — empty dict for a table
    means column lookup failed."""
    lines: list[str] = ["# Null Column Check Results", ""]
    all_null_columns: list[str] = []

    for table_name, columns in results.items():
        if not columns:
            lines += [f"## {table_name}", "ERROR: No columns found", ""]
            continue

        null_cols = [col for col, count in columns.items() if count == 0]
        all_null_columns.extend(f"{table_name}.{col}" for col in null_cols)

        lines.append(f"## {table_name}")
        lines.append(f"Total columns: {len(columns)}")
        if null_cols:
            lines.append(
                f"NULL columns ({len(null_cols)}): {', '.join(null_cols)}"
            )
        else:
            lines.append("No NULL columns found")
        low_distinct = {
            col: count for col, count in columns.items() if 0 < count <= 5
        }
        if low_distinct:
            lines.append(f"Low distinct counts: {low_distinct}")
        lines.append("")

    lines.append("# Summary")
    lines.append(f"Total NULL columns: {len(all_null_columns)}")
    if all_null_columns:
        lines.append(f"NULL columns: {', '.join(all_null_columns)}")
    return "\n".join(lines) + "\n"


def write_nullcheck_report(path: str, results: dict[str, dict[str, int]]) -> None:
    with open(path, "w") as f:
        f.write(format_nullcheck_report(results))
