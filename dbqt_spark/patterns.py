"""Name-pattern exclusion filters.

Reference behavior (dbqt/tools/utils.py:186-210): ``%``-wildcard patterns
compiled to anchored case-insensitive regex via
``re.escape(pat).replace(r"\\%", ".*")`` — note ``_`` is treated literally
(unlike SQL LIKE), so we compile to regex rather than using ``LIKE``.
"""

from __future__ import annotations

import re


def pattern_to_regex(pattern: str) -> str:
    """Anchored regex from a %-wildcard pattern: every char escaped except
    ``%`` -> ``.*``. (The reference's ``re.escape(pat).replace(r"\\%",
    ".*")`` is a no-op on Python >=3.7 where re.escape no longer escapes
    ``%``; we implement the documented intent — utils.py:188-193.)"""
    return (
        "^"
        + "".join(".*" if ch == "%" else re.escape(ch) for ch in pattern.upper())
        + "$"
    )


def matches_any_pattern(name: str, patterns: list[str]) -> bool:
    return any(re.match(pattern_to_regex(p), name.upper()) for p in patterns)


def filter_excluded_tables(names: list[str], patterns: list[str]) -> list[str]:
    """Driver-side list filter (utils.py:186-210)."""
    if not patterns:
        return list(names)
    return [n for n in names if not matches_any_pattern(n, patterns)]
