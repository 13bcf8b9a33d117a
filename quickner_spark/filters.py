"""Row validity filters (F1-F5) — reference parity + Spark SQL predicates.

Port of ``Filters`` (quickner-core/src/config.rs:87-188) and the character
predicates (quickner-core/src/utils.rs:19-78). The reference applies
``Filters::is_valid`` row-by-row at ingest (quickner.rs:505-514 / 543-547);
here each filter exists twice with identical semantics:

* ``Filters.spark_predicate(col)`` — a JVM-side Column expression so
  Catalyst can push the predicate into the Parquet/Iceberg scan. No Python
  is involved at scan time; ``.explain`` shows the conditions in
  PushedFilters / the scan Filter node.
* ``Filters.duckdb_predicate(col)`` — the same predicate as DuckDB SQL,
  for the oracle checks.

Reference quirks replicated:

* ``alphanumeric=True`` REJECTS strings made entirely of alphanumerics
  (config.rs:162-165 — the flag name reads inverted; port, don't fix).
* min/max length compare **byte** lengths (Rust ``text.len()``,
  config.rs:180-186) → ``octet_length`` on the Spark side.
* punctuation = any ASCII punctuation char; numbers = any ASCII digit
  (utils.rs:33-58).
* special characters = any char from a fixed 31-char set minus the
  configured accept-list (config.rs:126-147).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from typing import Optional

from quickner_spark.matcher import ASCII_PUNCTUATION

__all__ = ["Filters", "SPECIAL_CHARACTERS"]

# config.rs:127-130 — the fixed special-character set (31 chars).
SPECIAL_CHARACTERS = frozenset(
    ['@', '#', '$', '%', '^', '&', '*', '(', ')', '-', '_', '=', '+', '[',
     ']', '{', '}', ';', ':', '"', "'", '<', '>', ',', '.', '?', '/', '\\',
     '|', '~', '`']
)


def _regex_char_class(chars: frozenset[str] | set[str]) -> str:
    """Build a safe [...] character class for Java/RE2/Python regex."""
    # Escape everything; harmless for letters/digits, required for ]\^- etc.
    return "[" + "".join(re.escape(c) for c in sorted(chars)) + "]"


@dataclass
class Filters:
    """Mirror of config.rs:87-113 with its defaults."""

    alphanumeric: bool = False
    case_sensitive: bool = False
    min_length: int = 0
    max_length: int = 1024
    punctuation: bool = False
    numbers: bool = False
    special_characters: bool = False
    accept_special_characters: Optional[str] = None
    _special: frozenset = field(init=False, repr=False, default=frozenset())

    def __post_init__(self) -> None:
        accept = set(self.accept_special_characters or "")
        self._special = frozenset(SPECIAL_CHARACTERS - accept)

    # -- Spark path (identical semantics, JVM-side) --------------------------
    def spark_predicate(self, col):
        """Column predicate equivalent to the reference's ``is_valid``
        (config.rs:157-188) for Catalyst pushdown.

        Unicode note: Rust ``char::is_alphanumeric`` ≈ Java ``[\\p{L}\\p{N}]``
        (both are Unicode Alphabetic+Number); edge-case code points may
        differ — golden tests pin the behavior on real corpora.
        """
        from pyspark.sql import functions as F

        pred = col.isNotNull() & (F.length(col) > 0)
        if self.alphanumeric:
            pred &= ~col.rlike(r"^[\p{L}\p{N}]+$")
        if self.punctuation:
            pred &= ~col.rlike(_regex_char_class(ASCII_PUNCTUATION))
        if self.numbers:
            pred &= ~col.rlike("[0-9]")
        if self.special_characters and self._special:
            pred &= ~col.rlike(_regex_char_class(self._special))
        if self.min_length >= 0:
            pred &= F.octet_length(col) >= self.min_length
        if self.max_length >= 0:
            pred &= F.octet_length(col) <= self.max_length
        return pred

    def duckdb_predicate(self, col: str) -> str:
        """The same predicate as ANSI/DuckDB SQL (used by oracle checks)."""
        parts = [f"{col} IS NOT NULL", f"length({col}) > 0"]
        if self.alphanumeric:
            parts.append(f"NOT regexp_matches({col}, '^[a-zA-Z0-9]+$')")
        if self.punctuation:
            cls = _duck_class(ASCII_PUNCTUATION)
            parts.append(f"NOT regexp_matches({col}, '{cls}')")
        if self.numbers:
            parts.append(f"NOT regexp_matches({col}, '[0-9]')")
        if self.special_characters and self._special:
            cls = _duck_class(self._special)
            parts.append(f"NOT regexp_matches({col}, '{cls}')")
        if self.min_length >= 0:
            parts.append(f"strlen({col}) >= {self.min_length}")  # bytes
        if self.max_length >= 0:
            parts.append(f"strlen({col}) <= {self.max_length}")
        return "(" + " AND ".join(parts) + ")"


def _duck_class(chars) -> str:
    body = "".join("\\" + c if c in "[]\\^-" else c for c in sorted(chars))
    return "[" + body.replace("'", "''") + "]"
