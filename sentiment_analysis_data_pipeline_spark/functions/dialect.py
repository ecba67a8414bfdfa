"""Tiny two-dialect SQL fragment builder (Spark SQL + DuckDB).

Why: the driver cross-checks every Spark query against a DuckDB oracle
(row-count + schema + order-insensitive value hash). Generating BOTH sides
from one Python definition makes parity structural instead of hoped-for:
the same tokenization, the same lexicon CASE, the same arithmetic --
bit-identical doubles where the math is exact (dyadic-rational weights,
single divisions) rather than "close enough".

Only the handful of spots where the dialects genuinely differ are branched:
  * regex split           -- Spark split() vs DuckDB regexp_split_to_array()
  * regexp_replace        -- DuckDB needs the explicit 'g' flag
  * array fold (sum)      -- Spark aggregate() vs DuckDB list_sum()
  * lambda filter/map     -- filter/transform vs list_filter/list_transform
Everything else (CASE, concat_ws, md5, sqrt, trim, lower, substring) is the
same surface in both engines.
"""

from __future__ import annotations

SPARK = "spark"
DUCKDB = "duckdb"


def regexp_replace_all(d: str, expr: str, pattern: str, replacement: str) -> str:
    if d == SPARK:
        return f"regexp_replace({expr}, '{pattern}', '{replacement}')"
    return f"regexp_replace({expr}, '{pattern}', '{replacement}', 'g')"


def rx(d: str, pattern: str) -> str:
    """Quoted SQL string literal holding a regex. Spark's parser processes
    backslash escapes inside single-quoted literals (escapedStringLiterals
    defaults to false), DuckDB's does not -- so Spark needs each regex
    backslash doubled in the literal to survive parsing."""
    body = pattern.replace("\\", "\\\\") if d == SPARK else pattern
    return f"'{body}'"


def regexp_replace_rx(d: str, expr: str, pattern: str, replacement: str) -> str:
    """regexp_replace of ALL matches where `pattern` may contain backslash
    classes (\\d, \\b, ...); renders the literal per-dialect via rx()."""
    if d == SPARK:
        return f"regexp_replace({expr}, {rx(d, pattern)}, '{replacement}')"
    return f"regexp_replace({expr}, {rx(d, pattern)}, '{replacement}', 'g')"


def regexp_count(d: str, expr: str, pattern: str) -> str:
    """Number of non-overlapping regex matches in expr, as BIGINT. Spark has
    regexp_count natively; DuckDB counts the extract_all list."""
    if d == SPARK:
        return f"cast(regexp_count({expr}, {rx(d, pattern)}) as bigint)"
    return f"cast(len(regexp_extract_all({expr}, {rx(d, pattern)})) as bigint)"


def split_ws(d: str, expr: str) -> str:
    """Split on runs of whitespace. Caller should trim() first."""
    if d == SPARK:
        return f"split({expr}, '\\\\s+')"
    return f"regexp_split_to_array({expr}, '\\s+')"


def arr_filter(d: str, arr: str, lam: str) -> str:
    fn = "filter" if d == SPARK else "list_filter"
    return f"{fn}({arr}, {lam})"


def arr_transform(d: str, arr: str, lam: str) -> str:
    fn = "transform" if d == SPARK else "list_transform"
    return f"{fn}({arr}, {lam})"


def arr_sum_double(d: str, arr: str) -> str:
    """Sum of a double array; 0.0 on empty. Exact (order-free) when elements
    are dyadic rationals -- which every lexicon weight in this engine is."""
    if d == SPARK:
        return f"aggregate({arr}, cast(0.0 as double), (acc, x) -> acc + x)"
    return f"coalesce(list_sum({arr}), 0.0)"


def arr_size(d: str, arr: str) -> str:
    return f"size({arr})" if d == SPARK else f"len({arr})"


def arr_contains(d: str, arr: str, elem: str) -> str:
    if d == SPARK:
        return f"array_contains({arr}, {elem})"
    return f"list_contains({arr}, {elem})"


def arr_distinct(d: str, arr: str) -> str:
    return f"array_distinct({arr})" if d == SPARK else f"list_distinct({arr})"


def arr_intersect(d: str, a: str, b: str) -> str:
    return f"array_intersect({a}, {b})" if d == SPARK else f"list_intersect({a}, {b})"


def arr_slice(d: str, arr: str, start: int, length: int) -> str:
    """1-based slice of `length` elements starting at `start`."""
    if d == SPARK:
        return f"slice({arr}, {start}, {length})"
    return f"list_slice({arr}, {start}, {start + length - 1})"


def arr_join(d: str, arr: str, sep: str) -> str:
    if d == SPARK:
        return f"array_join({arr}, '{sep}')"
    return f"list_aggregate({arr}, 'string_agg', '{sep}')"


def sequence(d: str, lo: int, hi: int) -> str:
    if d == SPARK:
        return f"sequence({lo}, {hi})"
    return f"range({lo}, {hi + 1})"


def str_pos(d: str, haystack: str, needle: str) -> str:
    """1-based position of needle in haystack, 0 if absent (both dialects)."""
    if d == SPARK:
        return f"instr({haystack}, {needle})"
    return f"strpos({haystack}, {needle})"


def cast_str(d: str, expr: str) -> str:
    """Cast to the engine's string type (Spark: string, DuckDB: varchar)."""
    return f"cast({expr} as {'string' if d == SPARK else 'varchar'})"


def int_div(d: str, a: str, b: str) -> str:
    return f"({a} div {b})" if d == SPARK else f"({a} // {b})"


def bit_xor(d: str, a: str, b: str) -> str:
    """Bitwise XOR of two BIGINTs (Spark: ^ operator, DuckDB: xor())."""
    return f"({a} ^ {b})" if d == SPARK else f"xor({a}, {b})"


def str_literal_list(words: list[str]) -> str:
    """SQL array literal of strings -- identical syntax in both dialects via
    the function-free bracket form DuckDB uses vs Spark's array()."""
    return ", ".join(f"'{w}'" for w in words)


def arr_literal(d: str, words: list[str]) -> str:
    body = str_literal_list(words)
    return f"array({body})" if d == SPARK else f"[{body}]"
