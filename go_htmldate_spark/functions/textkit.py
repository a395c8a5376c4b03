"""String utilities matching the reference engine's Go semantics.

Each function documents the reference behavior it pins
(/root/reference/utils.go). These run inside the pandas UDF kernel;
the engine-side (JVM) equivalents live in functions/native.py.
"""

from __future__ import annotations

import regex as uregex

# Go strings.Fields splits on unicode.IsSpace; Python str.split() on
# Unicode whitespace — equivalent for practical inputs (utils.go:144-147).

_RX_NON_DIGIT_ASCII = uregex.compile(r"[^0-9]+")
_RX_ND = uregex.compile(r"\d")  # regex module \d == Unicode Nd


def normalize_spaces(s: str) -> str:
    """Collapse whitespace runs to single spaces and trim (utils.go:144-147)."""
    return " ".join(s.split())


def str_limit(s: str, limit: int) -> str:
    """Rune-truncate to `limit` code points (utils.go:134-140)."""
    if len(s) > limit:
        return s[:limit]
    return s


def digit_count(s: str) -> int:
    """Count Unicode Nd digits, mirroring Go unicode.IsDigit
    (utils.go:98-106). C-speed: ASCII fast path, Nd regex otherwise."""
    if s.isascii():
        return len(_RX_NON_DIGIT_ASCII.sub("", s))
    return len(_RX_ND.findall(s))


def atoi(s) -> int:
    """Go strconv.Atoi semantics used by the reference: callers ignore the
    error and use the zero value on failure (e.g. extractors.go:58-60)."""
    try:
        if isinstance(s, bytes):
            s = s.decode("utf-8", "replace")
        s = s.strip()
        if s.startswith("+"):
            s = s[1:]
        return int(s)
    except (ValueError, TypeError):
        return 0
