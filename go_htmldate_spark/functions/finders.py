"""Scan-pattern finders over serialized HTML.

Each finder emulates one re2go DFA scanner from
/root/reference/internal/re2go/{search-pattern,plausible-year}.re:
leftmost, non-overlapping matches, yielding (candidate_text,
whole_match_start) pairs. ``re.finditer`` has the same
consume-the-delimiter boundary behavior as the generated scanners, and
``_mk_finder`` is exactly that; it stays the semantics reference.

Python ``re`` has no DFA: ``finditer`` tries a pattern at every
character, ~120-270 µs per pattern on a ~4k-char page. Seven scanners
begin ``[^0-9]`` followed by a digit, so every one of their match
starts ``i`` has a non-digit at ``i`` and a digit at ``i+1``: ``i+1``
starts a ``[0-9]+`` run. ``_mk_run_finder`` therefore enumerates these
positions once per string and tries ``rx.match(s, i)`` only there, in
ascending order, skipping positions before the previous match's end. That is ``finditer``'s own rule (its next search begins at
the previous match's end, and the patterns have no anchors or
lookarounds, so a match at ``i`` does not depend on where the scan
began), so the output is identical: the leftmost match at or after
that end can only start at an enumerated position.

That only pays where run starts ("anchors") are sparse. Each anchor
costs one ``rx.match`` call per finder (~0.3 µs), while ``finditer``
spends ~30-50 ns per non-digit character and less on digits. Article
text has about one anchor per 40-430 characters; inline SVG paths,
JSON number arrays, numeric tables and base64 blobs have one per 3-11,
where anchoring ran up to 3x slower than ``finditer``. So
``_run_anchors`` counts the anchors first and returns None above one
per ``_DENSE`` non-digit characters, and the finder then runs plain
``finditer``. Either path gives the same output; only the cost differs.
"""

from __future__ import annotations

import re

from . import patterns as P


def _mk_finder(rx):
    def finder(s: str) -> list[tuple[str, int]]:
        out = []
        for m in rx.finditer(s):
            out.append((m.group(1) if m.lastindex else m.group(0), m.start()))
        return out

    return finder


# b"1" for an ASCII digit, b"0" for every other byte. A str encodes
# to one latin-1 byte per character ("replace" turns the rest into
# "?"), so b"01" in the flags marks exactly a non-digit followed by a
# digit, at the same index as in the str.
_DIGIT_FLAGS = bytes(49 if 48 <= c <= 57 else 48 for c in range(256))
# above one anchor per _DENSE non-digit characters finditer is cheaper
# (break-even measured at ~1 per 4-6 on digit-dense pages)
_DENSE = 5
# (string, anchors) of the last string scanned: search_page runs the
# seven run-anchored finders over the same page; holding the string
# keeps the identity check sound
_anchor_cache: tuple[str, list[int] | None] = ("", [])


def _run_anchors(s: str) -> list[int] | None:
    """Ascending positions ``i`` with ``s[i]`` a non-digit and ``s[i+1]``
    a digit, or None when they are too dense for anchoring to pay."""
    global _anchor_cache
    cached, anchors = _anchor_cache
    if cached is s:
        return anchors
    flags = s.encode("latin-1", "replace").translate(_DIGIT_FLAGS)
    if flags.count(b"01") * _DENSE > flags.count(b"0"):
        anchors = None
    else:
        anchors = []
        find = flags.find
        i = find(b"01")
        while i >= 0:
            anchors.append(i)
            i = find(b"01", i + 2)
    _anchor_cache = (s, anchors)
    return anchors


def _mk_run_finder(rx):
    """``_mk_finder(rx)`` for a pattern whose every match begins with a
    non-digit followed by a digit (see the module docstring)."""
    match = rx.match
    scan = _mk_finder(rx)

    def finder(s: str) -> list[tuple[str, int]]:
        anchors = _run_anchors(s)
        if anchors is None:
            return scan(s)
        out = []
        end = 0
        for i in anchors:
            if i < end:
                continue
            m = match(s, i)
            if m is not None:
                out.append((m.group(1) if m.lastindex else m.group(0), i))
                end = m.end()
        return out

    return finder


copyright_finder = _mk_finder(P.RX_COPYRIGHT_SCAN)             # search-pattern.re:22-38
three_finder = _mk_finder(P.RX_THREE_SCAN)                     # search-pattern.re:59-80
three_loose_finder = _mk_run_finder(P.RX_THREE_LOOSE_SCAN)     # search-pattern.re:83-106
select_ymd_finder = _mk_run_finder(P.RX_SELECT_YMD_SCAN)       # plausible-year.re:21-34
date_strings_finder = _mk_run_finder(P.RX_DATESTRINGS_SCAN)    # search-pattern.re:127-140
slashes_finder = _mk_run_finder(P.RX_SLASHES_SCAN)             # plausible-year.re:55-68
yyyy_mm_finder = _mk_run_finder(P.RX_YYYYMM_SCAN)              # search-pattern.re:161-174
mm_yyyy_finder = _mk_run_finder(P.RX_MMYYYY_SCAN)              # plausible-year.re:89-102
simple_finder = _mk_run_finder(P.RX_SIMPLE_SCAN)               # search-pattern.re:196-210


def timestamp_first_match(s: str):
    """First `(Y-M-D).HH:MM:SS` match → (groups list, start) or None
    (regex-pattern-search.re:26-40)."""
    m = P.RX_TIMESTAMP.search(s)
    if m is None:
        return None
    return [m.group(0), *m.groups()], m.start()


# Every RX_IDIOSYNCRASIES branch REQUIRES this digit core (b2's \. is a
# subset of [./]); the lookahead enumerates ALL core start positions
# (overlapping — a plain finditer consumes digits and can skip the core
# of an overlapping true match).
_CORE_LA = re.compile(r"(?=([0-9]{1,4}[./][0-9]{1,2}[./][0-9]{2,4}))")
# Chars that may sit between a branch trigger and its core: the [ :]*
# gaps, b2's ':? ?', b3's ' *?(?:tarihi)? *?:? *?'. Superset is safe —
# walking back too far only enlarges the window.
_GAP_CHARS = frozenset(" :tariheTARIHEıİ")
# Chars b4's tail may contain after the core: spaces, apostrophes, and
# the letters of the 'de/'da/tarihinde + güncellendi/yayımlandı
# suffixes (both cases). Superset-safe like _GAP_CHARS.
_TAIL_CHARS = frozenset(" '’deategüncllndiyımaşrhDEATGÜNCLLNDIYIMAŞRHıİö")
# max trigger length before the gap: 'date' + [^0-9"]{0,20} = 24;
# 'published' = 9; 'Veröffentlicht am' = 17; 'güncellenme' = 11 — 30
# covers all with slack.
_MAX_TRIGGER = 30


def _idiosyncrasies_search_slow(s: str):
    """The direct single-pass search — the semantics reference for the
    windowed fast path below (kept for differential tests)."""
    return P.RX_IDIOSYNCRASIES.search(s)


def _idiosyncrasies_search_fast(s: str):
    """Exact-equivalent windowed search, ~5x faster on real pages.

    Python re scans the 4-branch alternation position by position
    (~30 ms on a 200 KB page; the reference compiles a re2go DFA,
    internal/re2go/idiosyncrasies-search.re). Instead: enumerate every
    core start, try the full regex only inside a window proven to
    contain any match tied to that core, take the MINIMAL hit start
    over all windows, then re-run unanchored at that start for the
    exact groups.

    Why this is exact (each step):
    - any true match's digit part matches _CORE_LA at its own start, so
      its core is enumerated (overlapping lookahead, nothing consumed);
    - the pre-core region (trigger + gap) is digit-free by construction
      of every branch, bounded by the _GAP_CHARS walk-back +
      _MAX_TRIGGER; the post-core region (b4's suffixes, with unbounded
      spaces) is covered by the _TAIL_CHARS walk-forward; both walks
      use superset charsets, so windows only ever over-cover → the
      match tied to a core lies FULLY inside that core's window;
    - the pattern has no anchors/lookarounds, so an endpos-truncated
      window can only REMOVE matches, never create one: every window
      hit position is a true unbounded-match position, and the global
      leftmost match is a hit in its own core's window → min(hit
      starts) == the unbounded search's start;
    - groups are taken from a final RX.match(s, best) with no endpos
      (a window hit may carry a truncated year group; the re-match
      restores exact greedy semantics).

    Parity: differential-tested against _idiosyncrasies_search_slow on
    the full eval+mock corpora (810 pages) and hypothesis fuzz
    (tests/test_kernels.py)."""
    rx = P.RX_IDIOSYNCRASIES
    best = None
    n = len(s)
    for m in _CORE_LA.finditer(s):
        cs = m.start(1)
        g = cs
        while g and s[g - 1] in _GAP_CHARS:
            g -= 1
        ws = g - _MAX_TRIGGER if g >= _MAX_TRIGGER else 0
        if best is not None and ws >= best:
            continue  # this window cannot contain an earlier start
        ce = cs + len(m.group(1))
        e = ce
        while e < n and s[e] in _TAIL_CHARS:
            e += 1
        we = e + 20 if e + 20 < n else n
        hit = rx.search(s, ws, we)
        if hit is not None and (best is None or hit.start() < best):
            best = hit.start()
    if best is None:
        return None
    return rx.match(s, best)


def idiosyncrasies_first_match(s: str):
    """First idiosyncratic author-date match across the EN/DE/TR1/TR2
    alternation → ([whole, g1, g2, g3], start) or None
    (idiosyncrasies-search.re:28-36)."""
    m = _idiosyncrasies_search_fast(s)
    if m is None:
        return None
    groups = [g for g in m.groups() if g is not None]
    return [m.group(0), *groups[:3]], m.start()
