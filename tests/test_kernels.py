"""Kernel parity tests.

Expected values vendored from the reference's own test suites
(/root/reference/extractors_test.go, core_test.go:716-996,
timezone_test.go) — behavior pins, not code.
"""

from __future__ import annotations

import pytest

from go_htmldate_spark.cascade import compare_reference, search_page
from go_htmldate_spark.functions.dateparse import (
    external_parse,
    fast_parse,
    regex_parse,
    try_date_expr,
)
from go_htmldate_spark.functions.timeparse import find_time, parse_timezone_code
from go_htmldate_spark.functions.validate import (
    YearCandidate,
    select_candidate,
)
from go_htmldate_spark.options import Options
import re

OPTS = Options().with_defaults()
OPTS_ORIG = Options(use_original_date=True).with_defaults()
OPTS_SKIP = Options(skip_extensive_search=True).with_defaults()


def _fmt(dt):
    return dt.isoformat() if dt is not None else ""


# --- tryDateExpr (extractors_test.go:36-77) ---
@pytest.mark.parametrize(
    "s,expected,skip_ext",
    [
        ("", "", False),
        ("Fri, Sept 1, 2017", "", True),
        ("Friday, September 01, 2017", "2017-09-01", False),
        ("Fr, 1 Sep 2017 16:27:51 MESZ", "2017-09-01", False),
        ("Freitag, 01. September 2017", "2017-09-01", False),
        ("Am 1. September 2017 um 15:36 Uhr schrieb", "2017-09-01", False),
        ("Fri - September 1 - 2017", "2017-09-01", False),
        ("1.9.2017", "2017-09-01", False),
        ("1/9/17", "2017-09-01", False),
        ("201709011234", "2017-09-01", False),
        ("201", "", False),
        ("14:35:10", "", False),
        ("12:00 h", "", False),
        ("2005-2006", "", False),
        ("发布时间: 2022-02-25 14:34", "2022-02-25", False),
        ("Fri, Sept 1, 2017", "2017-09-01", False),
    ],
)
def test_try_date_expr(s, expected, skip_ext):
    opts = OPTS_SKIP if skip_ext else OPTS
    _, dt = try_date_expr(s, opts)
    assert _fmt(dt) == expected, s


# --- fastParse (extractors_test.go:79-121) ---
@pytest.mark.parametrize(
    "s,expected",
    [
        ("20041212", "2004-12-12"),
        ("12.12.2004", "2004-12-12"),
        ("2004-12-12", "2004-12-12"),
        ("12.01.2004", "2004-01-12"),
        ("12.01.20", "2020-01-12"),
        ("3/14/2016", "2016-03-14"),
        ("2020-1", "2020-01-01"),
        ("2020.01", "2020-01-01"),
        ("1998-01", "1998-01-01"),
        ("10.10.98", "1998-10-10"),
        ("abcd 20041212 efgh", "2004-12-12"),
        ("abcd 2004-2-12 efgh", "2004-02-12"),
        ("abcd 2004-2 efgh", "2004-02-01"),
        ("2020.13", ""),
        ("12122004", ""),
        ("1212-20-04", ""),
        ("33.20.2004", ""),
        ("36/14/2016", ""),
        ("2019 28 meh", ""),
        ("January 12 1098", ""),
        ("abcd 32. Januar 2020 efgh", ""),
        ("February 29 2008", "2008-02-29"),
        ("February 30 2008", ""),
        ("XXTag, den 29. Februar 2008", "2008-02-29"),
        ("XXTag, den 30. Februar 2008", ""),
    ],
)
def test_fast_parse(s, expected):
    assert _fmt(fast_parse(s, OPTS)) == expected, s


# --- regexParse (extractors_test.go:123-273, spot sample + full month matrix) ---
@pytest.mark.parametrize(
    "s,expected",
    [
        ("3. Dezember 2008", "2008-12-03"),
        ("33. Dezember 2008", ""),
        ("3. Dez 2008", "2008-12-03"),
        ("3 dez 2008", "2008-12-03"),
        ("3 Aralık 2008 Çarşamba", "2008-12-03"),
        ("3 Aralık 2008", "2008-12-03"),
        ("Tuesday, March 26th, 2019", "2019-03-26"),
        ("March 26, 2019", "2019-03-26"),
        ("3rd Tuesday in March", ""),
        ("Mart 26, 2019", "2019-03-26"),
        ("Salı, Mart 26, 2019", "2019-03-26"),
        ("36/14/2016", ""),
        ("January 36 1998", ""),
        ("1. Okt. 1998", "1998-10-01"),
    ],
)
def test_regex_parse(s, expected):
    assert _fmt(regex_parse(s, OPTS)) == expected, s


_EN = "January February March April May June July August September October November December".split()
_DE = "Januar Februar März April Mai Juni Juli August September Oktober November Dezember".split()
_TR = "Ocak Şubat Mart Nisan Mayıs Haziran Temmuz Ağustos Eylül Ekim Kasım Aralık".split()
_EN_AB = "Jan Feb Mar Apr May Jun Jul Aug Sep Oct Nov Dec".split()
_TR_AB = "Oca Şub Mar Nis May Haz Tem Ağu Eyl Eki Kas Ara".split()


@pytest.mark.parametrize("names", [_EN, _DE, _TR, _EN_AB, _TR_AB])
def test_regex_parse_month_matrix(names):
    for i, name in enumerate(names, start=1):
        expected = f"1998-{i:02d}-01"
        assert _fmt(regex_parse(f"{name} 1st, 1998", OPTS)) == expected, name
        assert _fmt(regex_parse(f"1 {name} 1998", OPTS)) == expected, name


# --- externalDateParser (extractors_test.go:275-303) ---
@pytest.mark.parametrize(
    "s,expected",
    [
        ("Wednesday, January 1st 2020", "2020-01-01"),
        ("Random text with 2020", ""),
        ("1 January 0002", "0002-01-01"),
        ("1 January 1900", "1900-01-01"),
        ("2018-04-12 17:20:03.12345678999a", "2018-12-04"),
        ("12345678912 days", ""),
        ("2.2250738585072011e-308", ""),
        ("⁰⁴⁵₀₁₂", ""),
        ("Fri | September 1 | 2017", "2017-09-01"),
        # CJK marker dates (go-dateparser zh/ja/ko locales)
        ("2023年3月15日", "2023-03-15"),
        ("発表 2021年12月3日 12時30分", "2021-12-03"),
        ("작성일 2019년 7월 8일", "2019-07-08"),
        ("23年3月15日", "2023-03-15"),
        ("2023年13月1日", ""),
    ],
)
def test_external_parse(s, expected):
    # the reference tests call this with zero Options (no min/max)
    opts = Options(min_date=None, max_date=None)
    assert _fmt(external_parse(s, opts)) == expected, s


# --- findTime (core_test.go:716-777) ---
@pytest.mark.parametrize(
    "inp,expected,tz_exists",
    [
        ("12:00", "12:00:00 +0000", False),
        ("12:00:10", "12:00:10 +0000", False),
        ("12:00:10.372", "12:00:10 +0000", False),
        ("10:21Z", "10:21:00 +0000", True),
        ("10:21:40Z", "10:21:40 +0000", True),
        ("10:21:40.462Z", "10:21:40 +0000", True),
        ("16:14+02:00", "16:14:00 +0200", True),
        ("16:14:51+02:00", "16:14:51 +0200", True),
        ("16:14:51.075+02:00", "16:14:51 +0200", True),
        ("16:14:51.075+0200", "16:14:51 +0200", True),
        ("16:14:51.075+02", "16:14:51 +0200", True),
        ("7:8", "07:08:00 +0000", False),
        ("7:8:9", "07:08:09 +0000", False),
        ("7:8 am", "07:08:00 +0000", False),
        ("7:8:9 am", "07:08:09 +0000", False),
        ("7:8 pm", "19:08:00 +0000", False),
        ("7:8:9 pm", "19:08:09 +0000", False),
        ("7:8 a.m.", "07:08:00 +0000", False),
        ("7:8:9 a.m.", "07:08:09 +0000", False),
        ("7:8 p.m.", "19:08:00 +0000", False),
        ("7:8:9 p.m.", "19:08:09 +0000", False),
        ("07:08", "07:08:00 +0000", False),
        ("07:08:09", "07:08:09 +0000", False),
        ("07:08 am", "07:08:00 +0000", False),
        ("07:08:09 am", "07:08:09 +0000", False),
        ("07:08 pm", "19:08:00 +0000", False),
        ("07:08:09 pm", "19:08:09 +0000", False),
        ("07:08 a.m.", "07:08:00 +0000", False),
        ("07:08:09 a.m.", "07:08:09 +0000", False),
        ("07:08 p.m.", "19:08:00 +0000", False),
        ("07:08:09 p.m.", "19:08:09 +0000", False),
        ("07:08 a.m. +0100", "07:08:00 +0100", True),
        ("07:08:09 a.m. +0100", "07:08:09 +0100", True),
        ("07:08 p.m. +0100", "19:08:00 +0100", True),
        ("07:08:09 p.m. +0100", "19:08:09 +0100", True),
        ("07h08 a.m. +0100", "07:08:00 +0100", True),
        ("07h08 p.m. +0100", "19:08:00 +0100", True),
    ],
)
def test_find_time(inp, expected, tz_exists):
    ft = find_time(inp)
    out = ""
    if ft.found:
        off = ft.tz_offset or 0
        sign = "+" if off >= 0 else "-"
        off = abs(off)
        out = (
            f"{ft.hour:02d}:{ft.minute:02d}:{ft.second:02d} "
            f"{sign}{off // 3600:02d}{(off % 3600) // 60:02d}"
        )
    assert out == expected, inp
    assert (ft.tz_offset is not None) == tz_exists, inp


# --- parseTimezoneCode (timezone_test.go:10-62) ---
@pytest.mark.parametrize(
    "code,expected",
    [
        ("Z", 0),
        ("z", 0),
        (" +07:30", 27000),
        (" -07:30", -27000),
        (" +0730", 27000),
        (" +07", 25200),
        ("0000", None),
    ],
)
def test_parse_timezone_code(code, expected):
    assert parse_timezone_code(code) == expected


# --- compareReference (core_test.go:807-825) ---
def test_compare_reference():
    _, res = compare_reference("", 0, "AAAA", OPTS)
    assert res == 0
    _, res = compare_reference("", 1517500000, "2018-33-01", OPTS)
    assert res == 1517500000
    _, res = compare_reference("", 0, "2018-02-01", OPTS)
    assert 1517400000 < res < 1517500000
    _, res = compare_reference("", 1517500000, "2018-02-01", OPTS)
    assert res == 1517500000


# --- selectCandidate (core_test.go:827-865) ---
_RX_YEAR4 = re.compile(r"^([0-9]{4})")
_RX_CATCH = re.compile(r"([0-9]{4})-([0-9]{2})-([0-9]{2})")


def _candidates(*items: str) -> list[YearCandidate]:
    order: list[str] = []
    counts: dict[str, int] = {}
    for it in items:
        if it not in counts:
            order.append(it)
            counts[it] = 0
        counts[it] += 1
    return [YearCandidate(p, counts[p], p) for p in order]


def test_select_candidate():
    opts = Options().with_defaults()

    cands = _candidates(
        "20208956", "20208956", "20208956", "19018956", "209561",
        "22020895607-12", "2-28",
    )
    _, result = select_candidate(cands, _RX_CATCH, _RX_YEAR4, opts)
    assert not result

    cands = _candidates(
        "2016-12-23", "2016-12-23", "2016-12-23", "2016-12-23",
        "2017-08-11", "2016-07-12", "2017-11-28",
    )
    _, result = select_candidate(cands, _RX_CATCH, _RX_YEAR4, opts)
    assert result[1] == "2017" and result[0].startswith("2017-11-28")

    opts_o = Options(use_original_date=True).with_defaults()
    _, result = select_candidate(cands, _RX_CATCH, _RX_YEAR4, opts_o)
    assert result[0].startswith("2016-07-12")

    cands = _candidates(
        "2116-12-23", "2116-12-23", "2116-12-23", "2017-08-11", "2017-08-11"
    )
    _, result = select_candidate(cands, _RX_CATCH, _RX_YEAR4, opts_o)
    assert result[0].startswith("2017-08-11")
    _, result = select_candidate(cands, _RX_CATCH, _RX_YEAR4, opts)
    assert result[0].startswith("2017-08-11")

    cands = _candidates(
        "2016-12-23", "2016-12-23", "2017-08-11", "2017-08-11", "2017-08-11"
    )
    _, result = select_candidate(cands, _RX_CATCH, _RX_YEAR4, opts)
    assert result[0].startswith("2016-12-23")


# --- searchPage string cases (core_test.go:867-940) ---
@pytest.mark.parametrize(
    "html,expected,use_original",
    [
        ("<html><body><p>The date is 5/2010</p></body></html>", "2010-05-01", False),
        ("<html><body><p>The date is 5.5.2010</p></body></html>", "2010-05-05", False),
        ("<html><body><p>The date is 11/10/99</p></body></html>", "1999-10-11", False),
        ("<html><body><p>The date is 3/3/11</p></body></html>", "2011-03-03", False),
        ("<html><body><p>The date is 06.12.06</p></body></html>", "2006-12-06", False),
        ("<html><body><p>The timestamp is 20140915D15:23H</p></body></html>", "2014-09-15", False),
        ("<html><body><p>It could be 2015-04-30 or 2003-11-24.</p></body></html>", "2015-04-30", False),
        ("<html><body><p>It could be 2015-04-30 or 2003-11-24.</p></body></html>", "2003-11-24", True),
        ("<html><body><p>It could be 03/03/2077 or 03/03/2013.</p></body></html>", "2013-03-03", False),
        ("<html><body><p>It could not be 03/03/2077 or 03/03/1988.</p></body></html>", "", False),
        ("<html><body><p>© The Web Association 2013.</p></body></html>", "2013-01-01", False),
        ("<html><body><p>Next © Copyright 2018</p></body></html>", "2018-01-01", False),
        ("<html><body><p> © Company 2014-2019 </p></body></html>", "2019-01-01", False),
        ("<html><body><p> &copy; Copyright 1999-2020 Asia Pacific Star. All rights reserved.</p></body></html>", "2020-01-01", False),
        ('<html><head><link xmlns="http://www.w3.org/1999/xhtml"/></head></html>', "", False),
        ('<html><body><link href="//homepagedesigner.telekom.de/.cm4all/res/static/beng-editor/5.1.98/css/deploy.css"/></body></html>', "", False),
    ],
)
def test_search_page(html, expected, use_original):
    opts = OPTS_ORIG if use_original else OPTS
    _, dt = search_page(html, opts)
    assert _fmt(dt) == expected, html


def test_gc_pacer_restores_state_and_collects():
    import gc

    from go_htmldate_spark.gctune import GcPacer

    class Cyc:
        def __init__(self):
            self.me = self

    assert gc.isenabled()
    with GcPacer(every=10) as p:
        assert not gc.isenabled()
        for _ in range(25):
            Cyc()  # dead cycle per iteration
            p.tick()
    assert gc.isenabled()  # restored
    # the exit pass reclaimed the tail: no Cyc survives
    assert not any(type(o).__name__ == "Cyc" for o in gc.get_objects())

    gc.disable()
    try:
        with GcPacer():
            pass
        assert not gc.isenabled()  # nested: caller's disabled state kept
    finally:
        gc.enable()


def test_extraction_leaves_no_cyclic_garbage():
    """Dead DOM trees must free by refcount: parse_html drops the raw
    root's leftovers, release_tree breaks parent links after extraction,
    and the C prune releases detached subtrees. Regression: each of
    those paths once stranded thousands of cyclic nodes per document."""
    import gc

    from go_htmldate_spark import Options, from_html

    html = (
        "<!doctype html><!-- top comment --><html><head>"
        "<meta property='article:published_time' content='2021-05-10'>"
        "</head><body><script>var x=1;</script>"
        "<div id='wm-ipp'><p>banner<span>deep</span></p></div>"
        + "<p>text</p>" * 50
        + "</body></html>"
    )
    opts = Options(use_original_date=True)
    assert from_html(html, opts).date == "2021-05-10"
    gc.collect()
    gc.disable()
    try:
        base = len(gc.get_objects())
        for _ in range(50):
            from_html(html, opts)
        growth = len(gc.get_objects()) - base
    finally:
        gc.enable()
        gc.collect()
    # ~200 nodes/doc x 50 docs would strand >10k objects; transient
    # module-level noise stays far below that
    assert growth < 1000, f"cyclic garbage: {growth} objects stranded"


# -- idiosyncrasies windowed fast path: differential vs direct search --------

@pytest.mark.reference_corpus
def test_idiosyncrasies_fast_equals_slow_on_corpus():
    """The windowed idiosyncrasies search must be byte-identical (span +
    groups) to the direct single-pass regex on every mock page."""
    import glob

    from go_htmldate_spark.functions.finders import (
        _idiosyncrasies_search_fast,
        _idiosyncrasies_search_slow,
    )

    files = sorted(glob.glob("/root/reference/test-files/mock/*.html"))
    assert files
    for f in files:
        s = open(f, encoding="utf-8", errors="replace").read()
        a = _idiosyncrasies_search_fast(s)
        b = _idiosyncrasies_search_slow(s)
        ka = None if a is None else (a.span(), a.groups())
        kb = None if b is None else (b.span(), b.groups())
        assert ka == kb, f


def test_idiosyncrasies_fast_adversarial_pins():
    """Hand adversarials for every hazard class the windowing must
    survive: unbounded gaps, overlapping cores, truncation-prone
    trailing years, Turkish suffixes."""
    from go_htmldate_spark.functions.finders import (
        _idiosyncrasies_search_fast,
        _idiosyncrasies_search_slow,
    )

    cases = [
        "Stand: 1.2.3 foo Stand: 4.5.2018",
        "on  " + " " * 500 + "12.05.2018",
        "1.2.34.5.2018 'de güncellendi",
        "12.05.2018" + " " * 300 + "'de güncellendi",
        "date" + "x" * 20 + ": 12.05.2018",
        "published:12.05.18 updated 1.1.1999",
        "Güncellenme tarihi: 3.4.2020",
        "yayımlanma   tarihi  :  12.11.21",
        "config 2018.05.12 on 1.2.3",
        "Veröffentlicht am 1.2.2018",
        "12.05.2018 tarihinde güncellendi",
        "aaa 99.99.9999 date 1.1.2001",
        "on 1.2.3456789",
        "date: 1.2.",
        "",
        "on 12.05.2018extra",
        "DATE 12/05/2018",
        "on : : : 12.05.2018",
        "on 1.2.20 18 'de güncellendi",
    ]
    for s in cases:
        a = _idiosyncrasies_search_fast(s)
        b = _idiosyncrasies_search_slow(s)
        ka = None if a is None else (a.span(), a.groups())
        kb = None if b is None else (b.span(), b.groups())
        assert ka == kb, repr(s)


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _IDIO_ALPHABET = (
        " :.0123456789dateupblishonDATUMStandVeröffentlichtgüncyayı'’tarihnde/"
    )

    @given(st.text(alphabet=_IDIO_ALPHABET, max_size=120))
    @settings(max_examples=300, deadline=None)
    def test_idiosyncrasies_fast_equals_slow_fuzz(s):
        from go_htmldate_spark.functions.finders import (
            _idiosyncrasies_search_fast,
            _idiosyncrasies_search_slow,
        )

        a = _idiosyncrasies_search_fast(s)
        b = _idiosyncrasies_search_slow(s)
        ka = None if a is None else (a.span(), a.groups())
        kb = None if b is None else (b.span(), b.groups())
        assert ka == kb
except ImportError:  # pragma: no cover
    pass


# -- long-text windowed fast path: differential vs direct search -------------

@pytest.mark.reference_corpus
def test_long_text_fast_equals_direct_on_corpus():
    """_long_text_search (year-core windows) must be byte-identical
    (span + groupdict) to the direct RX_LONG_TEXT search on every mock
    page — including pages >256 chars that take the windowed path."""
    import glob

    from go_htmldate_spark.functions import patterns as P
    from go_htmldate_spark.functions.dateparse import _long_text_search

    files = sorted(glob.glob("/root/reference/test-files/mock/*.html"))
    assert files
    for f in files:
        s = open(f, encoding="utf-8", errors="replace").read()
        a = _long_text_search(s)
        b = P.RX_LONG_TEXT.search(s)
        ka = None if a is None else (a.span(), a.groupdict())
        kb = None if b is None else (b.span(), b.groupdict())
        assert ka == kb, f


def test_long_text_fast_adversarial_pins():
    """Hazard classes for the year-window search: overlapping year
    cores ("201999"), a second earlier-starting match hosted by a LATER
    year, matches at the string head, 256-boundary strings, and years
    with no month context."""
    from go_htmldate_spark.functions import patterns as P
    from go_htmldate_spark.functions.dateparse import _long_text_search

    pad = "z" * 300
    cases = [
        pad + "May 15, 2020",
        pad + "15. of May 2020 " + pad,
        pad + "March 201999 x 3 March 1999",
        pad + "May 12, 2019 2020",
        "May 15, 2020" + pad,          # match at head, len > 256
        pad + "2020 2020 2020",        # years, no months
        pad + "31st of septembre, 2039",
        pad + "1. Aralık 1999" + pad,
        (pad + "May 15, 2020")[:256],  # exactly at the short-circuit
        pad + "May 15 2020 earlier Jan 1, 1999",  # later text, earlier year
    ]
    for s in cases:
        a = _long_text_search(s)
        b = P.RX_LONG_TEXT.search(s)
        ka = None if a is None else (a.span(), a.groupdict())
        kb = None if b is None else (b.span(), b.groupdict())
        assert ka == kb, repr(s[:80])


try:
    from hypothesis import given as _lt_given, settings as _lt_settings
    from hypothesis import strategies as _lt_st

    _LT_ALPHABET = " ,.of1920345MayMarchseptembreHazirAralıkJanDecstndth\t"

    @_lt_given(_lt_st.text(alphabet=_LT_ALPHABET, max_size=400))
    @_lt_settings(max_examples=300, deadline=None)
    def test_long_text_fast_equals_direct_fuzz(s):
        from go_htmldate_spark.functions import patterns as P
        from go_htmldate_spark.functions.dateparse import _long_text_search

        a = _long_text_search(s)
        b = P.RX_LONG_TEXT.search(s)
        ka = None if a is None else (a.span(), a.groupdict())
        kb = None if b is None else (b.span(), b.groupdict())
        assert ka == kb
except ImportError:  # pragma: no cover
    pass


# -- run-anchored scanners: differential vs finditer -------------------------

def _run_finders():
    """(name, run-anchored finder, finditer oracle) for every scanner
    that search_page runs only at digit-run starts."""
    from go_htmldate_spark.functions import finders as F
    from go_htmldate_spark.functions import patterns as P

    return [
        (name, getattr(F, name), F._mk_finder(rx))
        for name, rx in [
            ("three_loose_finder", P.RX_THREE_LOOSE_SCAN),
            ("select_ymd_finder", P.RX_SELECT_YMD_SCAN),
            ("date_strings_finder", P.RX_DATESTRINGS_SCAN),
            ("slashes_finder", P.RX_SLASHES_SCAN),
            ("yyyy_mm_finder", P.RX_YYYYMM_SCAN),
            ("mm_yyyy_finder", P.RX_MMYYYY_SCAN),
            ("simple_finder", P.RX_SIMPLE_SCAN),
        ]
    ]


_RUN_FINDERS = _run_finders()


def _assert_run_finders_exact(s: str) -> None:
    """Every run-anchored finder equals finditer with the default
    density switch and with anchoring forced on (_DENSE = 0)."""
    from go_htmldate_spark.functions import finders as F

    dense = F._DENSE
    try:
        for switch in (dense, 0):
            F._DENSE = switch
            F._anchor_cache = ("", [])
            for name, fast, oracle in _RUN_FINDERS:
                assert fast(s) == oracle(s), (name, switch, s[:120])
    finally:
        F._DENSE = dense
        F._anchor_cache = ("", [])


# digit-dense markup: an inline SVG path and a JSON number array, with
# a digit-run start every 3-6 characters
_DENSE_BLOCK = (
    '<svg viewBox="0 0 24 24"><path d="M12 2C6.48 2 2 6.48 2 12s4.48 10 '
    '10 10 10-4.48 10-10S17.52 2 12 2zm-2 15l-5-5 1.41-1.41L10 14.17l7.59'
    '-7.59L19 8l-9 9z"/></svg>'
) * 12 + "<script>var d=[" + ",".join(
    str(i * 7919 % 100000) for i in range(300)
) + "];</script>"


def _serialize(html: str) -> str:
    from go_htmldate_spark.dom import parser as domp

    doc = domp.parse_html(html)
    try:
        return domp.inner_html(doc)
    finally:
        domp.release_tree(doc)


@pytest.fixture(scope="module")
def synth_docs(spark):
    """Raw HTML of synth pages at filler_repeats 1 and 16, with urls;
    key "dense" holds the first 200 at 1 with _DENSE_BLOCK added to the
    body."""
    from go_htmldate_spark.operators.extract import sniff_decode
    from go_htmldate_spark.sources.pages import synth_pages

    docs = {
        r: [
            (row["url"], sniff_decode(bytes(row["html"])))
            for row in synth_pages(spark, 400, seed=17 + r, filler_repeats=r)
            .select("url", "html").collect()
        ]
        for r in (1, 16)
    }
    docs["dense"] = [
        (url, html.replace("<body>", "<body>" + _DENSE_BLOCK, 1))
        for url, html in docs[1][:200]
    ]
    return docs


@pytest.mark.parametrize("filler_repeats", [1, 16, "dense"])
def test_run_finders_equal_finditer_on_synth_pages(synth_docs, filler_repeats):
    """On the serialized HTML search_page scans (and on the raw page),
    every run-anchored finder equals finditer on the same pattern."""
    for _, html in synth_docs[filler_repeats]:
        _assert_run_finders_exact(_serialize(html))
        _assert_run_finders_exact(html)


def test_run_anchor_switch_on_synth_pages(synth_docs):
    """Article pages take the anchored path, digit-dense pages fall back
    to finditer."""
    from go_htmldate_spark.functions import finders as F

    for key, anchored in ((1, True), (16, True), ("dense", False)):
        for _, html in synth_docs[key]:
            F._anchor_cache = ("", [])
            assert (F._run_anchors(_serialize(html)) is not None) == anchored, key
    F._anchor_cache = ("", [])


def _anchors_reference(s: str) -> list[int]:
    return [m.start() for m in re.finditer(r"(?=[^0-9][0-9])", s)]


def test_run_anchors_positions():
    """The byte-flag scan finds exactly the non-digit/digit boundaries,
    also past characters outside latin-1 (one "?" byte each)."""
    from go_htmldate_spark.functions import finders as F

    dense = F._DENSE
    F._DENSE = 0
    try:
        for s in [
            "", "7", "a7", "7a", "a7b", "a77b88", "12 34 56",
            "中1文22字333", "😀1😀", "\udc80" + "9\udc809", "١٢٣ 4",
            "é1ß2\xff3\x004",
        ]:
            F._anchor_cache = ("", [])
            assert F._run_anchors(s) == _anchors_reference(s), s
    finally:
        F._DENSE = dense
        F._anchor_cache = ("", [])


def test_run_finders_adversarial_pins():
    """Matches back to back, sharing a delimiter, at the string edges,
    digit runs at index 0 and at the end, runs inside runs."""
    cases = [
        " 2020-01-02 2021-03-04 ",
        " 2020-01-02 2021-03-04",
        "2020-01-02 2021-03-04 ",
        "2020 2021 2022 ",
        " 2020.2021.2022 ",
        "x1/2/2020/3/4/2021/",
        " 01/02/03/04/05/06 ",
        " 20200102 19991231 ",
        "120200102 ",
        " 2020010299 ",
        " 12.05.2018",
        "© 2019-2020 ",
        "©2019©2020©",
        "a1b22c333d4444e55555",
        "0",
        " 0",
        "0 ",
        "",
        " ",
        "\n2020-1\n",
        " 2020-12-31-2021-01-01 ",
        " 1999/12 2000/01 ",
        " 12-2020-12-2021 ",
    ]
    for s in cases:
        _assert_run_finders_exact(s)


@pytest.mark.reference_corpus
def test_run_finders_equal_finditer_on_corpus():
    import glob
    import os

    from go_htmldate_spark.sources.mockcorpus import MOCK_DIR

    files = sorted(glob.glob(os.path.join(MOCK_DIR, "*.html")))
    assert files
    for f in files:
        _assert_run_finders_exact(open(f, encoding="utf-8", errors="replace").read())


try:
    from hypothesis import given as _rf_given, settings as _rf_settings
    from hypothesis import strategies as _rf_st

    # dense in digits and the scanners' separators, plus ©, letters
    # and characters outside latin-1
    _RF_ALPHABET = "0123456789012345678901239/.-/.- ©x\n中😀١"

    @_rf_given(_rf_st.text(alphabet=_RF_ALPHABET, max_size=80))
    @_rf_settings(max_examples=500, deadline=None)
    def test_run_finders_equal_finditer_fuzz(s):
        _assert_run_finders_exact(s)

    @_rf_given(_rf_st.text(alphabet=_RF_ALPHABET, max_size=80))
    @_rf_settings(max_examples=300, deadline=None)
    def test_run_anchors_fuzz(s):
        from go_htmldate_spark.functions import finders as F

        F._anchor_cache = ("", [])
        anchors = F._run_anchors(s)
        assert anchors is None or anchors == _anchors_reference(s)
except ImportError:  # pragma: no cover
    pass


def test_from_html_unchanged_with_finditer_finders(synth_docs, monkeypatch):
    """End to end: from_html gives the same result with the finditer
    finders patched back into the cascade."""
    from go_htmldate_spark.cascade import from_html
    from go_htmldate_spark.functions import finders as F

    option_sets = [
        Options(),
        Options(use_original_date=True),
        Options(use_original_date=True, skip_extensive_search=True),
    ]
    docs = [d for r in (1, 16, "dense") for d in synth_docs[r]]

    def run_all():
        return [
            from_html(html, o.with_url(url) if with_url else o)
            for url, html in docs
            for o in option_sets
            for with_url in (False, True)
        ]

    fast = run_all()
    for name, _, oracle in _RUN_FINDERS:
        monkeypatch.setattr(F, name, oracle)
    assert run_all() == fast


# --- small Go-semantics helpers (utils.go, validators.go, extractors.go) ---
def test_textkit_helpers_match_go_semantics():
    from go_htmldate_spark.functions.textkit import (
        atoi,
        digit_count,
        normalize_spaces,
        str_limit,
    )

    assert normalize_spaces(" a \n\t b  ") == "a b"
    assert str_limit("héllo", 2) == "hé"  # code points, not bytes
    assert str_limit("abc", 10) == "abc"
    # unicode.IsDigit counts every Nd digit, not only ASCII 0-9
    assert digit_count("٢٠٢٠ab12") == 6
    assert digit_count("2024-06-01") == 8
    # strconv.Atoi: sign and surrounding space allowed, errors read as 0
    assert atoi(" +42 ") == 42
    assert atoi("-3") == -3
    assert atoi(b"7") == 7
    assert atoi("x") == 0


def test_validate_date_parts_gregorian_calendar():
    from datetime import date

    from go_htmldate_spark.functions.validate import (
        is_leap_year,
        validate_date_parts,
    )

    assert [is_leap_year(y) for y in (1900, 2000, 2023, 2024)] == [
        False, True, False, True,
    ]
    assert validate_date_parts(2000, 2, 29, OPTS) == date(2000, 2, 29)
    assert validate_date_parts(2024, 2, 29, OPTS) == date(2024, 2, 29)
    assert validate_date_parts(2023, 2, 29, OPTS) is None
    assert validate_date_parts(2021, 4, 31, OPTS) is None  # 30-day month
    assert validate_date_parts(2021, 13, 1, OPTS) is None
    assert validate_date_parts(2021, 1, 0, OPTS) is None
    assert validate_date_parts(1500, 1, 1, OPTS) is None  # pre-Gregorian
    # outside the default [min_date, max_date] window
    assert validate_date_parts(1994, 12, 31, OPTS) is None
    assert validate_date_parts(OPTS.max_date.year + 1, 1, 1, OPTS) is None


def test_compare_values_running_min_and_max():
    from datetime import date

    from go_htmldate_spark.functions.validate import (
        check_extracted_reference,
        compare_values,
        to_unix,
    )

    y19, y20, y21 = (to_unix(date(y, 1, 1)) for y in (2019, 2020, 2021))
    # original date: a running minimum, 0 meaning "nothing yet"
    assert compare_values(0, date(2020, 1, 1), OPTS_ORIG) == (y20, True)
    assert compare_values(y19, date(2020, 1, 1), OPTS_ORIG) == (y19, False)
    assert compare_values(y21, date(2020, 1, 1), OPTS_ORIG) == (y20, True)
    # updated date: a running maximum
    assert compare_values(y19, date(2020, 1, 1), OPTS) == (y20, True)
    assert compare_values(y21, date(2020, 1, 1), OPTS) == (y21, False)
    # and back from unix seconds, range-checked
    assert check_extracted_reference(y20, OPTS) == date(2020, 1, 1)
    assert check_extracted_reference(0, OPTS) is None
    assert check_extracted_reference(to_unix(date(1990, 1, 1)), OPTS) is None


def test_two_digit_year_and_day_month_swap():
    from go_htmldate_spark.functions.dateparse import (
        correct_year,
        try_swap_values,
    )

    assert [correct_year(y) for y in (95, 89, 5, 2011)] == [
        1995, 2089, 2005, 2011,
    ]
    # (day, month) swaps only when the month cannot be one and the day can
    assert try_swap_values(3, 14) == (14, 3)
    assert try_swap_values(14, 3) == (14, 3)
    assert try_swap_values(13, 14) == (13, 14)


@pytest.mark.parametrize(
    "url,expected",
    [
        ("https://example.com/2017/09/01/article", "2017-09-01"),
        ("https://example.com/2017-9-1", "2017-09-01"),
        ("https://example.com/2017_09_01.html", "2017-09-01"),
        ("https://example.com/2017/02/30/x", ""),  # no such day
        ("https://example.com/12017/09/01/x", ""),  # year not delimited
        ("https://example.com/1990/09/01/x", ""),  # before min_date
    ],
)
def test_extract_url_date(url, expected):
    from go_htmldate_spark.functions.dateparse import extract_url_date

    assert _fmt(extract_url_date(url, OPTS)) == expected
