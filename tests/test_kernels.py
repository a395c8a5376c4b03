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
