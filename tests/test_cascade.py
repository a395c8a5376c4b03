"""End-to-end cascade golden tests.

Every (html, expected) pair is vendored from the reference's
Test_HtmlDate inline-string assertions (/root/reference/core_test.go:33-714)
— behavior pins on exact yyyy-MM-dd output.
"""

from __future__ import annotations

from datetime import date

import pytest

from go_htmldate_spark import Options, from_html
from go_htmldate_spark.cascade import find_date
from go_htmldate_spark.dom.parser import parse_html

DEFAULT = Options()
ORIGINAL = Options(use_original_date=True)
SKIP_EXT = Options(skip_extensive_search=True)


def run(html: str, opts: Options = DEFAULT) -> str:
    return from_html(html, opts).date


# (html, expected, opts) — core_test.go line cited in comments where helpful
STRING_CASES = [
    ("<html><body>XYZ</body></html>", "", DEFAULT),
    ("<html><body><time></time></body></html>", "", DEFAULT),
    ('<html><body><abbr class="published"></abbr></body></html>', "", DEFAULT),
    # meta property/name dates (:83-199)
    ('<html><head><meta property="dc:created" content="2017-09-01"></head><body><p>HELLO</p></body></html>', "2017-09-01", ORIGINAL),
    ('<html><head><meta property="dc:created" content="2017-09-01"/></head><body></body></html>', "2017-09-01", ORIGINAL),
    ('<html><head><meta property="og:published_time" content="2017-09-01"/></head><body></body></html>', "2017-09-01", ORIGINAL),
    ('<html><head><meta name="last-modified" content="2017-09-01"/></head><body></body></html>', "2017-09-01", DEFAULT),
    ('<html><head><meta property="OG:Updated_Time" content="2017-09-01"/></head><body></body></html>', "2017-09-01", DEFAULT),
    ('<html><head><meta property="og:updated_time" content="2017-09-01"/></head><body></body></html>', "2017-09-01", DEFAULT),
    ('<html><head><meta property="og:regDate" content="20210820030646"></head><body></body></html>', "2021-08-20", DEFAULT),
    ('<html><head><meta name="created" content="2017-01-09"/></head><body></body></html>', "2017-01-09", DEFAULT),
    ('<html><head><meta name="citation_publication_date" content="2017-01-09"/></head><body></body></html>', "2017-01-09", DEFAULT),
    ('<html><head><meta itemprop="copyrightyear" content="2017"/></head><body></body></html>', "2017-01-01", DEFAULT),
    # original vs modified precedence (:113-135)
    ('<html><head>\n<meta property="OG:Updated_Time" content="2017-09-01"/>\n<meta property="OG:DatePublished" content="2017-07-02"/>\n</head><body/></html>', "2017-09-01", DEFAULT),
    ('<html><head>\n<meta property="OG:Updated_Time" content="2017-09-01"/>\n<meta property="OG:DatePublished" content="2017-07-02"/>\n</head><body/></html>', "2017-07-02", ORIGINAL),
    ('<html><head>\n<meta property="article:modified_time" content="2021-04-06T06:32:14+00:00" />\n<meta property="article:published_time" content="2020-07-21T00:17:28+00:00" />\n</head><body/></html>', "2021-04-06", DEFAULT),
    ('<html><head>\n<meta property="article:modified_time" content="2021-04-06T06:32:14+00:00" />\n<meta property="article:published_time" content="2020-07-21T00:17:28+00:00" />\n</head><body/></html>', "2020-07-21", ORIGINAL),
    ('<html><head>\n<meta property="article:published_time" content="2020-07-21T00:17:28+00:00" />\n<meta property="article:modified_time" content="2021-04-06T06:32:14+00:00" />\n</head><body/></html>', "2021-04-06", DEFAULT),
    ('<html><head>\n<meta property="article:published_time" content="2020-07-21T00:17:28+00:00" />\n<meta property="article:modified_time" content="2021-04-06T06:32:14+00:00" />\n</head><body/></html>', "2020-07-21", ORIGINAL),
    ("<html><head><meta/></head><body></body></html>", "", DEFAULT),
    ('<html><head><meta name="og:url" content="http://www.example.com/2018/02/01/entrytitle"/></head><body></body></html>', "2018-02-01", DEFAULT),
    ('<html><head><meta itemprop="datecreated" datetime="2018-02-02"/></head><body></body></html>', "2018-02-02", DEFAULT),
    ('<html><head><meta itemprop="datemodified" content="2018-02-04"/></head><body></body></html>', "2018-02-04", DEFAULT),
    ('<html><head><meta http-equiv="last-modified" content="2018-02-05"/></head><body></body></html>', "2018-02-05", DEFAULT),
    ('<html><head><meta name="lastmodified" content="2018-02-05"/></head><body></body></html>', "2018-02-05", ORIGINAL),
    ('<html><head><meta name="lastmodified" content="2018-02-05"/></head><body></body></html>', "2018-02-05", DEFAULT),
    ('<html><head><meta http-equiv="date" content="2017-09-01"/></head><body></body></html>', "2017-09-01", ORIGINAL),
    ('<html><head><meta http-equiv="last-modified" content="2018-10-01"/><meta http-equiv="date" content="2017-09-01"/></head><body></body></html>', "2017-09-01", ORIGINAL),
    ('<html><head><meta http-equiv="last-modified" content="2018-10-01"/><meta http-equiv="date" content="2017-09-01"/></head><body></body></html>', "2018-10-01", DEFAULT),
    ('<html><head><meta http-equiv="date" content="2017-09-01"/><meta http-equiv="last-modified" content="2018-10-01"/></head><body></body></html>', "2017-09-01", ORIGINAL),
    ('<html><head><meta http-equiv="date" content="2017-09-01"/><meta http-equiv="last-modified" content="2018-10-01"/></head><body></body></html>', "2018-10-01", DEFAULT),
    ('<html><head><meta name="Publish_Date" content="02.02.2004"/></head><body></body></html>', "2004-02-02", DEFAULT),
    ('<html><head><meta name="pubDate" content="2018-02-06"/></head><body></body></html>', "2018-02-06", DEFAULT),
    ('<html><head><meta pubdate="pubDate" content="2018-02-06"/></head><body></body></html>', "2018-02-06", DEFAULT),
    ('<html><head><meta itemprop="DateModified" datetime="2018-02-06"/></head><body></body></html>', "2018-02-06", DEFAULT),
    ('<html><head><meta name="DC.Issued" content="2021-07-13"/></head><body></body></html>', "2021-07-13", DEFAULT),
    ('<html><head><meta itemprop="dateUpdate" datetime="2018-02-06"/></head><body></body></html>', "2018-02-06", ORIGINAL),
    ('<html><head><meta itemprop="dateUpdate" datetime="2018-02-06"/></head><body></body></html>', "2018-02-06", DEFAULT),
    # time elements (:209-249)
    ('<html><body><time datetime="08:00"></body></html>', "", DEFAULT),
    ('<html><body><time datetime="2014-07-10 08:30:45.687"></body></html>', "2014-07-10", DEFAULT),
    ('<html><head></head><body><time class="entry-time" itemprop="datePublished" datetime="2018-04-18T09:57:38+00:00"></body></html>', "2018-04-18", DEFAULT),
    ('<html><body><footer class="article-footer"><p class="byline">Veröffentlicht am <time class="updated" datetime="2019-01-03T14:56:51+00:00">3. Januar 2019 um 14:56 Uhr.</time></p></footer></body></html>', "2019-01-03", DEFAULT),
    ('<html><body><footer class="article-footer"><p class="byline">Veröffentlicht am <time class="updated" datetime="2019-01-03T14:56:51+00:00"></time></p></footer></body></html>', "2019-01-03", DEFAULT),
    ('<html><body><time datetime="2011-09-27" class="entry-date"></time><time datetime="2011-09-28" class="updated"></time></body></html>', "2011-09-27", ORIGINAL),
    ('<html><body><time datetime="2011-09-27" class="entry-date"></time><time datetime="2011-09-28" class="updated"></time></body></html>', "2011-09-28", DEFAULT),
    ('<html><body><time datetime="2011-09-28" class="updated"></time><time datetime="2011-09-27" class="entry-date"></time></body></html>', "2011-09-27", ORIGINAL),
    ('<html><body><time datetime="2011-09-28" class="updated"></time><time datetime="2011-09-27" class="entry-date"></time></body></html>', "2011-09-28", DEFAULT),
    ('<html><body><time datetime="2011-09-28" pubdate="pubdate"></time></body></html>', "2011-09-28", DEFAULT),
    ('<html><body><time datetime="2011-09-28" pubdate="pubdate"></time></body></html>', "2011-09-28", ORIGINAL),
    ('<html><body><time datetime="2011-09-28" class="entry-date"></time></body></html>', "2011-09-28", DEFAULT),
    ('<html><body><time class="Feed-module--feed__item-meta-time--3t1fg" dateTime="November 29, 2020">November 2020</time></body></html>', "2020-11-29", DEFAULT),
    # precise patterns in body (:252-262)
    ('<html><body><font size="2" face="Arial,Geneva,Helvetica">Bei <a href="../../sonstiges/anfrage.php"><b>Bestellungen</b></a> bitte Angabe der Titelnummer nicht vergessen!<br><br>Stand: 03.04.2019</font></body></html>', "2019-04-03", DEFAULT),
    ("<html><body><div>Erstausstrahlung: 01.01.2020</div><div>Preisstand: 03.02.2022 03:00 GMT+1</div></body></html>", "2022-02-03", DEFAULT),
    ("<html><body>Datum: 10.11.2017</body></html>", "2017-11-10", DEFAULT),
    # abbr (:296-317)
    ('<html><body><abbr class="published">am 12.11.16</abbr></body></html>', "2016-11-12", DEFAULT),
    ('<html><body><abbr class="published">am 12.11.16</abbr></body></html>', "2016-11-12", ORIGINAL),
    ('<html><body><abbr class="published" title="2016-11-12">XYZ</abbr></body></html>', "2016-11-12", ORIGINAL),
    ('<html><body><abbr class="date-published">8.11.2016</abbr></body></html>', "2016-11-08", DEFAULT),
    ('<html><body><abbr data-utime="1438091078" class="something">A date</abbr></body></html>', "2015-07-28", DEFAULT),
    ('<html><body><abbr data-utime="143809-1078" class="something">A date</abbr></body></html>', "", DEFAULT),
    # time in body / selector rules (:320-332)
    ("<html><body><time>2018-01-04</time></body></html>", "2018-01-04", DEFAULT),
    ('<html><body><div class="fecha">2018-01-04</div></body></html>', "2018-01-04", DEFAULT),
    ('<html><body>"datePublished":"2018-01-04"</body></html>', "2018-01-04", DEFAULT),
    ("<html><body>Stand: 1.4.18</body></html>", "2018-04-01", DEFAULT),
    # free text (:383-394)
    ("<html><body>&copy; 2017</body></html>", "2017-01-01", DEFAULT),
    ("<html><body>© 2017</body></html>", "2017-01-01", DEFAULT),
    ("<html><body><p>Dieses Datum ist leider ungültig: 30. Februar 2018.</p></body></html>", "", SKIP_EXT),
    ("<html><body><p>Dieses Datum ist leider ungültig: 30. Februar 2018.</p></body></html>", "2018-01-01", DEFAULT),
    # og:image / img URLs (:462-480)
    ('<html><meta property="og:image" content="https://example.org/img/2019-05-05/test.jpg"><body></body></html>', "2019-05-05", DEFAULT),
    ('<html><meta property="og:image" content="https://example.org/img/test.jpg"><body></body></html>', "", DEFAULT),
    ('<html><body><img src="https://example.org/img/2019-05-05/test.jpg"/></body></html>', "2019-05-05", DEFAULT),
    ('<html><body><img src="https://example.org/img/test.jpg"/></body></html>', "", DEFAULT),
    ('<html><body><img src="https://example.org/img/2019-05-03/test.jpg"/><img src="https://example.org/img/2019-05-04/test.jpg"/><img src="https://example.org/img/2019-05-05/test.jpg"/></body></html>', "2019-05-05", DEFAULT),
    ('<html><body><img src="https://example.org/img/2019-05-05/test.jpg"/><img src="https://example.org/img/2019-05-04/test.jpg"/><img src="https://example.org/img/2019-05-03/test.jpg"/></body></html>', "2019-05-05", DEFAULT),
    # title (:483-484)
    ("<html><head><title>Bericht zur Coronalage vom 22.04.2020 – worauf wartet die Politik? – DIE ACHSE DES GUTEN. ACHGUT.COM</title></head></html>", "2020-04-22", DEFAULT),
    # unknown div (:487-491)
    ('<html><body><div class="spip spip-block-right" style="text-align:right;">Le 26 juin 2019</div></body></html>', "", SKIP_EXT),
    ('<html><body><div class="spip spip-block-right" style="text-align:right;">Le 26 juin 2019</div></body></html>', "2019-06-26", DEFAULT),
    # link title (:494-495)
    ('<html><body><a class="ribbon date " title="12th December 2018" href="https://example.org/" itemprop="url">Text</a></body></html>', "2018-12-12", DEFAULT),
    # wild text (:508-509)
    ("<html><body>Wed, 19 Oct 2022 14:24:05 +0000</body></html>", "2022-10-19", DEFAULT),
    # idiosyncrasies (:588-644)
    ("<html><body><p><em>Last updated: 5/5/20</em></p></body></html>", "2020-05-05", DEFAULT),
    ("<html><body><p><em>Last updated: 01/23/2021</em></p></body></html>", "2021-01-23", DEFAULT),
    ("<html><body><p><em>Last updated: 01/23/21</em></p></body></html>", "2021-01-23", DEFAULT),
    ("<html><body><p><em>Last updated: 1/23/21</em></p></body></html>", "2021-01-23", DEFAULT),
    ("<html><body><p><em>Last updated: 23/1/21</em></p></body></html>", "2021-01-23", DEFAULT),
    ("<html><body><p><em>Last updated: 23/01/21</em></p></body></html>", "2021-01-23", DEFAULT),
    ("<html><body><p><em>Last updated: 23/01/2021</em></p></body></html>", "2021-01-23", DEFAULT),
    ("<html><body><p><em>Last updated: 33/23/3033</em></p></body></html>", "", DEFAULT),
    ("<html><body><p><em>Published: 5/5/2020</em></p></body></html>", "2020-05-05", DEFAULT),
    ("<html><body><p><em>Published in: 05.05.2020</em></p></body></html>", "2020-05-05", DEFAULT),
    ("<html><body><p><em>Son güncelleme: 5/5/20</em></p></body></html>", "2020-05-05", DEFAULT),
    ("<html><body><p><em>Son güncellenme: 5/5/2020</em></p></body></html>", "2020-05-05", DEFAULT),
    ("<html><body><p><em>Yayımlama tarihi: 05.05.2020</em></p></body></html>", "2020-05-05", DEFAULT),
    ("<html><body><p><em>Son güncelleme tarihi: 5/5/20</em></p></body></html>", "2020-05-05", DEFAULT),
    ("<html><body><p><em>5/5/20 tarihinde güncellendi.</em></p></body></html>", "2020-05-05", DEFAULT),
    ("<html><body><p><em>5/5/2020 tarihinde yayımlandı.</em></p></body></html>", "2020-05-05", DEFAULT),
    ("<html><body><p><em>05.05.2020 tarihinde yayınlandı.</em></p></body></html>", "2020-05-05", DEFAULT),
    # README-style (:649-659)
    ('<html><body><span class="entry-date">July 12th, 2016</span></body></html>', "2016-07-12", DEFAULT),
]


@pytest.mark.parametrize("html,expected,opts", STRING_CASES)
def test_html_string_cases(html, expected, opts):
    assert run(html, opts) == expected


# min-date behavior (core_test.go:502-505)
def test_min_date_gate():
    html = '<html><meta><meta property="article:published_time" content="1991-01-02T01:01:00+01:00"></meta><body></body></html>'
    assert run(html, Options(min_date=date(2000, 1, 1))) == ""
    assert run(html, Options(min_date=date(1990, 1, 1))) == "1991-01-02"


# URL-only extraction (core_test.go:566-586)
@pytest.mark.parametrize(
    "url,expected",
    [
        ("http://example.com/category/2016/07/12/key-words", "2016-07-12"),
        ("http://example.com/2016/key-words", ""),
        ("http://www.kreditwesen.org/widerstand-berlin/2012-11-29/keine-kurzung-bei-der-jugend-klubs-konnen-vorerst-aufatmen-bvv-beschliest-haushaltsplan/", "2012-11-29"),
        ("http://www.kreditwesen.org/widerstand-berlin/6666-42-87/", ""),
        ("https://www.pamelaandersonfoundation.org/news/2019/6/26/dm4wjh7skxerzzw8qa8cklj8xdri5j", "2019-06-26"),
        ("http://example.com/category/2016/", ""),
    ],
)
def test_url_only(url, expected):
    html = "<html><body></body></html>"
    assert run(html, Options(url=url)) == expected


# findDate deferred-URL precedence (core_test.go:779-805)
def test_find_date_defer():
    html = '\n\t<html>\n\t\t<head><meta property="og:published_time" content="2017-09-01"/></head>\n\t\t<body></body>\n\t</html>'
    url = "https://example.org/2017/08/30/this.html"
    doc = parse_html(html)
    _, dt = find_date(doc, Options(url=url, defer_url_extractor=True).with_defaults())
    assert dt.isoformat() == "2017-09-01"
    doc = parse_html(html)
    _, dt = find_date(doc, Options(url=url).with_defaults())
    assert dt.isoformat() == "2017-08-30"


# deferred URL + time extraction (core_test.go:688-713)
_FOOL_CA = """<!doctype html>
\t<html lang="en-CA" class="no-js">
\t
\t<head>
\t\t<link rel="canonical" href="https://www.fool.ca/2022/10/20/3-stable-stocks-id-buy-if-the-market-tanks-further/" />
\t\t<meta property="article:published_time" content="2022-10-20T18:45:00+00:00" />
\t\t<meta property="article:modified_time" content="2022-10-20T18:35:08+00:00" />
\t\t<script type="application/ld+json" class="yoast-schema-graph">{"@context":"https://schema.org","@graph":[{"@type":"WebPage","datePublished":"2022-10-20T18:45:00+00:00","dateModified":"2022-10-20T18:35:08+00:00"}]}</script>
\t</head>
\t
\t<body> <span class="posted-on">Published <time class="entry-date published" datetime="2022-10-20T14:45:00-04:00">October 20, 2:45 pm EDT</time></span> </body>
\t
\t</html>"""


def test_deferred_url_with_time():
    res = from_html(
        _FOOL_CA,
        Options(extract_time=True, use_original_date=True, defer_url_extractor=True),
    )
    assert res.wall_datetime.strftime("%Y-%m-%d %H:%M") == "2022-10-20 18:45"

    res = from_html(_FOOL_CA, Options())
    assert res.date == "2022-10-20"
    assert res.wall_datetime.strftime("%Y-%m-%d %H:%M") == "2022-10-20 00:00"


# --- src_string byte-parity spot checks (north-rule: byte-identical
# extracted source strings per url) ---
def test_src_string_meta():
    r = from_html(
        '<html><head><meta property="article:published_time" content="  2020-07-21T00:17:28+00:00 "/></head><body/></html>',
        Options(use_original_date=True),
    )
    # whitespace-normalized raw source (core.go:131), content was trimmed
    assert r.src_string == "2020-07-21T00:17:28+00:00"


def test_src_string_url_stage():
    r = from_html(
        "<html><body></body></html>",
        Options(url="http://example.com/2016/07/12/key-words"),
    )
    assert r.src_string == "http://example.com/2016/07/12/key-words"


def test_src_string_time_element():
    r = from_html(
        '<html><body><time datetime="2011-09-28" pubdate="pubdate"></time></body></html>',
        Options(use_original_date=True),
    )
    assert r.src_string == "2011-09-28"


def test_src_string_copyright_slice():
    r = from_html("<html><body>&copy; 2017 Some Company</body></html>", Options())
    # raw string = 100-char slice of serialized HTML from the match start,
    # space-normalized — includes following markup (validators.go:144)
    assert r.src_string == "© 2017 Some Company</body>"


def test_time_and_timezone_fields():
    r = from_html(
        '<html><head><meta property="article:published_time" content="2020-07-21T06:32:14+02:00"/></head><body/></html>',
        Options(use_original_date=True, extract_time=True),
    )
    assert (r.date, r.has_time, r.has_tz, r.tz_offset) == (
        "2020-07-21", True, True, 7200,
    )
    assert r.wall_datetime.strftime("%H:%M:%S") == "06:32:14"


def test_uppercase_attr_names_hit_date_rule():
    # Legacy HTML with uppercase attribute names: x/net/html lowercases
    # attr names at parse time, so CLASS= must still trigger the
    # date-element stage (round-2 ADVICE high: the raw-attrs fast gate
    # was case-sensitive and skipped the stage, extracting the decoy).
    html = (
        "<html><body>"
        '<span CLASS="post-date">5.3.2019</span>'
        "<p>decoy text 2021-11-11</p>"
        "</body></html>"
    )
    assert run(html) == "2019-03-05"
    # mixed case on id as well (span: divs are masked because
    # discard_rule parses their attrs before date_rule runs)
    html2 = (
        "<html><body>"
        '<span Id="post-date">1.1.2018</span>'
        "<p>decoy 2022-12-12</p>"
        "</body></html>"
    )
    assert run(html2) == "2018-01-01"


def test_enable_log_diagnostic_mode(caplog):
    # core-options.go:44-45 + core.go:97-99: EnableLog flips the package
    # logger to debug; stage probes become visible
    import logging

    html = (
        '<html><head><meta property="article:published_time" '
        'content="2020-07-21T06:32:14+02:00"/></head><body/></html>'
    )
    with caplog.at_level(logging.DEBUG, logger="go_htmldate_spark"):
        r = from_html(html, Options(enable_log=True))
    assert r.date == "2020-07-21"
    assert any("examining meta property" in m for m in caplog.messages)


def test_from_html_accepts_raw_bytes():
    """FromReader parity: bytes input is charset-sniffed, not silently
    empty (regression: the str-typed parser returned no tokens for
    bytes)."""
    latin = "<html><head><meta charset='iso-8859-1'></head><body><time datetime='2019-03-05'>5. M\xe4rz 2019</time></body></html>".encode("iso-8859-1")
    assert from_html(latin, Options()).date == "2019-03-05"


@pytest.mark.reference_corpus
def test_from_html_accepts_raw_bytes_mock_page():
    """The bytes path on a real page of the reference corpus."""
    from go_htmldate_spark.sources.mockcorpus import MOCK_DIR

    raw = open(f"{MOCK_DIR}/github.com.html", "rb").read()
    assert from_html(raw, Options()).date == "2017-11-28"
