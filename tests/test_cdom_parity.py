"""Differential parity: C tokenizer (_cdom) vs pure-Python tokenizer.

The C accelerator must produce byte-identical trees to the regex
tokenizer (whose behavior the golden suites pin) on every mock page
plus a battery of adversarial token-boundary cases.  Tree equality is
checked structurally (kind/tag/attrs/data over a full DFS, parsed
attrs compared — not raw text) AND via the serializer, which the
extensive-search stages regex over, so byte parity matters twice.
"""

from __future__ import annotations

import glob
from pathlib import Path

import pytest

from go_htmldate_spark.dom import parser as domp
from go_htmldate_spark.dom.fastparse import build_tree as py_build_tree
from go_htmldate_spark.dom.parser import ELEMENT, Node, render_children

cdom = domp._CDOM


def pure_inner_html(node: Node) -> str:
    """The pure-Python serializer, bypassing the C render_inner."""
    out: list[str] = []
    render_children(node, out)
    return "".join(out)


def inner_html(node: Node) -> str:
    """The C serializer (what production inner_html uses)."""
    return cdom.render_inner(node)


MOCK_PAGES = sorted(glob.glob("/root/reference/test-files/mock/*.html"))

EDGE_CASES = [
    "",
    "plain text only",
    "a<3 and b<4",
    "<",
    "tail<",
    "<b>unclosed",
    "</b>stray close",
    "</3> bad close",
    "<!doctype html><p>x",
    "<!>empty decl",
    "<! unterminated decl",
    "<? pi ?><p>x</p>",
    "<? unterminated pi",
    "<!-- comment --><p>x</p>",
    "<!--unterminated comment <p>y</p>",
    "<!---->",
    "<!-->",
    "<p>one<p>two<p>three",
    "<div><p>a<div>b</div>",
    "<ul><li>1<li>2<li>3</ul>",
    "<table><tr><td>a<td>b<tr><td>c</table>",
    "<dl><dt>t<dd>d<dt>t2</dl>",
    "<select><option>a<option>b<optgroup><option>c</select>",
    "<br/><hr/><img src=x/>",
    "<svg/><p>after svg</p>",
    "<math/>tail",
    "<html/>opens html",
    '<span CLASS="post-date">5.3.2019</span>',
    '<a HREF="/x" Id=Y itemPROP="datePublished">t</a>',
    "<a href='sq'>q</a>",
    "<a href=unquoted>u</a>",
    "<a href>novalue</a>",
    "<a href=>empty</a>",
    '<a href="unterminated>x</a>',
    '<a b="x<y">lt in attr</a>',
    "<a b='5 > 4'>gt in attr</a>",
    "<a  =leading-eq foo=1>x</a>",
    "<a data-x=1/>selfclose-attr",
    "<a/ >slash-space",
    "<script>if(a<b && c>d){}</script><p>after</p>",
    "<script>no close tag at all",
    "<SCRIPT>upper</SCRIPT><p>x</p>",
    "<script>x</script >ws in close<p>y</p>",
    "<style>a{content:'</div>'}</style>",
    "<textarea>a &amp; b <not-a-tag></textarea>",
    "<title>T &amp; &lt;U&gt;</title>",
    "<xmp><p>literal</p></xmp>",
    "<plaintext>everything <b>after",
    "text &amp; entities &#65; &unknown; &",
    "&nbsp;&copy;2019",
    "tab\tand\nnewlines<p> spaced </p>",
    "unicode é中文<p>рус</p>",
    "<p  >nbsp attr gap</p>",
    "<meta charset=utf-8><META NAME=date CONTENT=2020-01-02>",
    "<time datetime=2020-05-06>x</time>",
    "<footer><small>(c) 2018</small></footer>",
    "<h1>h<h2>i</h2></h1>after",
    "<form><fieldset><p>a<fieldset>b</form>",
    "< notag>",
    "<1digit>",
    "<-dash>",
    "nested <b><i><u>deep</u></i></b> ok",
    "<div" + " " * 5000 + "id=far>spaces</div>",
    "<p \x1cX=1>fs-space</p>",
    "<a\u2003b=1>em-space</a>",
    "<a b\xa0=c>nbsp in attrs</a>",
    "<script>x</script\u2009>ts close<p>y</p>",
    "<p>" + "x" * 100000 + "</p>",
    "<!--\n",            # unterminated comment: $ matches before a FINAL newline
    "<!--a\n",
    "<!--a\nb",          # ...but not before an interior newline
    "<!--a\n\n",
]


def _tree_sig(n: Node) -> list:
    """Structural signature: DFS list of (kind, tag, attrs, data)."""
    out = []
    stack = [n]
    while stack:
        node = stack.pop()
        attrs = node.attrs if node.kind == ELEMENT else []
        out.append((node.kind, node.tag, list(attrs), node.data))
        stack.extend(reversed(node.children))
    return out


def _c_build_tree(html: str) -> Node:
    root = Node(ELEMENT, "#root")
    cdom.build_into(root, html)
    return root


@pytest.mark.reference_corpus
@pytest.mark.parametrize("path", MOCK_PAGES, ids=[p.rsplit("/", 1)[1] for p in MOCK_PAGES])
def test_mock_page_parity(path):
    html = open(path, encoding="utf-8", errors="replace").read()
    c_root = _c_build_tree(html)
    p_root = py_build_tree(html)
    # C tokenizer + C serializer vs pure tokenizer + pure serializer
    assert inner_html(c_root) == pure_inner_html(p_root)
    assert _tree_sig(c_root) == _tree_sig(p_root)


@pytest.mark.reference_corpus
@pytest.mark.parametrize(
    "path", MOCK_PAGES[::4], ids=[p.rsplit("/", 1)[1] for p in MOCK_PAGES[::4]]
)
def test_traversal_helper_parity(path):
    """iter_elements / prune_and_collect / filter_date C paths match the
    pure-Python implementations on real pages."""
    from go_htmldate_spark import cascade
    from go_htmldate_spark.dom import selectors as sel

    html = open(path, encoding="utf-8", errors="replace").read()
    doc = domp.parse_html(html)

    # iter_elements
    c_elems = cdom.iter_elements(doc)
    p_elems = []
    stack = list(reversed(doc.children))
    while stack:
        node = stack.pop()
        if node.kind == ELEMENT:
            p_elems.append(node)
            if node.children:
                stack.extend(reversed(node.children))
    assert [id(e) for e in c_elems] == [id(e) for e in p_elems]

    # filter_date (both modes) vs the pure selectors
    for fast in (False, True):
        rule = sel.fast_date if fast else sel.slow_date
        c_sel = cdom.filter_date(c_elems, fast)
        p_sel = [e for e in c_elems if rule(e)]
        assert [id(e) for e in c_sel] == [id(e) for e in p_sel]

    # prune_and_collect on two independent clones
    d1, d2 = doc.clone(), doc.clone()
    c_out = cdom.prune_and_collect(d1, cascade._CLEAN_TAGS)
    p_out = []
    stack = list(reversed(d2.children))
    while stack:
        node = stack.pop()
        if node.kind != ELEMENT:
            continue
        if node.tag in cascade._CLEAN_TAGS or sel.discard_rule(node):
            node.remove()
            continue
        p_out.append(node)
        if node.children:
            stack.extend(reversed(node.children))
    assert [(e.tag, len(e.children)) for e in c_out] == [
        (e.tag, len(e.children)) for e in p_out
    ]
    assert pure_inner_html(d1) == pure_inner_html(d2)


@pytest.mark.parametrize("html", EDGE_CASES, ids=range(len(EDGE_CASES)))
def test_edge_case_parity(html):
    c_root = _c_build_tree(html)
    p_root = py_build_tree(html)
    assert _tree_sig(c_root) == _tree_sig(p_root)
    assert inner_html(c_root) == inner_html(p_root)


def test_tag_sets_in_sync():
    """The tag sets compiled into _cdom.c must mirror parser.py's."""
    sets = cdom.tag_sets()
    assert set(sets["void"]) == domp.VOID_ELEMENTS
    assert set(sets["p_closers"]) == domp._P_CLOSERS
    from go_htmldate_spark.dom.fastparse import _RAWTEXT

    assert set(sets["rawtext"]) == _RAWTEXT
    assert set(sets["raw_render"]) == domp.RAW_TEXT_TAGS


def test_parse_attrs_parity():
    from go_htmldate_spark.dom.fastparse import _parse_attrs

    cases = [
        "",
        " ",
        'href="/x" id=Y',
        "a=1 b='2' c=\"3\"",
        "checked",
        "a= b",
        "a =b",
        "a = b",
        'a="x<y" b="5>4"',
        'CLASS="Post-Date" ITEMPROP=datePublished',
        'a="unterminated',
        "a='unterminated",
        "a=&amp;x b=\"&copy;\"",
        "data-é=1 中=v",
        "/ a=1 / b=2 /",
        "= == a",
        'single"quote inside=x',
    ]
    for raw in cases:
        assert cdom.parse_attrs(raw) == _parse_attrs(raw), raw


@pytest.mark.reference_corpus
def test_eval_corpus_sample_parity():
    """Tree parity over a slice of the real 1000-doc eval corpus."""
    import sys

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "scripts"))
    from eval_corpus import find_file, load_entries

    docs = 0
    for e in load_entries():
        p = find_file(e["file"])
        if p is None:
            continue
        html = open(p, encoding="utf-8", errors="replace").read()
        c_root = _c_build_tree(html)
        p_root = py_build_tree(html)
        assert inner_html(c_root) == inner_html(p_root), e["file"]
        assert _tree_sig(c_root) == _tree_sig(p_root), e["file"]
        docs += 1
        if docs >= 120:
            break
    assert docs >= 100


# -- property-based differential fuzz ---------------------------------------

try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _FRAGMENTS = [
        "<div>", "</div>", "<p>", "</p>", "<br/>", "<br />", "<img src=x>",
        "<span class='a b'>", '<a href="u?x=1&y=2">', "<A HREF=UP>",
        "<script>", "</script>", "</script >", "<style>", "</style>",
        "<!-- c -->", "<!--", "-->", "<!doctype html>", "<?pi?>",
        "&amp;", "&lt;", "&#65;", "&bogus;", "&", "<", ">", "/>", "='",
        "text", " ", "\t", "\n", " ", "\xa0", "x<y", "a=b", '"',
        "'", "<time datetime=2021-05-10>", "</time>", "<li>", "<td>",
        "<table>", "<tr>", "<option>", "<p", " id=", "<b><i>", "</i></b>",
        "<meta charset=utf-8>", "\x00", "\x1c", "é", "日本語",
    ]

    @settings(max_examples=300, deadline=None)
    @given(
        st.lists(
            st.one_of(
                st.sampled_from(_FRAGMENTS),
                st.text(min_size=0, max_size=12),
            ),
            min_size=0,
            max_size=40,
        )
    )
    def test_fuzz_c_vs_python_tokenizer(parts):
        """Any byte soup must tokenize identically in C and pure Python —
        structural tree signature AND serialized bytes (the extensive
        stages regex over the serialization, so byte parity matters)."""
        html = "".join(parts)
        c_root = _c_build_tree(html)
        p_root = py_build_tree(html)
        assert _tree_sig(c_root) == _tree_sig(p_root)
        assert pure_inner_html(c_root) == pure_inner_html(p_root)

except ImportError:  # hypothesis not installed: covered by EDGE_CASES
    pass


try:
    from hypothesis import given as _given, settings as _settings
    from hypothesis import strategies as _st

    from go_htmldate_spark import Options, from_html

    # exclude openers that legitimately swallow everything after them
    # (unclosed rawtext tags, unclosed comments): the assertion is that
    # NOISE can't beat the meta stage, not that HTML semantics vanish
    _SWALLOWERS = ("<script>", "<style>", "<!--")
    _NOISE = _st.lists(
        _st.one_of(
            _st.sampled_from(
                [f for f in _FRAGMENTS if f not in _SWALLOWERS]
            ),
            _st.text(min_size=0, max_size=10).filter(
                lambda t: "<!--" not in t
            ),
        ),
        min_size=0,
        max_size=20,
    ).map("".join)

    @_settings(max_examples=150, deadline=None)
    @_given(noise_head=_NOISE, noise_body=_NOISE)
    def test_fuzz_planted_meta_date_survives(noise_head, noise_body):
        """A well-formed article:published_time meta tag must win no
        matter what byte soup surrounds it — the cascade's meta stage
        outranks anything the noise can plant, and the parse must never
        raise. (Noise containing '<' can swallow a following tag, so the
        plant is fenced with a closing '>' on each side.)"""
        html = (
            "<html><head>>"
            + noise_head
            + "><meta property='article:published_time' "
            "content='2021-05-10T10:00:00Z'>"
            + "<title>t</title></head><body>>"
            + noise_body
            + "></body></html>"
        )
        res = from_html(html, Options(use_original_date=True))
        assert res.date == "2021-05-10"

except ImportError:
    pass


try:
    from hypothesis import given as _g2, settings as _s2
    from hypothesis import strategies as _st2

    from go_htmldate_spark.dom.fastparse import _parse_attrs as _pure_attrs

    _ATTR_FRAG = [
        "a=1", " ", "=", "'", '"', "b='x'", 'c="y"', "checked", "/", ">",
        "<", "a = b", "\t", "\n", "\xa0", "é=1", "x=''", 'y=""', "z=a'b",
        "=v", "a==b", "data-x", "\x1c", "a=b=c", "'unterminated", '"open',
        "\x80", "中", "𝒳",
    ]

    @_s2(max_examples=300, deadline=None)
    @_g2(
        _st2.lists(
            _st2.one_of(
                _st2.sampled_from(_ATTR_FRAG),
                _st2.text(min_size=0, max_size=8),
            ),
            min_size=0,
            max_size=25,
        )
    )
    def test_fuzz_parse_attrs_parity(parts):
        """C attr parser must match the regex parser on any raw tag text
        — including the val[1:-1] strip of unterminated quoted values,
        which must strip a CHARACTER, not a byte (a multi-byte final
        char once raised UnicodeDecodeError in C)."""
        raw = "".join(parts)
        assert cdom.parse_attrs(raw) == _pure_attrs(raw)

    def test_parse_attrs_unterminated_quote_multibyte_tail():
        raw = "0='unterminated\x80"
        assert cdom.parse_attrs(raw) == _pure_attrs(raw) == [
            ("0", "unterminated")
        ]

except ImportError:
    pass


try:
    from hypothesis import given as _g3, settings as _s3
    from hypothesis import strategies as _st3

    @_s3(max_examples=200, deadline=None)
    @_g3(
        _st3.lists(
            _st3.one_of(
                _st3.sampled_from(_FRAGMENTS),
                _st3.text(min_size=0, max_size=12),
            ),
            min_size=0,
            max_size=40,
        )
    )
    def test_fuzz_serializer_parity(parts):
        """C render_inner must serialize any tree byte-identically to the
        pure-Python renderer (the extensive stages regex over it)."""
        root = _c_build_tree("".join(parts))
        assert cdom.render_inner(root) == pure_inner_html(root)

except ImportError:
    pass


def test_cdom_children_setter_rejects_non_list():
    """The C traversals guard subtrees with PyList_Check and silently
    skip non-lists; the setter must therefore fail loudly on misuse."""
    import pytest

    from go_htmldate_spark.dom import parser as P

    n = P.Node(P.ELEMENT_NODE if hasattr(P, "ELEMENT_NODE") else 1, tag="div")
    with pytest.raises(TypeError):
        n.children = ("a", "b")
    n.children = []  # lists stay fine


def test_fast_unescape_matches_html_unescape_exhaustively():
    """The C entity fast path (_cdom.c fast_unescape) substitutes
    `&name;` table hits and plain-chr numeric charrefs itself and falls
    back to html.unescape for everything else. Sweep EVERY html5 entity
    key plus the adversarial shapes html.unescape resolves via its
    legacy/longest-prefix rules ("&ampere;" -> "&ere;"), asserting the
    parsed text equals html.unescape byte for byte."""
    import html as H
    from html.entities import html5

    def text_of(s: str) -> str:
        root = _c_build_tree("<p>" + s + "</p>")
        return root.elements_by_tag("p")[0].text_content()

    for k in html5:  # all 2231 named entities, ';' and legacy alike
        s = f"x &{k} y"
        assert text_of(s) == H.unescape(s), k

    edge = [
        "&ampere;", "&amp", "&amp-foo", "&#38", "&#38;", "&#x26;",
        "&#x2019;", "&nGt;", "&nbsp;&copy;", "&#1114112;", "&#xD800;",
        "&#0;", "&#151;", "&", "&;", "& x", "&unknown;",
        "&" + "a" * 40 + ";", "&#x;", "&#", "caf&eacute;", "R&D", "1&2",
        "&frac12;", "&#x10FFFF;", "&#128;", "&#x80;", "&#xfdd0;",
        "&#65534;", "&#00000038;", "&CounterClockwiseContourIntegral;",
    ]
    for s in edge:
        assert text_of(s) == H.unescape(s), s


def test_fast_unescape_applies_to_attr_values():
    root = _c_build_tree(
        '<meta content="a &amp; b &ampere; &#8217; &#x10FFFF;">'
    )
    import html as H

    got = root.elements_by_tag("meta")[0].attr("content")
    assert got == H.unescape("a &amp; b &ampere; &#8217; &#x10FFFF;")


def test_c_attr_matches_first_occurrence_scan():
    """Node.attr is _cdom.NodeBase.attr; it must match a first-occurrence
    scan over the regex attribute parser: lazy raw-attrs parse, first
    occurrence wins, '' for missing, and cached list reuse after manual
    assignment."""
    from go_htmldate_spark.dom.fastparse import _parse_attrs

    def first(pairs, name):
        return next((v for k, v in pairs if k == name), "")

    for raw in (
        ' NAME="date" name="shadowed" content="2020-01-02" flag',
        " id='' ID=x class=a CLASS=b",
        " a=&amp;b A='2' data-x data-x=3",
    ):
        c = _c_build_tree(f"<meta{raw}>").elements_by_tag("meta")[0]
        assert c._attrs is None  # attr() must parse lazily
        pairs = _parse_attrs(raw)
        for name in ("name", "content", "flag", "missing", "NAME",
                     "id", "class", "a", "data-x"):
            assert c.attr(name) == first(pairs, name), (raw, name)
    # manual assignment path (clone() shares parsed lists)
    c2 = _c_build_tree("<div></div>").elements_by_tag("div")[0]
    c2.attrs = [("k", "v"), ("k", "v2")]
    assert c2.attr("k") == "v"
    assert c2.attr("zzz") == ""


# --------------------------------------------------------- prelude scan

_JSON_TYPES = ("application/ld+json", "application/settings+json")

_PRELUDE_HAZARD_CASES = [
    # shapes where parse_html normalization drops/reorders elements:
    # scan_prelude must return None (tree fallback) or match anyway
    '<meta name="a" content="b"><html><head></head></html>',       # outside html
    '<html><head></head></html><meta name="a" content="b">',       # after </html>
    '<html><head></head><meta name="s" content="t"><body></body></html>',  # stray
    '<html><head></head><body><p>x</p></body></html>'
    '<html><head><meta name="d" content="2020-01-02"></head></html>',  # 2 htmls
    '<head><meta name="a" content="b"></head><head><meta name="c" content="d"></head>',
    '<meta name="a" content="b"><head><meta name="c" content="d"></head>',
    '<html><body><div>x</div></body><meta name="late" content="z"></html>',
    # body-before-head: parse_html always emits head-subtree-first, so
    # source order diverges (round-5 review finding, verified repro)
    '<body><meta name="date" content="2001-01-01"></body>'
    '<head><meta name="date" content="2020-02-02"></head>',
    '<html><body><link rel="canonical" href="https://b.example/1"></body>'
    '<head><link rel="canonical" href="https://h.example/2"></head></html>',
    '<body><script type="application/ld+json">{"datePublished":"2001-01-01"}'
    '</script></body><head><script type="application/ld+json">'
    '{"datePublished":"2020-02-02"}</script></head>',
]

_PRELUDE_SAFE_CASES = [
    '<html><head><meta name="date" content="2020-01-02"></head>'
    '<body><script type="application/ld+json">{"datePublished":"2019-05-06"}'
    "</script></body></html>",
    '<meta name="date" content="2020-01-02"><div>fragment</div>',
    '<html><head><noscript><meta name="n" content="2001-02-03"></noscript>'
    "</head><body></body></html>",
    "<head><meta name='only-head' content='x'></head>",
    '<html><head><title><meta name="not-real" content="x"></title>'
    '<script>var s = \'<meta name="fake" content="y">\';</script>'
    "<!-- <meta name='ghost' content='z'> -->"
    '<meta http-equiv="date" content="2018-03-04"></head><body></body></html>',
    '<html><head><script TYPE="application/ld+json">{"dateModified":"2021-01-01"}'
    "</script></head><body></body></html>",
    '<html><head><script type="application/ld+json">broken {{{</script>'
    "</head><body></body></html>",
    # unclosed head swallows everything: all elements stay in its subtree
    '<head><meta name="a" content="b"><body><meta name="c" content="d">',
    '<html><head><link rel="canonical" href="https://x.example/a">'
    '<link rel="canonical" href="https://x.example/b"></head><body></body></html>',
    '<html><head><link rel="canonical" href="">'
    '<link rel="canonical" href="https://x.example/second"></head></html>',
]


def _scan_equiv_or_bail(html: str) -> None:
    """Law: scan_prelude either bails (None / same exception as
    build_into) or yields meta/link/script views bit-equal to the
    normalized tree's."""
    try:
        scan = cdom.scan_prelude(domp.Node, html)
    except ValueError:
        with pytest.raises(ValueError):
            _c_build_tree(html)
        return
    if scan is None:
        return  # hazard bail: production uses the tree for this doc
    metas, links, scripts = scan
    doc = domp.parse_html(html)
    t_metas = [e for e in doc.iter_elements() if e.tag == "meta"]
    t_links = [e for e in doc.iter_elements() if e.tag == "link"]
    t_scripts = [e for e in doc.iter_elements() if e.tag == "script"]
    assert [e.attrs for e in metas] == [e.attrs for e in t_metas]
    assert [e.attrs for e in links] == [e.attrs for e in t_links]
    assert [e.attrs for e in scripts] == [e.attrs for e in t_scripts]
    # json_search's exact view: type attr of every script, text of the
    # JSON-typed ones (the scan materializes text only for those)
    assert [e.attr("type") for e in scripts] == [
        e.attr("type") for e in t_scripts
    ]
    for s_el, t_el in zip(scripts, t_scripts):
        if t_el.attr("type") in _JSON_TYPES:
            assert s_el.text_content() == t_el.text_content()


@pytest.mark.parametrize(
    "html",
    _PRELUDE_HAZARD_CASES + _PRELUDE_SAFE_CASES + EDGE_CASES,
    ids=range(len(_PRELUDE_HAZARD_CASES) + len(_PRELUDE_SAFE_CASES) + len(EDGE_CASES)),
)
def test_scan_prelude_edge_parity(html):
    _scan_equiv_or_bail(html)


@pytest.mark.reference_corpus
@pytest.mark.parametrize(
    "path", MOCK_PAGES, ids=[p.rsplit("/", 1)[1] for p in MOCK_PAGES]
)
def test_scan_prelude_mock_parity(path):
    from go_htmldate_spark.operators.extract import sniff_decode

    _scan_equiv_or_bail(sniff_decode(open(path, "rb").read()))


@pytest.mark.reference_corpus
@pytest.mark.parametrize(
    "path", MOCK_PAGES, ids=[p.rsplit("/", 1)[1] for p in MOCK_PAGES]
)
def test_prelude_end_to_end_parity(path):
    """from_html (tree-free prelude first) must be bit-identical with the
    tree pipeline alone — over every golden page, in both date modes."""
    from go_htmldate_spark.operators.extract import sniff_decode

    _prelude_equals_tree(sniff_decode(open(path, "rb").read()))


@pytest.mark.parametrize(
    "html",
    _PRELUDE_HAZARD_CASES + _PRELUDE_SAFE_CASES,
    ids=range(len(_PRELUDE_HAZARD_CASES) + len(_PRELUDE_SAFE_CASES)),
)
def test_prelude_end_to_end_edge_parity(html):
    _prelude_equals_tree(html)


def _prelude_equals_tree(html: str) -> None:
    from go_htmldate_spark import cascade as casc
    from go_htmldate_spark.options import Options

    for orig in (False, True):
        opts = Options(use_original_date=orig, skip_extensive_search=True)
        a = casc.from_html(html, opts)
        b = casc.from_document(domp.parse_html(html), opts)
        assert a == b


try:
    from hypothesis import given as _g4, settings as _s4
    from hypothesis import strategies as _st4

    _PRELUDE_FRAGMENTS = [
        "<html>", "</html>", "<head>", "</head>", "<body>", "</body>",
        "<meta name=date content=2020-01-02>", "<meta>", "<meta >",
        "<meta name=date content=1999-12-31>",
        "<meta property=article:published_time content=2011-11-11>",
        "<link rel=canonical href=https://x.example/a>", "<link>",
        "<link rel=canonical href=https://y.example/b>",
        "<script type=application/ld+json>", '{"datePublished":"2019-05-06"}',
        '{"datePublished":"2003-03-03"}',
        "<script>", "</script>", "</script >", "<style>", "</style>",
        "<title>", "</title>", "<textarea>", "</textarea>", "<plaintext>",
        "<!-- c -->", "<!--", "-->", "<!doctype html>", "<?pi?>",
        "<div>", "</div>", "<p>", "<abbr>", "</abbr>", "<svg/>", "<table>",
        "&amp;", "&#65;", "text", " ", "\n", "<", ">", "é", "日本語",
    ]

    @_s4(max_examples=300, deadline=None)
    @_g4(
        _st4.lists(
            _st4.one_of(
                _st4.sampled_from(_PRELUDE_FRAGMENTS),
                _st4.text(min_size=0, max_size=12),
            ),
            min_size=0,
            max_size=40,
        )
    )
    def test_fuzz_scan_prelude_parity(parts):
        _scan_equiv_or_bail("".join(parts))

except ImportError:  # hypothesis not installed: covered by edge cases
    pass
