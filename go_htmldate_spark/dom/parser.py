"""The extraction cascade's HTML DOM, built by the _cdom C kernel.

The reference uses golang.org/x/net/html (a spec-compliant HTML5
parser). This sandbox has no lxml/bs4/selectolax, so the C tokenizer
in _cdom.c (built by cnative) builds a small forgiving DOM that
reproduces the pieces the extraction cascade relies on
(/root/reference/core.go usage of go-shiori/dom):

- document order traversal (DFS preorder) for getElementsByTagName
- html/head/body synthesis when missing (x/net/html always creates them)
- textContent / etree-style leading text
- an x/net/html-Render-compatible serializer (escape set, void `/>`,
  raw text inside script/style/…): the extensive-search stages regex
  over this string and slice src_string out of it, so byte parity
  matters (core.go:212-219).

fastparse.py's regex tokenizer builds the same tree; it parses the
documents the C tokenizer refuses and is the parity oracle.
"""

from __future__ import annotations

from html import unescape
from html.entities import html5 as _html5_table

from . import cnative as _cnative

VOID_ELEMENTS = frozenset(
    "area base br col embed hr img input keygen link meta param source track wbr".split()
)

# x/net/html render.go writes child text of these tags verbatim
RAW_TEXT_TAGS = frozenset(
    "iframe noembed noframes noscript plaintext script style xmp".split()
)

HEAD_TAGS = frozenset("title meta link base style script noscript template".split())

# open <p> implicitly closes when one of these starts (HTML5 subset)
_P_CLOSERS = frozenset(
    "address article aside blockquote details div dl fieldset figcaption figure "
    "footer form h1 h2 h3 h4 h5 h6 header hr main menu nav ol p pre section "
    "table ul".split()
)
_SELF_CLOSERS = {  # tag → set of open tags it implicitly closes
    "li": {"li"},
    "dt": {"dt", "dd"},
    "dd": {"dt", "dd"},
    "tr": {"tr", "td", "th"},
    "td": {"td", "th"},
    "th": {"td", "th"},
    "option": {"option"},
    "optgroup": {"option", "optgroup"},
}

TEXT = 0
ELEMENT = 1
COMMENT = 2


_NO_ATTRS: list = []

# the C kernel: NodeBase (field layout, __init__, attr) and the
# tokenizer, traversals and serializer live in _cdom
_CDOM = _cnative.get()

# ';'-keyed entries only: the direct-hit branch of html.unescape's
# _replace_charref. The C fast path substitutes exactly these (plus
# plain-chr numeric charrefs) and falls back to html.unescape for
# everything else (legacy no-semicolon names, the longest-prefix
# rule), so it is byte-exact by construction.
_CDOM.configure(
    _NO_ATTRS,
    unescape,
    {k: v for k, v in _html5_table.items() if k.endswith(";")},
)


class Node(_CDOM.NodeBase):
    """DOM node: field storage, __init__ and attr() (lazy parse, first
    occurrence wins, like x/net/html) in _cdom.NodeBase (kind, tag,
    _attrs, _raw_attrs, children, parent, data); tree helpers here."""

    __slots__ = ()

    @property
    def attrs(self) -> list[tuple[str, str]]:
        """Attribute list, parsed lazily from the raw tag text (most
        elements' attributes are never inspected). Treated as immutable
        after creation — clones share the list."""
        if self._attrs is None:
            self._attrs = _CDOM.parse_attrs(self._raw_attrs or "")
        return self._attrs

    @attrs.setter
    def attrs(self, value: list[tuple[str, str]]) -> None:
        self._attrs = value

    # -- tree ops -------------------------------------------------------
    def append(self, child: "Node") -> None:
        child.parent = self
        self.children.append(child)

    def remove(self) -> None:
        if self.parent is not None:
            self.parent.children.remove(self)
            self.parent = None

    @property
    def id(self) -> str:
        return self.attr("id")

    @property
    def class_name(self) -> str:
        return self.attr("class")

    # -- traversal ------------------------------------------------------
    def iter_elements(self) -> list["Node"]:
        """All descendant elements, DFS preorder (document order) —
        matches go-shiori/dom GetElementsByTagName(root, "*")."""
        return _CDOM.iter_elements(self)

    def elements_by_tag(self, tag: str) -> list["Node"]:
        return [e for e in self.iter_elements() if e.tag == tag]

    def text_content(self) -> str:
        """All descendant text concatenated (go-shiori/dom TextContent)."""
        parts: list[str] = []
        stack = list(reversed(self.children))
        if self.kind == TEXT:
            return self.data
        while stack:
            node = stack.pop()
            if node.kind == TEXT:
                parts.append(node.data)
            elif node.kind == ELEMENT:
                stack.extend(reversed(node.children))
        return "".join(parts)

    def etree_text(self) -> str:
        """Text before the first child element (utils.go:110-125)."""
        parts: list[str] = []
        for child in self.children:
            if child.kind == ELEMENT:
                break
            if child.kind == TEXT:
                parts.append(child.data)
        return "".join(parts)

    def clone(self) -> "Node":
        # iterative: adversarial pages nest thousands of elements deep.
        # attr state is shared, not copied — attribute lists are immutable
        root = Node(self.kind, self.tag, self.data)
        root._attrs = self._attrs
        root._raw_attrs = self._raw_attrs
        stack = [(self, root)]
        while stack:
            src, dst = stack.pop()
            for c in src.children:
                n = Node(c.kind, c.tag, c.data)
                n._attrs = c._attrs
                n._raw_attrs = c._raw_attrs
                dst.append(n)
                if c.children:
                    stack.append((c, n))
        return root


def _escape(s: str) -> str:
    """x/net/html escape set: & ' < > \" (render.go)."""
    return (
        s.replace("&", "&amp;")
        .replace("'", "&#39;")
        .replace("<", "&lt;")
        .replace(">", "&gt;")
        .replace('"', "&#34;")
    )


def render_children(node: Node, out: list[str]) -> None:
    # iterative DFS with explicit close markers (deep nesting safe)
    stack: list = list(reversed(node.children))
    while stack:
        item = stack.pop()
        if isinstance(item, str):  # pending close tag
            out.append(item)
            continue
        if item.kind == TEXT:
            if item.parent is not None and item.parent.tag in RAW_TEXT_TAGS:
                out.append(item.data)
            else:
                out.append(_escape(item.data))
            continue
        if item.kind == COMMENT:
            out.append(f"<!--{item.data}-->")
            continue
        out.append("<")
        out.append(item.tag)
        for k, v in item.attrs:
            out.append(f' {k}="{_escape(v)}"')
        if item.tag in VOID_ELEMENTS:
            out.append("/>")
            continue
        out.append(">")
        stack.append(f"</{item.tag}>")
        stack.extend(reversed(item.children))


def inner_html(node: Node) -> str:
    return _CDOM.render_inner(node)


def parse_html(html: str) -> Node:
    """Parse and normalize into a document with html/head/body, like
    x/net/html does for any input. The C tokenizer refuses tag names of
    256+ bytes and lone surrogates (ValueError); those documents go
    through the regex tokenizer, which builds the same tree."""
    raw_root = Node(ELEMENT, "#root")
    try:
        _CDOM.build_into(raw_root, html)
    except ValueError:
        from .fastparse import build_tree  # fastparse imports this module

        raw_root = build_tree(html)

    doc = Node(ELEMENT, "#document")

    # find an explicit <html>
    html_el = None
    for c in raw_root.children:
        if c.kind == ELEMENT and c.tag == "html":
            html_el = c
            break

    if html_el is None:
        html_el = Node(ELEMENT, "html")
        top_nodes = list(raw_root.children)
    else:
        top_nodes = list(html_el.children)
        html_el.children = []

    head = None
    body = None
    rest: list[Node] = []
    for c in top_nodes:
        if c.kind == ELEMENT and c.tag == "head" and head is None:
            head = c
        elif c.kind == ELEMENT and c.tag == "body" and body is None:
            body = c
        else:
            rest.append(c)

    if head is None:
        head = Node(ELEMENT, "head")
    if body is None:
        body = Node(ELEMENT, "body")

    # route stray top-level nodes: head-eligible elements before any body
    # content go to head; everything after (or non-head-eligible) to body
    in_head_phase = len(body.children) == 0
    for c in rest:
        if c.kind == TEXT and not c.data.strip():
            if in_head_phase:
                continue  # whitespace before body is dropped by HTML5 parsing
            body.append(c)
        elif in_head_phase and c.kind == ELEMENT and c.tag in HEAD_TAGS:
            head.append(c)
        elif in_head_phase and c.kind == COMMENT:
            head.append(c)
        else:
            in_head_phase = False
            body.append(c)

    html_el.append(head)
    html_el.append(body)
    doc.append(html_el)
    # drop the raw parse root: transplanted nodes now parent into doc,
    # and emptying the list lets the leftovers (doctype text, stray
    # comments, dropped whitespace — whose parent links would otherwise
    # pin a raw_root cycle) free by refcount
    raw_root.children = []
    return doc


def query_meta_canonical_url(doc: Node) -> str:
    """`link[rel=canonical]` href (or meta content) recovery
    (core.go:77-94)."""
    for elem in doc.iter_elements():
        if elem.tag == "link" and elem.attr("rel") == "canonical":
            href = elem.attr("content" if elem.tag == "meta" else "href").strip()
            if href:
                return href
    return ""


def release_tree(root: Node) -> None:
    """Break every parent back-link so a dropped tree frees by pure
    refcounting. Parent links make trees cyclic, and the cyclic
    collector re-walks every node of every dead tree — ~40% of parse
    wall in the hot loop (gctune.py pairs with this). Safe after
    extraction: results are plain strings; only parent traversal on a
    kept subtree would notice."""
    _CDOM.release_tree(root)
