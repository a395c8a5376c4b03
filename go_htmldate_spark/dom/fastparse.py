"""Regex-based HTML tokenizer: the Python twin of _cdom.build_into.

Builds the same Node tree as the C tokenizer (one compiled-regex scan;
attribute parsing only for tags that have attributes; rawtext handled
with str.find). parser.parse_html uses it for the documents the C
tokenizer refuses (tag names of 256+ bytes, lone surrogates), and
tests/test_cdom_parity.py uses it, with _parse_attrs, as the parity
oracle for the C tokenizer and attribute parser.
"""

from __future__ import annotations

import re
from html import unescape

from .parser import (
    COMMENT,
    ELEMENT,
    RAW_TEXT_TAGS,
    TEXT,
    VOID_ELEMENTS,
    Node,
    _P_CLOSERS,
    _SELF_CLOSERS,
)

# rawtext elements where markup is not parsed until the closing tag
_RAWTEXT = frozenset(["script", "style", "textarea", "title", "xmp", "plaintext"])

_TOKEN = re.compile(
    r"<!--(?P<comment>.*?)(?:-->|$)"          # comment
    r"|<!(?P<decl>[^>]*)>"                    # doctype / decl
    r"|<\?(?P<pi>[^>]*)>"                     # processing instruction
    r"|</(?P<end>[a-zA-Z][a-zA-Z0-9:-]*)[^>]*>"   # end tag
    r"|<(?P<start>[a-zA-Z][a-zA-Z0-9:-]*)(?P<attrs>[^>]*?)(?P<selfclose>/?)>"  # start tag
    r"|(?P<text><)",                          # bare '<' treated as text
    re.S,
)

_ATTR = re.compile(
    r"""([^\s=/>]+)(?:\s*=\s*("[^"]*"|'[^']*'|[^\s>]*))?""", re.S
)

_HAS_ENTITY = re.compile(r"&[a-zA-Z#]")

# per-tag close patterns for rawtext content (script/style recur dozens
# of times per page; compiling per occurrence showed up in profiles)
_RAWTEXT_CLOSE = {t: re.compile(rf"</{t}\s*>", re.I) for t in _RAWTEXT}


def _unescape(s: str) -> str:
    # html.unescape is regex-driven; a C-level substring test skips both
    # the regex and the unescape for the overwhelming no-'&' case
    if "&" not in s or _HAS_ENTITY.search(s) is None:
        return s
    return unescape(s)


def _parse_attrs(raw: str) -> list[tuple[str, str]]:
    out = []
    for m in _ATTR.finditer(raw):
        name = m.group(1).lower()
        val = m.group(2)
        if val is None:
            val = ""
        elif val[:1] in ('"', "'"):
            val = val[1:-1]
        out.append((name, _unescape(val)))
    return out


# tags needing an implied-close check before opening (membership test
# gates the slow path; most tags skip it entirely)
_IMPLIED = _P_CLOSERS | frozenset(_SELF_CLOSERS)


def tokenize_into(root: Node, html: str) -> None:
    """Build children of `root` from html text (same tree shape as
    _cdom.build_into: implied </p>, li/td/tr self-closers, void tags,
    HTML5 non-void self-closing treated as open).

    Single finditer pass: the token regex only ever matches at '<', so
    inter-tag text is the gap between consecutive matches — no per-token
    str.find + re-match round trip. After rawtext (script/style/…) the
    iterator restarts past the close tag, so markup-looking bytes inside
    rawtext can never swallow following real tags."""
    stack = [root]
    open_p = 0
    pos = 0
    n = len(html)

    # local bindings: this loop runs once per token of every page
    node_cls = Node
    text_kind = TEXT
    unesc = _unescape
    implied = _IMPLIED
    p_closers = _P_CLOSERS
    self_closers = _SELF_CLOSERS
    void_els = VOID_ELEMENTS
    rawtext = _RAWTEXT
    gi = _TOKEN.groupindex
    IX_END, IX_SELFCLOSE = gi["end"], gi["selfclose"]
    IX_COMMENT, IX_TEXT = gi["comment"], gi["text"]

    it = _TOKEN.finditer(html)
    restart = True
    while restart:
        restart = False
        for m in it:
            s = m.start()
            if s > pos:
                top = stack[-1]
                t = node_cls(text_kind, data=unesc(html[pos:s]))
                t.parent = top
                top.children.append(t)
            pos = m.end()

            kind = m.lastindex
            if kind == IX_SELFCLOSE:
                tag, raw_attrs, self_close = m.group("start", "attrs", "selfclose")
                tag = tag.lower()
                if tag in implied:
                    if tag in p_closers and open_p > 0:
                        while len(stack) > 1:
                            node = stack.pop()
                            if node.tag == "p":
                                open_p -= 1
                                break
                    elif tag in self_closers and stack[-1].tag in self_closers[tag]:
                        stack.pop()
                node = node_cls(ELEMENT, tag)
                if raw_attrs and not raw_attrs.isspace():
                    node._attrs = None          # parsed lazily on first access
                    node._raw_attrs = raw_attrs
                top = stack[-1]
                node.parent = top
                top.children.append(node)
                if tag in void_els:
                    continue
                if self_close == "/" and tag in ("svg", "math"):
                    continue  # true self-closing only in foreign content
                if tag in rawtext:
                    # consume raw text up to the matching end tag
                    close = _RAWTEXT_CLOSE[tag].search(html, pos)
                    end = close.start() if close else n
                    data = html[pos:end]
                    if data:
                        if tag in ("title", "textarea"):
                            data = unesc(data)
                        t = node_cls(text_kind, data=data)
                        t.parent = node
                        node.children.append(t)
                    pos = close.end() if close else n
                    it = _TOKEN.finditer(html, pos)  # restart past the rawtext
                    restart = True
                    break
                stack.append(node)
                if tag == "p":
                    open_p += 1
                continue

            if kind == IX_END:
                tag = m.group("end").lower()
                for i in range(len(stack) - 1, 0, -1):
                    if stack[i].tag == tag:
                        if open_p:
                            open_p -= sum(1 for nd in stack[i:] if nd.tag == "p")
                        del stack[i:]
                        break
                continue

            if kind == IX_COMMENT:
                stack[-1].append(node_cls(COMMENT, data=m.group("comment")))
                continue
            if kind == IX_TEXT:  # bare '<'
                stack[-1].append(node_cls(text_kind, data="<"))
                continue
            # decl / pi: dropped

    if pos < n:
        stack[-1].append(Node(TEXT, data=_unescape(html[pos:])))


def build_tree(html: str) -> Node:
    root = Node(ELEMENT, "#root")
    tokenize_into(root, html)
    return root
