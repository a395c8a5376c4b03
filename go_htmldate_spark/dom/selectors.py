"""Element selector rules.

Pins /root/reference/internal/selector/{date,discard,free-text}.go.
Note the reference's `strOr` short-circuit: class is consulted only when
id is empty, itemprop only when both are (date.go:61-106).
"""

from __future__ import annotations

from .parser import Node

_FAST_TAGS = frozenset(["div", "h2", "h3", "h4", "li", "p", "span", "time", "ul"])
_FREE_TEXT_TAGS = _FAST_TAGS


def _str_or(*strs: str) -> str:
    for s in strs:
        if s:
            return s
    return ""


def date_rule(n: Node) -> bool:
    # single pass over the attribute list (this predicate runs on every
    # element of every page — three n.attr() scans were the #2 hotspot)
    attrs = n._attrs
    if attrs is None:
        # the rule only consults id/class/itemprop values; if none of
        # those attribute names can occur in the raw tag text, the rule
        # can't match — skip the attribute parse entirely.  x/net/html
        # lowercases attribute names at parse time, so the substring test
        # must run on a lowercased view (ID=/CLASS= in legacy HTML).
        raw = n._raw_attrs.lower()
        if "id" not in raw and "class" not in raw and "itemprop" not in raw:
            return False
        attrs = n.attrs
    if not attrs:
        return False
    id_ = class_ = item_prop = None  # first occurrence wins, even if ""
    for k, v in attrs:
        if k == "id":
            if id_ is None:
                id_ = v
        elif k == "class":
            if class_ is None:
                class_ = v
        elif k == "itemprop":
            if item_prop is None:
                item_prop = v
    id_ = id_ or ""
    class_ = class_ or ""
    item_prop = item_prop or ""

    ici = _str_or(id_, class_, item_prop)
    ic = _str_or(id_, class_)
    ici_d = ici.replace("D", "d")
    ic_m = ic.replace("M", "m")

    return (
        "date" in ici_d
        or "datum" in ici_d
        or "meta" in ic_m
        or "time" in ic
        or "publish" in ic
        or "footer" in ic
        or "info" in class_
        or "post_detail" in class_
        or "block-content" in class_
        or "byline" in class_
        or "subline" in class_
        or "posted" in class_
        or "submitted" in class_
        or "created-post" in class_
        or "publication" in class_
        or "author" in class_
        or "autor" in class_
        or "field-content" in class_
        or "fa-clock-o" in class_
        or "fa-calendar" in class_
        or "fecha" in class_
        or "parution" in class_
    )


def slow_date(n: Node) -> bool:  # date.go:11-18
    if n.tag in ("footer", "small"):
        return True
    return date_rule(n)


def fast_date(n: Node) -> bool:  # date.go:21-30
    if n.tag in ("footer", "small"):
        return True
    if n.tag in _FAST_TAGS:
        return date_rule(n)
    return False


def discard_rule(n: Node) -> bool:  # discard.go:9-22 (archive.org banner)
    return n.tag == "div" and n.id in ("wm-ipp-base", "wm-ipp")


def free_text_rule(n: Node) -> bool:  # free-text.go:9-16
    return n.tag in _FREE_TEXT_TAGS

