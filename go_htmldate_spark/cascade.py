"""The per-document extraction cascade.

Reimplements the reference's precedence-ordered pipeline
(/root/reference/core.go:136-271 findDate, :353-475 meta scan,
:479-554 abbr, :558-617 time elements, :620-653 text probes,
:656-798 searchPage; /root/reference/extractors.go:210-326 JSON-LD,
:329-399 idiosyncrasies/og:image/timestamp) over the DOM that the C
kernel builds (dom/parser.py).

This module is the per-document kernel the Spark pandas UDF maps over
Arrow batches (operators/extract.py). Everything batch-parallel or
engine-side (URL fast path, staged gating) lives in the operators
package — this file is deliberately single-document-scoped, like the
reference.
"""

from __future__ import annotations

import json
from datetime import date, datetime, timedelta
from typing import NamedTuple, Optional

from .dom import parser as domp
from .dom import selectors as sel
from .functions import finders as F
from .functions import patterns as P
from .functions.dateparse import (
    correct_year,
    extract_url_date,
    fast_parse,
    regex_parse,
    try_date_expr,
    try_swap_values,
)
from .functions.textkit import atoi, normalize_spaces, str_limit
from .functions.timeparse import find_time
from .functions.validate import (
    YearCandidate,
    check_extracted_reference,
    compare_values,
    filter_ymd_candidate,
    normalize_candidates,
    plausible_year_filter,
    search_pattern,
    select_candidate,
    validate_date,
    validate_date_parts,
)
from .logutil import apply_log_option, log
from .options import Options

DateHit = tuple[str, Optional[date]]
_MISS: DateHit = ("", None)


class ExtractionResult(NamedTuple):
    date: str              # 'yyyy-MM-dd' or '' when nothing found
    wall_datetime: Optional[datetime]  # wall clock (in found tz when has_tz)
    has_time: bool
    has_tz: bool
    tz_offset: Optional[int]  # seconds east of UTC
    src_string: str


EMPTY_RESULT = ExtractionResult("", None, False, False, None, "")


# ---------------------------------------------------------------------------
# element examiners
# ---------------------------------------------------------------------------

def compare_reference(
    ref_string: str, ref_value: int, expression: str, opts: Options
) -> tuple[str, int]:
    """Validate + min/max fold of one candidate (core.go:800-814)."""
    new_ref, attempt = try_date_expr(expression, opts)
    if attempt is None:
        return ref_string, ref_value
    ref_value2, changed = compare_values(ref_value, attempt, opts)
    if changed:
        return new_ref, ref_value2
    return ref_string, ref_value2


def examine_meta_elements(metas: list[domp.Node], opts: Options) -> DateHit:
    """Single-pass meta scan, first hard hit wins, reserve fallback
    (core.go:353-475)."""
    t_meta: Optional[date] = None
    t_reserve: Optional[date] = None
    str_meta = ""
    str_reserve = ""

    for elem in metas:
        if not elem.attrs:
            continue
        content = elem.attr("content").strip()
        date_time = elem.attr("datetime").strip()
        if not content and not date_time:
            continue

        name = elem.attr("name").strip()
        prop = elem.attr("property").strip()
        pub_date = elem.attr("pubdate").strip()
        item_prop = elem.attr("itemprop").strip()
        http_equiv = elem.attr("http-equiv").strip()

        if name and content:  # name first: the most frequent
            name = name.lower()
            if name == "og:url":
                str_reserve = content
                t_reserve = extract_url_date(content, opts)
            elif name in P.DATE_ATTRIBUTES:
                log.debug("examining meta name: %s", name)  # core.go:384
                str_meta, t_meta = try_date_expr(content, opts)
            elif name in P.ATTR_MODIFIED_NAMES:
                if not opts.use_original_date:
                    str_meta, t_meta = try_date_expr(content, opts)
                else:
                    str_reserve, t_reserve = try_date_expr(content, opts)
        elif prop and content:  # property attribute
            attribute = prop.lower()
            in_modified = attribute in P.PROPERTY_MODIFIED
            in_date_attrs = attribute in P.DATE_ATTRIBUTES
            if in_date_attrs or in_modified:
                log.debug("examining meta property: %s", prop)  # core.go:400
                str_attempt, t_attempt = try_date_expr(content, opts)
                if t_attempt is not None:
                    if (in_date_attrs and opts.use_original_date) or (
                        in_modified and not opts.use_original_date
                    ):
                        str_meta, t_meta = str_attempt, t_attempt
                    else:
                        str_reserve, t_reserve = str_attempt, t_attempt
        elif item_prop:  # item scope
            attribute = item_prop.lower()
            if attribute in P.ITEMPROP_ATTR_KEYS:
                str_attempt, t_attempt = "", None
                if date_time:
                    str_attempt, t_attempt = try_date_expr(date_time, opts)
                elif content:
                    str_attempt, t_attempt = try_date_expr(content, opts)
                if t_attempt is not None:
                    if (
                        attribute in P.ITEMPROP_ORIGINAL and opts.use_original_date
                    ) or (
                        attribute in P.ITEMPROP_MODIFIED
                        and not opts.use_original_date
                    ):
                        str_meta, t_meta = str_attempt, t_attempt
            elif attribute == "copyrightyear":
                if content:
                    # reference builds content+"-01-01" and strict-parses it
                    # (core.go:437-441)
                    if len(content) == 4 and content.isdigit():
                        t_attempt = validate_date_parts(int(content), 1, 1, opts)
                        if t_attempt is not None:
                            str_reserve, t_reserve = content, t_attempt
        elif pub_date.lower() == "pubdate":
            str_meta, t_meta = try_date_expr(content, opts)
        elif http_equiv and content:
            attribute = http_equiv.lower()
            if attribute == "date":
                if opts.use_original_date:
                    str_meta, t_meta = try_date_expr(content, opts)
                else:
                    str_reserve, t_reserve = try_date_expr(content, opts)
            elif attribute == "last-modified":
                if not opts.use_original_date:
                    str_meta, t_meta = try_date_expr(content, opts)
                else:
                    str_reserve, t_reserve = try_date_expr(content, opts)

        if t_meta is not None:
            return str_meta, t_meta

    if t_reserve is None:
        return "", None
    return str_reserve, t_reserve


def json_search(all_scripts: list[domp.Node], opts: Options) -> DateHit:
    """JSON-LD / settings-JSON recursive date-key capture with
    trailing-bracket repair (extractors.go:210-326)."""
    if opts.use_original_date:
        target_keys = ("datePublished", "dateCreated")
    else:
        target_keys = ("dateModified",)

    captured: list[str] = []

    def find_date_texts(obj: dict, depth: int = 0) -> None:
        if depth > 64:  # adversarial-JSON guard; real LD+JSON is shallow
            return
        for key, value in obj.items():
            if isinstance(value, str):
                if key in target_keys:
                    captured.append(normalize_spaces(value))
            elif isinstance(value, dict):
                find_date_texts(value, depth + 1)
            elif isinstance(value, list):
                for item in value:
                    if isinstance(item, dict):
                        find_date_texts(item, depth + 1)

    scripts = [
        e
        for e in all_scripts
        if e.attr("type") in ("application/ld+json", "application/settings+json")
    ]

    for elem in scripts:
        json_text = elem.text_content().strip()

        parsed = None
        try:
            parsed = json.loads(json_text)
        except ValueError:
            parsed = None

        if isinstance(parsed, list):
            # Go decodes into []map[string]any: every element must be an
            # object (or null) or the whole decode fails
            if all(x is None or isinstance(x, dict) for x in parsed):
                for data in parsed:
                    if data:
                        find_date_texts(data)
            continue
        if isinstance(parsed, dict):
            find_date_texts(parsed)
            continue
        if parsed is not None:
            continue  # scalar JSON: both Go decodes fail, no repair applies

        # repair loop: strip trailing `}` and retry as object
        # (extractors.go:272-291)
        while True:
            tmp = P.RX_LAST_JSON_BRACKET.sub("", json_text)
            if tmp == json_text:
                break
            json_text = tmp
            try:
                parsed = json.loads(json_text)
            except ValueError:
                continue
            if isinstance(parsed, dict):
                find_date_texts(parsed)
            break

    best_text = ""
    best_date: Optional[date] = None
    for text in captured:
        dt = fast_parse(text, opts)
        if not validate_date(dt, opts):
            continue
        if (
            best_date is None
            or (opts.use_original_date and dt < best_date)
            or (not opts.use_original_date and dt > best_date)
        ):
            best_text, best_date = text, dt

    if best_date is None:
        return _MISS
    return best_text, best_date


def examine_text(text: str, opts: Options) -> DateHit:
    """normalize → length gate → trailing-digit strip → tryDateExpr
    (core.go:620-629)."""
    text = normalize_spaces(text)
    if len(text) <= P.MIN_SEGMENT_LEN:
        return _MISS
    text = str_limit(text, P.MAX_SEGMENT_LEN)
    text = P.RX_LAST_NON_DIGITS.sub("", text)
    return try_date_expr(text, opts)


def examine_other_elements(elements: list[domp.Node], opts: Options) -> DateHit:
    """First element whose textContent or title yields a date
    (core.go:633-653)."""
    n = len(elements)
    if n == 0 or n >= P.MAX_POSSIBLE_CANDIDATES:
        return _MISS
    for elem in elements:
        text = elem.text_content()
        title_attr = elem.attr("title")
        for t in (text, title_attr):
            _, attempt = examine_text(t, opts)
            if attempt is not None:
                return t, attempt
    return _MISS


def examine_abbr_elements(elements: list[domp.Node], opts: Options) -> DateHit:
    """<abbr>: data-utime min/max, publish classes, rescue pass
    (core.go:479-554)."""
    n = len(elements)
    if n == 0 or n >= P.MAX_POSSIBLE_CANDIDATES:
        return _MISS

    ref_value = 0
    ref_string = ""
    for elem in elements:
        class_ = elem.attr("class").strip()
        data_utime = elem.attr("data-utime").strip()

        if data_utime:
            try:
                candidate = int(data_utime)
            except ValueError:
                continue
            if opts.use_original_date:
                if ref_value == 0 or candidate < ref_value:
                    ref_value = candidate
                    ref_string = data_utime
            else:
                if candidate > ref_value:
                    ref_value = candidate
                    ref_string = data_utime
        elif class_ and class_ in P.ATTR_PUBLISH_CLASSES:
            text = normalize_spaces(elem.etree_text())
            title = elem.attr("title").strip()
            if title:
                try_text = title
                if opts.use_original_date:
                    _, attempt = try_date_expr(try_text, opts)
                    if attempt is not None:
                        return try_text, attempt
                else:
                    ref_string, ref_value = compare_reference(
                        ref_string, ref_value, try_text, opts
                    )
                    if ref_value > 0:
                        break
            elif len(text) > 10:
                try_text = text[3:] if text.startswith("am ") else text
                ref_string, ref_value = compare_reference(
                    ref_string, ref_value, try_text, opts
                )

    converted = check_extracted_reference(ref_value, opts)
    if converted is not None:
        return ref_string, converted

    # rescue pass over abbr contents (core.go:546-551)
    return examine_other_elements(elements, opts)


def examine_time_elements(elements: list[domp.Node], opts: Options) -> DateHit:
    """<time> elements: datetime attr shortcuts + min/max fold
    (core.go:558-617)."""
    n = len(elements)
    if n == 0 or n >= P.MAX_POSSIBLE_CANDIDATES:
        return _MISS

    ref_value = 0
    ref_string = ""
    for elem in elements:
        shortcut = False
        text = normalize_spaces(elem.etree_text())
        class_ = elem.attr("class").strip()
        date_time = elem.attr("datetime").strip()
        pub_date = elem.attr("pubdate").strip()

        if len(date_time) > 6:
            if pub_date.lower() == "pubdate" and opts.use_original_date:
                shortcut = True
            elif class_:
                class_is_dt = class_.startswith("entry-date") or class_.startswith(
                    "entry-time"
                )
                if opts.use_original_date and class_is_dt:
                    shortcut = True
                elif not opts.use_original_date and class_ == "updated":
                    shortcut = True

            if shortcut:
                _, attempt = try_date_expr(date_time, opts)
                if attempt is not None:
                    return date_time, attempt
            else:
                ref_string, ref_value = compare_reference(
                    ref_string, ref_value, date_time, opts
                )
        elif len(text) > 6:
            ref_string, ref_value = compare_reference(ref_string, ref_value, text, opts)

    result = check_extracted_reference(ref_value, opts)
    if result is not None:
        return ref_string, result
    return _MISS


def meta_img_search(metas: list[domp.Node], opts: Options) -> DateHit:
    """og:image content URL → URL-date (extractors.go:366-378)."""
    for elem in metas:
        if elem.attr("property") == "og:image":
            content = elem.attr("content").strip()
            if content:
                result = extract_url_date(content, opts)
                if validate_date(result, opts):
                    return content, result
    return _MISS


def idiosyncrasies_search(html_string: str, opts: Options) -> DateHit:
    """Author-written date patterns, EN/DE/TR (extractors.go:329-363)."""
    hit = F.idiosyncrasies_first_match(html_string)
    if hit is None:
        return _MISS
    parts, start_idx = hit

    candidate: Optional[date] = None
    if len(parts) >= 4:
        if len(parts[1]) == 4:  # YYYY/MM/DD
            candidate = validate_date_parts(
                atoi(parts[1]), atoi(parts[2]), atoi(parts[3]), opts
            )
        elif len(parts[3]) in (2, 4):  # DD/MM/YY(YY)
            year = correct_year(atoi(parts[3]))
            day, month = try_swap_values(atoi(parts[1]), atoi(parts[2]))
            candidate = validate_date_parts(year, month, day, opts)

    if not validate_date(candidate, opts):
        return _MISS
    return str_limit(html_string[start_idx:], 100), candidate


def regex_pattern_search(text: str, opts: Options) -> DateHit:
    """Serialized-HTML `(Y-M-D).HH:MM:SS` timestamp (extractors.go:381-399)."""
    hit = F.timestamp_first_match(text)
    if hit is None:
        return _MISS
    parts, _ = hit
    if len(parts) < 2:
        return _MISS
    dt = fast_parse(parts[1], opts)
    if validate_date(dt, opts):
        return parts[0], dt
    return _MISS


# ---------------------------------------------------------------------------
# extensive page search
# ---------------------------------------------------------------------------

def search_page(html_string: str, opts: Options) -> DateHit:
    """Opportunistic pattern cascade over serialized HTML
    (core.go:656-798)."""
    # copyright year (acts as a floor for later stages)
    cop_year = 0
    cop_raw = ""
    raw_string, best = search_pattern(
        html_string, F.copyright_finder, P.RX_YEAR_PATTERN, P.RX_YEAR_PATTERN, opts
    )
    if best:
        year = atoi(best[1]) if len(best) > 1 else 0
        if validate_date_parts(year, 1, 1, opts) is not None:
            cop_raw, cop_year = raw_string, year

    # 3 components: URL-ish, then loose
    for finder, catcher in (
        (F.three_finder, P.RX_THREE_CATCH),
        (F.three_loose_finder, P.RX_THREE_LOOSE_CATCH),
    ):
        raw_string, best = search_pattern(
            html_string, finder, catcher, P.RX_YEAR_PATTERN, opts
        )
        result = filter_ymd_candidate(best, cop_year, opts)
        if result is not None:
            return raw_string, result

    # D?D-M?M-YYYY, normalized
    candidates = plausible_year_filter(
        html_string, F.select_ymd_finder, P.RX_SELECT_YMD_YEAR, False, opts
    )
    candidates = normalize_candidates(candidates, opts, fast_parse)
    raw_string, best = select_candidate(candidates, P.RX_YMD, P.RX_YMD_YEAR, opts)
    result = filter_ymd_candidate(best, cop_year, opts)
    if result is not None:
        return raw_string, result

    # compact YYYYMMDD strings
    raw_string, best = search_pattern(
        html_string, F.date_strings_finder, P.RX_DATESTRINGS_CATCH,
        P.RX_YEAR_PATTERN, opts,
    )
    result = filter_ymd_candidate(best, cop_year, opts)
    if result is not None:
        return raw_string, result

    # D?D/M?M/YY slashes with 2-digit-year completion
    candidates = plausible_year_filter(
        html_string, F.slashes_finder, P.RX_SLASHES_YEAR, True, opts
    )
    candidates = normalize_candidates(candidates, opts, fast_parse)
    raw_string, best = select_candidate(candidates, P.RX_YMD, P.RX_YMD_YEAR, opts)
    result = filter_ymd_candidate(best, cop_year, opts)
    if result is not None:
        return raw_string, result

    # 2 components: YYYY-MM
    raw_string, best = search_pattern(
        html_string, F.yyyy_mm_finder, P.RX_YYYYMM_CATCH, P.RX_YEAR_PATTERN, opts
    )
    if best and len(best) >= 3:
        dt = validate_date_parts(atoi(best[1]), atoi(best[2]), 1, opts)
        if dt is not None and (cop_year == 0 or dt.year >= cop_year):
            return raw_string, dt

    # MM-YYYY, re-keyed to yyyy-MM-01 with count merge (core.go:726-764)
    candidates = plausible_year_filter(
        html_string, F.mm_yyyy_finder, P.RX_MMYYYY_YEAR, False, opts
    )
    unique: list[str] = []
    counts: dict[str, int] = {}
    raws: dict[str, str] = {}
    from .functions.dateparse import find_named_submatch

    for cand in candidates:
        parts, _ = find_named_submatch(P.RX_YM, cand.pattern)
        if not parts:
            continue
        new_pattern = f"{atoi(parts.get('year', '')):04d}-{atoi(parts.get('month', '')):02d}-01"
        if new_pattern not in counts:
            unique.append(new_pattern)
            raws[new_pattern] = cand.raw_string
            counts[new_pattern] = 0
        counts[new_pattern] += cand.count
    candidates = [YearCandidate(p, counts[p], raws[p]) for p in unique]

    raw_string, best = select_candidate(candidates, P.RX_YMD, P.RX_YMD_YEAR, opts)
    result = filter_ymd_candidate(best, cop_year, opts)
    if result is not None:
        return raw_string, result

    # long-text month-name parse over the whole HTML
    dt = regex_parse(html_string, opts)
    if validate_date(dt, opts) and (cop_year == 0 or dt.year >= cop_year):
        return html_string, dt

    # copyright fallback
    if cop_year != 0:
        return cop_raw, date(cop_year, 1, 1)

    # last resort: bare year (after stripping w3.org/YYYY false hits)
    cleaned = P.RX_SIMPLE_W3_CLEANER.sub(" ", html_string)
    raw_string, best = search_pattern(
        cleaned, F.simple_finder, P.RX_YEAR_PATTERN, P.RX_YEAR_PATTERN, opts
    )
    if best and len(best) >= 2:
        dt = validate_date_parts(atoi(best[1]), 1, 1, opts)
        if dt is not None and dt.year >= cop_year:
            return raw_string, dt

    return _MISS


# ---------------------------------------------------------------------------
# findDate: the precedence cascade
# ---------------------------------------------------------------------------

_CLEAN_TAGS = frozenset(
    [
        "object", "embed", "applet",
        "frame", "frameset", "noframes", "iframe",
        "label", "map", "math",
        "audio", "canvas", "datalist",
        "picture", "rdf", "svg", "track", "video",
    ]
)


def _prune_and_collect(doc: domp.Node) -> list[domp.Node]:
    """The reference's cleanDocument + discardUnwanted + full element scan
    fused into one DFS (utils.go:32-60, extractors.go:36-46): pruned
    subtrees are detached and never visited, survivors come back in
    document order. Identical result to running the three passes — the
    prune rules are independent per-node predicates."""
    return domp._CDOM.prune_and_collect(doc, _CLEAN_TAGS)


def find_date(doc: domp.Node, opts: Options) -> DateHit:
    """Precedence cascade, first non-empty stage wins (core.go:136-271)."""
    url_date: Optional[date] = None
    if opts.url:
        url_date = extract_url_date(opts.url, opts)
        if url_date is not None and not opts.defer_url_extractor:
            return opts.url, url_date

    # one pre-prune traversal feeds the meta/JSON/abbr stages (the
    # reference walks the tree per stage; same document order, fewer walks)
    metas: list[domp.Node] = []
    scripts: list[domp.Node] = []
    abbrs: list[domp.Node] = []
    for e in doc.iter_elements():
        if e.tag == "meta":
            metas.append(e)
        elif e.tag == "script":
            scripts.append(e)
        elif e.tag == "abbr":
            abbrs.append(e)

    raw_string, meta_result = examine_meta_elements(metas, opts)
    if meta_result is not None:
        return raw_string, meta_result

    raw_string, json_result = json_search(scripts, opts)
    if json_result is not None:
        return raw_string, json_result

    if opts.defer_url_extractor and url_date is not None:
        return opts.url, url_date

    raw_string, abbr_result = examine_abbr_elements(abbrs, opts)
    if abbr_result is not None:
        return raw_string, abbr_result

    # prune tree in place (doc is not consulted again past this point)
    # and collect the post-prune element list in the same traversal
    pruned = doc
    post_elems = _prune_and_collect(pruned)

    date_elements = domp._CDOM.filter_date(
        post_elems, opts.skip_extensive_search
    )
    raw_string, date_result = examine_other_elements(date_elements, opts)
    if date_result is not None:
        return raw_string, date_result

    title_elements = [e for e in post_elems if e.tag in ("title", "h1")]
    raw_string, date_result = examine_other_elements(title_elements, opts)
    if date_result is not None:
        return raw_string, date_result

    time_elements = [e for e in post_elems if e.tag == "time"]
    raw_string, time_result = examine_time_elements(time_elements, opts)
    if time_result is not None:
        return raw_string, time_result

    # serialization for the string stages (core.go:212-219); the html
    # element comes out of the already-built post_elems scan
    html_node = next((e for e in post_elems if e.tag == "html"), None)
    if html_node is not None:
        html_string = domp.inner_html(html_node)
    else:
        html_string = domp.inner_html(pruned)

    raw_string, ts_result = regex_pattern_search(html_string, opts)
    if ts_result is not None:
        return raw_string, ts_result

    post_metas = [e for e in post_elems if e.tag == "meta"]
    raw_string, img_result = meta_img_search(post_metas, opts)
    if img_result is not None:
        return raw_string, img_result

    raw_string, text_result = idiosyncrasies_search(html_string, opts)
    if text_result is not None:
        return raw_string, text_result

    if not opts.skip_extensive_search:
        log.debug("extensive search started")  # core.go:243
        ref_value = 0
        ref_string = ""
        free_text_nodes = [
            child
            for e in post_elems
            if sel.free_text_rule(e)
            for child in e.children
            if child.kind == domp.TEXT and child.data != ""
        ]
        for segment in free_text_nodes:
            text = normalize_spaces(segment.data)
            n_text = len(text)
            if P.MIN_SEGMENT_LEN < n_text < P.MAX_SEGMENT_LEN:
                ref_string, ref_value = compare_reference(
                    ref_string, ref_value, text, opts
                )

        converted = check_extracted_reference(ref_value, opts)
        if converted is not None:
            return ref_string, converted

        raw_string, search_result = search_page(html_string, opts)
        if search_result is not None:
            return raw_string, search_result

    return _MISS


def from_document(doc: domp.Node, opts: Options) -> ExtractionResult:
    """Top-level extraction incl. canonical-URL recovery and optional
    time/timezone add-on (core.go:59-133)."""
    opts = opts.with_defaults()
    apply_log_option(opts.enable_log)  # core.go:97-99

    if not opts.url:
        href = domp.query_meta_canonical_url(doc)
        if href:
            opts = opts.with_url(href)

    raw_string, dt = find_date(doc, opts)
    return _finish_result(raw_string, dt, opts)


def _finish_result(
    raw_string: str, dt: Optional[date], opts: Options
) -> ExtractionResult:
    """from_document's result tail (time/timezone add-on, core.go:101-130),
    shared with the tree-free prelude path."""
    if dt is None:
        return EMPTY_RESULT

    wall = datetime(dt.year, dt.month, dt.day)
    has_time = False
    has_tz = False
    tz_offset: Optional[int] = None

    if opts.extract_time:
        found = find_time(raw_string)
        if found.found:
            has_time = True
            wall = wall + timedelta(
                hours=found.hour, minutes=found.minute, seconds=found.second
            )
        if found.tz_offset is not None:
            has_tz = True
            tz_offset = found.tz_offset

    return ExtractionResult(
        date=wall.date().isoformat(),
        wall_datetime=wall,
        has_time=has_time,
        has_tz=has_tz,
        tz_offset=tz_offset,
        src_string=normalize_spaces(raw_string),
    )


_NEED_TREE = object()


def _prelude_extract(html: str, opts: Options):
    """Tree-free fast path: C scan_prelude + the cascade's pre-prune
    stages (canonical-URL recovery, URL date, meta, JSON-LD) — the
    stages that resolve ~70% of real documents and read only meta/link/
    script elements, whose scan order provably equals the normalized
    tree's iter order (or the scan bails).  Returns an
    ExtractionResult on a stage hit, _NEED_TREE when the document must
    go through the full tree pipeline.  Stage functions are the SAME
    objects the tree path runs, on bit-identical inputs — parity is
    structural, and pinned by test_cdom_parity differentials."""
    try:
        scan = domp._CDOM.scan_prelude(domp.Node, html)
    except ValueError:
        # scan raises exactly where build_into raises; the tree path
        # will take the same fallback parser for this document
        return _NEED_TREE
    if scan is None:  # normalization hazard (stray routing / dropped
        return _NEED_TREE  # subtrees): order could diverge, use the tree
    metas, links, scripts = scan

    opts = opts.with_defaults()
    apply_log_option(opts.enable_log)  # core.go:97-99

    if not opts.url:
        # query_meta_canonical_url over the scan: first link
        # rel=canonical with a non-empty href (core.go:77-94)
        for elem in links:
            if elem.attr("rel") == "canonical":
                href = elem.attr("href").strip()
                if href:
                    opts = opts.with_url(href)
                    break

    # find_date's pre-prune prefix, verbatim (core.go:136-189)
    url_date: Optional[date] = None
    if opts.url:
        url_date = extract_url_date(opts.url, opts)
        if url_date is not None and not opts.defer_url_extractor:
            return _finish_result(opts.url, url_date, opts)

    raw_string, meta_result = examine_meta_elements(metas, opts)
    if meta_result is not None:
        return _finish_result(raw_string, meta_result, opts)

    raw_string, json_result = json_search(scripts, opts)
    if json_result is not None:
        return _finish_result(raw_string, json_result, opts)

    if opts.defer_url_extractor and url_date is not None:
        return _finish_result(opts.url, url_date, opts)

    return _NEED_TREE


def from_html(html: str | bytes, opts: Options) -> ExtractionResult:
    """Parse + extract — the reference's FromReader (core.go:48-56).
    bytes input goes through the WHATWG charset sniff (FromReader reads
    raw bytes too); previously it fell through the parser's str checks
    and silently produced an empty result."""
    if isinstance(html, (bytes, bytearray)):
        from .operators.extract import sniff_decode

        html = sniff_decode(bytes(html))
    res = _prelude_extract(html, opts)
    if res is not _NEED_TREE:
        return res
    doc = domp.parse_html(html)
    try:
        return from_document(doc, opts)
    finally:
        # the result is plain strings; breaking the parent cycles here
        # lets the tree free by refcount instead of cyclic GC
        domp.release_tree(doc)
