"""Date validation + candidate aggregation/selection kernels.

Pins the semantics of /root/reference/validators.go and the candidate
disambiguation in /root/reference/core.go:823-930. These are the
"relational" pieces of the cascade (group-count, top-k, stable sorts),
run batch-side inside the pandas UDF.
"""

from __future__ import annotations

from datetime import date, datetime, timezone
from typing import Callable, NamedTuple, Optional

from ..options import Options
from .textkit import atoi, str_limit


class YearCandidate(NamedTuple):  # validators.go:26-30
    pattern: str
    count: int
    raw_string: str


def is_leap_year(year: int) -> bool:  # utils.go:166-184
    return year % 4 == 0 and (year % 100 != 0 or year % 400 == 0)


_DAYS_31 = {1, 3, 5, 7, 8, 10, 12}
_DAYS_30 = {4, 6, 9, 11}


def validate_date_parts(
    year: int, month: int, day: int, opts: Options
) -> Optional[date]:
    """Gregorian validity + option range check (validators.go:33-71).

    Returns the date when valid, else None (the Go version's
    (timeZero, false))."""
    if year < 1582:
        return None
    if month < 1 or month > 12:
        return None
    if day < 1:
        return None
    if month in _DAYS_31:
        if day > 31:
            return None
    elif month in _DAYS_30:
        if day > 30:
            return None
    else:  # February
        if day > (29 if is_leap_year(year) else 28):
            return None

    if year > 9999:  # datetime ceiling; reference's time.Time has no such cap
        return None
    dt = date(year, month, day)
    if not validate_date(dt, opts):
        return None
    return dt


def validate_date(dt: Optional[date], opts: Options) -> bool:
    """Min/max range check (validators.go:74-91)."""
    if dt is None:
        return False
    if opts.min_date is not None and dt < opts.min_date:
        return False
    if opts.max_date is not None and dt > opts.max_date:
        return False
    return True


def to_unix(dt: date) -> int:
    """Unix seconds at UTC midnight — the comparison currency the reference
    uses for min/max selection (validators.go:94-105)."""
    return int(
        datetime(dt.year, dt.month, dt.day, tzinfo=timezone.utc).timestamp()
    )


def compare_values(
    reference: int, attempt: date, opts: Options
) -> tuple[int, bool]:
    """Running min (original) / max (updated) over unix seconds
    (validators.go:94-105)."""
    ts = to_unix(attempt)
    if opts.use_original_date:
        if reference == 0 or ts < reference:
            return ts, True
    else:
        if ts > reference:
            return ts, True
    return reference, False


def check_extracted_reference(reference: int, opts: Options) -> Optional[date]:
    """unix seconds → UTC date + validation (validators.go:108-116)."""
    if reference > 0:
        dt = datetime.fromtimestamp(reference, tz=timezone.utc).date()
        if validate_date(dt, opts):
            return dt
    return None


# A finder yields (candidate_text, whole_match_start) pairs over the
# serialized HTML, emulating the re2go scanners (leftmost,
# non-overlapping — identical to re.finditer consumption).
Finder = Callable[[str], list[tuple[str, int]]]


def plausible_year_filter(
    html_string: str,
    finder: Finder,
    rx_year_pattern,
    to_complete: bool,
    opts: Options,
) -> list[YearCandidate]:
    """Group matches, count occurrences (first-occurrence order), keep year
    range-plausible ones (validators.go:120-202)."""
    min_year = opts.min_date.year
    max_year = opts.max_date.year

    unique_matches: list[str] = []
    match_count: dict[str, int] = {}
    match_raw: dict[str, str] = {}

    for match, start in finder(html_string):
        if match not in match_count:
            unique_matches.append(match)
            match_raw[match] = str_limit(html_string[start:], 100)
            match_count[match] = 0
        match_count[match] += 1

    valid: list[YearCandidate] = []
    for match in unique_matches:
        year_val = -1
        # Go FindStringSubmatch searches anywhere; ^ anchors are part of
        # the pattern itself, so plain search() matches the semantics.
        m = rx_year_pattern.search(match)
        if m is not None:
            year_val = atoi(m.group(1))
        if year_val == -1:
            continue

        if not to_complete:
            potential_year = year_val
        elif year_val < 100:
            potential_year = 1900 + year_val if year_val >= 90 else 2000 + year_val
        else:
            potential_year = 0  # mirrors validators.go:176-185 fallthrough

        if potential_year < min_year or potential_year > max_year:
            continue

        valid.append(YearCandidate(match, match_count[match], match_raw[match]))

    return valid


def filter_ymd_candidate(
    best_match: Optional[list[str]],
    cop_year: int,
    opts: Options,
) -> Optional[date]:
    """Validate a (whole, y, m, d) match, honoring the copyright-year floor
    (validators.go:205-238)."""
    if not best_match or len(best_match) < 4:
        return None
    dt = validate_date_parts(
        atoi(best_match[1]), atoi(best_match[2]), atoi(best_match[3]), opts
    )
    if dt is None:
        return None
    if cop_year == 0 or dt.year >= cop_year:
        return dt
    return None


def normalize_candidates(
    candidates: list[YearCandidate], opts: Options, fast_parse
) -> list[YearCandidate]:
    """Re-key candidates to canonical yyyy-MM-dd via fast_parse, summing
    counts, first-occurrence order (validators.go:240-270)."""
    unique: list[str] = []
    counts: dict[str, int] = {}
    raws: dict[str, str] = {}
    for cand in candidates:
        dt = fast_parse(cand.pattern, opts)
        if dt is None:
            continue
        key = dt.isoformat()
        if key not in counts:
            unique.append(key)
            raws[key] = cand.raw_string
            counts[key] = 0
        counts[key] += cand.count
    return [YearCandidate(p, counts[p], raws[p]) for p in unique]


def select_candidate(
    candidates: list[YearCandidate],
    rx_catch,
    rx_year,
    opts: Options,
) -> tuple[str, Optional[list[str]]]:
    """Top-10 by count → chronological re-sort → top-2 → plausibility safety
    net (core.go:823-930). Stable sorts mirror Go sort.SliceStable."""
    n = len(candidates)
    if n == 0 or n >= 1000:
        return "", None

    if n == 1:
        m = rx_catch.search(candidates[0].pattern)
        if m is not None:
            return candidates[0].raw_string, [m.group(0), *m.groups()]
        # Reference falls through to the safety net here and would index
        # out of range with a single valid candidate (core.go:899-904);
        # unreachable in practice because catch ⊇ year filter. Bail out.
        return "", None

    cands = sorted(candidates, key=lambda c: -c.count)  # stable desc
    if len(cands) > 10:
        cands = cands[:10]

    if opts.use_original_date:
        cands = sorted(cands, key=lambda c: c.pattern)
    else:
        cands = sorted(cands, key=lambda c: c.pattern, reverse=True)

    best = cands[:2]
    years: list[int] = []
    counts: list[int] = []
    pats: list[str] = []
    valids: list[bool] = []
    for cand in best:
        counts.append(cand.count)
        pats.append(cand.pattern)
        ym = rx_year.search(cand.pattern)
        if ym is not None:
            years.append(atoi(ym.group(1)))
            valids.append(validate_date_parts(years[-1], 1, 1, opts) is not None)
        else:
            years.append(0)
            valids.append(False)

    def catch(i: int) -> tuple[str, Optional[list[str]]]:
        m = rx_catch.search(pats[i])
        if m is None:
            return best[i].raw_string, None
        return best[i].raw_string, [m.group(0), *m.groups()]

    if all(valids):
        if counts[0] == counts[1]:
            return catch(0)
        if years[1] != years[0] and counts[1] / counts[0] > 0.5:
            return catch(1)  # newer-but-≤50%-less-frequent rule
        return catch(0)
    if any(valids):
        return catch(valids.index(True))
    return "", None


def search_pattern(
    html_string: str,
    finder: Finder,
    rx_catch,
    rx_year,
    opts: Options,
) -> tuple[str, Optional[list[str]]]:
    """Chained filter + select (core.go:817-820)."""
    candidates = plausible_year_filter(html_string, finder, rx_year, False, opts)
    return select_candidate(candidates, rx_catch, rx_year, opts)

