"""Micro-bench: the seven run-anchored search_page finders against plain
finditer, on pages on both sides of the density switch.

Run-anchored matching costs one ``rx.match`` per digit-run start, so it
wins on article text and loses on digit-dense markup; ``finders._DENSE``
picks between the two per string. Each workload below is a
synth-page-shaped article with digit-dense blocks added to its body.
Per workload this prints the share of digit-run starts ("anchors") per
character and per non-digit character, the path the switch takes, and
the best-of-N time of all seven finders per page for finditer, forced
anchoring and the switch.

Usage (one core, no Spark):
  python scripts/bench_finders.py [--pages 100] [--reps 5]
"""

from __future__ import annotations

import argparse
import base64
import os
import random
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from go_htmldate_spark.functions import finders as F  # noqa: E402
from go_htmldate_spark.functions import patterns as P  # noqa: E402

_RUN_SCANS = [
    P.RX_THREE_LOOSE_SCAN, P.RX_SELECT_YMD_SCAN, P.RX_DATESTRINGS_SCAN,
    P.RX_SLASHES_SCAN, P.RX_YYYYMM_SCAN, P.RX_MMYYYY_SCAN, P.RX_SIMPLE_SCAN,
]
_LOREM = (
    "lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod "
    "tempor incididunt ut labore et dolore magna aliqua"
)


def _blocks(rnd: random.Random) -> dict:
    """Digit-dense fillers, one block each."""
    def pt():
        return f"{rnd.uniform(0, 100):.2f},{rnd.uniform(0, 100):.2f}"

    return {
        "svg_path": lambda: '<svg><path d="M' + " ".join(pt() for _ in range(60)) + 'Z"/></svg>',
        "json_ints": lambda: "<script>var d=[" + ",".join(
            str(rnd.randint(0, 99999)) for _ in range(150)) + "];</script>",
        "json_objs": lambda: '<script type="application/json">[' + ",".join(
            f'{{"id":{rnd.randint(1, 99999)},"x":{rnd.random():.4f}}}' for _ in range(40)) + "]</script>",
        "base64": lambda: '<img src="data:image/png;base64,'
        + base64.b64encode(rnd.randbytes(900)).decode() + '">',
        "num_table": lambda: "<table>" + "".join(
            f"<tr><td>{rnd.randint(1, 9999):,}</td><td>{rnd.uniform(0, 100):.1f}%</td></tr>"
            for _ in range(40)) + "</table>",
    }


def _article(rnd: random.Random, repeats: int, extra: str) -> str:
    filler = " ".join([_LOREM] * repeats)
    date = f"{rnd.randint(2000, 2024)}-{rnd.randint(1, 12):02d}-{rnd.randint(1, 28):02d}"
    return (f"<html><head><title>t</title></head><body>{extra}<h1>title</h1>"
            f"<p>{filler}</p><p>posted {date}</p><p>{filler}</p></body></html>")


def _workloads(n: int) -> dict:
    rnd = random.Random(7)
    out = {f"article r={r}": [_article(rnd, r, "") for _ in range(n)] for r in (1, 16)}
    for name, make in _blocks(rnd).items():
        for k in (1, 4):
            out[f"r=1 + {k}x {name}"] = [
                _article(rnd, 1, "".join(make() for _ in range(k))) for _ in range(n)]
    return out


def _time(finders, pages, reps: int) -> float:
    best = float("inf")
    for _ in range(reps):
        F._anchor_cache = ("", [])
        t0 = time.perf_counter()
        for s in pages:
            for f in finders:
                f(s)
        best = min(best, time.perf_counter() - t0)
    return best / len(pages) * 1e6


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", type=int, default=100)
    ap.add_argument("--reps", type=int, default=5)
    a = ap.parse_args()
    scan = [F._mk_finder(rx) for rx in _RUN_SCANS]
    run = [F._mk_run_finder(rx) for rx in _RUN_SCANS]
    default = F._DENSE
    print(f"{'workload':24s} {'chars':>6s} {'anch/ch':>8s} {'anch/nd':>8s} {'path':>8s}"
          f" {'finditer':>9s} {'anchored':>9s} {'switch':>9s}  (us per page)")
    for label, pages in _workloads(a.pages).items():
        chars = sum(map(len, pages))
        flags = [s.encode("latin-1", "replace").translate(F._DIGIT_FLAGS) for s in pages]
        anchors = sum(f.count(b"01") for f in flags)
        nondigits = sum(f.count(b"0") for f in flags)
        F._anchor_cache = ("", [])
        paths = {"finditer" if F._run_anchors(s) is None else "anchored" for s in pages}
        t_scan = _time(scan, pages, a.reps)
        F._DENSE = 0
        t_anch = _time(run, pages, a.reps)
        F._DENSE = default
        t_switch = _time(run, pages, a.reps)
        print(f"{label:24s} {chars / len(pages):6.0f} {anchors / chars:8.4f} {anchors / nondigits:8.4f}"
              f" {'/'.join(sorted(paths)):>8s} {t_scan:9.1f} {t_anch:9.1f} {t_switch:9.1f}", flush=True)


if __name__ == "__main__":
    main()
