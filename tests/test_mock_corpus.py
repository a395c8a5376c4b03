"""Full real-page parity against the reference's mock corpus.

Pages: /root/reference/test-files/mock/*.html (read-only). The url→file
map (mock_test.go:114-184) and expected dates (core_test.go's
checkMockFile assertions) now live in
go_htmldate_spark/sources/mockcorpus.py so the DRIVER's oracle gate can
run the same parity check; this test keeps the per-case pytest view —
exact yyyy-MM-dd parity on real-world HTML, both orientations,
fast + extensive.
"""

from __future__ import annotations

import pytest

from go_htmldate_spark import from_html
from go_htmldate_spark.sources.mockcorpus import (
    CASES,
    FILES,
    MOCK_DIR,
    MODE_OPTIONS,
)


pytestmark = pytest.mark.reference_corpus


@pytest.mark.parametrize(
    "url,expected,mode",
    CASES,
    ids=[f"{FILES[u].removesuffix('.html')}-{m}-{e or 'none'}" for u, e, m in CASES],
)
def test_mock_corpus(url, expected, mode):
    with open(f"{MOCK_DIR}/{FILES[url]}", encoding="utf-8", errors="replace") as f:
        html = f.read()
    res = from_html(html, MODE_OPTIONS[mode].with_url(url))
    assert res.date == expected
