"""go_htmldate_spark — a PySpark-native web-page date-extraction engine
and crawl-frontier scheduler.

Reimplements the query semantics of the reference date extractor
(markusmobius/go-htmldate, read-only copy at /root/reference) as a
Spark-first engine: a vectorized extraction kernel mapped over Arrow
batches, native Catalyst fast paths for URL dates, and a partitioned,
bloom-filtered URL frontier for Common-Crawl-scale corpora.
"""

from . import workerimport

workerimport.install()

from .cascade import ExtractionResult, from_document, from_html  # noqa: E402
from .options import Options

__all__ = ["ExtractionResult", "Options", "from_document", "from_html"]
