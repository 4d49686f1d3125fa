"""Streaming PII scrub — the compliance pass run ON the change stream, before
documents ever land anywhere queryable.

Reference tether: the coprocessor forwards cell values verbatim into ES
(HbaseDataSyncEsObserver.java:73-80 in /root/reference) — anything sensitive
in HBase reaches the index. The streaming scrub is the fix a production sync
pipeline bolts on: detection/redaction accounting computed per micro-batch as
documents arrive, with the running per-source audit kept current.

Shape: the detection/redaction expressions are operators/pii.py's
``pii_per_doc`` VERBATIM (pure column math works unchanged on a streaming
frame — the point of declaring scrubbing as expressions, not code); the audit
is a complete-mode aggregate, sane for exactly the s_terms_stream reason (the
result is source-cardinality-bounded, so state and sink hold one row per
source, never per doc). Converges to the batch q_text_pii answer once the
source drains — which is what the oracle checks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..io import table
from ..operators.pii import SQL_TEXT_PII, pii_per_doc, pii_report
from ..sources.filestream import source_fingerprint
from .stateful import _run_stream


def s_pii_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the PII audit over a real document stream (micro-batch replay of
    the corpus), complete output mode; equals batch q_text_pii when drained."""
    return _run_stream(
        spark,
        "s_pii_stream",
        table(spark, sf_dir, "documents"),
        "docs-" + source_fingerprint(sf_dir, "documents"),
        lambda s: pii_report(pii_per_doc(s)),
        mode="complete",
        order_col="doc_id",  # documents carry no timestamp; id order is the arrival order
    )


# drained stream == the batch scrub; the oracle is the SAME audit SQL
SQL_PII_STREAM = SQL_TEXT_PII

QUERIES = {"s_pii_stream": s_pii_stream}
ORACLES = {"s_pii_stream": SQL_PII_STREAM}
