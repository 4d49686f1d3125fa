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

import os
import uuid

from pyspark.sql import DataFrame, SparkSession

from ..io import table
from ..operators.pii import SQL_TEXT_PII, pii_per_doc, pii_report
from ..sources.filestream import (
    read_stream,
    scratch_dir,
    source_fingerprint,
    stage_cached,
)
from .stateful import (
    N_BATCHES,
    _drain_memory_sink,
    _record_stream_plan,
    _streaming_session,
)


def s_pii_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the PII audit over a real document stream (micro-batch replay of
    the corpus), complete output mode; equals batch q_text_pii when drained."""
    run = f"s_pii_stream_{uuid.uuid4().hex[:8]}"
    run_dir = scratch_dir(run)
    d = table(spark, sf_dir, "documents")
    stream_dir = stage_cached(
        d,
        "docs-" + source_fingerprint(sf_dir, "documents"),
        run_dir,
        N_BATCHES,
        order_col="doc_id",  # documents carry no timestamp; id order is the arrival order
    )
    sub = _streaming_session(spark)
    stream = read_stream(sub, stream_dir, d.schema)
    audit = pii_report(pii_per_doc(stream))
    qname = f"piistream_{uuid.uuid4().hex[:8]}"
    q = (
        audit.writeStream.format("memory")
        .queryName(qname)
        .outputMode("complete")
        .option("checkpointLocation", os.path.join(run_dir, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    _record_stream_plan("s_pii_stream", q)
    return _drain_memory_sink(sub, qname, sub.table(qname), run_dir)


# drained stream == the batch scrub; the oracle is the SAME audit SQL
SQL_PII_STREAM = SQL_TEXT_PII

QUERIES = {"s_pii_stream": s_pii_stream}
ORACLES = {"s_pii_stream": SQL_PII_STREAM}
