"""vsphere_event_streaming_spark — a PySpark-native analytics engine.

A brand-new engine with the query and data-processing capabilities of
``embano1/vsphere-event-streaming`` (an offset-addressed event log with a
CloudEvents transform pipeline and range/point/page/replay/watch queries),
re-expressed Spark-first:

- the event log is a DataFrame with a monotonic ``offset`` column
  (reference: memlog.Log, /root/reference/cmd/server/server.go:37);
- the CloudEvents envelope transform is a ``select`` chain
  (reference: /root/reference/cmd/server/main.go:127-134);
- the HTTP query surface (range / point lookup / last page / replay /
  watch) maps to aggregates, filters, top-k and Structured Streaming
  (reference: /root/reference/cmd/server/server.go:61-64).

Beyond the reference surface, the engine ships the relational operator
set (joins, aggregates, windows, set ops) and an LLM-data-pipeline tier
(dedup, similarity search, text analysis, multimodal columns) designed
for 100 TB scale: declarative DataFrame plans, broadcast joins for dims,
no driver-side collects in data paths, AQE-friendly shuffles.
"""

import logging

__version__ = "0.1.0"

# library loggers stay silent until the application configures logging
logging.getLogger(__name__).addHandler(logging.NullHandler())
