"""Structured Streaming layer (SURVEY §7.2 M3).

The operator library in ``operators/`` is batch/stream-agnostic
(DataFrame → DataFrame); this package adds the stream-only pieces
`app.run` starts: the enrichment pipeline mirroring the reference job
topology with its dim lookups in Arrow on the driver (``pipeline``),
TTL-refreshed dims (``dim_refresh``), the driver-side session closer
(``dedup``) and the Arrow sink writers with their ``_batch`` commits
(``sinks``); plus the stream-stream event-time interval join
(``interval_join``).
"""
