"""hiispider_spark — a PySpark-native URL-frontier + fetch-scheduler engine.

A from-scratch reimplementation of the capabilities of hiidef/hiispider
(a Python2/Twisted distributed spider; see SURVEY.md) re-expressed as an
idiomatic Spark DataFrame pipeline:

- partitioned priority frontier over versioned parquet ("Iceberg-like")
  tables, keyed by salted host-hash to break hot-domain skew,
- a distributed URL-seen set of per-bucket Bloom filters, each probed
  only by its own bucket's candidates (the filters are never unioned),
  with an exact anti-join as the authority,
- URL canonicalization + 64-bit SipHash in vectorized Arrow pandas UDFs,
- per-host politeness (robots.txt rules + crawl-delay token buckets)
  enforced by a Column window over ``host``; the
  ``groupBy(host).applyInPandas`` form is kept as the reference the
  tests compare it against,
- each crawl epoch is a Structured-Streaming-style micro-batch that
  dequeues the top-priority frontier slice, fetches (in-sandbox: joins
  against a Common-Crawl-style ``pages`` table), extracts with plugin
  pandas UDFs, and checkpoints frontier + seen-set + lineage so runs
  resume exactly.

The reference mount /root/reference was empty at survey time (SURVEY.md
S0); semantics derive from public knowledge of hiidef/hiispider plus the
driver contract in BASELINE.json.
"""

__version__ = "0.1.0"
