"""bbcrawl_spark — a PySpark-native URL-frontier / crawl-loop analytics engine.

A from-scratch reimplementation of the capabilities of jwdev42/bbcrawl
(reference, read-only at /root/reference) as an idiomatic Spark DataFrame
engine: pagers become driver-side seed sequences, the download dispatcher
becomes a per-host politeness window scheduler, HTML extraction becomes
Arrow-batched pandas UDFs, and crawl state (frontier / seen / metrics) lives
in snapshot-committed warehouse tables so a crawl resumes deterministically.

Modules
-------
urlkit      Go net/url-parity URL functions + xxhash64 (pure Python)
htmlkit     minimal DOM + walkTree-parity traversal (pure Python)
extract     vB4-attachment / src / link / text extraction (pure Python core)
pagers      pure-Python pager seed sequences (query / cutter / vb4)
cmdline     the reference's positional CLI grammar -> CrawlConfig
__main__    the crawl CLI (``python -m bbcrawl_spark``)
operators/  dedup (Bloom + anti-join), politeness windows, robots, priority
sources/    synthetic board-site generator, warehouse
plans/      the per-round crawl batch job + multi-round driver; session
functions/  the fused extraction pandas UDF + column-expression builders
oracle      sequential pure-Python crawl oracle (reference-loop semantics)
"""

__version__ = "0.1.0"
