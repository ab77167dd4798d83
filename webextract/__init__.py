"""webextract — PySpark-native main-content extraction engine.

A from-scratch, Spark-first reimplementation of the query surface of
``bankjaneo/docling-serve`` (reference at /root/reference, v1.8.0) as a
batch extraction pipeline over Common-Crawl-style page tables:

* ``dom.py``      — HTML bytes -> flat block-DOM (stdlib html.parser)
* ``extract.py``  — pure extraction kernel: density scoring, main-content
                    selection, md/text/doctags serialization, span offsets.
                    This SAME function is the row-at-a-time oracle in tests
                    and the batch kernel inside the Arrow UDF.
* ``pdfmini.py``  — deterministic mini-PDF parser + reading-order sort
* ``udfs.py``     — mapInArrow kernels (no per-row Python anywhere)
* ``pipeline.py`` — DataFrame plan builder: read -> admit -> tier/salt ->
                    extract -> write + lineage
* ``icetable.py`` — Iceberg-style table emulation (snapshots, manifests,
                    per-partition commit log, resume)
* ``chunk.py``    — hybrid/hierarchical chunkers (1->N explode; word or
                    subword token measure, merge_peers)
* ``split.py``    — distributed oversized-document tier: split ->
                    fan-out -> byte-identical merge, one chain for
                    both formats; the mini-PDF page-group pieces
* ``htmlsplit.py`` — its HTML pieces: cut-point scan, seeded segment
                    parse, global select_main merge
* ``formats.py``  — sniff + stdlib parsers for all 15 reference formats
* ``sources.py``  — scheme-agnostic pages reader + object-store configs
* ``synth.py``    — deterministic Common-Crawl-style page generator
* ``corpus.py``   — dedup (exact/MinHash-LSH/SimHash/Jaccard), cosine
                    top-k + LSH-ANN, lang-ID, quality, tokens, winnowing
* ``media.py``    — binary-column plumbing; real image-header decode,
                    raster codecs stubbed

Design stance (SURVEY.md §1.4, §4): DataFrame end-to-end, Catalyst does
pruning/pushdown/codegen; the only Python is Arrow-vectorized batch
kernels; explicit url-hash partitioning with size-tier salting for skew.
"""

__version__ = "0.2.0"
