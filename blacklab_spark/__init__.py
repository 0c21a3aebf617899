"""blacklab_spark — a PySpark-native inverted-index build + BM25 top-k query engine.

A from-scratch rebuild of the capabilities of the reference corpus search engine
(oscar345/BlackLab, Lucene-based; see SURVEY.md) re-expressed Spark-first:

- input: a table of Common-Crawl-style web pages
  (url string, warc_ts timestamp, html binary, text string, lang string)
  — or ANNOTATED input (tokens/lemma/pos/sentences/relations columns, e.g.
  from the CoNLL-U reader), the reference's primary ingestion model
- build: vectorized Arrow UDF extraction/tokenization + per-annotation
  parallel layers -> docs / terms / postings (delta+varint doc-sorted
  blocks, block-max scores) tables + meta.json; opt-in markup tag spans,
  char offsets and dependency relations
- query: term / regex / fuzzy / OR / AND / phrase / proximity / repetition
  (unbounded) / relation span queries, markup tags with attribute filters
  and edge forms, parallel-corpus alignment (`==>field`), BCQL with capture
  groups, global constraints, annotation layers and a pluggable
  query-function registry (bcql.register_function), and BM25 top-k with
  block-max WAND pruning — all as DataFrame plans over document-sharded
  posting blocks (shard == salt: head-term posting lists are split across
  shards by construction, the explicit skew rule).

No code is copied from the reference; file:line citations in docstrings point
at the behavior being mirrored, not at code being translated.
"""

__version__ = "0.3.0"

K1 = 1.2  # Lucene 8 BM25 default (reference scores via default IndexSearcher:
B = 0.75  # engine/.../search/BlackLabIndexAbstract.java:521 -> BM25Similarity)

__all__ = [
    "K1", "B",
    # public API modules (imported lazily to keep `import blacklab_spark`
    # free of a SparkSession dependency):
    # .session.get_spark      — configured SparkSession factory
    # .build.build_index/add_segment/compact — index construction
    # .query.Index            — span queries + BM25 top-k
    # .spans                  — span algebra combinators
    # .bcql.parse/find/find_ranked — Corpus Query Language (+ BM25 ranking)
    # .results                — sort/group/sample/window/facets/collocations
    # .rank                   — distributed ranking (no single-partition windows)
    # .sources                — input format readers -> pages schema
    # .streaming.stream_build — Structured Streaming delta ingest
    # .iceberg                — Iceberg corpus table (snapshots, partitions,
    #                           stats pruning, delta indexing, follower)
    # .iceberg_stream         — Structured Streaming source over the table
    # .server                 — BlackLab Server HTTP analog + search cache
]
