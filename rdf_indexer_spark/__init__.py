"""rdf_indexer_spark — a PySpark-native inverted-index builder + BM25 query engine.

A brand-new engine with the query and data-processing capabilities of the
reference system ``collex/rdf-indexer`` (a Java RDF→Solr ingestion pipeline),
re-expressed Spark-first:

* the reference's *document model* (multi-valued string fields folded from an
  RDF triple stream, ``NinesStatementHandler.java:43-45``) becomes a columnar
  DataFrame pipeline (``fields.py``);
* the reference's *cleaning / validation / date semantics* become native Spark
  expressions + vectorized pandas UDFs (``analyzer.py``, ``years.py``,
  ``validation.py``);
* the part the reference delegates to Solr/Lucene — tokenization, posting
  lists, BM25 top-k — is internalized (``index/``): postings are built with
  ``groupBy(term, doc_id)``, delta+varbyte-packed into per-term blocks with
  block-max scores, and queried with an exact columnar BM25 top-k.

Everything here derives from public knowledge only: the Apache Spark API, the
reference repo's observable behavior, and published IR literature (BM25:
Robertson & Zaragoza 2009; block-max metadata after Ding & Suel, SIGIR
2011).
"""

__version__ = "0.1.0"
