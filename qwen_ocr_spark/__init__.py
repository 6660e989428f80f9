"""qwen_ocr_spark — a PySpark-native document-to-markdown extraction engine.

A from-scratch rebuild of the capabilities of ``alexispurslane/qwen-ocr``
(reference at /root/reference) as a deterministic, cluster-scale Spark
pipeline.  The reference drives a remote vision-language model from a desktop
GUI; this engine replaces the VLM with deterministic, cluster-local
algorithms (HTML text/link-density boilerplate stripping; PDF layout parse +
XY-cut reading order) executed inside vectorized pandas/Arrow UDFs over a
table of Common-Crawl-style pages:

    pages(url string, warc_ts timestamp, html binary, text string, lang string)

Package map
-----------
``functions/``  pure-Python deterministic kernels (no Spark imports): the
                markdown output contract, header-breadcrumb fold, HTML block
                scoring, PDF tokenizer + XY-cut, figure bbox filters.
``operators/``  Spark DataFrame operators: the extraction pipeline
                (mapInPandas), dedup family, similarity search, text stats.
``sources/``    synthetic ``pages`` generator, its PDF writer (``pdfgen``) and
                the documents bridge.
``sinks/``      output writer + per-partition checkpoint manifest + resume.
``plans/``      SparkSession builder with scale-oriented conf (AQE etc.).
Imports point one way: ``functions`` ← ``operators``, ``plans`` ← ``sources``,
``sinks``, ``streaming`` (checked by ``tests/test_layers.py``).
"""

__version__ = "0.1.0"
