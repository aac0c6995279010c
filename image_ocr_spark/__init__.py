"""image_ocr_spark — a PySpark-native web-scale main-content extraction engine.

Re-expresses the capabilities of the reference OCR pipeline
(``yukichim/image-ocr``, see SURVEY.md) as an idiomatic Spark job over
Common-Crawl-style page tables ``(url, warc_ts, html:binary, text, lang)``:

- ``pycore``    — pure-Python semantic core (HTML/PDF tokenizers, normalizers,
                  classifier, field extractors).  This is the single source of
                  truth for per-document semantics; the Spark operators wrap it
                  in Arrow-batched Python passes (mapInArrow), and the test
                  oracle calls it directly, so byte-identity holds by
                  construction.
- ``operators`` — Spark operators: tokenize + content selection + classify
                  (one fused mapInArrow pass), block scoring, span joins,
                  dedup, similarity search, checkpoint manifests.
- ``functions`` — native Spark SQL column builders (dates, amounts, phones,
                  classifier scoring, text stats) mirroring pycore exactly.
- ``fixtures``  — deterministic synthetic page generator (seeded; derives
                  pages from the driver's ``documents`` table).
- ``plans``     — end-to-end pipeline assembly (the flagship query).
- ``session``   — SparkSession defaults; ``workerd`` is the Python worker
                  daemon local sessions use (pyspark from site-packages, not
                  Spark's zips).
"""

__version__ = "0.1.0"
