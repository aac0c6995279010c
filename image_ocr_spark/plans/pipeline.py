"""The flagship extraction pipeline (SURVEY.md §3.4 lifecycle).

    pages --salted repartition--> one mapInArrow pass per batch:
          tokenize (html / pdf by magic bytes)
          --> content selection + main text (pycore.blocks)
          --> title + keyword classify (pycore.htmltok / pycore.classify)
          --> one result row per url (empty/broken pages keep a row)

Scale design:
- `salt_repartition` spreads a hot host's pages across partitions by
  xxhash64(url) BEFORE the Python stage (north rule: host-skew defusal).
  It is the plan's only Exchange.
- The whole per-document extraction runs inside the single JVM->Python
  Arrow boundary (`operators.tokenize.extract_fused`): only url/doc_id/html
  go in and only the final row comes out, so neither the node stream nor
  the fat `html` column ever reaches a JVM operator, and the driver plans
  no higher-order content-selection or keyword-scoring expressions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..operators.tokenize import extract_fused


def salt_repartition(pages: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """Spread url-space uniformly (defuses host-level skew in crawl order).

    xxhash64(url) is uniform regardless of host distribution; at cluster
    scale pass an explicit num_partitions sized to executors*cores*2-3.
    """
    key = F.xxhash64("url")
    if num_partitions:
        return pages.repartition(num_partitions, key)
    return pages.repartition(key)


def extract_pages(
    pages: DataFrame,
    num_partitions: int | None = None,
    engine: str = "auto",
    salt: bool = True,
) -> DataFrame:
    """pages(url, html[, doc_id]) -> one extraction row per url.

    Output: url, doc_id, engine, text, title, n_nodes, n_content_nodes,
    receipt_score_centi, invoice_score_centi, doc_type.
    Pages yielding zero nodes (empty/broken) come back with text='' —
    never-raise semantics (ref pipeline.py:251-271).

    ``engine`` is the pipeline-level strategy switch (ref set_engine,
    pipeline.py:120-146): 'auto' picks per row by magic bytes, a named
    engine forces it with per-row registry fallback.  ``salt=False``
    bypasses the skew-defusing repartition — ONLY for the bench's
    skew-evidence mode; production always salts.
    """
    if salt:
        pages = salt_repartition(pages, num_partitions)
    return extract_fused(pages, engine=engine)
