"""Content-block selection + main-text assembly as native Spark SQL.

Relational mirror of pycore.blocks (integer-only rule — exact agreement).
Production (`plans.pipeline.extract_pages`) runs pycore.blocks itself inside
the tokenizer's Arrow pass (`operators.tokenize.extract_fused`); these
formulations stay as node-level library operators and as the SQL side of
the parity tests.  ``extract_text_packed`` works on one packed row per
document with no shuffle; two equivalent node-stream formulations are
also provided:

1. ``extract_text`` (default, the scale path): ONE hash aggregation per url
   collects the (tiny, ~16-element) node array, then the seed/smoothing rule
   and text assembly run as higher-order array expressions (transform /
   filter / zip_with with index access — the lag/lead neighbor feature
   becomes ``get(seeds, i±1)``).  One shuffle total, no window sort over the
   node stream (which is ~16x the page count — the sort was measurable at
   bench scale).

2. ``extract_text_window`` (reference formulation): per-node lag/lead window
   + groupBy, the literal SURVEY.md §2.5 mapping.  Kept for parity testing
   (tests assert both produce identical bytes) and as documentation of the
   relational semantics.

The url grouping key matches the salted repartition key upstream, so AQE
keeps the exchange count minimal.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.normalize import clean_text
from ..pycore import blocks as pyblocks
from ..pycore.normalize import CTRL_CLASS

_BOILER = sorted(pyblocks.BOILER_CLASSES | pyblocks.NON_BODY)
_TEXT_TAGS = sorted(pyblocks.TEXT_TAGS)

_NODE_FIELDS = ["node_id", "tag_class", "text", "n_chars", "n_link_chars", "n_words"]

# clean_text guard (r07, guide §1.2 "per-task work"): node texts arrive
# whitespace-COLLAPSED from the tokenizers (" ".join(split()) in
# scan_html_cols / pdf_spans flush), so the joined text contains no \r,
# \t, \n (inside nodes), \x0b, \x0c, no space runs, and no
# leading/trailing whitespace on any line — every clean_text step is
# provably a no-op UNLESS a non-whitespace control char
# [\x00-\x08\x0e-\x1f\x7f] survives collapse (str.split() only removes
# whitespace).  One cheap rlike scan replaces six regexp_replace
# rewrite passes + btrim for the ~100% of real documents with no
# control bytes; documents that do contain one take the full chain, so
# output is byte-identical either way (pinned by test_blocks_parity /
# e2e byte identity, including control-char fixtures).  The fused Arrow
# pass (operators/tokenize.py) applies the same gate with the same class.


def _clean_collapsed(raw: Column) -> Column:
    return F.when(raw.rlike(CTRL_CLASS), clean_text(raw)).otherwise(raw)


def _seed_of(x) -> Column:
    """pycore.blocks.is_seed over a node struct (column or lambda var)."""
    not_boiler = ~x["tag_class"].isin(_BOILER)
    clean = (3 * x["n_link_chars"]) < x["n_chars"]
    long_block = x["n_words"] >= pyblocks.SEED_WORDS
    texty = x["tag_class"].isin(_TEXT_TAGS) & (
        (x["n_words"] >= pyblocks.MIN_WORDS) | (x["n_chars"] >= pyblocks.MIN_CHARS)
    )
    return not_boiler & clean & (long_block | texty)


def _smoothable(x) -> Column:
    return (
        ~x["tag_class"].isin(_BOILER)
        & ((3 * x["n_link_chars"]) < x["n_chars"])
        & (x["n_words"] >= pyblocks.NEIGHBOR_WORDS)
    )


# ---------------------------------------------------------------------------
# formulation 1: single-agg with higher-order array expressions (scale path)
# ---------------------------------------------------------------------------


def extract_text(nodes: DataFrame) -> DataFrame:
    """tokenized nodes -> one row per url: canonical main text + title.

    Per-node seed/smoothable flags are computed BEFORE the shuffle as flat
    column expressions (whole-stage codegen); the aggregation then collects
    only a slim (node_id, text, flags, title-class) struct per node.  The
    neighbor-smoothing feature reads ``get(seeds, i±1)`` on the in-group
    array — no window, no per-node sort shuffle.
    """
    row = F.struct(*[F.col(c).alias(c) for c in _NODE_FIELDS])
    slim = nodes.select(
        "url",
        "doc_id",
        "engine",
        F.struct(
            F.col("node_id"),
            F.col("text"),
            _seed_of(row).alias("seed"),
            _smoothable(row).alias("smoothable"),
            F.when(F.col("tag_class") == "title", F.lit(1))
            .when(F.col("tag_class") == "h1", F.lit(2))
            .otherwise(F.lit(0))
            .alias("title_class"),
        ).alias("n"),
    )
    agg = slim.groupBy("url").agg(
        F.first("doc_id", ignorenulls=True).alias("doc_id"),
        F.first("engine").alias("engine"),
        F.array_sort(F.collect_list("n")).alias("nodes"),
        F.sum((F.col("n")["node_id"] >= 0).cast("int")).alias("n_nodes"),
        F.min_by(
            F.when(F.col("n")["title_class"] == 1, F.col("n")["text"]),
            F.when(F.col("n")["title_class"] == 1, F.col("n")["node_id"]),
        ).alias("_title_t"),
        F.min_by(
            F.when(F.col("n")["title_class"] == 2, F.col("n")["text"]),
            F.when(F.col("n")["title_class"] == 2, F.col("n")["node_id"]),
        ).alias("_title_h1"),
    )
    neighbor = lambda i, off: F.coalesce(  # noqa: E731
        F.get(F.col("nodes"), i + off)["seed"], F.lit(False)
    )
    content = F.transform(
        F.col("nodes"),
        lambda x, i: x["seed"] | (x["smoothable"] & (neighbor(i, -1) | neighbor(i, 1))),
    )
    agg = agg.withColumn("content_flags", content)
    zipped = F.arrays_zip(F.col("nodes"), F.col("content_flags"))
    raw_text = F.array_join(
        F.transform(
            F.filter(zipped, lambda z: z["content_flags"]),
            lambda z: z["nodes"]["text"],
        ),
        "\n",
    )
    agg = agg.select(
        "url",
        "doc_id",
        "engine",
        raw_text.alias("_raw"),
        F.coalesce("_title_t", "_title_h1").alias("title"),
        "n_nodes",
        F.size(F.filter(F.col("content_flags"), lambda c: c)).alias(
            "n_content_nodes"
        ),
    )
    # separate projection so _raw is evaluated ONCE under the 3-reference
    # guard (CollapseProject keeps multi-referenced non-trivial aliases)
    return agg.select(
        "url",
        "doc_id",
        "engine",
        _clean_collapsed(F.col("_raw")).alias("text"),
        "title",
        "n_nodes",
        "n_content_nodes",
    )


# ---------------------------------------------------------------------------
# formulation 0: packed documents — zero shuffles
# ---------------------------------------------------------------------------


def extract_text_packed(packed: DataFrame) -> DataFrame:
    """tokenize_packed output -> same rows as extract_text, with NO shuffle:
    a document's nodes arrive as one array (already in document order), so
    seed/smoothing/assembly are pure per-row higher-order expressions."""
    seeds = F.transform(F.col("nodes"), _seed_of)
    df = packed.withColumn("seeds", seeds)
    neighbor = lambda i, off: F.coalesce(  # noqa: E731
        F.get(F.col("seeds"), i + off), F.lit(False)
    )
    content = F.transform(
        F.col("nodes"),
        lambda x, i: F.get(F.col("seeds"), i)
        | (_smoothable(x) & (neighbor(i, -1) | neighbor(i, 1))),
    )
    df = df.withColumn("content_flags", content)
    zipped = F.arrays_zip(F.col("nodes"), F.col("content_flags"))
    raw_text = F.array_join(
        F.transform(
            F.filter(zipped, lambda z: z["content_flags"]),
            lambda z: z["nodes"]["text"],
        ),
        "\n",
    )
    first_of = lambda tag: F.get(  # noqa: E731
        F.transform(
            F.filter(F.col("nodes"), lambda n: n["tag_class"] == tag),
            lambda n: n["text"],
        ),
        0,
    )
    df = df.select(
        "url",
        "doc_id",
        "engine",
        raw_text.alias("_raw"),
        F.coalesce(first_of("title"), first_of("h1")).alias("title"),
        F.size(F.filter(F.col("nodes"), lambda n: n["node_id"] >= 0)).alias(
            "n_nodes"
        ),
        F.size(F.filter(F.col("content_flags"), lambda c: c)).alias(
            "n_content_nodes"
        ),
    )
    # separate projection so _raw is evaluated ONCE under the 3-reference
    # guard (CollapseProject keeps multi-referenced non-trivial aliases)
    return df.select(
        "url",
        "doc_id",
        "engine",
        _clean_collapsed(F.col("_raw")).alias("text"),
        "title",
        "n_nodes",
        "n_content_nodes",
    )


# ---------------------------------------------------------------------------
# formulation 2: window lag/lead + groupBy (parity reference, SURVEY §2.5)
# ---------------------------------------------------------------------------


def seed_expr() -> Column:
    """is_seed over flat NODE_SCHEMA columns."""
    return _seed_of(
        F.struct(*[F.col(c).alias(c) for c in _NODE_FIELDS])
    )


def with_content_flag(nodes: DataFrame) -> DataFrame:
    """Add is_seed / is_content via one window over (url, node_id)."""
    w = Window.partitionBy("url").orderBy("node_id")
    nodes = nodes.withColumn("is_seed", seed_expr())
    neighbor_seed = (
        F.coalesce(F.lag("is_seed").over(w), F.lit(False))
        | F.coalesce(F.lead("is_seed").over(w), F.lit(False))
    )
    row_struct = F.struct(*[F.col(c).alias(c) for c in _NODE_FIELDS])
    return nodes.withColumn(
        "is_content", F.col("is_seed") | (_smoothable(row_struct) & neighbor_seed)
    )


def extract_text_window(nodes: DataFrame) -> DataFrame:
    """Window-based equivalent of extract_text (kept for parity tests)."""
    flagged = with_content_flag(nodes)
    content_struct = F.when(
        F.col("is_content"), F.struct(F.col("node_id"), F.col("text"))
    )
    agg = flagged.groupBy("url").agg(
        F.first("doc_id", ignorenulls=True).alias("doc_id"),
        F.first("engine").alias("engine"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(content_struct)),
                lambda x: x["text"],
            ),
            "\n",
        ).alias("raw_text"),
        F.min_by(
            F.when(F.col("tag_class") == "title", F.col("text")),
            F.when(F.col("tag_class") == "title", F.col("node_id")),
        ).alias("_title_t"),
        F.min_by(
            F.when(F.col("tag_class") == "h1", F.col("text")),
            F.when(F.col("tag_class") == "h1", F.col("node_id")),
        ).alias("_title_h1"),
        F.sum((F.col("node_id") >= 0).cast("int")).alias("n_nodes"),
        F.sum(F.col("is_content").cast("int")).alias("n_content_nodes"),
    )
    return agg.select(
        "url",
        "doc_id",
        "engine",
        _clean_collapsed(F.col("raw_text")).alias("text"),
        F.coalesce("_title_t", "_title_h1").alias("title"),
        "n_nodes",
        "n_content_nodes",
    )
