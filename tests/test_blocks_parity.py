"""The two relational formulations of content selection (single-agg with
higher-order exprs vs window lag/lead) must produce identical results —
and both must equal the pure-Python rule.  The production fused pass
(`extract_pages`) must equal the SQL composition on every column and the
pycore oracle byte-for-byte."""

from pyspark.sql import functions as F

from image_ocr_spark.operators.blocks import extract_text, extract_text_window
from image_ocr_spark.operators.generate import generate_pages
from image_ocr_spark.operators.tokenize import tokenize
from image_ocr_spark.plans.pipeline import salt_repartition


def test_agg_and_window_formulations_agree(spark, documents):
    nodes = tokenize(salt_repartition(generate_pages(documents), 8))
    a = {
        r.url: (r.text, r.title, r.n_nodes, r.n_content_nodes)
        for r in extract_text(nodes).collect()
    }
    b = {
        r.url: (r.text, r.title, r.n_nodes, r.n_content_nodes)
        for r in extract_text_window(nodes).collect()
    }
    assert a == b


def test_seed_rule_matches_pycore(spark, documents, doc_rows):
    from image_ocr_spark.fixtures.gen_pages import build_page
    from image_ocr_spark.operators.blocks import with_content_flag
    from image_ocr_spark.pycore.blocks import select_content
    from image_ocr_spark.pycore.extractor import extract_page
    from image_ocr_spark.pycore.htmltok import tokenize_html
    from image_ocr_spark.pycore.pdftok import is_pdf, tokenize_pdf

    nodes = tokenize(generate_pages(documents))
    flagged = with_content_flag(nodes).filter(F.col("is_content"))
    got = {}
    for r in flagged.select("doc_id", "node_id").collect():
        got.setdefault(r.doc_id, set()).add(r.node_id)
    for doc_id, text, lang in doc_rows:
        raw = build_page(doc_id, text, lang)["html"]
        ns = tokenize_pdf(raw) if is_pdf(raw) else tokenize_html(raw)
        exp = set(select_content(ns))
        assert got.get(doc_id, set()) == exp, doc_id


def _snap(df):
    """(sorted column names, {url: row tuple over those columns})."""
    cols = sorted(df.columns)
    return cols, {r["url"]: tuple(r[c] for c in cols) for r in df.collect()}


def _sql_extract(pages):
    """The SQL composition of extract_pages: packed tokenize, then content
    selection and keyword classify as higher-order column expressions."""
    from image_ocr_spark.functions.classify import classify_df
    from image_ocr_spark.operators.blocks import extract_text_packed
    from image_ocr_spark.operators.tokenize import tokenize_packed

    return classify_df(extract_text_packed(tokenize_packed(pages)), "text")


def test_fused_rollup_matches_sql_rollup(spark, documents):
    """extract_pages (pycore rollup inside the tokenize pass) must equal
    the SQL composition row-for-row on every column, across all page
    kinds (articles, pdf, receipts, edge cases)."""
    from image_ocr_spark.plans.pipeline import extract_pages

    pages = generate_pages(documents)
    sql_cols, sql_rows = _snap(_sql_extract(pages))
    cols, fused_rows = _snap(extract_pages(pages))
    assert cols == sql_cols
    assert fused_rows == sql_rows and len(fused_rows) > 0


# pages whose node text carries a control byte that survives the
# tokenizers' whitespace collapse (plus one clean page)
_CTRL_HTMLS = [
    b"<p>plain seed text with enough words to be a seed block</p>",
    "<p>ctrl\x00inside a long enough seed sentence to stay a block</p>".encode(),
    "<p>\x07 bell and \x7f del chars in a long seed sentence here</p>".encode(),
    "<p>edge\x1f</p><p>another long seed sentence with many words here</p>".encode(),
    "<p>\x00 leading control then a long seed sentence with words</p>".encode(),
    (
        "<p>first long seed sentence with plenty of words in it</p>"
        "<p>\x00</p><p>\x01</p>"
        "<p>second long seed sentence with plenty of words in it</p>"
    ).encode(),
    (
        "<title>t\x02itle</title>"
        "<p>\x0b\x1c\x85 spaces of other kinds in a long seed line</p>"
    ).encode(),
]


def _ctrl_pages(spark):
    return spark.createDataFrame(
        [(f"u{i}", i, h) for i, h in enumerate(_CTRL_HTMLS)],
        "url string, doc_id long, html binary",
    )


def test_clean_text_guard_on_control_chars(spark):
    """r07 control-char gate: documents whose node text carries a
    non-whitespace control byte must route through the FULL clean_text
    chain, in both the fused pass and the SQL composition
    (`_clean_collapsed`), and the two stay identical on every column;
    clean documents take the no-op branch with the same output either
    way."""
    from image_ocr_spark.plans.pipeline import extract_pages

    pages = _ctrl_pages(spark)
    sql_cols, sql_rows = _snap(_sql_extract(pages))
    cols, fused_rows = _snap(extract_pages(pages, salt=False))
    assert cols == sql_cols
    assert fused_rows == sql_rows and len(fused_rows) == len(_CTRL_HTMLS)
    # the chain actually fired: control bytes are gone from every text
    ti = cols.index("text")
    texts = [v[ti] for v in fused_rows.values()]
    assert all("\x00" not in t and "\x1f" not in t and "\x7f" not in t for t in texts)
    assert any("ctrl" in t for t in texts)


def test_fused_text_matches_pycore_on_control_chars(spark):
    """The fused pass's gated clean_text is byte-identical to the pycore
    oracle (which always runs the full chain) on control-char pages."""
    from image_ocr_spark.plans.pipeline import extract_pages
    from image_ocr_spark.pycore.extractor import extract_page

    fused = extract_pages(_ctrl_pages(spark), salt=False)
    got = {r.url: r.text for r in fused.collect()}
    want = {f"u{i}": extract_page(h)["text"] for i, h in enumerate(_CTRL_HTMLS)}
    assert got == want
    assert "\n\n" in got["u5"]  # the >2-newline collapse step ran
