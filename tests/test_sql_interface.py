"""Pure-SQL access to the engine (register_sql_functions)."""


def test_sql_extraction_matches_dataframe_api(spark, tmp_path):
    import warnings

    from scribe_js_spark.fixtures import write_corpus_parquet
    from scribe_js_spark.pipeline import (
        extract_text, register_sql_functions)

    write_corpus_parquet(str(tmp_path), n_docs=10)
    df = spark.read.parquet(str(tmp_path / "corpus.parquet"))
    df.createOrReplaceTempView("corpus")
    # registration is silent: no "type hints are preferred" warning
    with warnings.catch_warnings():
        warnings.simplefilter("error", UserWarning)
        register_sql_functions(spark)
    sql_rows = {r["url"]: r for r in spark.sql(
        "SELECT url, scribe_extract_text(html) AS text,"
        "       scribe_extract_error(html) AS error,"
        "       scribe_detect_format(html) AS fmt"
        " FROM corpus").collect()}
    api_rows = {r["url"]: r for r in
                extract_text(df, salt=False).collect()}
    assert sql_rows.keys() == api_rows.keys()
    for url, a in api_rows.items():
        s = sql_rows[url]
        assert s["text"] == a["text"]
        assert s["error"] == a["error"]
        assert s["fmt"] == a["format"]


def test_gzipped_document_format_agrees_everywhere(spark, tmp_path,
                                                   capsys):
    """scribe_detect_format and the CLI ``type`` verb unwrap gzip as
    extraction does, and give NULL, never an error, where the unwrap
    fails."""
    import gzip

    from scribe_js_spark import fixtures
    from scribe_js_spark.__main__ import main
    from scribe_js_spark.pipeline import extract_text, register_sql_functions

    hocr = fixtures.render_hocr(fixtures.build_doc_model(1, n_pages=1))
    df = spark.createDataFrame(
        [("gz", gzip.compress(hocr.encode())),
         ("bad", b"\x1f\x8b not gzip"),
         ("null", None)], "url string, html binary")
    df.createOrReplaceTempView("gz_docs")
    register_sql_functions(spark)
    sql = {r.url: r for r in spark.sql(
        "SELECT url, scribe_detect_format(html) AS fmt,"
        "       scribe_extract_text(html) AS text FROM gz_docs").collect()}
    api = {r.url: r for r in extract_text(df, salt=False).collect()}
    assert {u: r.fmt for u, r in sql.items()} \
        == {u: r.format for u, r in api.items()} \
        == {"gz": "hocr", "bad": None, "null": None}
    assert sql["gz"].text == api["gz"].text and api["gz"].text

    inp = str(tmp_path / "gz.parquet")
    df.write.parquet(inp)
    assert main(["type", inp]) == 0
    shown = [line.split("|")[1:3] for line in
             capsys.readouterr().out.splitlines() if line.startswith("|")]
    assert [[c.strip() for c in row] for row in shown] == [
        ["doc_type", "count"], ["NULL", "2"], ["hocr", "1"]]


def test_cli_tables_verb(spark, tmp_path):
    """The `tables` CLI verb: detected tables land as one .xlsx and
    one .md per document."""
    import pandas as pd

    from scribe_js_spark.__main__ import main

    df = pd.read_parquet("fixtures/t2/pdf_table_docs.parquet").head(2)
    inp = str(tmp_path / "in.parquet")
    df.to_parquet(inp, index=False)
    out = str(tmp_path / "tables")
    assert main(["tables", inp, out]) == 0
    names = sorted(p.name for p in (tmp_path / "tables").iterdir())
    assert "00000000.md" in names and "00000000.xlsx" in names
    md = (tmp_path / "tables" / "00000000.md").read_text()
    assert "|" in md and "100" in md
    import zipfile
    with zipfile.ZipFile(tmp_path / "tables" / "00000000.xlsx") as zf:
        assert "xl/worksheets/sheet1.xml" in zf.namelist()
