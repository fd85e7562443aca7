"""Spark pipeline tests: byte-identity at the DataFrame level,
determinism across runs, resume semantics, metrics."""

import gc
import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd
import pyspark.sql.functions as F
import pytest
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from scribe_js_spark.fixtures import make_corpus_pandas, make_corrupt_rows
from scribe_js_spark.pipeline import (
    _prior_output,
    extract_spans,
    extract_text,
    extraction_metrics,
    per_document,
    run_extraction_job,
)

N_DOCS = 40


@pytest.fixture(scope="module")
def corpus_df(spark):
    pdf = make_corpus_pandas(N_DOCS, formats=("hocr", "abbyy", "alto", "text"))
    return spark.createDataFrame(
        pdf[["url", "warc_ts", "html", "text", "lang"]]).cache()


def test_extract_text_byte_identical(spark, corpus_df):
    result = extract_text(corpus_df, salt=True, num_partitions=4)
    joined = (
        result.alias("r")
        .join(corpus_df.select("url", F.col("text").alias("expected")), on="url")
    )
    rows = joined.collect()
    assert len(rows) == N_DOCS
    for row in rows:
        assert row["error"] is None, f"{row['url']}: {row['error']}"
        assert row["text"] == row["expected"], row["url"]


def test_extract_spans_schema_and_order(spark, corpus_df):
    spans = extract_spans(corpus_df, salt=False)
    one_url = corpus_df.select("url").orderBy("url").first()["url"]
    rows = (
        spans.filter(F.col("url") == one_url)
        .orderBy("page_n", "line_n", "word_n")
        .collect()
    )
    assert rows
    assert rows[0]["word_id"] == "word_1_1_1"
    # word_n dense within each line
    by_line = {}
    for r in rows:
        by_line.setdefault((r["page_n"], r["line_n"]), []).append(r["word_n"])
    for key, word_ns in by_line.items():
        assert word_ns == list(range(len(word_ns))), key


def test_determinism_two_runs(spark, corpus_df):
    r1 = extract_text(corpus_df, salt=True).orderBy("url").collect()
    r2 = extract_text(corpus_df, salt=True).orderBy("url").collect()
    assert [(r["url"], r["text"]) for r in r1] == [(r["url"], r["text"]) for r in r2]


def test_metrics(spark, corpus_df):
    result = extract_text(corpus_df, salt=False)
    m = extraction_metrics(result).collect()[0]
    assert m["docs_total"] == N_DOCS
    assert m["docs_failed"] == 0
    assert m["parse_failure_rate"] == 0.0
    assert m["spans_total"] > 0


def test_resume_job(spark, corpus_df, tmp_path):
    inp = str(tmp_path / "input")
    outp = str(tmp_path / "output")
    corpus_df.write.parquet(inp)

    m1 = run_extraction_job(spark, inp, outp, run_id="r1")
    assert m1["docs_total"] == N_DOCS

    # Second run: everything already committed -> zero new docs.
    m2 = run_extraction_job(spark, inp, outp, run_id="r2")
    assert m2["docs_total"] == 0

    committed = spark.read.parquet(outp)
    assert committed.count() == N_DOCS
    metrics = spark.read.parquet(outp + "_metrics")
    assert metrics.count() == 2


#: The metrics sidecar's columns and types, as committed when the
#: sidecar was computed by re-reading the output: the schema must not drift.
SIDECAR_FIELDS = [
    ("run_id", "string"),
    ("docs_total", "bigint"),
    ("docs_failed", "bigint"),
    ("parse_failure_rate", "double"),
    ("pages_total", "bigint"),
    ("spans_total", "bigint"),
    ("partitions_total", "bigint"),
    ("elapsed_sec", "double"),
    ("docs_per_sec", "double"),
]


def _reference_sidecar(committed, run_id):
    """The sidecar as a re-read of the output computes it: the
    ``extraction_metrics`` aggregates over the committed rows of
    ``run_id``, plus the count of their distinct lineage partitions."""
    this = committed.filter(F.col("run_id") == run_id)
    failed = F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0))
    ref = this.agg(
        F.count("*").alias("docs_total"),
        failed.alias("docs_failed"),
        (failed / F.count("*")).alias("parse_failure_rate"),
        F.sum("page_count").alias("pages_total"),
        F.sum("word_count").alias("spans_total"),
    ).collect()[0].asDict()
    ref["partitions_total"] = (
        this.select("lineage_partition").distinct().count())
    return ref


def _job_stage_names(sc, group):
    """Stage names of every job run under ``group``, one list per job."""
    st = sc.statusTracker()
    return [[st.getStageInfo(s).name for s in st.getJobInfo(j).stageIds]
            for j in sorted(st.getJobIdsForGroup(group))]


def test_sidecar_observed_during_write(spark, corpus_df, tmp_path):
    inp = str(tmp_path / "input")
    outp = str(tmp_path / "output")
    n_bad = 8
    corrupt = spark.createDataFrame(pd.DataFrame(make_corrupt_rows(n_bad)))
    corpus_df.select("url", "html").unionByName(corrupt).write.parquet(inp)

    sc = spark.sparkContext
    returned, jobs = {}, {}
    for run_id in ("s1", "s2"):  # s2 resumes: nothing left to extract
        sc.setJobGroup(run_id, "run_extraction_job")
        try:
            returned[run_id] = run_extraction_job(
                spark, inp, outp, run_id=run_id)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs[run_id] = _job_stage_names(sc, run_id)

    # One pass: the input's schema read, the salt shuffle's map stage,
    # the output write (metrics observed in its result stage) and the
    # one-row sidecar write. The resume run adds the read of the prior
    # output and the anti-join's shuffle. Re-reading the output for the
    # metrics took six more jobs: a schema merge, and two aggregations
    # with their shuffle stages.
    assert len(jobs["s1"]) == 4, jobs["s1"]
    assert len(jobs["s2"]) == 6, jobs["s2"]
    for names in jobs.values():
        assert not any(n.startswith(("collect at", "count at"))
                       for stage_names in names for n in stage_names), names

    committed = spark.read.parquet(outp)
    sidecar = spark.read.parquet(outp + "_metrics")
    assert [(f.name, f.dataType.simpleString())
            for f in sidecar.schema.fields] == SIDECAR_FIELDS
    for run_id, m in returned.items():
        want = _reference_sidecar(committed, run_id)
        rows = sidecar.filter(F.col("run_id") == run_id).collect()
        assert len(rows) == 1
        got = rows[0].asDict()
        assert {k: got[k] for k in want} == want, run_id
        assert {k: m[k] for k in want} == want, run_id
        assert got["elapsed_sec"] == m["elapsed_sec"] > 0
        assert got["docs_per_sec"] == m["docs_per_sec"]
    assert returned["s1"]["docs_total"] == N_DOCS + n_bad
    assert returned["s1"]["docs_failed"] == n_bad
    assert returned["s2"]["docs_total"] == 0


def test_resume_refuses_unreadable_output(spark, corpus_df, tmp_path):
    inp = str(tmp_path / "input")
    out_dir = tmp_path / "output"
    corpus_df.write.parquet(inp)

    # An empty output directory holds no prior commit.
    out_dir.mkdir()
    m = run_extraction_job(spark, inp, str(out_dir), run_id="r1")
    assert m["docs_total"] == N_DOCS

    # A corrupt part file that sorts first, so the resume read's schema
    # inference opens it. The job must fail, not append every url again.
    (out_dir / "part-0.parquet").write_bytes(b"PAR1 not parquet PAR1")
    before = sorted(os.listdir(out_dir))
    with pytest.raises(Exception, match="CANNOT_READ_FILE_FOOTER"):
        run_extraction_job(spark, inp, str(out_dir), run_id="r2")
    assert sorted(os.listdir(out_dir)) == before
    assert spark.read.parquet(str(out_dir) + "_metrics").count() == 1


def test_prior_output_checks_existence_before_reading(
        spark, tmp_path, monkeypatch):
    # Once an Observation has run, a failed read reaches its listener,
    # which logs the failure as an ERROR with a stack trace. A missing
    # output must therefore never be read.
    from pyspark.sql import DataFrameReader, Observation

    seen = Observation()
    spark.range(3).observe(seen, F.count("*").alias("n")).collect()
    assert seen.get == {"n": 3}

    def no_read(*args, **kwargs):
        raise AssertionError("read a missing output")

    monkeypatch.setattr(DataFrameReader, "parquet", no_read)
    monkeypatch.setattr(DataFrameReader, "table", no_read)
    assert _prior_output(spark, str(tmp_path / "missing"), "parquet") is None
    assert _prior_output(spark, "no_such_output_table", "iceberg") is None


def test_workers_fork_from_preloaded_daemon(spark):
    # Observed from inside the workers: the daemon that forked them, and
    # the frozen heap they inherited. Not sys.modules, which unpickling
    # this function may itself fill.
    def probe(batches):
        import gc
        import os

        import pandas as pd

        with open(f"/proc/{os.getppid()}/cmdline", "rb") as f:
            parent = f.read().decode().split("\0")
        for _ in batches:
            yield pd.DataFrame({"frozen": [gc.get_freeze_count()],
                                "parent": [" ".join(parent)]})

    rows = (spark.range(8, numPartitions=4)
            .mapInPandas(probe, "frozen long, parent string").collect())
    assert len(rows) == 4
    for row in rows:
        assert row["frozen"] > 0
        assert "scribe_js_spark.daemon" in row["parent"].split()


def test_daemon_import_starts_no_manager(monkeypatch):
    import pyspark.daemon

    started = []
    monkeypatch.setattr(pyspark.daemon, "manager",
                        lambda: started.append(True))
    monkeypatch.delitem(sys.modules, "scribe_js_spark.daemon", raising=False)
    frozen = gc.get_freeze_count()
    invalidate = zipimport.zipimporter.invalidate_caches
    importlib.import_module("scribe_js_spark.daemon")
    assert started == []
    assert gc.get_freeze_count() == frozen
    assert zipimport.zipimporter.invalidate_caches is invalidate


def test_worker_tasks_reread_no_unchanged_zip(spark):
    # Each task's set-up calls importlib.invalidate_caches(); the
    # daemon's zipimporter re-reads an archive only when it changed.
    # The probe counts zip directory reads in its worker from the
    # worker's first probe on, so each read counted was made by the
    # set-up of a later task.
    def count_reads(batches):
        import os
        import zipimport

        import pyarrow as pa

        if not hasattr(zipimport, "_reads_seen"):
            zipimport._reads_seen = []
            read = zipimport._read_directory

            def counted(path):
                zipimport._reads_seen.append(path)
                return read(path)

            zipimport._read_directory = counted
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict(
            {"pid": [os.getpid()], "reads": [len(zipimport._reads_seen)]})

    rows = [spark.range(1, numPartitions=1)
            .mapInArrow(count_reads, "pid long, reads long").collect()[0]
            for _ in range(10)]
    pids = [r.pid for r in rows]
    assert max(pids.count(p) for p in pids) > 1, pids
    assert [r.reads for r in rows] == [0] * 10


def test_worker_rereads_a_rewritten_zip(spark, tmp_path):
    # A zip on the workers' path (addPyFile) that is rewritten between
    # tasks is read again, so a module added to it imports.
    from pyspark import SparkFiles

    def write_zip(path, modules):
        with zipfile.ZipFile(path, "w") as z:
            for name in modules:
                z.writestr(f"{name}.py", f"NAME = {name!r}\n")

    src = tmp_path / "zip_reread_probe.zip"
    write_zip(src, ["zip_reread_old"])
    spark.sparkContext.addPyFile(str(src))

    def probe(module):
        def fn(batches):
            import os

            import pyarrow as pa

            mod = importlib.import_module(module)
            for _ in batches:
                pass
            yield pa.RecordBatch.from_pydict({"pid": [os.getpid()],
                                              "name": [mod.NAME]})
        return fn

    def run(module):
        return (spark.range(8, numPartitions=8)
                .mapInArrow(probe(module), "pid long, name string").collect())

    before = run("zip_reread_old")
    assert {r.name for r in before} == {"zip_reread_old"}
    # the copy the workers put on sys.path
    write_zip(os.path.join(SparkFiles.getRootDirectory(), src.name),
              ["zip_reread_old", "zip_reread_new"])
    after = run("zip_reread_new")
    assert {r.name for r in after} == {"zip_reread_new"}
    assert {r.pid for r in before} & {r.pid for r in after}


_KV = StructType([StructField("k", StringType()),
                  StructField("v", LongType())])


def test_per_document_long_columns_round_trip_exactly(spark):
    # One call yields all three rows, so they share a batch: a float64
    # column would read 2**63 - 1 back as 9223372036854775808.
    vals = [2**63 - 1, -2**63, None]
    df = spark.createDataFrame([("a",)], "k string")
    out = per_document(df, lambda k: [(k, v) for v in vals], _KV).collect()
    assert [r.v for r in out] == vals


def test_per_document_reads_nan_and_none_back_as_null(spark):
    # pandas' null semantics, as when this adapter went through pandas:
    # a float NaN is a null, not a NaN.
    schema = StructType([StructField("k", StringType()),
                         StructField("x", DoubleType())])
    df = spark.createDataFrame([("a",)], "k string")
    out = per_document(
        df, lambda k: [(k, 1.5), (k, float("nan")), (k, None)], schema)
    assert [r.x for r in out.collect()] == [1.5, None, None]


def test_per_document_refuses_a_float_or_bool_in_an_integer_field(spark):
    # pa.array(type=int64) alone would store 3.5 as 3
    df = spark.createDataFrame([("a",)], "k string")
    for v in (3.5, 3.0, True):
        with pytest.raises(Exception, match="TypeError"):
            per_document(df, lambda k: [(k, 1), (k, v)], _KV).collect()


def test_per_document_rejects_wrong_width_tuple(spark):
    df = spark.createDataFrame([("a",)], "k string")
    with pytest.raises(Exception, match="ValueError"):
        per_document(df, lambda k: [(k,)], _KV).collect()


def test_per_document_empty_batch_keeps_schema_columns(spark):
    df = spark.createDataFrame([("a",), ("b",)], "k string").coalesce(1)
    out = per_document(df, lambda k: [], _KV).toPandas()
    assert len(out) == 0 and list(out.columns) == ["k", "v"]


def test_per_document_passes_columns_positionally(spark):
    df = spark.createDataFrame([(7, "x", b"\x01\x02")],
                               "id long, name string, blob binary")
    out = per_document(
        df, lambda i, n, b: [(f"{i}:{n}:{bytes(b).hex()}", i)], _KV)
    assert [tuple(r) for r in out.collect()] == [("7:x:0102", 7)]


def _calls_by_top_level(attr):
    """(path, top-level definition) of every ``<attr>(`` or
    ``.<attr>(`` call in the package and __spark_entry__.py."""
    import ast
    from pathlib import Path

    root = Path(__file__).resolve().parent.parent
    found = []
    for path in [root / "__spark_entry__.py",
                 *sorted((root / "scribe_js_spark").rglob("*.py"))]:
        for top in ast.parse(path.read_text()).body:
            found += [
                (path.relative_to(root).as_posix(), getattr(top, "name", None))
                for node in ast.walk(top)
                if isinstance(node, ast.Call)
                and attr in (getattr(node.func, "attr", None),
                             getattr(node.func, "id", None))]
    return found


#: The calls of ``extract_document`` outside extract.py, each with the
#: reason it needs no ``extract.extracted`` scope.
_DIRECT_EXTRACTIONS = {
    ("scribe_js_spark/fixtures.py", "_build_comb_image_models"):
        "fixture generation, outside any Spark job: it parses its own "
        "rendered hOCR once for the word boxes it draws into the page image",
}


def test_extraction_goes_through_extracted():
    """Every row function that extracts goes through extract.extracted,
    directly or through pipeline.per_extracted, and so runs inside the
    document's gc scope: a direct extract_document call anywhere but the
    named fixture code, or a document_gc_scope entered anywhere but
    extracted, fails here."""
    direct = _calls_by_top_level("extract_document")
    assert [c for c in direct if c[0] == "scribe_js_spark/extract.py"] == [
        ("scribe_js_spark/extract.py", "extracted")]
    assert {c for c in direct if c[0] != "scribe_js_spark/extract.py"} \
        == set(_DIRECT_EXTRACTIONS)
    assert _calls_by_top_level("document_gc_scope") == [
        ("scribe_js_spark/extract.py", "extracted")]


def test_per_batch_is_the_only_map_in_arrow():
    """Every Python operator, columnar kernel or per_document row
    function, goes through pipeline.per_batch: a hand-written mapInArrow
    batch loop anywhere else fails here."""
    assert _calls_by_top_level("mapInArrow") == [
        ("scribe_js_spark/pipeline.py", "per_batch")]


def test_per_document_is_the_only_map_in_pandas():
    """pipeline.per_document now runs through per_batch's mapInArrow, so
    the package has no pandas map left: any mapInPandas, applyInPandas
    or pandas_udf fails here. streaming.stream_dedup_exact keeps
    applyInPandasWithState: its Arrow counterpart, transformWithState,
    needs a StatefulProcessor class, which is more code, not less."""
    import ast

    assert _calls_by_top_level("applyInPandasWithState") == [
        ("scribe_js_spark/streaming.py", "stream_dedup_exact")]
    named = {ast.Attribute: "attr", ast.Name: "id", ast.alias: "name"}
    found = [
        (path, getattr(node, named[type(node)]))
        for path, node in _package_nodes() if type(node) in named
        and getattr(node, named[type(node)]) in (
            "mapInPandas", "applyInPandas", "pandas_udf")]
    assert found == []


def _package_nodes():
    """(path, node) for every syntax node of the package and of
    __spark_entry__.py."""
    import ast
    from pathlib import Path

    root = Path(__file__).resolve().parent.parent
    for path in [root / "__spark_entry__.py",
                 *sorted((root / "scribe_js_spark").rglob("*.py"))]:
        for node in ast.walk(ast.parse(path.read_text())):
            yield path.relative_to(root).as_posix(), node


def test_package_reads_no_environment_variable():
    """Every value the package runs with is a constant or a parameter:
    no module reads os.environ or os.getenv."""
    import ast

    found = [
        (path, node.lineno) for path, node in _package_nodes()
        if isinstance(node, ast.Attribute)
        and node.attr in ("environ", "getenv")
        and isinstance(node.value, ast.Name) and node.value.id == "os"]
    assert found == []


def test_decode_budget_has_one_home():
    """budget.py is the one home of the decode budget: no other module
    assigns a ``*_BUDGET`` constant or imports DECODE_BUDGET by name, so
    every site reads budget.DECODE_BUDGET when it runs and one
    monkeypatch of it reaches them all."""
    import ast

    found = []
    for path, node in _package_nodes():
        if isinstance(node, ast.Assign):
            names = [t.id for t in node.targets if isinstance(t, ast.Name)]
        elif isinstance(node, ast.AnnAssign) and isinstance(
                node.target, ast.Name):
            names = [node.target.id]
        else:
            names = [node.name] if isinstance(node, ast.alias) else []
        found += [(path, name) for name in names
                  if name.endswith("_BUDGET") or name == "DECODE_BUDGET"]
    assert found == [("scribe_js_spark/budget.py", "DECODE_BUDGET")]


def test_package_caches_nothing():
    """No query leaves executor state behind: nothing in the package
    persists, caches or checkpoints a DataFrame or RDD, since nothing
    would release it."""
    import ast

    found = [
        (path, node.lineno) for path, node in _package_nodes()
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in ("persist", "cache", "checkpoint",
                               "localCheckpoint")]
    assert found == []


def test_ann_ivf_recall(spark):
    import pyspark.sql.functions as F

    from scribe_js_spark.textops.similarity import (
        ann_topk_bruteforce,
        ann_topk_ivf,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 10)
    bf = {(r["query_id"], r["neighbor_id"])
          for r in ann_topk_bruteforce(emb, q, k=5).collect()}
    # Probing every cell must be exact (the rerank is exact cosine).
    full = {(r["query_id"], r["neighbor_id"])
            for r in ann_topk_ivf(emb, q, k=5, nprobe=8).collect()}
    assert full == bf
    # Partial probe trades recall for touched cells.
    part = {(r["query_id"], r["neighbor_id"])
            for r in ann_topk_ivf(emb, q, k=5, nprobe=2).collect()}
    assert len(bf & part) / len(bf) >= 0.4
