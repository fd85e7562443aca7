"""spread_input: the size-gated round-robin spread of small inputs."""

import logging

import pyarrow as pa
import pyarrow.parquet as pq

from scribe_js_spark.textops import partitioning
from scribe_js_spark.textops.partitioning import _estimated_bytes, spread_input


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_spread_input_noop_above_threshold(spark, tmp_path, monkeypatch):
    path = str(tmp_path / "docs.parquet")
    n = 4000
    table = pa.table({"doc_id": list(range(n)),
                      "text": [f"doc {i} " * 20 for i in range(n)]})
    pq.write_table(table, path, row_group_size=500)
    assert pq.ParquetFile(path).metadata.num_row_groups == 8
    df = spark.read.parquet(path)
    projected = df.select("doc_id", "text")
    size = _estimated_bytes(projected)
    assert size is not None and size > 0

    # at or above the threshold: the projection alone, the same plan
    monkeypatch.setattr(partitioning, "SPREAD_MAX_BYTES", size)
    above = spread_input(df, ["doc_id", "text"])
    assert _plan(above) == _plan(projected)
    assert "RoundRobinPartitioning" not in _plan(above)

    # below it: one round-robin exchange to default parallelism
    monkeypatch.setattr(partitioning, "SPREAD_MAX_BYTES", size + 1)
    below = spread_input(df, ["doc_id", "text"])
    target = spark.sparkContext.defaultParallelism
    assert f"RoundRobinPartitioning({target})" in _plan(below)
    assert sorted(below.collect()) == sorted(projected.collect())


def test_missing_estimate_logs_once(caplog):
    class NoPlan:
        """A stand-in whose query plan cannot be reached."""

    partitioning._warn_no_estimate.cache_clear()
    with caplog.at_level(logging.WARNING, logger=partitioning.__name__):
        assert _estimated_bytes(NoPlan()) is None
        assert _estimated_bytes(NoPlan()) is None
    warnings = [r for r in caplog.records if r.name == partitioning.__name__]
    assert len(warnings) == 1
    assert "no optimizer size estimate" in warnings[0].getMessage()
    assert warnings[0].exc_info is not None
