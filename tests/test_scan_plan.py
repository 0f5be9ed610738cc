"""One scan plan for every store reader: decode_store (both planning
modes), the owrc DataSource and rewrite_small_chunks agree row for row,
and a store read plans as a single decode scan."""

from __future__ import annotations

import pyarrow as pa
import pytest

from pyspark.sql import functions as F

from omi_cpp_parquet_wide_record_spark.operators.decode import decode_store
from omi_cpp_parquet_wide_record_spark.operators.encode import encode_dataframe
from omi_cpp_parquet_wide_record_spark.plans.snapshot import ChunkStore


def _owrc_rows(store: str) -> pa.Table:
    """The owrc DataSource's read, driven in-process through its public
    partitions() and read() as a Spark Python worker would."""
    from omi_cpp_parquet_wide_record_spark.sources.owrc_source import (
        OwrcDataSource,
    )
    ds = OwrcDataSource({"path": store})
    reader = ds.reader(ds.schema())
    return pa.Table.from_batches([b for part in reader.partitions()
                                  for b in reader.read(part)])


def _sorted_pairs(rows) -> list[tuple]:
    return sorted(rows, key=lambda r: (r[0] is not None, r[0] or "", r[1]))


def test_null_key_delete_agrees_across_readers(spark, tmp_path):
    """Upserting a row with a NULL key hides the prior NULL-key row in
    every reader: equality-delete keys match NULL to NULL. The rule must
    be the one rewrite_small_chunks writes into chunk bytes, or
    compaction would change what decode_store returns."""
    from omi_cpp_parquet_wide_record_spark.operators.maintenance import (
        rewrite_small_chunks,
    )
    out = str(tmp_path / "store")
    schema = "k string, v long"
    encode_dataframe(spark.createDataFrame(
        [(None, 2), ("a", 1), ("b", 3)], schema), out,
        salt_key="v", num_pids=2)
    encode_dataframe(spark.createDataFrame(
        [(None, 20), ("a", 10)], schema), out,
        salt_key="v", num_pids=2, resume=False, upsert_key="k")
    want = [(None, 20), ("a", 10), ("b", 3)]

    def rows(df):
        return _sorted_pairs((r.k, r.v) for r in df.collect())

    for planning in ("driver", "distributed"):
        assert rows(decode_store(spark, out, planning=planning)) == want, \
            planning
    t = _owrc_rows(out)
    assert _sorted_pairs(zip(t.column("k").to_pylist(),
                             t.column("v").to_pylist())) == want
    pids = sorted(set(ChunkStore(out).manifest_table()
                      .column("pid").to_pylist()))
    res = rewrite_small_chunks(spark, out, pids=pids)
    assert res["rewritten_pids"] == pids
    assert rows(decode_store(spark, out)) == want


@pytest.fixture(scope="module")
def _upserted_store(spark, tmp_path_factory):
    """Two commits; the second is an upsert, so its equality delete is
    sequence-scoped: it applies to the first commit's chunks only."""
    out = str(tmp_path_factory.mktemp("plan_shape") / "store")
    mk = lambda lo, hi, tag: spark.range(lo, hi).select(  # noqa: E731
        F.col("id"), F.concat(F.lit(tag), F.col("id")).alias("s"))
    encode_dataframe(mk(0, 200, "old"), out, salt_key="id", num_pids=4)
    encode_dataframe(mk(50, 60, "new"), out, salt_key="id", num_pids=4,
                     resume=False, upsert_key="id")
    return out


@pytest.mark.parametrize("planning", ["driver", "distributed"])
@pytest.mark.parametrize("filters", [None, [("id", "==", 55)]],
                         ids=["scan", "point"])
def test_store_read_plan_shape(spark, _upserted_store, planning, filters):
    """Deletes across two commit epochs cost no plan shape: no union of
    per-epoch branches, no anti-join per delete file, no Python UDF
    evaluation in planning — exactly one data-decode MapInArrow."""
    df = decode_store(spark, _upserted_store, filters=filters,
                      planning=planning)
    plan = df._jdf.queryExecution().executedPlan().toString()
    for node in ("Union", "BroadcastHashJoin", "LeftAnti",
                 "ArrowEvalPython", "BatchEvalPython"):
        assert node not in plan, (node, plan)
    assert plan.count("MapInArrow read_chunks") == 1, plan
    got = sorted((r.id, r.s) for r in df.collect())
    if filters:
        assert got == [(55, "new55")]
    else:
        assert len(got) == 200
        assert {s for i, s in got if 50 <= i < 60} == \
            {f"new{i}" for i in range(50, 60)}
