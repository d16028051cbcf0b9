"""Pin ownership (``session.pin``): a run scope releases what its thread
pinned, a family pool releases its generation, and both pipelines hold no
pins between runs."""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql.readwriter import DataFrameWriter
from pyspark.storagelevel import StorageLevel

from nahuatl_data_pipeline_spark.session import CachePool, pin, run_scope, unpin


def test_call_site_capture_is_off_and_errors_keep_class_and_message(
    spark, monkeypatch
):
    """``get_spark`` turns PySpark's per-call call-site capture off. What
    that gives up: a missing column still raises ``AnalysisException``
    with its error class and the column's name, but its query context no
    longer carries the Python ``file:line`` of the call."""
    from pyspark.errors import AnalysisException
    from pyspark.errors import utils as error_utils
    from pyspark.sql import functions as F

    conf = "spark.python.sql.dataFrameDebugging.enabled"
    assert spark.conf.get(conf) == "false"
    # PySpark caches the setting on first use; read it from this session
    monkeypatch.setattr(error_utils, "_enable_debugging_cache", None)
    assert not error_utils.is_debugging_enabled()
    with pytest.raises(AnalysisException) as err:
        spark.range(3).select(F.col("no_such_column") + 1)
    assert err.value.getCondition().startswith("UNRESOLVED_COLUMN")
    assert "no_such_column" in str(err.value)
    here = os.path.basename(__file__)
    assert not [
        ctx.callSite() for ctx in err.value.getQueryContext()
        if here in ctx.callSite()
    ]


def _persistent_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def _checkpoint_id(df) -> int:
    return df._jdf.queryExecution().analyzed().rdd().id()


def test_truncate_pin_in_scope_is_released_at_exit(spark):
    with run_scope():
        df = pin(spark.range(0, 101, 1, 2), eager=True, truncate=True)
        rdd_id = _checkpoint_id(df)
        assert rdd_id in _persistent_ids(spark)
    assert rdd_id not in _persistent_ids(spark)


def test_scope_releases_on_raise_and_owns_pool_pins(spark):
    pool = CachePool()
    with pytest.raises(RuntimeError):
        with run_scope():
            df = pin(spark.range(0, 102, 1, 2), eager=True, pool=pool)
            assert df.storageLevel != StorageLevel.NONE
            raise RuntimeError("after the pin")
    assert df.storageLevel == StorageLevel.NONE
    assert list(pool) == []


def test_innermost_scope_owns_the_pin(spark):
    with run_scope():
        outer = pin(spark.range(0, 103, 1, 2), eager=True)
        with run_scope():
            inner = pin(spark.range(0, 104, 1, 2), eager=True)
        assert inner.storageLevel == StorageLevel.NONE
        assert outer.storageLevel != StorageLevel.NONE
    assert outer.storageLevel == StorageLevel.NONE


def test_pin_from_another_thread_survives_the_scope(spark):
    pool = CachePool()
    with run_scope():
        with ThreadPoolExecutor(1) as ex:
            df = ex.submit(
                lambda: pin(spark.range(0, 105, 1, 2), eager=True, pool=pool)
            ).result(timeout=120)
    assert df.storageLevel != StorageLevel.NONE
    assert list(pool) == [df]
    pool.release()
    assert df.storageLevel == StorageLevel.NONE


def test_pool_pin_outside_a_scope_is_released_by_the_next_release(spark):
    pool = CachePool()
    df = pin(spark.range(0, 106, 1, 2), pool=pool)
    assert df.count() == 106
    assert df.storageLevel != StorageLevel.NONE
    pool.release()
    assert df.storageLevel == StorageLevel.NONE
    assert list(pool) == []


def test_truncate_pin_never_joins_a_pool(spark):
    pool = CachePool()
    df = pin(spark.range(0, 107, 1, 2), eager=True, truncate=True, pool=pool)
    assert list(pool) == []
    rdd_id = _checkpoint_id(df)
    assert rdd_id in _persistent_ids(spark)
    unpin(df)
    assert rdd_id not in _persistent_ids(spark)


@pytest.mark.parametrize("pipeline", ["corpus", "curation"])
def test_repeated_pipeline_runs_hold_no_pins(
    spark, tmp_path, monkeypatch, pipeline
):
    """Ten runs of a pipeline in one session, the fifth writing under a
    regular file so it raises after its pins exist: after every run the
    JVM holds no persistent RDD it did not hold before the first."""
    from perfbench import inputs

    from nahuatl_data_pipeline_spark.pipeline import run_corpus_pipeline
    from nahuatl_data_pipeline_spark.plans.curation_pipeline import (
        run_curation_pipeline,
    )

    if pipeline == "corpus":
        truth = inputs.make_corpus(1, 2000, str(tmp_path / "in"))

        def run(out):
            return run_corpus_pipeline(spark, truth["layer_dirs"], out)
    else:
        truth = inputs.make_curation(3, 400, str(tmp_path / "in"))

        def run(out):
            docs = spark.read.parquet(truth["docs_path"])
            evalset = spark.read.parquet(truth["eval_path"])
            return run_curation_pipeline(spark, docs, out, evalset=evalset)

    held_at_write = []
    parquet = DataFrameWriter.parquet

    def capture(self, path, *args, **kwargs):
        held_at_write.append(_persistent_ids(spark) - before)
        return parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", capture)
    blocker = tmp_path / "a_file"
    blocker.write_text("not a directory")
    before = _persistent_ids(spark)
    for i in range(10):
        if i == 4:
            with pytest.raises(Exception):
                run(str(blocker / "gold"))
            if pipeline == "curation":
                assert held_at_write[-1], "the raising run made no pins"
        else:
            run(str(tmp_path / "gold"))
        assert _persistent_ids(spark) <= before, f"run {i}"
