"""Regression tests for session.tune()'s conf-application contract.

Round-5 bug class: tune() is called at every table load, and it used to
re-apply the engine's AQE-on perf posture each time — silently clobbering
confs a session owner (the bench, a driver harness) had set explicitly.
The contract now: correctness confs are re-asserted on EVERY tune call;
perf confs apply only on a session's FIRST tune.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd

from single_cell_experiments_spark.session import CORRECTNESS_CONFS, PERF_CONFS, tune


def test_tune_preserves_owner_perf_overrides(spark):
    tune(spark)  # ensure first-tune perf application already happened
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        tune(spark)
        assert spark.conf.get("spark.sql.adaptive.enabled") == "false", (
            "tune() must not clobber an explicitly-set perf conf after the "
            "session's first tune"
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", PERF_CONFS["spark.sql.adaptive.enabled"])


def test_tune_reasserts_correctness_confs(spark):
    tune(spark)
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    tune(spark)
    assert spark.conf.get("spark.sql.session.timeZone") == CORRECTNESS_CONFS[
        "spark.sql.session.timeZone"
    ], "tune() must re-assert correctness confs on every call"


def test_first_tune_respects_explicit_default_value(spark):
    """An owner who explicitly sets a perf conf to its Spark-default value
    BEFORE the engine's first tune must not be clobbered either —
    distinguishable from 'unset' only via SQLConf.contains."""
    from single_cell_experiments_spark import session as S

    key = "spark.sql.execution.arrow.pyspark.enabled"
    original = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")  # == Spark default, explicit choice
        S._perf_tuned.discard(spark)  # simulate a never-tuned session
        tune(spark)
        assert spark.conf.get(key) == "false", (
            "first tune() must not override an explicitly-set perf conf, "
            "even when its value equals the Spark default"
        )
    finally:
        spark.conf.set(key, original)
        _ = tune(spark)


def test_perf_confs_applied_on_first_tune(spark):
    # The shared session was tuned at build; its perf posture must hold
    # unless a test explicitly overrode it.
    for k, v in PERF_CONFS.items():
        assert spark.conf.get(k) == v


def test_materialize_local_and_reliable_checkpoint(spark, tmp_path):
    """materialize() is the engine's lineage cut: localCheckpoint by
    default, durable checkpoint() when spark.sce.reliableCheckpoint=true —
    the cluster fault-tolerance switch SCALE.md promises.  Both paths must
    return the same rows and actually truncate lineage (a checkpointed
    plan no longer re-reads the source)."""
    from single_cell_experiments_spark.session import materialize

    def lineage_cut(df) -> bool:
        # After checkpoint/localCheckpoint the logical plan is a LogicalRDD
        # over the materialized blocks — the source scan is gone.
        return "Scan ExistingRDD" in df._jdf.queryExecution().executedPlan().toString()

    df = spark.range(100).withColumnRenamed("id", "v")
    local = materialize(df)
    assert local.count() == 100
    assert lineage_cut(local)

    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    spark.conf.set("spark.sce.reliableCheckpoint", "true")
    try:
        durable = materialize(spark.range(50).withColumnRenamed("id", "v"))
        assert durable.count() == 50
        assert lineage_cut(durable)
        ckpt_files = list((tmp_path / "ckpt").rglob("*"))
        assert ckpt_files, "reliable checkpoint must write durable files"
    finally:
        spark.conf.set("spark.sce.reliableCheckpoint", "false")


# --- zip-directory shim: importlib.invalidate_caches() on unchanged archives ---


def _write_zip(archive, modules: dict) -> None:
    with zipfile.ZipFile(archive, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_invalidate_caches_rereads_a_zip_only_when_it_changed(tmp_path, monkeypatch):
    """PySpark calls ``importlib.invalidate_caches()`` on every worker task;
    an unchanged archive's directory is not parsed again, a rewritten one
    is, and its new module imports; a deleted one drops its directory."""
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"sce_zipshim_a": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(archive)
    for name in ("sce_zipshim_a", "sce_zipshim_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("sce_zipshim_a").VALUE == 1
    importlib.invalidate_caches()  # first call after the import: stamps the archive

    reads = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda path: reads.append(path) or read_directory(path)
    )
    for _ in range(3):
        importlib.invalidate_caches()
    assert archive not in reads

    _write_zip(archive, {"sce_zipshim_a": "VALUE = 1\n", "sce_zipshim_b": "VALUE = 2\n"})
    importlib.invalidate_caches()
    assert importlib.import_module("sce_zipshim_b").VALUE == 2
    assert reads.count(archive) == 1

    os.remove(archive)
    importlib.invalidate_caches()
    assert archive not in zipimport._zip_directory_cache
    monkeypatch.delitem(sys.path_importer_cache, archive, raising=False)


def test_engine_python_workers_run_the_zip_shim(spark, tmp_path):
    """A worker that ran an engine ``mapInPandas`` read has the shim
    installed: the read's function imports the package in the worker."""
    from single_cell_experiments_spark.sources.chunkstore import (
        read_chunk_store,
        write_chunk_store,
    )

    pkg = "single_cell_experiments_spark"

    store = str(tmp_path / "store")
    rows = spark.createDataFrame(
        [(i, [float(i)]) for i in range(16)], "vec_id long, embedding array<double>"
    )
    assert write_chunk_store(rows, store, rows_per_chunk=2) == 8
    assert read_chunk_store(spark, store).count() == 16

    def probe(batches):
        import zipimport

        engine = pkg in sys.modules
        shim = zipimport.zipimporter.invalidate_caches.__module__ == f"{pkg}.session"
        for pdf in batches:
            yield pd.DataFrame({"engine": [engine] * len(pdf), "shim": shim})

    probed = spark.range(16, numPartitions=16).mapInPandas(probe, "engine boolean, shim boolean")
    seen = probed.collect()
    assert any(r.engine for r in seen), "no probe task ran in a worker that ran the engine read"
    assert all(r.shim for r in seen if r.engine), seen
