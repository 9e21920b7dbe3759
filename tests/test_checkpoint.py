"""The checkpoint contract of ``CheckpointManager``: the manifest is the
commit marker, a stage with new params replaces its table, and a table
whose lineage cannot be read is never committed."""

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from name_matching_spark.io.checkpoint import CheckpointManager


def _counted(spark, n, calls):
    def make():
        calls["n"] += 1
        return spark.range(n).select(F.col("id").alias("k"))

    return make


def test_manifest_is_the_commit_marker(spark, tmp_path):
    """A table without its manifest is a torn write (a crash between the
    table write and the manifest write): it reads as incomplete and the
    next run recomputes it."""
    ckpt = CheckpointManager(spark, str(tmp_path / "wh"))
    calls = {"n": 0}
    make = _counted(spark, 4, calls)

    ckpt.stage("torn", make, params={"v": 1})
    os.remove(ckpt.manifest_path("torn"))
    assert ckpt.is_complete("torn") is False
    assert ckpt.stage("torn", make, params={"v": 1}).count() == 4
    assert calls["n"] == 2, "torn write was served as a completed stage"


def test_rerun_replaces_table_not_append(spark, tmp_path):
    """A rerun with new params and a new schema replaces the stage's
    table: only the new rows, with the new column."""
    ckpt = CheckpointManager(spark, str(tmp_path / "wh"))
    ckpt.stage("snap", lambda: spark.range(5).select(F.col("id").alias("k")), params={"v": 1})
    out = ckpt.stage(
        "snap",
        lambda: spark.range(3).select(F.col("id").alias("k"), F.lit("x").alias("extra")),
        params={"v": 2},
    )
    got = spark.read.parquet(os.path.join(ckpt.warehouse, "snap"))
    assert got.count() == 3, "rerun appended instead of replacing"
    assert set(got.columns) == {"k", "extra"}
    assert out.count() == 3
    assert ckpt.stored_rows("snap") == 3


def test_unreadable_footer_fails_the_stage(spark, tmp_path, monkeypatch):
    """The lineage comes from the parquet footers only: a footer read
    error raises naming the stage, writes no manifest, and the next run
    recomputes."""
    ckpt = CheckpointManager(spark, str(tmp_path / "wh"))
    calls = {"n": 0}
    make = _counted(spark, 6, calls)

    def broken(*args, **kwargs):
        raise OSError("unreadable footer")

    monkeypatch.setattr(pq, "ParquetFile", broken)
    with pytest.raises(RuntimeError, match="'footer_stage'"):
        ckpt.stage("footer_stage", make, params={"v": 1})
    assert not ckpt.is_complete("footer_stage")

    monkeypatch.undo()
    assert ckpt.stage("footer_stage", make, params={"v": 1}).count() == 6
    assert calls["n"] == 2
    assert ckpt.stored_rows("footer_stage") == 6


def test_manifest_write_is_atomic(spark, tmp_path, monkeypatch):
    """A manifest write that fails midway leaves no manifest: the stage
    reads as incomplete, not as committed with a torn marker, and the next
    run recomputes it."""
    import json

    ckpt = CheckpointManager(spark, str(tmp_path / "wh"))
    calls = {"n": 0}
    make = _counted(spark, 5, calls)

    def torn_dump(obj, f, *args, **kwargs):
        f.write(json.dumps(obj)[:20])
        raise OSError("disk full")

    monkeypatch.setattr(json, "dump", torn_dump)
    with pytest.raises(OSError, match="disk full"):
        ckpt.stage("torn_manifest", make, params={"v": 1})
    monkeypatch.undo()
    assert not ckpt.is_complete("torn_manifest")

    assert ckpt.stage("torn_manifest", make, params={"v": 1}).count() == 5
    assert calls["n"] == 2
    assert ckpt.stored_rows("torn_manifest") == 5
