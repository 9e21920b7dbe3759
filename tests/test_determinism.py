"""Default outputs do not depend on how the input is laid out or on the
local parallelism: the stage digests of ``scripts/dump_stage_digests.py``
(tfidf.json, every stage table, stream assignment) must be equal."""

import importlib.util
import os
import subprocess
import sys

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from name_matching_spark.datagen import write_fixture

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPT = os.path.join(REPO, "scripts", "dump_stage_digests.py")


def _digests_module():
    spec = importlib.util.spec_from_file_location("dump_stage_digests", SCRIPT)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_stage_digests_ignore_row_order_and_row_groups(spark, tmp_path):
    """Shuffling the transcripts' rows and rewriting them in 97-row row
    groups (so Spark splits the input differently) changes no digest."""
    dig = _digests_module()
    for name, seed in (("fx", 13), ("arrivals", 14)):
        write_fixture(str(tmp_path / name), n_entities=40, convs_per_entity=5, seed=seed)
    src = str(tmp_path / "fx" / "transcripts.parquet")
    shuffled = str(tmp_path / "shuffled.parquet")
    rows = pd.read_parquet(src).sample(frac=1.0, random_state=5)
    pq.write_table(pa.Table.from_pandas(rows, preserve_index=False), shuffled, row_group_size=97)
    assert pq.ParquetFile(shuffled).metadata.num_row_groups > 1
    arrivals = spark.read.parquet(str(tmp_path / "arrivals" / "transcripts.parquet"))
    a, b = (
        dig.stage_digests(spark, spark.read.parquet(path), arrivals, str(tmp_path / wh))
        for path, wh in ((src, "wh_a"), (shuffled, "wh_b"))
    )
    assert [r["stage"] for r in a][-1] == "assign_stream_batch"
    assert a == b


@pytest.mark.slow
def test_stage_digests_equal_at_local1_and_session_master(spark):
    """The digest script prints the same lines at local[1] and at the
    test session's master."""
    outs = [
        subprocess.run(
            [sys.executable, SCRIPT, "40", "13", master],
            capture_output=True, text=True, timeout=1200, check=True,
        ).stdout
        for master in ("local[1]", spark.sparkContext.master)
    ]
    assert len(outs[0].splitlines()) == 9  # tfidf.json, 7 stages, stream
    assert outs[0] == outs[1]
