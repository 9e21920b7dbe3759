"""Print a digest of every pipeline stage on a datagen fixture.

Runs the batch pipeline with its defaults on a freshly generated fixture
(``n_entities`` entities, 5 conversations each, ``seed``) and prints one
JSON line per output: the md5 of the fitted ``tfidf.json``, then, for each
stage table, its row count and the md5 of its rows' reprs in sorted order.
The last line digests stream assignment the same way: the names of a
second fixture (``seed + 1``), then the first fixture's own names, go
through ``assign_stream_batch`` in 64-name micro-batches against an
``EntityTokenIndex`` of the run's entities, so the exact, scored and
pending branches all run.  Two source trees produce byte-identical
default outputs on a fixture exactly when their printed lines are equal,
so a refactor that must not change results is checked with

    python scripts/dump_stage_digests.py 200 7 > after.txt
    (cd ../other-tree && python scripts/dump_stage_digests.py 200 7) > before.txt
    diff before.txt after.txt

Usage: python scripts/dump_stage_digests.py [n_entities [seed [master]]]
(defaults: 200 entities, seed 7, local[2]).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

STREAM_BATCH = 64


def rows_digest(rows) -> tuple[int, str]:
    """(row count, md5 over the sorted reprs of the rows)."""
    reprs = sorted(repr(tuple(r)) for r in rows)
    h = hashlib.md5()
    for s in reprs:
        h.update(s.encode())
        h.update(b"\n")
    return len(reprs), h.hexdigest()


def stage_digests(spark, transcripts, arrivals, wh: str) -> list[dict]:
    """Run the pipeline on ``transcripts`` into warehouse ``wh`` and return
    the digest records: ``tfidf.json``, every stage, then stream
    assignment of ``arrivals``' names and the run's own names."""
    from name_matching_spark.model.train import load_artifacts
    from name_matching_spark.operators.canonicalize import canonicalize
    from name_matching_spark.pipeline import EntityResolutionPipeline
    from name_matching_spark.streaming.stream_resolve import (
        EntityTokenIndex,
        assign_stream_batch,
    )

    stages = EntityResolutionPipeline(spark, wh).run(transcripts)
    with open(os.path.join(wh, "tfidf.json")) as f:
        tfidf_json = f.read()
    out = [{"stage": "tfidf.json", "md5": hashlib.md5(tfidf_json.encode()).hexdigest()}]
    for name, df in stages.items():
        rows, md5 = rows_digest(df.toLocalIterator())
        out.append({"stage": name, "rows": rows, "md5": md5})

    model_json = load_artifacts()[0].to_json()
    index = EntityTokenIndex(stages["entities"])
    names = [
        tuple(r)
        for frame in (canonicalize(arrivals), stages["conversations"])
        for r in frame.select("conv_id", "name").orderBy("conv_id", "name").collect()
    ]
    assigned = []
    for k in range(0, len(names), STREAM_BATCH):
        batch = spark.createDataFrame(names[k : k + STREAM_BATCH], "conv_id string, name string")
        assigned += assign_stream_batch(batch, index, model_json, tfidf_json).collect()
    rows, md5 = rows_digest(assigned)
    out.append({"stage": "assign_stream_batch", "rows": rows, "md5": md5})
    return out


def main() -> None:
    from name_matching_spark.datagen import write_fixture
    from name_matching_spark.session import get_spark

    n = int(sys.argv[1]) if len(sys.argv) > 1 else 200
    seed = int(sys.argv[2]) if len(sys.argv) > 2 else 7
    master = sys.argv[3] if len(sys.argv) > 3 else "local[2]"
    tmp = tempfile.mkdtemp(prefix="nms_digests_")
    spark = get_spark(app_name="stage-digests", master=master)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        frames = []
        for name, s in (("fixture", seed), ("arrivals", seed + 1)):
            write_fixture(os.path.join(tmp, name), n_entities=n, convs_per_entity=5, seed=s)
            frames.append(
                spark.read.parquet(os.path.join(tmp, name, "transcripts.parquet"))
            )
        for rec in stage_digests(spark, *frames, os.path.join(tmp, "warehouse")):
            print(json.dumps(rec), flush=True)
    finally:
        spark.stop()
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
