"""Print a digest of every pipeline stage on a datagen fixture.

Runs the batch pipeline with its defaults on a freshly generated fixture
(``n_entities`` entities, 5 conversations each, ``seed``) and prints one
JSON line per output: the md5 of the fitted ``tfidf.json``, then, for each
stage table, its row count and the md5 of its rows' reprs in sorted order.
Two source trees produce byte-identical default outputs on a fixture
exactly when their printed lines are equal, so a refactor that must not
change results is checked with

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


def rows_digest(df) -> tuple[int, str]:
    """(row count, md5 over the sorted reprs of the rows)."""
    reprs = sorted(repr(tuple(r)) for r in df.toLocalIterator())
    h = hashlib.md5()
    for s in reprs:
        h.update(s.encode())
        h.update(b"\n")
    return len(reprs), h.hexdigest()


def main() -> None:
    from name_matching_spark.datagen import write_fixture
    from name_matching_spark.pipeline import EntityResolutionPipeline
    from name_matching_spark.session import get_spark

    n = int(sys.argv[1]) if len(sys.argv) > 1 else 200
    seed = int(sys.argv[2]) if len(sys.argv) > 2 else 7
    master = sys.argv[3] if len(sys.argv) > 3 else "local[2]"
    tmp = tempfile.mkdtemp(prefix="nms_digests_")
    spark = get_spark(app_name="stage-digests", master=master)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        fixture = os.path.join(tmp, "fixture")
        write_fixture(fixture, n_entities=n, convs_per_entity=5, seed=seed)
        wh = os.path.join(tmp, "warehouse")
        stages = EntityResolutionPipeline(spark, wh).run(
            spark.read.parquet(os.path.join(fixture, "transcripts.parquet"))
        )
        with open(os.path.join(wh, "tfidf.json"), "rb") as f:
            tfidf_md5 = hashlib.md5(f.read()).hexdigest()
        print(json.dumps({"stage": "tfidf.json", "md5": tfidf_md5}), flush=True)
        for name, df in stages.items():
            rows, md5 = rows_digest(df)
            print(json.dumps({"stage": name, "rows": rows, "md5": md5}), flush=True)
    finally:
        spark.stop()
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
