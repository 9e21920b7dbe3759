"""Stage checkpointing with manifests and per-partition lineage.

Every pipeline stage writes its output table plus a ``_MANIFEST.json``
recording row counts, per-partition lineage, timing, and upstream stage
manifests.  A rerun finds a complete manifest and **resumes** from the
stored table instead of recomputing — the resumability the north rule
demands.

The storage layer is parquet-on-directory with the same write-once,
snapshot-complete semantics an Iceberg catalog would give (manifest file =
commit marker); a deployment with Iceberg swaps ``_write``/``read`` for
``df.writeTo(table).createOrReplace()``/``spark.read.table(table)``.
"""

from __future__ import annotations

import glob
import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

MANIFEST = "_MANIFEST.json"


class CheckpointManager:
    """Stores each stage as a parquet directory under ``warehouse``, with
    its manifest inside it."""

    def __init__(self, spark: SparkSession, warehouse: str):
        self.spark = spark
        self.warehouse = warehouse
        self.run_id = uuid.uuid4().hex[:12]
        os.makedirs(warehouse, exist_ok=True)

    # -- paths ---------------------------------------------------------------

    def _stage_dir(self, name: str) -> str:
        return os.path.join(self.warehouse, name)

    def manifest_path(self, name: str) -> str:
        return os.path.join(self._stage_dir(name), MANIFEST)

    def is_complete(self, name: str) -> bool:
        return os.path.exists(self.manifest_path(name))

    def read(self, name: str, schema: StructType | None = None) -> DataFrame:
        """The stored table of a stage, read with ``schema`` (default: the
        one the manifest recorded), so no job re-infers it from the part
        files' footers."""
        if schema is None:
            schema = self._stored_schema(name)
        reader = self.spark.read if schema is None else self.spark.read.schema(schema)
        return reader.parquet(self._stage_dir(name))

    def _write(self, out: DataFrame, name: str) -> None:
        out.write.mode("overwrite").parquet(self._stage_dir(name))

    def stored_rows(self, name: str) -> int | None:
        """Row count recorded in a completed stage's manifest (None when
        the stage has no manifest).  Lets consumers reuse the count the
        checkpoint already paid for instead of running another job."""
        try:
            with open(self.manifest_path(name)) as f:
                rows = json.load(f).get("rows")
            return int(rows) if rows is not None else None
        except Exception:
            return None

    def _stored_params(self, name: str):
        try:
            with open(self.manifest_path(name)) as f:
                return json.load(f).get("params")
        except Exception:
            return None

    def _stored_schema(self, name: str) -> StructType | None:
        if not self.is_complete(name):
            return None
        with open(self.manifest_path(name)) as f:
            return StructType.fromJson(json.load(f)["schema"])

    # -- the stage runner ------------------------------------------------------

    def stage(
        self,
        name: str,
        fn,
        inputs: list[str] | None = None,
        params: dict | None = None,
    ) -> DataFrame:
        """Run ``fn() -> DataFrame`` checkpointed under ``name``.

        If a complete manifest exists, the stored table is returned
        without recomputation — but only when the recorded ``params``
        (stage configuration + input fingerprint) match the current ones:
        rerunning into an existing warehouse with different stage
        parameters or a different input table must recompute, not
        silently serve results produced under the old configuration.
        """
        if self.is_complete(name):
            stored = self._stored_params(name)
            current = json.loads(json.dumps(params)) if params is not None else None
            if params is None or stored == current:
                return self.read(name)
        t0 = time.time()
        out = fn()
        self._write(out, name)
        stored = self.read(name, out.schema)
        part_counts = self._partition_lineage(name)
        manifest = {
            "stage": name,
            "run_id": self.run_id,
            "rows": sum(p["rows"] for p in part_counts),
            "partitions": part_counts,
            "inputs": inputs or [],
            "params": params,
            "schema": stored.schema.jsonValue(),
            "duration_sec": round(time.time() - t0, 3),
            "completed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }
        # The manifest is the commit marker: write it whole or not at all.
        path = self.manifest_path(name)
        with open(path + ".tmp", "w") as f:
            json.dump(manifest, f)
        os.replace(path + ".tmp", path)
        return stored

    def _partition_lineage(self, name: str) -> list[dict]:
        """Row count per part file of the stored stage table, read from the
        parquet footers (one metadata read per file, no Spark job): the
        write produced exactly one file per output partition.  A footer
        that cannot be read raises, so the stage gets no manifest and the
        next run recomputes it."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        files = sorted(glob.glob(os.path.join(self._stage_dir(name), "part-*")))
        try:
            return [
                {"partition": i, "rows": int(pq.ParquetFile(f).metadata.num_rows)}
                for i, f in enumerate(files)
            ]
        except (OSError, pa.ArrowException) as e:
            raise RuntimeError(
                f"stage {name!r}: cannot read the parquet footers of its table"
            ) from e
