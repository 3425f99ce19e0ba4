"""Table catalog abstraction: Iceberg in production, Parquet locally.

The production deployment targets Iceberg tables (`df.writeTo(...)` +
`spark.sql.catalog.*`); this sandbox has no Iceberg jars, so the same
interface falls back to partitioned Parquet plus a ``_lineage.json``
sidecar per table. The sidecar carries the stage params and their hash,
a fresh ``write_id``, the row count, per-partition row counts, the write
wall time, the schema, and the stage's own facts (counts its write job
observed, such as CC convergence). It is the resume key: a table resumes
when its sidecar records the same params hash. ``plans/pipeline.Pipeline``
puts the upstream stage's ``write_id`` into the params; the input data
does not enter the key. All checkpoint/resume logic is written against
this interface so the Iceberg path is config-only (SURVEY.md §7.0).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
import uuid
from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def params_hash(params: dict) -> str:
    return hashlib.sha256(json.dumps(params, sort_keys=True, default=str).encode()).hexdigest()[:16]


@dataclass
class Catalog:
    spark: SparkSession
    root: str
    use_iceberg: bool = False  # flips the write/read path only

    def _path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _lineage_path(self, table: str) -> str:
        return os.path.join(self.root, f"{table}._lineage.json")

    def exists(self, table: str, params: dict) -> Optional[dict]:
        """The table's lineage when it is a resumable checkpoint under
        ``params`` (sidecar present, readable, same params hash), else
        None — the stage-skip test for resume."""
        lineage = self.lineage(table)
        if lineage is None or lineage.get("params_hash") != params_hash(params):
            return None
        return lineage

    def write(
        self,
        df: DataFrame,
        table: str,
        params: Optional[dict] = None,
        facts: Optional[Callable[[DataFrame], dict]] = None,
    ) -> dict:
        """Materialize a stage output and commit its lineage; returns the
        lineage, stamped with a fresh ``write_id``. The sidecar goes before
        the table is replaced and comes back last, so a swap, or a
        ``facts`` call, that fails or is killed leaves no sidecar and the
        next run recomputes. On the Parquet path
        the data is written to a staging directory first and swapped in
        only after that write succeeded: a failed write leaves the previous
        table and its sidecar as they were. ``facts(out)`` runs on the
        written table after the write job (Observation values are ready)
        and its dict is merged into the lineage."""
        start = time.time()
        lineage_path = self._lineage_path(table)
        path = self._path(table)
        if self.use_iceberg:
            if os.path.exists(lineage_path):
                os.remove(lineage_path)
            df.writeTo(table).createOrReplace()
            out = self.read(table)
            per_partition = [
                {"partition": int(i), "rows": int(n)}
                for i, n in out.withColumn("_pid", F.spark_partition_id())
                .groupBy("_pid")
                .count()
                .orderBy("_pid")
                .collect()
            ]
        else:
            staging = os.path.join(self.root, f"{table}._staging")
            try:
                df.write.mode("overwrite").parquet(staging)
            except BaseException:
                shutil.rmtree(staging, ignore_errors=True)
                raise
            if os.path.exists(lineage_path):
                os.remove(lineage_path)
            shutil.rmtree(path, ignore_errors=True)
            os.rename(staging, path)
            out = self.read(table)
            # per-partition lineage from parquet footers (file metadata) —
            # what an Iceberg snapshot's manifest carries; zero extra scan
            # (the Spark-job alternative re-reads every written row). Footer
            # reads go through a thread pool: serial reads cost ~20ms x
            # n_files per stage of pure driver latency, which is dead time
            # at every parallelism level (it was a visible slice of the
            # fixed per-stage cost in the scaling runs).
            import glob as _glob
            from concurrent.futures import ThreadPoolExecutor

            import pyarrow.parquet as _pq

            files = sorted(_glob.glob(os.path.join(path, "part-*")))
            with ThreadPoolExecutor(max_workers=16) as ex:
                rows_per_file = list(ex.map(lambda f: int(_pq.ParquetFile(f).metadata.num_rows), files))
            per_partition = [
                {"partition": i, "rows": n} for i, n in enumerate(rows_per_file)
            ]
        lineage = {
            "table": table,
            "params_hash": params_hash(params or {}),
            "params": params or {},
            "write_id": uuid.uuid4().hex,
            "rows": int(sum(p["rows"] for p in per_partition)),
            "partitions": per_partition,
            # the write job (and footer reads); facts count as stage work
            "wall_seconds": round(time.time() - start, 3),
            "schema": out.schema.simpleString(),
        }
        if facts is not None:
            lineage.update(facts(out))
        tmp = f"{lineage_path}.tmp"
        with open(tmp, "w") as f:
            json.dump(lineage, f, indent=1)
        os.replace(tmp, lineage_path)
        return lineage

    def read(self, table: str) -> DataFrame:
        if self.use_iceberg:
            return self.spark.read.table(table)
        return self.spark.read.parquet(self._path(table))

    def lineage(self, table: str) -> Optional[dict]:
        try:
            with open(self._lineage_path(table)) as f:
                return json.load(f)
        except (OSError, json.JSONDecodeError):
            return None
