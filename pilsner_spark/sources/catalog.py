"""Table catalog abstraction: Iceberg in production, Parquet locally.

The production deployment targets Iceberg tables (`df.writeTo(...)` +
`spark.sql.catalog.*`); this sandbox has no Iceberg jars, so the same
interface falls back to Parquet plus a ``_lineage.json`` sidecar per
table. Every write makes an immutable generation: a new
``<table>/<write_id>/`` Parquet directory, or a new Iceberg snapshot.
Replacing the sidecar (temp file plus ``os.replace``) is the one commit
point. The sidecar is the generation's manifest: it names the committed
generation and records its read schema as Spark's JSON schema, and
``read`` opens that generation with that schema, as Iceberg takes a
table's schema from metadata rather than data files. A generation never
changes after its commit, so the schema cannot drift from its files, and
opening a checkpoint (on resume, or the read-back after a write) runs no
Spark job. A write that fails or is killed anywhere before the sidecar
replace leaves the last committed generation readable and resumable, and
a half-written generation is never read. After the commit the Parquet
path removes every entry under ``<table>/`` except the new generation and
the one committed before it: a table read from this catalog stays
readable through one later recompute, and a half-written generation, or
the files of an older layout, go with the next successful write. The
Iceberg path keeps its snapshot-pinned table read and leaves snapshot
expiry to the table's own maintenance.

The sidecar also carries the stage params and their hash, a fresh
``write_id``, the row count, per-partition row counts, the write wall
time and the stage's own facts (counts its write job observed, such as
CC convergence). It is the resume key: a table resumes when its sidecar
is a manifest (a generation and a JSON schema) and records the same
params hash; a sidecar of an older layout reads as absent, so its stage
recomputes. ``plans/pipeline.Pipeline`` puts the upstream stage's
``write_id`` into the params; the input data does not enter the key. All
checkpoint/resume logic is written against this interface so the Iceberg
path is config-only (SURVEY.md §7.0).
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil
import time
import uuid
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from typing import Callable, Optional

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


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
        ``params`` (a committed manifest with the same params hash), else
        None — the stage-skip test for resume."""
        lineage = self.lineage(table)
        return lineage if lineage is not None and lineage["params_hash"] == params_hash(params) else None

    def write(
        self,
        df: DataFrame,
        table: str,
        params: Optional[dict] = None,
        facts: Optional[Callable[[DataFrame], dict]] = None,
    ) -> dict:
        """Materialize a stage output as a new generation and commit its
        lineage; returns the lineage, stamped with a fresh ``write_id``.
        ``facts(out)`` runs on the written generation after the write job
        (Observation values are ready) and its dict is merged into the
        lineage. The sidecar replace comes last, so a write job, footer
        read, ``facts`` call or replace that fails leaves the previous
        sidecar, and the generation it names, as they were."""
        start = time.time()
        lineage_path = self._lineage_path(table)
        path = self._path(table)
        committed = (self.lineage(table) or {}).get("generation")
        write_id = uuid.uuid4().hex
        if self.use_iceberg:
            df.writeTo(table).createOrReplace()
            snapshots = self.spark.read.table(f"{table}.snapshots")
            generation = snapshots.orderBy(F.desc("committed_at")).first()["snapshot_id"]
            out = self._generation(table, generation, df.schema)
            counts = out.groupBy(F.spark_partition_id().alias("_pid")).count().orderBy("_pid").collect()
            per_partition = [{"partition": int(i), "rows": int(n)} for i, n in counts]
        else:
            generation = write_id
            df.write.parquet(os.path.join(path, generation))
            out = self._generation(table, generation, df.schema)
            # per-partition lineage from parquet footers (file metadata) —
            # what an Iceberg snapshot's manifest carries; zero extra scan
            # (the Spark-job alternative re-reads every written row). Footer
            # reads go through a thread pool: serial reads cost ~20ms x
            # n_files per stage of pure driver latency, which is dead time
            # at every parallelism level (it was a visible slice of the
            # fixed per-stage cost in the scaling runs).
            files = sorted(glob.glob(os.path.join(path, generation, "part-*")))
            with ThreadPoolExecutor(max_workers=16) as ex:
                rows_per_file = list(ex.map(lambda f: int(pq.ParquetFile(f).metadata.num_rows), files))
            per_partition = [{"partition": i, "rows": n} for i, n in enumerate(rows_per_file)]
        lineage = {
            "table": table,
            "params_hash": params_hash(params or {}),
            "params": params or {},
            "write_id": write_id,
            "generation": generation,
            "rows": int(sum(p["rows"] for p in per_partition)),
            "partitions": per_partition,
            # the write job (and footer reads); facts count as stage work
            "wall_seconds": round(time.time() - start, 3),
            "schema": out.schema.jsonValue(),
        }
        if facts is not None:
            lineage.update(facts(out))
        tmp = f"{lineage_path}.tmp"
        with open(tmp, "w") as f:
            json.dump(lineage, f, indent=1)
        os.replace(tmp, lineage_path)
        if not self.use_iceberg:
            for entry in set(os.listdir(path)) - {generation, committed}:
                stale = os.path.join(path, entry)
                if os.path.isdir(stale):
                    shutil.rmtree(stale)
                else:  # in-place files of a pre-generation layout
                    os.remove(stale)
        return lineage

    def read(self, table: str) -> DataFrame:
        """The committed generation of ``table``, opened with the schema its
        sidecar records."""
        lineage = self.lineage(table)
        return self._generation(table, lineage["generation"], StructType.fromJson(lineage["schema"]))

    def _generation(self, table: str, generation: str | int, schema: StructType) -> DataFrame:
        """One generation as a DataFrame, with no Spark job: Parquet is read
        with ``schema`` instead of inferring it from the footers; an Iceberg
        snapshot carries its own schema."""
        if self.use_iceberg:
            return self.spark.read.option("snapshot-id", generation).table(table)
        return self.spark.read.schema(schema).parquet(os.path.join(self._path(table), generation))

    def lineage(self, table: str) -> Optional[dict]:
        """The committed manifest of ``table``, or None when the sidecar is
        missing, unreadable or of an older layout: one that names no
        generation, or records its schema as anything but Spark's JSON
        struct (earlier sidecars held ``simpleString`` text)."""
        try:
            with open(self._lineage_path(table)) as f:
                lineage = json.load(f)
        except (OSError, json.JSONDecodeError):
            return None
        return lineage if "generation" in lineage and isinstance(lineage.get("schema"), dict) else None
