"""Stage checkpointing + resume.

north_rule requirement: "resumable from checkpoint with
per-partition lineage + metrics". Every pipeline stage can be
materialized as a parquet table named by stage; a re-run finds the
completed table (parquet ``_SUCCESS`` marker) and reads it back
instead of recomputing, so a killed job resumes from the last
complete stage. On a production cluster the same layout maps to
Iceberg tables (``df.writeTo(...)``) — parquet is the sandbox
stand-in.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession


class CheckpointManager:
    def __init__(self, spark: SparkSession, base_dir: str | None) -> None:
        self.spark = spark
        self.base_dir = base_dir
        self.metrics: list[dict] = []

    def _path(self, name: str) -> str:
        assert self.base_dir is not None
        return os.path.join(self.base_dir, name)

    def has(self, name: str) -> bool:
        return (
            self.base_dir is not None
            and os.path.exists(os.path.join(self._path(name), "_SUCCESS"))
        )

    def stage(self, name: str, build) -> DataFrame:
        """Return the checkpointed stage, computing it if absent.

        ``build`` is a zero-arg callable returning the DataFrame.
        Without a base_dir this is a pass-through (no materialize).
        """
        if self.base_dir is None:
            return build()
        if self.has(name):
            self._record(name, resumed=True)
            return self.spark.read.parquet(self._path(name))
        t0 = time.time()
        df = build()
        df.write.mode("overwrite").parquet(self._path(name))
        out = self.spark.read.parquet(self._path(name))
        from pyspark.sql import functions as F

        # per-partition lineage (north rule): row histogram across the
        # checkpoint table's partitions, for skew diagnosis + resume
        # bookkeeping
        hist = (
            out.groupBy(F.spark_partition_id().alias("pid"))
            .count()
            .agg(
                F.count("*").alias("n_partitions"),
                F.coalesce(F.sum("count"), F.lit(0)).alias("rows"),
                F.min("count").alias("min_rows"),
                F.max("count").alias("max_rows"),
            )
            .first()
        )
        self._record(
            name,
            rows=int(hist["rows"]),
            n_partitions=int(hist["n_partitions"]),
            min_partition_rows=int(hist["min_rows"]) if hist["min_rows"] is not None else 0,
            max_partition_rows=int(hist["max_rows"]) if hist["max_rows"] is not None else 0,
            seconds=round(time.time() - t0, 3),
        )
        return out

    def _record(self, name: str, **kw) -> None:
        self.metrics.append({"stage": name, "ts": time.time(), **kw})

    def write_metrics(self) -> None:
        if self.base_dir is None:
            return
        os.makedirs(self.base_dir, exist_ok=True)
        with open(os.path.join(self.base_dir, "_metrics.jsonl"), "a") as f:
            for m in self.metrics:
                f.write(json.dumps(m) + "\n")
        self.metrics = []
