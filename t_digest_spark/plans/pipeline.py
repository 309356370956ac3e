"""Resumable digest pipeline with per-partition checkpoints, lineage,
and metrics (north_star: "resumable from per-partition checkpoints with
lineage and digest-size/centroid-count metrics").

Unit of work = one input FILE (the natural retry/resume granule of an
Iceberg/parquet table scan):

  stage 1   per (input file, group key) partial digests, written to
            ``<ckpt>/partials/`` as parquet, append-mode, one commit
            per processed batch of files; each row carries metrics
            (rows, centroids, min, max, serialized bytes).
  lineage   ``<ckpt>/lineage.json``: input path, file list + sizes,
            digest parameters, library version, completion state.
  resume    re-running the same pipeline lists input files, subtracts
            the already-checkpointed ones, and scans ONLY the missing
            files (real file pruning — the skipped files are never
            opened).
  stage 2   ``finalize()`` merges checkpointed partials per group —
            pure digest-merge, no rescan of the input.

Mergeability makes this exactly restartable: partial digests built in
any file batching merge to estimates within the same accuracy bounds
(AccuracyTest.java:131-151).
"""

from __future__ import annotations

import json
import os
import time
from typing import Sequence

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..core import TDigest
from ..operators.aggregate import DIGEST_FIELD, merge_digests_df, \
    partial_digests, tree_merge
from ..operators.extract import digest_stats

__all__ = ["DigestCheckpointPipeline"]

_FILE_COL = "__source_file"


class DigestCheckpointPipeline:
    def __init__(self, spark: SparkSession, input_path: str, value_col: str,
                 group_cols: Sequence[str], checkpoint_dir: str,
                 compression: float = 100.0, scale: str = "K_2",
                 files_per_batch: int = 64):
        self.spark = spark
        self.input_path = input_path
        self.value_col = value_col
        self.group_cols = list(group_cols)
        self.ckpt = checkpoint_dir.rstrip("/")
        self.compression = compression
        self.scale = scale
        self.files_per_batch = files_per_batch
        self._schema = None

    # -- paths ---------------------------------------------------------
    @property
    def partials_path(self) -> str:
        return f"{self.ckpt}/partials"

    @property
    def lineage_path(self) -> str:
        return f"{self.ckpt}/lineage.json"

    # -- lineage -------------------------------------------------------
    def _input_files(self) -> list[str]:
        return sorted(self.spark.read.parquet(self.input_path).inputFiles())

    def _partials(self) -> DataFrame:
        """The checkpointed partials, read with the schema learned on
        this object's first read: inferring it again runs a footer job
        on every read.  The files are listed on each call, so partials
        appended since stay visible."""
        reader = self.spark.read
        if self._schema is not None:
            reader = reader.schema(self._schema)
        df = reader.parquet(self.partials_path)
        self._schema = df.schema
        return df

    def _done_files(self) -> set[str]:
        try:
            partials = self._partials()
        except AnalysisException:  # no partials written yet
            return set()
        return {r[0] for r in partials.select(_FILE_COL).distinct().collect()}

    def _write_lineage(self, state: dict) -> None:
        os.makedirs(self.ckpt, exist_ok=True)
        with open(self.lineage_path, "w") as f:
            json.dump(state, f, indent=2, default=str)

    def lineage(self) -> dict:
        if os.path.exists(self.lineage_path):
            with open(self.lineage_path) as f:
                return json.load(f)
        return {}

    # -- stage 1 with resume --------------------------------------------
    def run_partials(self) -> dict:
        """Process input files not yet checkpointed, in batches; commit
        partial digests + metrics after each batch.  Returns a progress
        summary (idempotent: re-run continues where it left off)."""
        all_files = self._input_files()
        done = self._done_files()
        todo = [f for f in all_files if f not in done]
        processed = 0
        t0 = time.time()
        for i in range(0, len(todo), self.files_per_batch):
            batch = todo[i:i + self.files_per_batch]
            df = self.spark.read.parquet(*batch).withColumn(
                _FILE_COL, F.input_file_name())
            partials = partial_digests(
                df, self.value_col, [_FILE_COL] + self.group_cols,
                self.compression, self.scale)
            enriched = partials.select(
                "*", digest_stats(DIGEST_FIELD).alias("__stats"),
            ).select(
                *( [_FILE_COL] + self.group_cols ),
                DIGEST_FIELD, "rows",
                F.col("__stats").getField("centroids").alias("centroids"),
                F.col("__stats").getField("min").alias("v_min"),
                F.col("__stats").getField("max").alias("v_max"),
                F.length(DIGEST_FIELD).alias("digest_bytes"),
            )
            enriched.write.mode("append").parquet(self.partials_path)
            processed += len(batch)
            self._write_lineage({
                "input_path": self.input_path,
                "value_col": self.value_col,
                "group_cols": self.group_cols,
                "compression": self.compression,
                "scale": self.scale,
                "n_input_files": len(all_files),
                "n_done_files": len(done) + processed,
                "complete": len(done) + processed >= len(all_files),
                "updated_at": time.strftime("%Y-%m-%dT%H:%M:%SZ",
                                            time.gmtime()),
                "elapsed_s": round(time.time() - t0, 1),
            })
        return {
            "input_files": len(all_files),
            "already_done": len(done),
            "processed_now": processed,
            "complete": len(done) + processed >= len(all_files),
        }

    # -- metrics ---------------------------------------------------------
    def metrics(self) -> DataFrame:
        """Per-(file, group) checkpoint metrics: rows, centroid counts,
        min/max, serialized size."""
        return self._partials().select(
            _FILE_COL, *self.group_cols, "rows", "centroids",
            "v_min", "v_max", "digest_bytes")

    # -- stage 2 ----------------------------------------------------------
    def finalize(self, tree: bool = False) -> DataFrame:
        """Merge checkpointed partials into one digest row per group.
        No rescan of the input."""
        partials = self._partials().select(*self.group_cols, DIGEST_FIELD,
                                           "rows")
        if tree:
            return tree_merge(partials, self.group_cols, self.compression,
                              self.scale)
        return merge_digests_df(partials, self.group_cols,
                                self.compression, self.scale)
