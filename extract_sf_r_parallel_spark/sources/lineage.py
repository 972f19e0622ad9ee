"""Checkpoint/resume with per-partition lineage + metrics (north rule).

The reference got restartability from 10,000 per-cell CSVs (C_…R:247)
plus a try() on re-read (C_…R:716) — rerunning redoes nothing but
loses nothing (and silently duplicates a stale shard on read failure,
a bug we do NOT reproduce; SURVEY.md §2.7). The engine formalizes it:

- work is split into `n_buckets` hash buckets of the point key
  (coarser than cells — each bucket is one healthy Spark job, not
  10,000 driver iterations);
- a JSONL manifest records one commit line per finished bucket with
  row counts and timings (the metrics accumulators);
- the feature side (validity filter, dissolve corrections, their
  checks) depends on the layer table alone, so it is built once per
  call, before the first bucket runs, and every bucket only declares
  its per-points plan over it. Nothing is kept across calls: a resume
  runs in a fresh process and pays one build of its own;
- resume = set-difference: planned buckets minus committed buckets.
  Output partitions are immutable once committed, so a crashed run
  leaves at most one orphan directory, which is overwritten when its
  bucket is retried (idempotent). A torn last manifest line (a crash
  inside `commit`) is ignored, so its bucket simply reruns.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = ["LineageManifest", "extract_with_resume"]


class LineageManifest:
    def __init__(self, path: str):
        self.path = path
        os.makedirs(os.path.dirname(path), exist_ok=True)

    def completed(self) -> dict[int, dict]:
        """Committed buckets. An unparsable FINAL line is a commit torn
        by a crash: it is skipped, so that bucket reruns (the overwrite
        is idempotent). A malformed line anywhere else still raises."""
        out: dict[int, dict] = {}
        if os.path.exists(self.path):
            with open(self.path) as f:
                lines = f.readlines()
            for i, line in enumerate(lines):
                try:
                    rec = json.loads(line)
                except json.JSONDecodeError:
                    if i == len(lines) - 1:
                        break
                    raise
                out[rec["bucket"]] = rec
        return out

    def commit(self, bucket: int, **metrics) -> None:
        rec = {"bucket": bucket, **metrics}
        with open(self.path, "a+b") as f:
            # cut a torn tail first, or this line would be glued onto
            # it and become a malformed line mid-file
            f.seek(0)
            data = f.read()
            if data and not data.endswith(b"\n"):
                f.truncate(data.rfind(b"\n") + 1)
            f.write((json.dumps(rec) + "\n").encode())
            f.flush()
            os.fsync(f.fileno())


def extract_with_resume(
    spark: SparkSession,
    points: DataFrame,
    polys: DataFrame,
    out_dir: str,
    n_buckets: int = 8,
    key: str = "PKEY",
    max_buckets_this_run: int | None = None,
    **areadist_kwargs,
) -> dict:
    """Run operators.areadist bucket-by-bucket with commit lineage.

    Returns {"ran": [...], "skipped": [...]}. Re-invoking after a crash
    (or after `max_buckets_this_run` stopped the run early) finishes
    only the missing buckets. Output: <out_dir>/bucket=<i>/ parquet.
    The feature side is built once per call, before the first bucket,
    and only when a bucket is left to run.
    """
    from ..operators.areadist import _FeatureSide, _areadist_apply

    manifest = LineageManifest(os.path.join(out_dir, "_lineage", "manifest.jsonl"))
    done = manifest.completed()
    skipped = [b for b in range(n_buckets) if b in done]
    todo = [b for b in range(n_buckets) if b not in done][:max_buckets_this_run]
    ran: list[int] = []
    if not todo:
        return {"ran": ran, "skipped": skipped}
    side = _FeatureSide(polys, **{k: areadist_kwargs.pop(k)
                                  for k in _FeatureSide.KEYWORDS
                                  if k in areadist_kwargs})
    bucketed = points.withColumn(
        "_bucket", F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets)).cast("int"))
    bucketed.cache()
    try:
        for b in todo:
            t0 = time.perf_counter()
            part = bucketed.filter(F.col("_bucket") == b).drop("_bucket")
            n_in = part.count()
            result = _areadist_apply(part, side, **areadist_kwargs)
            path = os.path.join(out_dir, f"bucket={b}")
            result.write.mode("overwrite").parquet(path)
            n_out = spark.read.parquet(path).count()
            manifest.commit(
                b, rows_in=n_in, rows_out=n_out,
                wall_s=round(time.perf_counter() - t0, 3), path=path)
            ran.append(b)
    finally:
        bucketed.unpersist()
    return {"ran": ran, "skipped": skipped}
