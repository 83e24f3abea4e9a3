"""Per-partition lineage checkpointing (north_star: a killed run resumes
without re-parsing completed partitions).

The reference has no persistence at all — delivery/retry is Logstash's concern
(SURVEY.md §2.10). At 10^12 turns a single monolithic job is un-restartable, so
the pipeline processes the input in *lineage buckets* (hash of conv_id) and
commits a manifest entry — with per-bucket row metrics — after each bucket's
sink writes land. Resume = read manifest, drop completed buckets from the scan
(a partition-pruning filter), clear any partial output of incomplete buckets,
continue. On a cluster each bucket maps to an Iceberg partition and the write
is an atomic `overwritePartitions`; in the sandbox the same contract is a
parquet subdirectory per bucket + an atomic (tmp+rename) manifest file.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
from urllib.parse import unquote


class CheckpointManifest:
    def __init__(self, manifest_dir: str) -> None:
        self.dir = manifest_dir
        os.makedirs(manifest_dir, exist_ok=True)

    def _path(self, bucket: int) -> str:
        return os.path.join(self.dir, f"bucket={bucket}.json")

    def completed(self) -> dict[int, dict]:
        out: dict[int, dict] = {}
        for name in os.listdir(self.dir):
            if name.startswith("bucket=") and name.endswith(".json"):
                with open(os.path.join(self.dir, name)) as f:
                    meta = json.load(f)
                out[int(name[len("bucket="):-len(".json")])] = meta
        return out

    def complete(self, bucket: int, metrics: dict) -> None:
        """Atomic commit: write-temp + rename, so a kill mid-write never
        records a half-done bucket as complete."""
        fd, tmp = tempfile.mkstemp(dir=self.dir, suffix=".tmp")
        with os.fdopen(fd, "w") as f:
            json.dump(metrics, f)
        os.replace(tmp, self._path(bucket))

    def landed_counts(self, data_dir: str, bucket: int) -> dict[str, int]:
        """Rows per sink under ``<data_dir>/_bucket=<bucket>/sink=<s>/``,
        summed from the parquet footers. Sink directory names are escaped
        the way Spark escapes partition values; sinks without rows have no
        directory and are absent."""
        import pyarrow.parquet as pq

        counts: dict[str, int] = {}
        root = os.path.join(data_dir, f"_bucket={bucket}")
        if not os.path.isdir(root):
            return counts
        for d in os.listdir(root):
            if not d.startswith("sink="):
                continue
            n = sum(pq.read_metadata(os.path.join(root, d, f)).num_rows
                    for f in os.listdir(os.path.join(root, d))
                    if f.endswith(".parquet") and not f.startswith((".", "_")))
            if n:
                counts[unquote(d[len("sink="):])] = n
        return counts

    def clear_partial_output(self, data_dir: str, bucket: int) -> None:
        """Remove sink output of a bucket that died before its manifest commit
        (idempotent re-run)."""
        path = os.path.join(data_dir, f"_bucket={bucket}")
        if os.path.isdir(path):
            shutil.rmtree(path)

    def reset(self) -> None:
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(self.dir, exist_ok=True)
