"""Per-stage checkpointed snapshots with commit manifests.

The north rule requires every stage to resume from its last committed
snapshot with per-partition lineage + metrics. The store keeps them as
plain Parquet plus a JSON manifest under one filesystem directory that
the driver and every executor can see (a local disk for local[*], a
shared mount on a cluster):

  <out_dir>/<stage>/data/...parquet      the snapshot
  <out_dir>/<stage>/_MANIFEST.json       commit record: stage signature
                                         (md5 over params + parent
                                         signatures), the stage schema,
                                         total rows, and per-file row
                                         counts from the Parquet footers

A stage is *committed* iff the manifest exists and its signature matches
the requested computation; committed stages are read back instead of
recomputed. The manifest is written after the data (write-then-commit
ordering), so a crash mid-write leaves an uncommitted, restartable
stage.

Snapshots are not bucketed or registered in any catalog: of the
pipeline's joins, only the ``assignments`` window over
``me_scores.a_norm`` and the final ``mentions`` attach ran on the keys
a bucketed layout would co-locate, and both shuffle small frames.
"""

from __future__ import annotations

import hashlib
import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from ..session import pin


def stage_signature(stage: str, params: dict, parents: list[str]) -> str:
    """md5 of the stage name, its parameters and its parents'
    signatures. A signature covers inputs only: run_pipeline's
    ``params`` are each source DataFrame's fingerprint
    (``params["input_fp"]``) and whether a split filter applies, so
    re-running into the same out_dir with *different inputs* recomputes
    instead of serving the stale committed snapshot. The match rules
    (the blocking key set and caps, the scoring weights and thresholds:
    module constants in operators/blocking.py, operators/scoring.py and
    plans/pipeline.py) are code, so changing one calls for a fresh
    out_dir. A fingerprint does not see in-place content changes under
    an unchanged path — for that, use a fresh out_dir per dataset
    version (documented contract)."""
    payload = json.dumps(
        {"stage": stage, "params": params, "parents": parents},
        sort_keys=True,
        default=str,
    )
    return hashlib.md5(payload.encode()).hexdigest()


def _footer_rows(dpath: str) -> dict:
    """Rows per written Parquet file, keyed by file name, read from the
    footers."""
    import pyarrow.parquet as pq

    return {
        name: pq.read_metadata(os.path.join(dpath, name)).num_rows
        for name in sorted(os.listdir(dpath))
        if name.endswith(".parquet")  # skips _SUCCESS and .crc files
    }


class StageStore:
    def __init__(self, spark: SparkSession, out_dir: str | None):
        """``out_dir`` is a filesystem path (manifests and footers are
        read with ``os``/``open``), so a ``scheme://`` URI is rejected
        here, before any job runs, instead of failing after the first
        stage write."""
        if out_dir is not None and "://" in out_dir:
            raise ValueError(
                f"stage store out_dir {out_dir!r} is a URI; the stage store "
                f"takes a filesystem path visible to the driver and every "
                f"executor (e.g. a shared mount), not a scheme:// location"
            )
        self.spark = spark
        self.out_dir = out_dir
        self.metrics: list[dict] = []

    def _paths(self, stage: str) -> tuple[str, str]:
        assert self.out_dir is not None
        base = os.path.join(self.out_dir, stage)
        return os.path.join(base, "data"), os.path.join(base, "_MANIFEST.json")

    def _manifest(self, stage: str) -> dict | None:
        """The stage's manifest, or None when it is missing or corrupt
        (tampering, a partial copy of a user-supplied out_dir)."""
        _, mpath = self._paths(stage)
        try:
            with open(mpath) as f:
                return json.load(f)
        except (OSError, ValueError):
            return None

    def committed(self, stage: str, signature: str) -> bool:
        if self.out_dir is None:
            return False
        # a corrupt manifest means the stage is not trustworthy: treat
        # it as uncommitted and recompute
        m = self._manifest(stage)
        return m is not None and m.get("signature") == signature

    def load(self, stage: str) -> DataFrame:
        """Read a committed snapshot back with the schema its manifest
        records, so the read submits no schema-inference job. A manifest
        without one (corrupt, or written before manifests carried the
        schema) falls back to a plain Parquet read."""
        dpath, _ = self._paths(stage)
        schema = (self._manifest(stage) or {}).get("schema")
        reader = self.spark.read
        if schema:
            reader = reader.schema(StructType.fromJson(schema))
        return reader.parquet(dpath)

    def commit(self, stage: str, signature: str, df: DataFrame) -> DataFrame:
        """Write snapshot, record schema and row counts, commit manifest,
        return the re-read (physically materialized) DataFrame. The
        counts come from the Parquet footers of the files just written,
        so they cost no Spark job; ``partition_rows`` is keyed by file
        name."""
        if self.out_dir is None:
            # no persistence requested: lazy localCheckpoint — the first
            # downstream action materializes it; an eager checkpoint +
            # count here would add two extra jobs per stage (driver-side
            # fixed cost that caps scaling efficiency)
            out = pin(df)
            self.metrics.append({"stage": stage, "rows": None, "partitions": None})
            return out
        dpath, mpath = self._paths(stage)
        # invalidate any previous commit BEFORE touching the data: a
        # crash between the data overwrite and the manifest replace must
        # leave the stage uncommitted, never an old manifest pointing at
        # new data (write-then-commit invariant across signature changes)
        if os.path.exists(mpath):
            os.remove(mpath)
        df.write.mode("overwrite").parquet(dpath)
        out = self.spark.read.schema(df.schema).parquet(dpath)
        part_rows = _footer_rows(dpath)
        manifest = {
            "stage": stage,
            "signature": signature,
            "schema": df.schema.jsonValue(),
            "rows": sum(part_rows.values()),
            "partition_rows": part_rows,
        }
        tmp = mpath + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, sort_keys=True)
        os.replace(tmp, mpath)  # atomic commit
        self.metrics.append(
            {"stage": stage, "rows": manifest["rows"], "partitions": len(part_rows)}
        )
        return out

    def get_or_compute(
        self,
        stage: str,
        signature: str,
        compute,
        bucket_by=None,
    ) -> DataFrame:
        # ``bucket_by`` is accepted and ignored: perfbench's stage span
        # wrapper still passes it through
        if self.committed(stage, signature):
            out = self.load(stage)
            self.metrics.append({"stage": stage, "rows": None, "resumed": True})
            return out
        return self.commit(stage, signature, compute())
