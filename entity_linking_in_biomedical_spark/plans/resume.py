"""Per-stage checkpointed snapshots with commit manifests.

The north rule requires every stage to resume from its last committed
snapshot with per-partition lineage + metrics. The store keeps them as
plain Parquet plus a JSON manifest under one filesystem directory that
the driver and every executor can see (a local disk for local[*], a
shared mount on a cluster):

  <out_dir>/<stage>/data/...parquet      the snapshot
  <out_dir>/<stage>/_MANIFEST.json       commit record: stage signature
                                         (md5 over params + parent
                                         signatures), total rows, and
                                         per-bucket (or per-file) row
                                         counts from the Parquet footers

A stage is *committed* iff the manifest exists and its signature matches
the requested computation; committed stages are read back instead of
recomputed. The manifest is written after the data (write-then-commit
ordering), so a crash mid-write leaves an uncommitted, restartable
stage.
"""

from __future__ import annotations

import hashlib
import json
import os
import re

from pyspark.sql import DataFrame, SparkSession
from ..session import pin

# Spark's bucketed-file naming (BucketingUtils.bucketIdToString)
_BUCKET_ID = re.compile(r".*_(\d+)(?:\..*)?$")


def stage_signature(stage: str, params: dict, parents: list[str]) -> str:
    """md5 of the stage name, its parameters and its parents'
    signatures. A signature covers settings and inputs only: the
    blocking key set (operators/blocking.py constants) is code, like
    every other rule in that module, so changing it calls for a fresh
    out_dir. Input identity belongs in ``params``: run_pipeline
    folds each source DataFrame's fingerprint into
    ``params["input_fp"]``, so re-running into the same out_dir with
    *different inputs* but identical settings recomputes instead of
    serving the stale committed snapshot. A fingerprint does not see
    in-place content changes under an unchanged path — for that, use a
    fresh out_dir per dataset version (documented contract)."""
    payload = json.dumps(
        {"stage": stage, "params": params, "parents": parents},
        sort_keys=True,
        default=str,
    )
    return hashlib.md5(payload.encode()).hexdigest()


def _footer_rows(dpath: str, bucketed: bool) -> dict:
    """Rows per written Parquet file, read from the footers. A bucketed
    write names each file after its bucket (``part-..._00003.c000...``);
    those entries are keyed by bucket id, summed should a bucket span
    several files."""
    import pyarrow.parquet as pq

    rows: dict = {}
    for name in sorted(os.listdir(dpath)):
        if not name.endswith(".parquet"):  # skips _SUCCESS and .crc files
            continue
        n = pq.read_metadata(os.path.join(dpath, name)).num_rows
        key = int(_BUCKET_ID.match(name).group(1)) if bucketed else name
        rows[key] = rows.get(key, 0) + n
    return rows


class StageStore:
    def __init__(self, spark: SparkSession, out_dir: str | None):
        """Stages committed with ``bucket_by`` keys (see :meth:`commit`)
        are bucketed at the session's shuffle width,
        ``spark.sql.shuffle.partitions``, read once here: a commit then
        writes one task per shuffle partition, and later scans and joins
        of the snapshot run at the width every other shuffle of the job
        does. Sizing the store for a cluster therefore happens where
        shuffle sizing already happens (``get_spark`` sets max(2 x
        cores, 8): 8 on local[4], 64 on local[32]). Every stage of one
        run shares the count, so co-located joins agree on it; a
        snapshot written at another width keeps the count its manifest
        records (:meth:`load`).

        ``out_dir`` is a filesystem path (manifests and footers are read
        with ``os``/``open``), so a ``scheme://`` URI is rejected here,
        before any job runs, instead of failing after the first stage
        write."""
        if out_dir is not None and "://" in out_dir:
            raise ValueError(
                f"stage store out_dir {out_dir!r} is a URI; the stage store "
                f"takes a filesystem path visible to the driver and every "
                f"executor (e.g. a shared mount), not a scheme:// location"
            )
        self.spark = spark
        self.out_dir = out_dir
        self.n_buckets = int(spark.conf.get("spark.sql.shuffle.partitions"))
        self.metrics: list[dict] = []

    def _paths(self, stage: str) -> tuple[str, str]:
        assert self.out_dir is not None
        base = os.path.join(self.out_dir, stage)
        return os.path.join(base, "data"), os.path.join(base, "_MANIFEST.json")

    def _catalog_table(self, stage: str) -> str:
        """Catalog name for a bucketed stage snapshot. The out_dir hash
        keys the name so concurrent runs (or parallel tests) against
        different stores never collide on the shared session catalog."""
        assert self.out_dir is not None
        tag = hashlib.md5(os.path.abspath(self.out_dir).encode()).hexdigest()[:10]
        return f"el_stage_{tag}_{stage}"

    def committed(self, stage: str, signature: str) -> bool:
        if self.out_dir is None:
            return False
        _, mpath = self._paths(stage)
        if not os.path.exists(mpath):
            return False
        try:
            with open(mpath) as f:
                m = json.load(f)
        except (OSError, ValueError):
            # a corrupt/truncated manifest (tampering, partial copy of a
            # user-supplied out_dir) means the stage is not trustworthy:
            # treat as uncommitted and recompute, mirroring load()
            return False
        return m.get("signature") == signature

    def load(self, stage: str) -> DataFrame:
        """Read a committed snapshot back. Bucketed stages (manifest
        carries the layout) come back through the catalog so downstream
        joins/aggs on the bucket keys plan with no Exchange; if this
        session's catalog lost the table (fresh session, in-memory
        catalog), the manifest's recorded DDL re-attaches the files.
        Any layout-level failure degrades to a plain Parquet read —
        correctness never depends on the catalog."""
        dpath, mpath = self._paths(stage)
        try:
            with open(mpath) as f:
                m = json.load(f)
        except (OSError, ValueError):
            m = {}
        bucket = m.get("bucket")
        if bucket:
            from ..sources.bucketed import register_bucketed

            tbl = self._catalog_table(stage)
            try:
                if self.spark.catalog.tableExists(tbl):
                    return self.spark.table(tbl)
                return register_bucketed(
                    self.spark,
                    tbl,
                    dpath,
                    bucket["schema_ddl"],
                    bucket["keys"],
                    bucket["n_buckets"],
                )
            except Exception as e:
                # correctness never depends on the catalog, but a
                # silent fall-through would erase the amortized-shuffle
                # benefit with nothing observable — surface it in the
                # run metrics and on stderr before degrading
                import sys

                self.metrics.append(
                    {"stage": stage, "bucket_layout": "degraded", "err": repr(e)}
                )
                print(
                    f"stage store: bucketed layout for '{stage}' could not "
                    f"be (re)attached ({e!r}); reading plain parquet — "
                    f"downstream joins on {bucket['keys']} will re-shuffle",
                    file=sys.stderr,
                )
        return self.spark.read.parquet(dpath)

    def commit(
        self,
        stage: str,
        signature: str,
        df: DataFrame,
        bucket_by: list[str] | None = None,
    ) -> DataFrame:
        """Write snapshot, record row counts, commit manifest, return the
        re-read (physically materialized) DataFrame. The counts come
        from the Parquet footers of the files just written, so they cost
        no Spark job: ``partition_rows`` is keyed by bucket id for a
        bucketed stage and by file name for a plain one.
        ``bucket_by``: hash-bucket + sort the snapshot by these keys
        (sources/bucketed.py) so every downstream equi-join/groupBy on
        them — in this run or a resumed one — plans without an Exchange;
        the stage's one shuffle is paid at write time and amortized."""
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
        bucket_meta = None
        if bucket_by:
            from ..sources.bucketed import write_bucketed

            tbl = self._catalog_table(stage)
            write_bucketed(
                df, tbl, bucket_by, n_buckets=self.n_buckets, path=dpath
            )
            out = self.spark.table(tbl)
            bucket_meta = {
                "keys": list(bucket_by),
                "n_buckets": self.n_buckets,
                "table": tbl,
                # recorded so a fresh session can re-register the layout
                "schema_ddl": out._jdf.schema().toDDL(),  # type: ignore[operator]
            }
        else:
            df.write.mode("overwrite").parquet(dpath)
            out = self.spark.read.parquet(dpath)
        part_rows = _footer_rows(dpath, bucketed=bucket_meta is not None)
        manifest = {
            "stage": stage,
            "signature": signature,
            "rows": sum(part_rows.values()),
            "partition_rows": part_rows,
        }
        if bucket_meta:
            manifest["bucket"] = bucket_meta
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
        bucket_by: list[str] | None = None,
    ) -> DataFrame:
        if self.committed(stage, signature):
            out = self.load(stage)
            self.metrics.append({"stage": stage, "rows": None, "resumed": True})
            return out
        return self.commit(stage, signature, compute(), bucket_by=bucket_by)
