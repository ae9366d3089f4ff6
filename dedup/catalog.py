"""Checkpointed stage tables with per-partition lineage + atomic commit.

On a real cluster these are Iceberg tables (atomic snapshot commits give us
resume-safety for free). In this sandbox no Iceberg runtime jar ships with
pyspark, so the same call-site API is backed by a parquet shim:

  * write goes to ``<table>.__staging__`` then a single ``os.rename`` to
    ``<table>`` -- the commit point (SURVEY.md par.7 "Resume semantics").
  * a ``_MANIFEST.json`` inside the committed directory records run_id,
    stage name, config fingerprint, schema, total rows, and per-partition
    row counts (the lineage the north_rule asks for).
  * ``exists()`` only trusts a directory containing a valid manifest with a
    matching config fingerprint -- a torn write is invisible to resume.

The reference has no persistence between stages at all (everything lives in
one process, /root/reference/doppelspeller/predict.py:274-321); checkpointed
lineage is our scale/resumability extension.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

MANIFEST_NAME = "_MANIFEST.json"


@dataclass
class StageResult:
    table: str
    path: str
    rows: int
    partitions: int
    seconds: float
    resumed: bool
    # wall-time attribution inside the stage: "build" (operator df_fn --
    # eager work like localCheckpoint phase boundaries), "job" (the parquet
    # write job itself, i.e. the parallel compute), "footer" (lineage scan
    # of parquet footers), "commit" (manifest + rename). Everything except
    # "job" is a per-stage FIXED cost that does not shrink with executors;
    # the scaling bench reads this to attribute the O(stages) floor.
    breakdown: dict = field(default_factory=dict)


class CheckpointCatalog:
    """Stage-table catalog rooted at a warehouse directory.

    API intentionally mirrors Iceberg call sites: ``write(name, df)`` /
    ``table(name)`` / ``exists(name)``; swapping in a real Iceberg catalog
    changes only this class.
    """

    def __init__(
        self,
        spark: SparkSession,
        warehouse: str,
        run_id: str | None = None,
        config_fingerprint: str = "",
    ):
        self.spark = spark
        self.warehouse = warehouse
        self.run_id = run_id or uuid.uuid4().hex[:12]
        self.config_fingerprint = config_fingerprint
        os.makedirs(warehouse, exist_ok=True)

    # -- paths ---------------------------------------------------------
    def path(self, name: str) -> str:
        return os.path.join(self.warehouse, name)

    def _staging(self, name: str) -> str:
        return os.path.join(self.warehouse, name + ".__staging__")

    # -- reads ---------------------------------------------------------
    def exists(self, name: str) -> bool:
        mf = self._read_manifest(name)
        if mf is None:
            return False
        if self.config_fingerprint and mf.get("config_fingerprint") != self.config_fingerprint:
            return False
        return True

    def table(self, name: str) -> DataFrame:
        return self.spark.read.parquet(self.path(name))

    def manifest(self, name: str) -> dict:
        mf = self._read_manifest(name)
        if mf is None:
            raise FileNotFoundError(f"no committed manifest for stage table {name!r}")
        return mf

    def _read_manifest(self, name: str) -> dict | None:
        p = os.path.join(self.path(name), MANIFEST_NAME)
        try:
            with open(p) as fh:
                return json.load(fh)
        except (FileNotFoundError, json.JSONDecodeError):
            return None

    # -- writes --------------------------------------------------------
    def write(
        self,
        name: str,
        df: DataFrame,
        stage: str | None = None,
        num_files: int | None = None,
    ) -> StageResult:
        """Materialize ``df`` as a committed stage table (idempotent commit:
        staging dir + rename). Returns lineage stats."""
        t0 = time.time()
        staging, final = self._staging(name), self.path(name)
        if os.path.exists(staging):
            shutil.rmtree(staging)
        if num_files:
            # repartition, NOT coalesce: coalesce propagates upstream
            # through narrow deps to the previous shuffle/cache boundary,
            # collapsing the whole producing job to num_files tasks
            # (measured: the containment band groupBy serialized onto 4
            # tasks when the skew-ledger write was coalesce(4)). The
            # repartition exchange isolates upstream parallelism; for the
            # small tables this knob is meant for, its shuffle is trivial.
            df = df.repartition(num_files)
        df.write.mode("overwrite").parquet(staging)
        t_job = time.time()

        # per-partition lineage from the parquet FOOTERS -- row counts are
        # free metadata, no data re-scan. (With a real Iceberg catalog the
        # snapshot manifests carry these counts natively.) Footers are read
        # on a thread pool: each read is a tiny independent I/O, and a
        # serial driver loop here is a per-stage commit barrier that does
        # not shrink with executor parallelism (measured as part of the
        # scaling-efficiency floor -- 8 commits per pipeline run).
        import glob as _glob
        from concurrent.futures import ThreadPoolExecutor

        import pyarrow.parquet as _pq

        files = sorted(
            _glob.glob(os.path.join(staging, "**", "part-*.parquet"), recursive=True)
        )

        def _nrows(f: str) -> tuple[str, int]:
            return os.path.relpath(f, staging), _pq.ParquetFile(f).metadata.num_rows

        if files:
            with ThreadPoolExecutor(max_workers=min(16, len(files))) as pool:
                partition_rows = dict(pool.map(_nrows, files))
        else:
            partition_rows = {}
        rows = sum(partition_rows.values())
        t_footer = time.time()
        manifest = {
            "table": name,
            "stage": stage or name,
            "run_id": self.run_id,
            "config_fingerprint": self.config_fingerprint,
            "schema": df.schema.jsonValue(),
            "rows": rows,
            "partition_rows": partition_rows,
            "committed_at_unix": time.time(),
        }
        with open(os.path.join(staging, MANIFEST_NAME), "w") as fh:
            json.dump(manifest, fh, indent=1, sort_keys=True)
        if os.path.exists(final):
            shutil.rmtree(final)
        os.rename(staging, final)  # commit point
        t_commit = time.time()
        return StageResult(
            table=name,
            path=final,
            rows=rows,
            partitions=len(partition_rows),
            seconds=t_commit - t0,
            resumed=False,
            breakdown={
                "job": round(t_job - t0, 3),
                "footer": round(t_footer - t_job, 3),
                "commit": round(t_commit - t_footer, 3),
            },
        )

    def write_or_resume(
        self,
        name: str,
        df_fn,
        stage: str | None = None,
        **kw,
    ) -> tuple[DataFrame, StageResult]:
        """Resume point: if a committed, config-matching table exists, skip
        recomputation entirely (``df_fn`` is never invoked)."""
        if self.exists(name):
            mf = self.manifest(name)
            res = StageResult(
                table=name,
                path=self.path(name),
                rows=mf["rows"],
                partitions=len(mf["partition_rows"]),
                seconds=0.0,
                resumed=True,
            )
            return self.table(name), res
        # time df_fn() too: operators may run eager work (localCheckpoint
        # phase boundaries) while BUILDING the frame, not just writing it
        t0 = time.time()
        df = df_fn()
        t_build = time.time()
        res = self.write(name, df, stage=stage, **kw)
        res.seconds = time.time() - t0
        res.breakdown = {"build": round(t_build - t0, 3), **res.breakdown}
        return self.table(name), res

    def drop(self, name: str) -> None:
        for p in (self.path(name), self._staging(name)):
            if os.path.exists(p):
                shutil.rmtree(p)
