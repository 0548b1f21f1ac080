"""Stage IO: checkpointed tables, resume, lineage + metrics sinks.

The reference holds everything in RAM for one `analyze()` call
(``dupes-core/src/lib.rs:41-154``); at 10^12-doc scale every stage instead
commits to a table and the pipeline resumes by skipping stages whose output
was produced under the same config hash and detector set (north_rule:
"resumes mid-run ... every stage checkpoints to Iceberg with per-partition
lineage and metrics tables").

Iceberg needs its runtime jar on the classpath; this sandbox image doesn't
ship it, so the catalog probes for it and falls back to plain parquet with a
JSON sidecar playing the role of the snapshot summary (config hash + row
count). The interface is identical either way — on a real cluster with
`--packages org.apache.iceberg:iceberg-spark-runtime` the same code commits
Iceberg snapshots.
"""

from __future__ import annotations

import json
import shutil
import uuid
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import LINEAGE, METRICS


def _iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(  # type: ignore[union-attr]
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


class Catalog:
    """Warehouse of named stage outputs with config-hash-aware resume."""

    def __init__(
        self,
        spark: SparkSession,
        warehouse: str,
        config_hash: str,
        run_id: str | None = None,
        catalog_name: str = "local",
    ):
        self.spark = spark
        self.warehouse = Path(warehouse)
        self.warehouse.mkdir(parents=True, exist_ok=True)
        self.config_hash = config_hash
        self.run_id = run_id or uuid.uuid4().hex[:12]
        self.catalog_name = catalog_name
        self.iceberg = _iceberg_available(spark)

    def table_ref(self, name: str) -> str:
        return f"{self.catalog_name}.{name}"

    # ---- paths & metadata -------------------------------------------------
    def _path(self, name: str) -> Path:
        return self.warehouse / name

    def _meta_path(self, name: str) -> Path:
        return self.warehouse / f"{name}._meta.json"

    # ---- core IO ----------------------------------------------------------
    def write(self, df: DataFrame, name: str, mode: str = "overwrite") -> None:
        path = str(self._path(name))
        if self.iceberg:  # pragma: no cover - exercised only with the jar
            df.writeTo(self.table_ref(name)).using("iceberg").createOrReplace()
        else:
            df.write.mode(mode).parquet(path)
        meta = {
            "config_hash": self.config_hash,
            "run_id": self.run_id,
            "format": "iceberg" if self.iceberg else "parquet",
        }
        self._meta_path(name).write_text(json.dumps(meta))

    def read(self, name: str) -> DataFrame:
        if self.iceberg:  # pragma: no cover
            return self.spark.read.table(self.table_ref(name))
        return self.spark.read.parquet(str(self._path(name)))

    def exists(self, name: str) -> bool:
        """Stage/table existence — catalog lookup under Iceberg, data probe
        under the parquet fallback. An EMPTY partitioned append leaves a
        directory holding only _SUCCESS (no schema-bearing part-file);
        treating that as existing would make the next read throw
        UNABLE_TO_INFER_SCHEMA and brick a restarting stream, so existence
        requires at least one parquet file (rglob short-circuits on the
        first hit — no full listing on large tables)."""
        if self.iceberg:  # pragma: no cover
            return self.spark.catalog.tableExists(self.table_ref(name))
        path = self._path(name)
        if not path.is_dir():
            return False
        return next(iter(path.rglob("*.parquet")), None) is not None

    def checkpoint(
        self, df: DataFrame, name: str, detectors: tuple[str, ...] = ()
    ) -> DataFrame:
        """Write + read back: commits the stage AND cuts lineage (the
        DataFrame equivalent of the reference finishing a pipeline step).
        The sidecar also records the run's detector set (the pipeline's one
        form: deduped, in table order), which is not part of the config
        hash; it is stamped after the data and the hash, so a crash in
        between leaves a sidecar that ``is_complete`` rejects."""
        self.write(df, name)
        meta = self._read_meta(name)
        meta["detectors"] = list(detectors)
        self._meta_path(name).write_text(json.dumps(meta))
        return self.read(name)

    def _read_meta(self, name: str) -> dict:
        try:
            return json.loads(self._meta_path(name).read_text())
        except (OSError, json.JSONDecodeError):
            return {}

    def is_complete(self, name: str, detectors: tuple[str, ...] = ()) -> bool:
        """Resume check: the stage output was committed under the current
        config AND the same detector set (a changed knob or detector list
        invalidates the stage, like a changed dupes.toml invalidates a prior
        run). A sidecar without a detector set, written by older code or cut
        short by a crash, means recompute."""
        meta = self._read_meta(name)
        return (
            meta.get("config_hash") == self.config_hash
            and meta.get("detectors") == list(detectors)
        )

    def drop(self, name: str) -> None:
        shutil.rmtree(self._path(name), ignore_errors=True)
        self._meta_path(name).unlink(missing_ok=True)

    # ---- lineage & metrics (append-only sinks) -----------------------------
    def _partition_counts_from_footers(self, name: str) -> list[tuple[int, int]] | None:
        """(partition_id, n_rows) per committed part-file, read from parquet
        FOOTERS driver-side — zero Spark jobs. Partition ids are the sorted
        file order of the committed table (what downstream reads see)."""
        import pyarrow.parquet as pq

        path = self._path(name)
        if not path.is_dir():
            return None
        files = sorted(path.glob("*.parquet"))
        if not files:
            return None
        try:
            return [
                (i, pq.ParquetFile(f).metadata.num_rows)
                for i, f in enumerate(files)
            ]
        except Exception:  # pragma: no cover - unreadable footer
            return None

    def record_lineage(
        self,
        df: DataFrame,
        stage: str,
        n_in: int | None = None,
        n_failed: int | None = None,
        error_sample: str | None = None,
    ) -> int:
        """Per-partition row accounting for a stage output (O6 analog: the
        reference's warning channel, lib.rs:50-66, generalized to
        per-partition counts so silently-empty partitions are visible).

        Per-partition n_out comes from the committed parquet footers — NO
        Spark job (the per-stage count job was a dominant fixed cost capping
        strong-scaling efficiency); the Iceberg path falls back to one
        aggregate job. A summary row (partition_id = -1) carries the stage
        totals: n_in (rows consumed from the previous stage, NULL for the
        first), n_failed and error_sample (from the write-time Observation
        over the stage's error column — see Pipeline._stage).
        Returns the summed n_out.
        """
        counts = None if self.iceberg else self._partition_counts_from_footers(stage)
        if counts is None:  # pragma: no cover - iceberg / non-parquet stage
            counts = [
                (int(r["partition_id"]), int(r["n_out"]))
                for r in df.groupBy(
                    F.spark_partition_id().alias("partition_id")
                )
                .agg(F.count(F.lit(1)).alias("n_out"))
                .collect()
            ]
        total = sum(n for _, n in counts)
        rows = [
            (self.run_id, stage, pid, None, n, None, None)
            for pid, n in counts
        ]
        rows.append(
            (
                self.run_id,
                stage,
                -1,
                int(n_in) if n_in is not None else None,
                total,
                int(n_failed) if n_failed is not None else None,
                error_sample,
            )
        )
        self._append_local(rows, "lineage", LINEAGE)
        return total

    def record_metrics(self, stage: str, metrics: dict[str, float]) -> None:
        rows = [
            (self.run_id, stage, self.config_hash, k, float(v))
            for k, v in metrics.items()
        ]
        self._append_local(rows, "metrics", METRICS)

    def read_metrics(self) -> DataFrame:
        # metrics/lineage are driver-side parquet appends in BOTH modes
        # (_append_local) — read them as parquet, not through the catalog
        if not self._path("metrics").exists():
            return self.spark.createDataFrame([], METRICS)
        return self.spark.read.parquet(str(self._path("metrics")))

    def append(
        self, df: DataFrame, name: str, partition_by: list[str] | None = None
    ) -> None:
        """Append-mode commit to a named table (Iceberg append snapshot /
        parquet append) — the streaming state & dup sinks use this.

        partition_by lays the table out hive-partitioned (Iceberg: identity
        partition spec) on the given columns so later reads filtered on them
        prune whole partitions — the streaming state probe depends on it."""
        if self.iceberg:  # pragma: no cover - exercised only with the jar
            if self.spark.catalog.tableExists(self.table_ref(name)):
                df.writeTo(self.table_ref(name)).append()
            else:
                w = df.writeTo(self.table_ref(name)).using("iceberg")
                if partition_by:
                    w = w.partitionedBy(*[F.col(c) for c in partition_by])
                w.create()
        else:
            w = df.write.mode("append")
            if partition_by:
                w = w.partitionBy(*partition_by)
            w.parquet(str(self._path(name)))
        self._write_meta_if_missing(name)

    def _append_local(self, rows: list[tuple], name: str, schema) -> None:
        """Append a handful of rows as one parquet part-file without a Spark
        job. Lineage/metrics rows are per-stage aggregates (bounded by
        partition count, not data size), so writing them driver-side avoids
        two serial Spark jobs per stage — the dominant fixed cost that capped
        strong-scaling efficiency on short stages. spark.read.parquet reads
        the directory identically either way."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        _ARROW = {
            "string": pa.string(),
            "integer": pa.int32(),
            "long": pa.int64(),
            "double": pa.float64(),
        }
        fields = [
            pa.field(f.name, _ARROW[f.dataType.typeName()], nullable=f.nullable)
            for f in schema.fields
        ]
        arrow_schema = pa.schema(fields)
        cols = list(zip(*rows)) if rows else [[] for _ in fields]
        table = pa.Table.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(cols, fields)],
            schema=arrow_schema,
        )
        path = self._path(name)
        path.mkdir(parents=True, exist_ok=True)
        pq.write_table(
            table, path / f"local-{uuid.uuid4().hex}.snappy.parquet",
            compression="snappy",
        )
        self._write_meta_if_missing(name)

    def _write_meta_if_missing(self, name: str) -> None:
        if not self._meta_path(name).exists():
            self._meta_path(name).write_text(
                json.dumps({"config_hash": self.config_hash, "run_id": self.run_id,
                            "format": "parquet"})
            )
