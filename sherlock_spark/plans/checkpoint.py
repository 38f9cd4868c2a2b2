"""Stage checkpointing with per-file lineage and idempotent resume.

The reference caches converted features to disk keyed by (split, model,
max_len) and reuses them on restart
(``run_binary_relation_clf.py:390-426``); the pipeline analogue
materializes every stage output to a table and skips completed stages on
rerun. ``CheckpointManager`` is the package's only durable stage
materializer: ``run_kg_pipeline`` uses it, and so does ``udfcache.stage``
when ``SHERLOCK_STAGE_DIR`` is set.

Storage: Iceberg WHEN a catalog is configured and its runtime jar is on
the classpath (``iceberg_catalog`` auto-detects; stage tables become
``<catalog>.<namespace>.<stage>`` with ``MERGE INTO`` idempotent
upserts, one namespace per ``base_dir``); parquet under ``base_dir``
otherwise. A parquet stage is written to a tmp dir owned by this
application and renamed into place.

A stage is complete once its JSON lineage record exists under
``base_dir/_lineage``. Its ``partition_rows`` maps each data file the
parquet write committed to its row count, read from the file footers on
the driver, so the write is the stage's last Spark job (on Iceberg: the
table's read-back partitions). Key-based dedup on write means a stage
killed mid-write and rerun produces no duplicates.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import time
from typing import Callable, Optional

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def iceberg_catalog(spark: SparkSession) -> Optional[str]:
    """Name of a usable Iceberg catalog, or None.

    A catalog is usable when (1) some ``spark.sql.catalog.<name>`` conf
    points at an Iceberg catalog implementation AND (2) that class is
    actually loadable (a configured catalog without the runtime jar
    would fail at first use, so detection verifies the classpath, not
    just the conf). On this sandbox there is no Iceberg jar, so the
    checkpoint manager always takes the parquet path; on a real cluster
    with ``--packages org.apache.iceberg:iceberg-spark-runtime-...``
    the SAME job routes stages through Iceberg with zero code change.
    """
    for row in spark.sql("SET").collect():
        match = re.fullmatch(r"spark\.sql\.catalog\.([^.]+)", row["key"])
        if match and "iceberg" in str(row["value"]).lower():
            try:
                spark._jvm.java.lang.Class.forName(str(row["value"]))
            except Exception:
                continue  # configured but jar absent: not usable
            return match.group(1)
    return None


def parquet_file_rows(path: str) -> dict[str, int]:
    """Row count of every data file in the parquet table dir ``path``,
    read from the file footers (Spark's own listing skips ``_``/``.``
    names: ``_SUCCESS`` and checksum files)."""
    return {
        name: pq.read_metadata(os.path.join(path, name)).num_rows
        for name in sorted(os.listdir(path))
        if not name.startswith(("_", "."))
    }


class CheckpointManager:
    def __init__(self, spark: SparkSession, base_dir: str) -> None:
        """Stage tables go through the Iceberg catalog ``iceberg_catalog``
        detects, or to parquet under ``base_dir`` when none is usable.
        Lineage records stay on the local path on both storage paths
        (they are driver-side bookkeeping)."""
        self.spark = spark
        self.base_dir = base_dir
        self.catalog = iceberg_catalog(spark)
        # the completion markers live under base_dir, so the tables must
        # be as distinct as the directories
        digest = hashlib.md5(os.path.abspath(base_dir).encode()).hexdigest()
        self.namespace = f"sherlock_ckpt_{digest[:16]}"
        self.lineage_dir = os.path.join(base_dir, "_lineage")
        os.makedirs(self.lineage_dir, exist_ok=True)

    # -- paths ----------------------------------------------------------

    def stage_path(self, stage: str) -> str:
        return os.path.join(self.base_dir, stage)

    def stage_table(self, stage: str) -> str:
        # quoted: stage names are directory-safe, not SQL identifiers
        return f"`{self.catalog}`.`{self.namespace}`.`{stage}`"

    def _lineage_path(self, stage: str) -> str:
        return os.path.join(self.lineage_dir, f"{stage}.json")

    def is_complete(self, stage: str) -> bool:
        return os.path.exists(self._lineage_path(stage))

    # -- stage execution ------------------------------------------------

    def run_stage(
        self,
        stage: str,
        build: Callable[[], DataFrame],
        dedup_keys: Optional[list[str]] = None,
    ) -> DataFrame:
        """Run ``build`` unless the stage already completed; write it in
        the partitioning it arrives with and record its lineage. Killed
        mid-write -> no lineage record -> the rerun builds it again.
        """
        if self.is_complete(stage):
            return self.read_stage(stage)

        started = time.time()
        df = build()
        if dedup_keys:
            df = df.dropDuplicates(dedup_keys)

        if self.catalog is not None:
            partition_rows = self._write_iceberg(stage, df, dedup_keys)
        else:
            partition_rows = self._write_parquet(stage, df)
        self._record(stage, partition_rows, dedup_keys, started)
        if self.catalog is not None:
            return self.read_stage(stage)
        # the schema is known, so the read infers nothing (no Spark job)
        return self.spark.read.schema(df.schema).parquet(self.stage_path(stage))

    def _write_parquet(self, stage: str, df: DataFrame) -> dict[str, int]:
        """Write to an application-owned tmp dir and rename it into
        place; returns the committed table's per-file row counts."""
        path = self.stage_path(stage)
        if os.path.exists(path) and not os.path.exists(
            os.path.join(path, "_SUCCESS")
        ):
            # a crashed writer left a partial table; rebuild it
            shutil.rmtree(path, ignore_errors=True)
        tmp = f"{path}._tmp-{self.spark.sparkContext.applicationId}"
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            df.write.mode("overwrite").parquet(tmp)
        except Exception:
            shutil.rmtree(tmp, ignore_errors=True)
            raise
        try:
            os.rename(tmp, path)
        except OSError:
            # lost the race to a concurrent writer; use its table
            shutil.rmtree(tmp, ignore_errors=True)
        return parquet_file_rows(path)

    def _write_iceberg(
        self, stage: str, df: DataFrame, dedup_keys: Optional[list[str]]
    ) -> dict[str, int]:
        """Iceberg stage write: ``MERGE INTO`` idempotent upsert.

        A stage killed mid-write leaves either no new snapshot (Iceberg
        commits are atomic) or a committed one; the rerun's MERGE
        inserts only rows whose keys are absent, so partial progress is
        kept and never duplicated — the real-runtime version of the
        parquet path's tmp-dir + rename. Without dedup keys the table
        is replaced atomically instead (no key to merge on). Returns the
        table's per-partition row counts.
        """
        table = self.stage_table(stage)
        self.spark.sql(
            f"CREATE NAMESPACE IF NOT EXISTS `{self.catalog}`.`{self.namespace}`"
        )
        if dedup_keys and self.spark.catalog.tableExists(table):
            # drop the view even when the MERGE fails (a leaked
            # session-global temp view would shadow the next attempt's
            # data)
            view = "_updates_" + re.sub(r"\W", "_", stage)
            df.createOrReplaceTempView(view)
            try:
                on = " AND ".join(
                    f"t.{key} <=> s.{key}" for key in dedup_keys
                )
                self.spark.sql(
                    f"MERGE INTO {table} t USING {view} s ON {on} "
                    f"WHEN NOT MATCHED THEN INSERT *"
                )
            finally:
                self.spark.catalog.dropTempView(view)
        else:
            df.writeTo(table).using("iceberg").createOrReplace()

        counts = (
            self.spark.read.table(table)
            .groupBy(F.spark_partition_id().alias("partition_id"))
            .count()
            .collect()
        )
        return {str(row["partition_id"]): int(row["count"]) for row in counts}

    def _record(
        self,
        stage: str,
        partition_rows: dict[str, int],
        dedup_keys: Optional[list[str]],
        started: float,
    ) -> None:
        """Write the stage's lineage record — the completion marker —
        atomically (tmp file + rename)."""
        lineage = {"stage": stage, "storage": "parquet"}
        if self.catalog is not None:
            lineage["storage"] = "iceberg"
            lineage["table"] = self.stage_table(stage)
        lineage.update(
            n_rows=sum(partition_rows.values()),
            n_partitions=len(partition_rows),
            partition_rows=partition_rows,
            dedup_keys=dedup_keys,
            wall_seconds=round(time.time() - started, 3),
        )
        tmp_lineage = self._lineage_path(stage) + ".tmp"
        with open(tmp_lineage, "w") as handle:
            json.dump(lineage, handle, indent=2)
        os.rename(tmp_lineage, self._lineage_path(stage))

    def read_stage(self, stage: str) -> DataFrame:
        # read the storage and table the stage was WRITTEN with (its
        # lineage record), not the currently detected mode: a parquet
        # checkpoint must stay resumable after the job gains an Iceberg
        # runtime (and vice versa)
        record = self.lineage(stage) if self.is_complete(stage) else {}
        detected = "iceberg" if self.catalog is not None else "parquet"
        if record.get("storage", detected) == "iceberg":
            return self.spark.read.table(record.get("table", self.stage_table(stage)))
        return self.spark.read.parquet(self.stage_path(stage))

    def lineage(self, stage: str) -> dict:
        with open(self._lineage_path(stage)) as handle:
            return json.load(handle)

    def all_lineage(self) -> list[dict]:
        records = []
        for name in sorted(os.listdir(self.lineage_dir)):
            if name.endswith(".json"):
                with open(os.path.join(self.lineage_dir, name)) as handle:
                    records.append(json.load(handle))
        return records

    def invalidate(self, stage: str) -> None:
        if os.path.exists(self._lineage_path(stage)):
            os.remove(self._lineage_path(stage))
        if self.catalog is not None:
            self.spark.sql(
                f"DROP TABLE IF EXISTS {self.stage_table(stage)}"
            )
        path = self.stage_path(stage)
        if os.path.exists(path):
            shutil.rmtree(path)
