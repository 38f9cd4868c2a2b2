"""CheckpointManager on the parquet path: lineage read from the written
files, no Spark job after the write, resume, and the tmp-dir and race
safety. Needs no reference fixtures."""

import os

import pyspark.sql.readwriter as readwriter
from pyspark.sql import functions as F

from sherlock_spark.plans import checkpoint
from sherlock_spark.plans.checkpoint import CheckpointManager


def _part_files(path):
    return sorted(name for name in os.listdir(path) if name.startswith("part-"))


def _rows(spark, n=100, parts=4):
    return spark.range(0, n, 1, parts).select(
        "id", (F.col("id") % 7).alias("k")
    )


def test_lineage_counts_come_from_the_written_files(spark, tmp_path):
    manager = CheckpointManager(spark, str(tmp_path))
    out = manager.run_stage("plain", lambda: _rows(spark))
    lineage = manager.lineage("plain")
    files = _part_files(manager.stage_path("plain"))
    assert lineage["storage"] == "parquet"
    assert lineage["n_partitions"] == len(files) == 4
    assert sorted(lineage["partition_rows"]) == files
    assert lineage["n_rows"] == sum(lineage["partition_rows"].values())
    assert lineage["n_rows"] == out.count() == 100

    # dedup over a multi-partition build: the counts are the rows that
    # survived
    out = manager.run_stage(
        "deduped",
        lambda: _rows(spark).unionByName(_rows(spark, 50, 2)).repartition(3, "id"),
        dedup_keys=["id"],
    )
    lineage = manager.lineage("deduped")
    files = _part_files(manager.stage_path("deduped"))
    assert lineage["n_partitions"] == len(files) > 1
    assert lineage["n_rows"] == sum(lineage["partition_rows"].values())
    assert lineage["n_rows"] == out.count() == 100


def test_run_stage_starts_no_job_after_its_write(spark, tmp_path, monkeypatch):
    """Lineage comes from the part-file footers and the returned read
    carries the known schema, so the write is the stage's last job."""
    sc = spark.sparkContext
    write = readwriter.DataFrameWriter.parquet

    def grouped_write(self, *args, **kwargs):
        sc.setJobGroup("ckpt-write", "stage write")
        write(self, *args, **kwargs)
        sc.setJobGroup("ckpt-after-write", "after the stage write")

    monkeypatch.setattr(readwriter.DataFrameWriter, "parquet", grouped_write)
    try:
        out = CheckpointManager(spark, str(tmp_path)).run_stage(
            "s", lambda: _rows(spark).repartition(3, "id"), dedup_keys=["id"]
        )
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(prop, None)
    tracker = sc.statusTracker()
    assert tracker.getJobIdsForGroup("ckpt-write")
    assert tracker.getJobIdsForGroup("ckpt-after-write") == []
    assert out.count() == 100


def test_resume_skips_a_completed_stage(spark, tmp_path):
    CheckpointManager(spark, str(tmp_path)).run_stage("s", lambda: _rows(spark))
    manager = CheckpointManager(spark, str(tmp_path))
    written = os.path.getmtime(manager.stage_path("s"))

    def rebuild():
        raise AssertionError("a completed stage was rebuilt")

    assert manager.run_stage("s", rebuild).count() == 100
    assert os.path.getmtime(manager.stage_path("s")) == written


def test_leftover_tmp_dir_and_partial_table_are_rebuilt(spark, tmp_path):
    manager = CheckpointManager(spark, str(tmp_path))
    path = manager.stage_path("s")
    own_tmp = f"{path}._tmp-{spark.sparkContext.applicationId}"
    other_tmp = f"{path}._tmp-app-crashed"
    for leftover in (own_tmp, other_tmp):
        _rows(spark, 3, 1).write.parquet(leftover)
    # a crashed writer's table: data files but no _SUCCESS
    _rows(spark, 5, 1).write.parquet(path)
    os.remove(os.path.join(path, "_SUCCESS"))

    out = manager.run_stage("s", lambda: _rows(spark))
    assert out.count() == manager.lineage("s")["n_rows"] == 100
    assert not os.path.exists(own_tmp)
    # another application's tmp dir may still be in use: never deleted
    assert os.path.exists(other_tmp)


def test_race_loser_reads_the_winner_table(spark, tmp_path):
    manager = CheckpointManager(spark, str(tmp_path))
    path = manager.stage_path("s")
    winner_files = []

    def build_and_lose():
        # a concurrent writer commits while this one is still building
        _rows(spark, 7, 1).write.parquet(path)
        winner_files.extend(_part_files(path))
        return _rows(spark)

    out = manager.run_stage("s", build_and_lose)
    assert out.count() == manager.lineage("s")["n_rows"] == 7
    assert _part_files(path) == winner_files
    assert not os.path.exists(f"{path}._tmp-{spark.sparkContext.applicationId}")


def test_iceberg_tables_are_named_per_base_dir(spark, tmp_path, monkeypatch):
    """Completion markers live under ``base_dir``, so two runs into
    different directories must not share a stage table."""
    monkeypatch.setattr(checkpoint, "iceberg_catalog", lambda _spark: "ice")
    first = CheckpointManager(spark, str(tmp_path / "run1"))
    second = CheckpointManager(spark, str(tmp_path / "run2"))
    monkeypatch.chdir(tmp_path)
    same_dir = CheckpointManager(spark, "run1")

    table = first.stage_table("triples")
    assert table.startswith("`ice`.`sherlock_ckpt_")
    assert table.endswith(".`triples`")
    assert second.stage_table("triples") != table
    assert same_dir.stage_table("triples") == table
