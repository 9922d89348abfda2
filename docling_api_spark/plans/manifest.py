"""Checkpointed partition manifest — the engine's resume + lineage protocol.

Replaces the reference's whole job-status machinery (Celery ``AsyncResult``
state machine, ``service.py:151-204``; Redis result backend,
``celery_config.py:9``) with two small Parquet tables (SURVEY.md §1.4):

- ``manifest(run_id, partition_id, status, attempt)`` — a partition is the
  unit of completion; a run resumes by **broadcast left-anti joining** the
  done partitions (SURVEY.md Table B: joins row);
- ``metrics(run_id, partition_id, docs, bytes_in, bytes_out, n_errors,
  failure_codes map<string,bigint>, wall_ms)`` — per-partition lineage
  (north_rule requirement); ``wall_ms`` sums the rows' per-document
  ``parse_ms``, i.e. conversion time without the per-batch Arrow/pandas
  handling.

Idempotency: results are written with dynamic partition overwrite keyed by
``partition_id``, so recomputing a partition rewrites exactly its directory;
Celery's at-least-once ≈ Spark task retry, and the manifest makes re-runs
exact (SURVEY.md Table A row A15).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..schemas import MANIFEST_SCHEMA


def read_done_partitions(spark: SparkSession, manifest_path: str,
                         run_id: str) -> DataFrame | None:
    """→ DataFrame(partition_id int) of completed partitions, or None."""
    try:
        mf = spark.read.schema(MANIFEST_SCHEMA).parquet(manifest_path)
    except Exception:
        return None
    done = (mf.where((F.col("run_id") == run_id) & (F.col("status") == "done"))
              .select("partition_id").distinct())
    return done


def anti_join_done(pages: DataFrame, done: DataFrame | None) -> DataFrame:
    """Resume filter: drop rows whose partition already completed. The done
    set is tiny (≤ num_partitions rows) → always broadcast; Catalyst turns
    this into a BroadcastHashJoin with no shuffle of the big side."""
    if done is None:
        return pages
    return pages.join(F.broadcast(done), "partition_id", "left_anti")


def append_manifest(spark: SparkSession, manifest_path: str, run_id: str,
                    partition_ids: list[int], attempt: int = 1) -> None:
    rows = [(run_id, int(p), "done", attempt) for p in partition_ids]
    if not rows:
        return
    spark.createDataFrame(rows, schema=MANIFEST_SCHEMA) \
        .coalesce(1).write.mode("append").parquet(manifest_path)


def manifest_status(spark: SparkSession, manifest_path: str,
                    run_id: str, num_partitions: int) -> str:
    """Job-status poll over the manifest — replaces
    ``get_single_document_task_result`` (``service.py:151-173``):
    all partitions done → SUCCESS, some → IN_PROGRESS, none → PENDING.

    ``num_partitions`` is the expected id count: the config's P in salted
    mode (every id 0..P-1 occurs for non-trivial inputs); in file mode
    the input may map to fewer ids (fewer files than the configured
    width) — use :func:`job_status`, which derives the expected count
    from the input, for mode-correct polling."""
    done = read_done_partitions(spark, manifest_path, run_id)
    n = 0 if done is None else done.count()
    if n >= num_partitions:
        return "SUCCESS"
    return "IN_PROGRESS" if n > 0 else "PENDING"


def expected_partition_count(pages: DataFrame, cfg) -> int:
    """The number of partition ids a run over ``pages`` will produce —
    the denominator a status poll must use. In file mode the ids are
    file-name hashes, so an input with fewer files than
    ``cfg.num_partitions`` yields fewer ids than the configured width
    (polling against P would sit at IN_PROGRESS forever — r3 advice fix);
    the count is a column-pruned distinct over the derived key, never a
    scan of the page bytes."""
    from .pipeline import add_partition_id  # local: pipeline imports us
    return (add_partition_id(pages, cfg.num_partitions, cfg.partition_mode)
            .select("partition_id").distinct().count())


def job_status(spark: SparkSession, manifest_path: str, run_id: str,
               pages: DataFrame, cfg) -> str:
    """Mode-correct job-status poll: SUCCESS when every partition id the
    input actually maps to (file OR salted mode) is in the manifest —
    the A17/A18 status machine with the expected set computed from the
    input instead of trusted from the config."""
    return manifest_status(spark, manifest_path, run_id,
                           expected_partition_count(pages, cfg))
