"""Checkpoint / lineage / metrics — resumable stages (BASELINE.json:14;
SURVEY.md §2 SK1/SK2/J5, §4 checkpoint row).

Model: a stage processes PARTITION GROUPS (sets of sources). After each
group's sink write commits, one checkpoint row per partition plus a
lineage row and metrics rows are appended to the ops tables. The
driver already holds those few rows, so each table gets them as one
driver-written parquet file (`Warehouse.append_rows`: pyarrow, no
Spark job), atomic by rename from a hidden temp name — a reader sees
a commit's rows in a table all at once or not at all. On restart,
`pending_partitions` anti-joins (J5) the stage's work list against
committed checkpoints — only unfinished groups re-run, and the
sink's per-partition overwrite makes re-runs idempotent (no duplicate
buckets even if a crash hit mid-write).

Determinism: `updated_seq` is a counter, never wall-clock — seeded ONCE
per warehouse from the existing table (max+1) and advanced in-process
afterwards, so commit cost is independent of ops-table size (the old
per-commit max-scan was O(table) and got slower as the ops tables
grew). Cross-process UNIQUENESS is enforced by an O_EXCL claim marker
per value (`ops/_seq/<n>` — atomic create on POSIX): a process whose
in-process counter lands on a value another writer already claimed
skips forward until its create succeeds. This is the parquet-shim
analogue of what the Iceberg catalog does natively — CAS on the next
snapshot id — and costs O(1) amortized per commit (one create; skips
only when writers actually interleaved). Scope stays honest: seq
TOTALLY ORDERS commits within one process and NEVER REPEATS across
processes, but interleaved writers' values are claim-race order, not
wall-clock order. Nothing in resume depends on seq either way —
`pending_partitions` anti-joins on (job_id, stage, partition_id,
state) — and the production Iceberg runtime replaces the column with
catalog snapshot ids (docs/ICEBERG.md).

Marker lifecycle: claim markers are garbage-collected at seed time so
long-lived warehouses don't accumulate one inode per commit forever.
GC publishes a floor BEFORE deleting markers at or below it, and every
successful O_EXCL claim re-checks the floor afterwards — a stale
process whose counter lands inside a GC'd region sees floor >= n and
re-claims above it, so uniqueness survives concurrent GC. The floor is
MONOTONE by construction: it is the max over immutable O_EXCL-created
marker files (`ops/_seq/_floor.<n>`), and a lower `_floor.<k>` is only
deleted while a strictly higher one exists — a mutable single file
(tmp+rename, the first implementation) could REGRESS when a process
seeding from a stale table max published its lower floor after a
concurrent GC published a higher one, letting a later claim reuse an
already-committed seq from the cleared region. O_EXCL atomicity is a
POSIX-local-filesystem guarantee: the marker scheme is scoped to the
local-parquet shim; on object stores / real clusters the Iceberg
catalog's snapshot CAS replaces it outright.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from drought_t_spark.schemas import CHECKPOINTS, LINEAGE, METRICS
from drought_t_spark.sources.warehouse import Warehouse

CHECKPOINT_TBL = "ops.checkpoints"
LINEAGE_TBL = "ops.lineage"
METRICS_TBL = "ops.metrics"

#: per-warehouse monotone seq, seeded lazily from the table (see module doc)
_SEQ_CACHE: dict[str, int] = {}


def _seq_floor(seq_dir: str) -> int:
    """Highest GC'd seq value (no marker at or below it may be claimed):
    the max over the immutable `_floor.<n>` marker files. Monotone —
    see the module docstring's marker-lifecycle paragraph."""
    import os

    best = 0
    try:
        names = os.listdir(seq_dir)
    except FileNotFoundError:
        return 0
    for name in names:
        if name.startswith("_floor."):
            try:
                best = max(best, int(name[7:]))
            except ValueError:
                pass  # stray tmp file from the retired mutable scheme
    return best


def _gc_markers(seq_dir: str, committed_max: int) -> None:
    """Delete claim markers at/below the committed max — AFTER publishing
    that value as a floor marker, so a stale writer whose counter lands
    in the cleared region re-claims above it (see module doc).

    The floor is published as an immutable O_EXCL file `_floor.<n>`,
    never a rewritten single file: max-over-files cannot regress when
    two GCs race with different committed_max views (the loser's lower
    marker coexists below the winner's), whereas rewrite-in-place let
    the stale GC LOWER the floor and re-expose burnt seq values. Lower
    floor markers are deleted only here, while this process's >= floor
    marker exists, which preserves the monotone max."""
    import os

    floor = max(committed_max, _seq_floor(seq_dir))
    if floor <= 0:
        return
    try:
        os.close(os.open(os.path.join(seq_dir, f"_floor.{floor}"),
                         os.O_CREAT | os.O_EXCL | os.O_WRONLY))
    except FileExistsError:
        pass  # same floor already published — fine, it's immutable
    for name in os.listdir(seq_dir):
        doomed = (name.isdigit() and int(name) <= floor) or (
            name.startswith("_floor.")
            and name[7:].isdigit() and int(name[7:]) < floor
        )
        if doomed:
            try:
                os.unlink(os.path.join(seq_dir, name))
            except FileNotFoundError:
                pass  # concurrent GC got it


def _next_seq(spark: SparkSession, wh: Warehouse) -> int:
    import os

    seq_dir = os.path.join(wh.root, "ops", "_seq")
    os.makedirs(seq_dir, exist_ok=True)
    key = wh.root
    if key not in _SEQ_CACHE:
        if not wh.exists(CHECKPOINT_TBL):
            _SEQ_CACHE[key] = 0
        else:
            row = wh.read(spark, CHECKPOINT_TBL).agg(F.max("updated_seq")).first()
            _SEQ_CACHE[key] = int(row[0] or 0)
            # seed time = GC time: every value <= committed max is either
            # durably in the table or burned by a crash; clearing them here
            # bounds marker growth to one inode per commit per SESSION, not
            # per warehouse lifetime.
            _gc_markers(seq_dir, _SEQ_CACHE[key])
    n = max(_SEQ_CACHE[key], _seq_floor(seq_dir)) + 1
    # claim the value with an atomic O_EXCL create — a concurrent writer
    # that already claimed n (its commit may not be visible in the table
    # yet) forces a skip, so two processes can interleave commits on one
    # warehouse without ever repeating a seq. A crash between claim and
    # append just burns the value (markers are claims, not commits).
    while True:
        try:
            os.close(os.open(os.path.join(seq_dir, str(n)),
                             os.O_CREAT | os.O_EXCL | os.O_WRONLY))
        except FileExistsError:
            n += 1
            continue
        # a create that succeeded INSIDE a concurrently-GC'd region is not
        # a valid claim (the marker that would have blocked it was deleted
        # after the floor advanced past n) — re-read the floor and go above.
        floor = _seq_floor(seq_dir)
        if n <= floor:
            n = floor + 1
            continue
        break
    _SEQ_CACHE[key] = n
    return n


def committed_partitions(spark: SparkSession, wh: Warehouse, job_id: str, stage: str) -> DataFrame:
    if not wh.exists(CHECKPOINT_TBL):
        return spark.createDataFrame([], "partition_id string")
    cp = wh.read(spark, CHECKPOINT_TBL)
    return (
        cp.where((F.col("job_id") == job_id) & (F.col("stage") == stage)
                 & (F.col("state") == "committed"))
        .select("partition_id")
        .distinct()
    )


def pending_partitions(spark: SparkSession, wh: Warehouse, job_id: str, stage: str,
                       work: DataFrame, key: str = "source") -> DataFrame:
    """J5 — work items with no committed checkpoint."""
    done = committed_partitions(spark, wh, job_id, stage)
    return work.join(
        done.withColumnRenamed("partition_id", key), [key], "left_anti"
    )


def record_commit(
    spark: SparkSession,
    wh: Warehouse,
    job_id: str,
    stage: str,
    partition_ids: list[str],
    snapshot_id: str,
    rows_in: int,
    rows_out: int,
    metrics: dict[str, float] | None = None,
) -> None:
    seq = _next_seq(spark, wh)
    wh.append_rows(
        [(job_id, stage, p, "committed", snapshot_id, seq) for p in partition_ids],
        CHECKPOINTS, CHECKPOINT_TBL,
    )
    wh.append_rows(
        [(job_id, stage, None, snapshot_id, ",".join(sorted(partition_ids)),
          rows_in, rows_out)],
        LINEAGE, LINEAGE_TBL,
    )
    if metrics:
        wh.append_rows(
            [(job_id, stage, k, float(v)) for k, v in metrics.items()],
            METRICS, METRICS_TBL,
        )
