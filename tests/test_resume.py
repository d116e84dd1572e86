"""Checkpoint/resume (SURVEY.md §5.5; BASELINE.json:14): kill the
rollup job mid-run, re-run, assert no duplicate buckets and a final
table identical to a single-shot run; lineage/metrics recorded."""

import pytest
from pyspark.sql import functions as F

from drought_t_spark import synth
from drought_t_spark.config import EngineConfig
from drought_t_spark.ops import checkpoints as CP
from drought_t_spark.plans.rollup_job import InjectedFailure, run_rollup_job
from drought_t_spark.sources.warehouse import Warehouse

CFG = EngineConfig(salt_buckets=4)


@pytest.fixture(scope="module")
def seqs(spark):
    return synth.sequences_df(spark, n_sources=6, n_total=4000).cache()


def _tier_key(df):
    return df.select("source", "bucket_start", "n_seq", "n_tok_sum")


def test_crash_resume_identical_to_single_shot(spark, seqs, tmp_path):
    wh1 = Warehouse(str(tmp_path / "wh_single"))
    run_rollup_job(spark, wh1, seqs, "job1", CFG, n_groups=3, with_payloads=False)
    single = _tier_key(wh1.read(spark, "agg.tier_hour")).toPandas()

    wh2 = Warehouse(str(tmp_path / "wh_crashed"))
    with pytest.raises(InjectedFailure):
        run_rollup_job(spark, wh2, seqs, "job1", CFG, n_groups=3,
                       fail_after_groups=1, with_payloads=False)
    # partial state: some groups committed, not all
    committed = CP.committed_partitions(spark, wh2, "job1", "hour").count()
    assert 0 < committed < 3

    run_rollup_job(spark, wh2, seqs, "job1", CFG, n_groups=3, with_payloads=False)
    resumed = _tier_key(wh2.read(spark, "agg.tier_hour")).toPandas()

    key = ["source", "bucket_start"]
    a = single.sort_values(key).reset_index(drop=True)
    b = resumed.sort_values(key).reset_index(drop=True)
    assert a.equals(b)
    # no duplicate buckets
    assert resumed.duplicated(subset=key).sum() == 0
    # day/month tiers exist and are consistent
    day = wh2.read(spark, "agg.tier_day")
    assert day.agg(F.sum("n_tok_sum")).first()[0] == b.n_tok_sum.sum()


def test_crash_before_cascade_resumes_with_stage_token(spark, seqs, tmp_path):
    """Crash between the hour tier and the cascade: the resume must
    complete day/month WITHOUT materializing a source listing — the
    cascade checkpoint is the single stage token `{tier}:all`."""
    wh = Warehouse(str(tmp_path / "wh_casc"))
    with pytest.raises(InjectedFailure):
        run_rollup_job(spark, wh, seqs, "jobC", CFG, n_groups=3,
                       fail_before_cascade=True, with_payloads=False)
    assert CP.committed_partitions(spark, wh, "jobC", "hour").count() == 3
    assert CP.committed_partitions(spark, wh, "jobC", "day").count() == 0

    run_rollup_job(spark, wh, seqs, "jobC", CFG, n_groups=3, with_payloads=False)
    for tier in ("day", "month"):
        parts = [r.partition_id for r in
                 CP.committed_partitions(spark, wh, "jobC", tier).collect()]
        assert parts == [f"{tier}:all"]  # stage token, never a source list
    hour_tok = wh.read(spark, "agg.tier_hour").agg(F.sum("n_tok_sum")).first()[0]
    day_tok = wh.read(spark, "agg.tier_day").agg(F.sum("n_tok_sum")).first()[0]
    assert hour_tok == day_tok


def test_resume_skips_committed_work(spark, seqs, tmp_path):
    wh = Warehouse(str(tmp_path / "wh_skip"))
    run_rollup_job(spark, wh, seqs, "jobX", CFG, n_groups=3, with_payloads=False)
    from drought_t_spark.plans.rollup_job import group_expr

    work = seqs.select(
        F.concat(F.lit("3:"), group_expr(3).cast("string")).alias("source")
    ).distinct()
    pend = CP.pending_partitions(spark, wh, "jobX", "hour", work)
    assert pend.count() == 0  # every group committed → nothing pending


def test_lineage_and_metrics_written(spark, seqs, tmp_path):
    wh = Warehouse(str(tmp_path / "wh_ops"))
    run_rollup_job(spark, wh, seqs, "jobL", CFG, n_groups=3, with_payloads=False)
    ln = wh.read(spark, CP.LINEAGE_TBL).toPandas()
    mt = wh.read(spark, CP.METRICS_TBL).toPandas()
    assert (ln.rows_in > 0).all() and (ln.rows_out > 0).all()
    assert ln.stage.isin(["hour", "day", "month"]).all()
    assert {"rolled_points", "tokens"} <= set(mt.name)
    # rolled_points metric sums to the hour-tier row count
    hour_rows = wh.read(spark, "agg.tier_hour").count()
    got = mt[(mt.stage == "hour") & (mt.name == "rolled_points")].value.sum()
    assert int(got) == hour_rows


def test_interleaved_writer_processes_never_repeat_seq(spark, tmp_path, monkeypatch):
    """Two driver processes committing to ONE warehouse must never
    repeat an `updated_seq` value, even though each seeds its in-process
    counter only once: the O_EXCL claim marker (the shim's stand-in for
    the Iceberg catalog's snapshot-id CAS) forces the stale process to
    skip past values the other already claimed. Processes are simulated
    by swapping fresh _SEQ_CACHE dicts."""
    wh = Warehouse(str(tmp_path / "wh_two_writers"))
    cache_p1, cache_p2 = {}, {}

    monkeypatch.setattr(CP, "_SEQ_CACHE", cache_p1)
    CP.record_commit(spark, wh, "jobW", "s", ["p1a"], "0:0", 1, 1)  # P1 -> 1
    monkeypatch.setattr(CP, "_SEQ_CACHE", cache_p2)
    CP.record_commit(spark, wh, "jobW", "s", ["p2a"], "0:0", 1, 1)  # P2 seeds -> 2
    monkeypatch.setattr(CP, "_SEQ_CACHE", cache_p1)
    # P1's stale counter lands on 2 — already claimed by P2 — must skip
    CP.record_commit(spark, wh, "jobW", "s", ["p1b"], "0:0", 1, 1)
    monkeypatch.setattr(CP, "_SEQ_CACHE", cache_p2)
    CP.record_commit(spark, wh, "jobW", "s", ["p2b"], "0:0", 1, 1)

    rows = wh.read(spark, CP.CHECKPOINT_TBL).select(
        "partition_id", "updated_seq"
    ).collect()
    seqs_seen = [r.updated_seq for r in rows]
    assert len(seqs_seen) == len(set(seqs_seen)) == 4
    # and resume still sees every commit
    done = {r.partition_id for r in
            CP.committed_partitions(spark, wh, "jobW", "s").collect()}
    assert done == {"p1a", "p1b", "p2a", "p2b"}


def test_hour_rollup_executes_exactly_once_per_group(spark, seqs, tmp_path, monkeypatch):
    """Hour-tier lineage counts and the snapshot token must come from
    the WRITTEN table, not from re-consuming the `stats` DAG: an
    accumulator spliced into each group's rollup input counts every raw
    row that flows through the salted aggregation — with the old
    stats.agg(...).first() + snapshot_token(stats) shape each group's
    rollup executed three times (~3× raw rows through the accumulator)."""
    from drought_t_spark.operators import rollup as R

    acc = spark.sparkContext.accumulator(0)
    real_rollup = R.rollup_hour

    def counting_rollup(df, *a, **kw):
        def cnt(batches):
            for pdf in batches:
                acc.add(len(pdf))
                yield pdf

        return real_rollup(df.mapInPandas(cnt, df.schema), *a, **kw)

    monkeypatch.setattr(R, "rollup_hour", counting_rollup)
    wh = Warehouse(str(tmp_path / "wh_once_hour"))
    run_rollup_job(spark, wh, seqs, "jobOH", CFG, n_groups=2, with_payloads=False)
    # every raw row passes through the hour aggregation exactly once
    assert acc.value == seqs.count()


def test_cascade_executes_exactly_once_per_tier(spark, seqs, tmp_path, monkeypatch):
    """Lineage counts must come from the written table, not from
    re-executing the cascade DAG: an accumulator spliced into the
    cascade input counts every row that ever FLOWS THROUGH the
    aggregation — with re-execution per metric (the old out.count() +
    snapshot_token(out) shape) it would read ~3× the source rows."""
    from drought_t_spark.operators import rollup as R

    acc = spark.sparkContext.accumulator(0)
    real_cascade = R.cascade

    def counting_cascade(df, tier):
        def cnt(batches):
            for pdf in batches:
                acc.add(len(pdf))
                yield pdf

        return real_cascade(df.mapInPandas(cnt, df.schema), tier)

    monkeypatch.setattr(R, "cascade", counting_cascade)
    wh = Warehouse(str(tmp_path / "wh_once"))
    run_rollup_job(spark, wh, seqs, "jobO", CFG, n_groups=2, with_payloads=False)
    hour_rows = wh.read(spark, "agg.tier_hour").count()
    day_rows = wh.read(spark, "agg.tier_day").count()
    # day cascade reads each hour row once; month cascade each day row once
    assert acc.value == hour_rows + day_rows


def test_hour_lineage_scoped_to_run_sources(spark, seqs, tmp_path):
    """Hour-tier lineage read-back must be scoped to THIS run's sources:
    a second job on the same warehouse seeing only a subset of sources
    (here n_groups=1, so every stale source hashes into its one group)
    must not count the first job's stale partitions in rows_out/metrics."""
    wh = Warehouse(str(tmp_path / "wh_scope"))
    run_rollup_job(spark, wh, seqs, "jobFull", CFG, n_groups=1, with_payloads=False)
    one_src = seqs.select("source").distinct().orderBy("source").first()["source"]
    run_rollup_job(
        spark, wh, seqs.where(F.col("source") == one_src), "jobSub", CFG,
        n_groups=1, with_payloads=False,
    )
    own_rows = (
        wh.read(spark, "agg.tier_hour").where(F.col("source") == one_src).count()
    )
    mt = wh.read(spark, CP.METRICS_TBL).toPandas()
    got = mt[
        (mt.job_id == "jobSub") & (mt.stage == "hour") & (mt.name == "rolled_points")
    ].value.sum()
    assert int(got) == own_rows
    ln = wh.read(spark, CP.LINEAGE_TBL).toPandas()
    sub_out = ln[(ln.job_id == "jobSub") & (ln.stage == "hour")].rows_out.sum()
    assert int(sub_out) == own_rows


def test_seq_markers_garbage_collected(spark, seqs, tmp_path):
    """Claim markers at/below the committed max are GC'd at seed time
    (bounded inode growth), the floor file blocks re-claims in the GC'd
    region, and seq values keep advancing uniquely afterwards."""
    import os

    wh = Warehouse(str(tmp_path / "wh_gc"))
    run_rollup_job(spark, wh, seqs, "jobG", CFG, n_groups=3, with_payloads=False)
    seq_dir = os.path.join(wh.root, "ops", "_seq")
    n_markers_before = len([f for f in os.listdir(seq_dir) if f.isdigit()])
    assert n_markers_before > 0
    committed_max = int(
        wh.read(spark, CP.CHECKPOINT_TBL).agg(F.max("updated_seq")).first()[0]
    )
    # fresh process = empty cache → re-seed triggers GC
    CP._SEQ_CACHE.pop(wh.root, None)
    nxt = CP._next_seq(spark, wh)
    assert nxt == committed_max + 1
    live = [int(f) for f in os.listdir(seq_dir) if f.isdigit()]
    assert live == [nxt]  # everything <= committed max was collected
    assert CP._seq_floor(seq_dir) == committed_max
    # a stale writer whose counter sits inside the GC'd region must
    # re-claim ABOVE the floor even though the markers are gone
    CP._SEQ_CACHE[wh.root] = 0
    assert CP._next_seq(spark, wh) == nxt + 1


def test_seq_floor_monotone_under_stale_gc(tmp_path):
    """Two GCs racing with different committed-max views must never
    LOWER the floor: the retired rewrite-in-place floor file regressed
    here (a GC seeded from a stale table max published its lower value
    after a concurrent GC published a higher one, re-exposing burnt seq
    values 11..20 for duplicate claims). Immutable max-over-marker
    files make the regression structurally impossible."""
    import os

    seq_dir = str(tmp_path / "_seq")
    os.makedirs(seq_dir)
    CP._gc_markers(seq_dir, 10)
    CP._gc_markers(seq_dir, 20)
    assert CP._seq_floor(seq_dir) == 20
    # only the winning marker survives (lower ones are collected)
    assert [f for f in os.listdir(seq_dir) if f.startswith("_floor.")] == [
        "_floor.20"
    ]
    # the stale GC's publish step lands AFTER the winner: under the old
    # scheme this rewrote the floor down to 10; now it only adds a lower
    # marker that the max ignores
    os.close(os.open(os.path.join(seq_dir, "_floor.10"),
                     os.O_CREAT | os.O_EXCL | os.O_WRONLY))
    assert CP._seq_floor(seq_dir) == 20
    # and the next GC sweep collects the straggler
    CP._gc_markers(seq_dir, 0)
    assert CP._seq_floor(seq_dir) == 20
    assert [f for f in os.listdir(seq_dir) if f.startswith("_floor.")] == [
        "_floor.20"
    ]


def test_record_commit_runs_no_spark_job(spark, tmp_path):
    """A commit's ops rows are already on the driver: writing them must
    not launch a Spark job, with or without metrics rows."""
    wh = Warehouse(str(tmp_path / "wh_nojob"))
    sc = spark.sparkContext
    group = "test-record-commit-no-jobs"
    sc.setJobGroup(group, "record_commit")
    try:
        CP.record_commit(spark, wh, "jobN", "s", ["p1", "p2"], "2:7", 3, 2,
                         metrics={"rolled_points": 2.0})
        CP.record_commit(spark, wh, "jobN", "s", ["p3"], "1:5", 1, 1, metrics=None)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    done = {r.partition_id for r in
            CP.committed_partitions(spark, wh, "jobN", "s").collect()}
    assert done == {"p1", "p2", "p3"}


def test_ops_tables_round_trip_schema_and_values(spark, tmp_path):
    """Driver-written ops files read back through Spark with the declared
    column names and types, a null `input_snapshot` and exact int64s."""
    from drought_t_spark.schemas import CHECKPOINTS, LINEAGE, METRICS

    wh = Warehouse(str(tmp_path / "wh_roundtrip"))
    big = 2**62 + 3  # not representable as a float64
    CP.record_commit(spark, wh, "jobR", "hour", ["g:1", "g:0"], "9:11", big, big - 1,
                     metrics={"rolled_points": 5.0, "tokens": 0.25})
    for tbl, schema in ((CP.CHECKPOINT_TBL, CHECKPOINTS), (CP.LINEAGE_TBL, LINEAGE),
                        (CP.METRICS_TBL, METRICS)):
        got = wh.read(spark, tbl).schema
        assert [(f.name, f.dataType) for f in got.fields] == [
            (f.name, f.dataType) for f in schema.fields
        ]
    (ln,) = wh.read(spark, CP.LINEAGE_TBL).collect()
    assert ln.input_snapshot is None
    assert (ln.rows_in, ln.rows_out) == (big, big - 1)
    assert (ln.partition_id, ln.output_snapshot) == ("g:0,g:1", "9:11")
    cp = wh.read(spark, CP.CHECKPOINT_TBL).collect()
    assert sorted(r.partition_id for r in cp) == ["g:0", "g:1"]
    assert {(r.state, r.snapshot_id, r.updated_seq) for r in cp} == {
        ("committed", "9:11", 1)
    }
    mt = {r.name: r.value for r in wh.read(spark, CP.METRICS_TBL).collect()}
    assert mt == {"rolled_points": 5.0, "tokens": 0.25}


def test_ops_table_with_spark_written_append_still_resumes(spark, tmp_path):
    """A warehouse whose checkpoints were appended by Spark keeps all of
    those rows once driver-written commits land beside them."""
    from drought_t_spark.schemas import CHECKPOINTS

    wh = Warehouse(str(tmp_path / "wh_mixed"))
    old = [("jobM", "hour", "3:0", "committed", "4:1", 7),
           ("jobM", "hour", "3:1", "committed", "5:2", 7)]
    spark.createDataFrame(old, CHECKPOINTS).write.mode("append").parquet(
        wh.path(CP.CHECKPOINT_TBL)
    )
    CP._SEQ_CACHE.pop(wh.root, None)  # a new process on an existing warehouse
    CP.record_commit(spark, wh, "jobM", "hour", ["3:2"], "6:3", 6, 6)
    CP.record_commit(spark, wh, "jobM", "day", ["day:all"], "2:4", 6, 2)
    rows = wh.read(spark, CP.CHECKPOINT_TBL).collect()
    assert sorted((r.stage, r.partition_id, r.updated_seq) for r in rows) == [
        ("day", "day:all", 9), ("hour", "3:0", 7), ("hour", "3:1", 7),
        ("hour", "3:2", 8),
    ]
    done = {r.partition_id for r in
            CP.committed_partitions(spark, wh, "jobM", "hour").collect()}
    assert done == {"3:0", "3:1", "3:2"}
    work = spark.createDataFrame([("3:0",), ("3:1",), ("3:2",), ("3:3",)], "source string")
    pend = CP.pending_partitions(spark, wh, "jobM", "hour", work)
    assert [r.source for r in pend.collect()] == ["3:3"]


def test_leftover_temp_file_is_ignored(spark, tmp_path):
    """A commit that died between the pyarrow write and the rename leaves
    a hidden temp file; no reader may see its rows."""
    import os

    wh = Warehouse(str(tmp_path / "wh_leftover"))
    CP.record_commit(spark, wh, "jobT", "hour", ["a"], "1:1", 1, 1)
    d = wh.path(CP.CHECKPOINT_TBL)
    (live,) = [f for f in os.listdir(d) if f.endswith(".parquet")]
    # a complete parquet file under the temp name: the worst case
    with open(os.path.join(d, live), "rb") as src, \
            open(os.path.join(d, ".part-crashed.tmp"), "wb") as dst:
        dst.write(src.read())
    assert wh.read(spark, CP.CHECKPOINT_TBL).count() == 1
    assert CP.committed_partitions(spark, wh, "jobT", "hour").count() == 1


def test_commit_with_no_partitions_writes_no_checkpoint_rows(spark, tmp_path):
    """Stream callers build `partition_ids` from their batch keys, which
    can be empty: the commit still records lineage and does not raise."""
    wh = Warehouse(str(tmp_path / "wh_empty"))
    CP.record_commit(spark, wh, "jobE", "stream_compact", [], "0:0", 0, 0,
                     metrics={"folded_batches": 0.0})
    assert not wh.exists(CP.CHECKPOINT_TBL)
    assert CP.committed_partitions(spark, wh, "jobE", "stream_compact").count() == 0
    (ln,) = wh.read(spark, CP.LINEAGE_TBL).collect()
    assert (ln.partition_id, ln.rows_in, ln.rows_out) == ("", 0, 0)
    CP.record_commit(spark, wh, "jobE", "stream_compact", ["batch:1"], "1:1", 1, 1)
    assert wh.read(spark, CP.CHECKPOINT_TBL).count() == 1
