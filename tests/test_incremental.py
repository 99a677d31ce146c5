"""Incremental high-watermark extract: bookmark correctness, no-op
runs, MERGE mode, and the crash-safety contract (a writer dying
between data write and manifest commit must not skip or double-load
rows on the retry)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from python_etl_spark.incremental import incremental_load, last_watermark
from python_etl_spark.sinks.table import WATERMARK_KEY, VersionedTable


def _src(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"),
        (F.col("id") * 10).alias("v"),
        F.col("id").alias("wm"),
    )


def test_incremental_loads_only_new_rows(spark, tmp_path):
    t = VersionedTable(str(tmp_path / "t"))
    r1 = incremental_load(_src(spark, 0, 100), t, "wm")
    assert (r1["version"], r1["rows_loaded"], r1["watermark"]) == (0, 100, 99)
    # second run sees overlapping source; only rows past the bookmark load
    r2 = incremental_load(_src(spark, 0, 150), t, "wm")
    assert (r2["version"], r2["rows_loaded"], r2["watermark"]) == (1, 50, 149)
    got = t.read(spark)
    assert got.count() == 150  # no dupes, no gaps
    assert got.select("k").distinct().count() == 150
    assert last_watermark(t) == 149
    # nothing new -> NO commit (version unchanged, bookmark unchanged)
    r3 = incremental_load(_src(spark, 0, 150), t, "wm")
    assert (r3["version"], r3["rows_loaded"], r3["watermark"]) == (1, 0, 149)
    assert t.latest_version() == 1


def test_incremental_merge_mode_restated_rows(spark, tmp_path):
    """keys=... upgrades append to MERGE: a restated row (same key,
    newer watermark) replaces instead of duplicating."""
    t = VersionedTable(str(tmp_path / "tm"))
    incremental_load(_src(spark, 0, 10), t, "wm", keys=["k"])
    # restate k=5 with a newer watermark and a changed value
    upd = spark.createDataFrame([(5, 999, 100)], "k long, v long, wm long")
    r = incremental_load(upd, t, "wm", keys=["k"])
    assert r["rows_loaded"] == 1 and r["watermark"] == 100
    got = t.read(spark)
    assert got.count() == 10  # merged, not appended
    assert got.where(F.col("k") == 5).first()["v"] == 999


def test_incremental_crash_between_extract_and_commit(spark, tmp_path):
    """Kill the writer AFTER the batch's parquet lands but BEFORE the
    manifest rename. The bookmark must not have advanced; the retry
    must load exactly the same rows once (orphan dir replaced, no
    skip, no double)."""
    t = VersionedTable(str(tmp_path / "tc"))
    incremental_load(_src(spark, 0, 100), t, "wm")

    orig_commit = VersionedTable._commit

    def dying_commit(self, dirs, op, version, meta=None, **kw):
        raise RuntimeError("simulated crash after data write, before commit")

    VersionedTable._commit = dying_commit
    try:
        with pytest.raises(RuntimeError, match="simulated crash"):
            incremental_load(_src(spark, 0, 180), t, "wm")
    finally:
        VersionedTable._commit = orig_commit

    # crash left the table at v0 with the old bookmark; the orphaned
    # commit-00000001 data dir exists on disk but is invisible
    assert t.latest_version() == 0
    assert last_watermark(t) == 99

    # retry: same rows extracted again, orphan replaced wholesale
    r = incremental_load(_src(spark, 0, 180), t, "wm")
    assert (r["version"], r["rows_loaded"], r["watermark"]) == (1, 80, 179)
    got = t.read(spark)
    assert got.count() == 180
    assert got.select("k").distinct().count() == 180  # exactly-once


def test_incremental_date_watermark_roundtrip(spark, tmp_path):
    """A date watermark survives the JSON manifest round-trip and
    filters correctly on the next run (ISO string vs date column)."""
    import datetime

    rows = [(i, datetime.date(1995, 1, 1) + datetime.timedelta(days=i))
            for i in range(20)]
    df = spark.createDataFrame(rows, "k long, d date")
    t = VersionedTable(str(tmp_path / "td"))
    r1 = incremental_load(df.where(F.col("k") < 10), t, "d")
    assert r1["watermark"] == "1995-01-10"
    r2 = incremental_load(df, t, "d")
    assert r2["rows_loaded"] == 10
    assert t.read(spark).count() == 20


def test_pipeline_load_incremental_end_to_end(spark, tmp_path):
    from python_etl_spark.pipeline import Pipeline

    root = str(tmp_path / "pt")
    p1 = (
        Pipeline(spark)
        .extract_df("ev", _src(spark, 0, 50))
        .load_incremental("ev", root, "wm")
    )
    out = p1.run()
    assert out["ev"] == root
    assert p1.incremental_results["ev"]["rows_loaded"] == 50
    p2 = (
        Pipeline(spark)
        .extract_df("ev", _src(spark, 0, 75))
        .load_incremental("ev", root, "wm")
    )
    p2.run()
    assert p2.incremental_results["ev"]["rows_loaded"] == 25
    assert VersionedTable(root).read(spark).count() == 75


def test_incremental_filter_reaches_parquet_scan(spark, tmp_path):
    """The 100 TB property: the bookmark filter must arrive at the
    source as a pushed parquet predicate (PushedFilters on the scan),
    so a nightly run reads only the new tail — never a full-history
    scan followed by a post-filter."""
    src_dir = str(tmp_path / "src")
    _src(spark, 0, 1000).write.parquet(src_dir)
    t = VersionedTable(str(tmp_path / "tp"))
    incremental_load(spark.read.parquet(src_dir), t, "wm")

    from python_etl_spark.incremental import last_watermark

    wm = last_watermark(t)
    batch = spark.read.parquet(src_dir).where(F.col("wm") > F.lit(wm))
    plan = batch._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan
    pushed = plan.split("PushedFilters")[1][:120]
    assert "GreaterThan(wm" in pushed, pushed


def test_incremental_partitioned_layout_prunes(spark, tmp_path):
    """partition_by gives every commit a hive layout (sticky across
    appends/merges), and a snapshot read with a partition predicate
    touches ONLY that partition's files — across ALL commit dirs."""
    t = VersionedTable(str(tmp_path / "tpart"))
    src = _src(spark, 0, 100).withColumn("ds", F.col("k") % 4)
    incremental_load(src, t, "wm", partition_by=["ds"])
    src2 = _src(spark, 0, 160).withColumn("ds", F.col("k") % 4)
    incremental_load(src2, t, "wm")
    assert t.partition_columns() == ["ds"]

    snap = t.read(spark)
    assert snap.count() == 160
    q = snap.where(F.col("ds") == 2)
    assert q.count() == 40
    files = {r.f for r in q.select(F.input_file_name().alias("f")).distinct().collect()}
    assert files and all("ds=2" in f for f in files), files
    # merge keeps the layout
    upd = spark.createDataFrame([(7, 70, 999, 3)], "k long, v long, wm long, ds long")
    t.merge(upd, keys=["k"])
    import os

    d = t._read_manifest()["data_dirs"][0]
    assert any(x.startswith("ds=") for x in os.listdir(d))
    assert t.read(spark).count() == 160


def test_compact_resets_commit_dirs_and_keeps_bookmark(spark, tmp_path):
    """compact() folds N commit dirs into one (single scan again),
    carries the bookmark forward, and a manual meta-less append in
    between must not make the loader forget its bookmark (history
    walk), so the next incremental run stays tail-only."""
    t = VersionedTable(str(tmp_path / "tcp"))
    incremental_load(_src(spark, 0, 50), t, "wm")
    incremental_load(_src(spark, 0, 80), t, "wm")
    # manual append without watermark meta (e.g. a backfill)
    t.append(
        spark.createDataFrame([(1000, 0, 5)], "k long, v long, wm long")
    )
    assert last_watermark(t) == 79  # history walk, not latest-only
    assert len(t._read_manifest()["data_dirs"]) == 3
    t.compact(spark)
    assert len(t._read_manifest()["data_dirs"]) == 1
    assert last_watermark(t) == 79  # carried through the compact
    assert t.read(spark).count() == 81
    # incremental continues tail-only after compaction
    r = incremental_load(_src(spark, 0, 100), t, "wm")
    assert r["rows_loaded"] == 20
    assert t.read(spark).count() == 101


def test_incremental_bookmark_survives_metadata_cleanup(spark, tmp_path):
    """optimize() past 2 * checkpoint_interval manifests checkpoints and
    drops the manifests below the checkpoint (clean_metadata). When the
    bookmark lived only in a dropped manifest (meta-less backfill
    appends came after the last load), it must come from the
    checkpoint: the next run loads exactly the new rows, without a
    FileNotFoundError on a dropped manifest."""
    t = VersionedTable(str(tmp_path / "tck"), checkpoint_interval=2)
    incremental_load(_src(spark, 0, 20), t, "wm")
    incremental_load(_src(spark, 0, 40), t, "wm")
    for i in range(3):  # backfill appends without watermark meta
        t.append(
            spark.createDataFrame([(1000 + i, 0, 5)], "k long, v long, wm long")
        )
    t.optimize(spark)
    assert not os.path.exists(t._manifest_path(0))  # cleaned
    assert last_watermark(t) == 39
    r = incremental_load(_src(spark, 0, 50), t, "wm")
    assert (r["rows_loaded"], r["watermark"]) == (10, 49)
    got = t.read(spark)
    assert got.count() == 53
    assert got.select("k").distinct().count() == 53


def test_bookmark_found_below_checkpoint_without_watermark_key(
    spark, tmp_path
):
    """A checkpoint written before bookmarks were folded has no
    watermark key, so a later checkpoint built on it must not claim to
    know the bookmark: with only meta-less appends in its tail it
    leaves the key out and last_watermark walks the manifests below."""
    import json

    t = VersionedTable(str(tmp_path / "told"), checkpoint_interval=2)
    incremental_load(_src(spark, 0, 20), t, "wm")
    incremental_load(_src(spark, 0, 40), t, "wm")
    row = spark.createDataFrame([(1000, 0, 5)], "k long, v long, wm long")
    t.append(row)  # v2: checkpoint
    with open(t._ckpt_path(2)) as f:
        old = json.load(f)
    del old[WATERMARK_KEY]
    with open(t._ckpt_path(2), "w") as f:
        json.dump(old, f)
    t.append(row)
    t.append(row)  # v4: checkpoint on top of the key-less one
    assert WATERMARK_KEY not in t._latest_checkpoint()
    assert last_watermark(t) == 39


def test_incremental_split_sequence_equals_one_shot(spark, tmp_path):
    """Property: for ANY monotone sequence of source prefixes, chained
    incremental loads produce exactly the one-shot table (no dupes, no
    gaps) — checked over several randomized split sequences."""
    import random

    rng = random.Random(17)
    for trial in range(3):
        cuts = sorted(rng.sample(range(1, 200), rng.randint(1, 5))) + [200]
        t = VersionedTable(str(tmp_path / f"seq{trial}"))
        for c in cuts:
            incremental_load(_src(spark, 0, c), t, "wm")
        got = t.read(spark)
        assert got.count() == 200, cuts
        assert got.select("k").distinct().count() == 200, cuts


def test_append_rejects_schema_drift(spark, tmp_path):
    t = VersionedTable(str(tmp_path / "tsd"))
    incremental_load(_src(spark, 0, 10), t, "wm")
    bad = spark.createDataFrame([(1, 2)], "k long, wrong long")
    import pytest

    with pytest.raises(ValueError, match="schema drift"):
        t.append(bad)


def test_append_schema_evolution_opt_in(spark, tmp_path):
    """allow_evolution=True turns additive drift into lakehouse schema
    evolution: the snapshot read merges footers and pre-evolution rows
    surface the new column as NULL; the default still rejects."""
    t = VersionedTable(str(tmp_path / "tev"))
    incremental_load(_src(spark, 0, 10), t, "wm")
    evolved = _src(spark, 10, 20).withColumn("extra", F.col("k") * 2)
    import pytest

    with pytest.raises(ValueError, match="schema drift"):
        t.append(evolved)
    t.append(evolved, allow_evolution=True)
    got = t.read(spark)
    assert set(got.columns) == {"k", "v", "wm", "extra"}
    assert got.count() == 20
    assert got.where(F.col("extra").isNull()).count() == 10  # old rows
    assert got.where(F.col("extra") == 30).count() == 1  # k=15


def test_read_as_of_time_travel(spark, tmp_path):
    import time

    t = VersionedTable(str(tmp_path / "ttt"))
    incremental_load(_src(spark, 0, 10), t, "wm")
    mid = time.time()
    time.sleep(0.05)
    incremental_load(_src(spark, 0, 30), t, "wm")
    assert t.read_as_of(spark, mid).count() == 10       # v0 snapshot
    assert t.read_as_of(spark, time.time()).count() == 30  # latest
    import pytest

    with pytest.raises(LookupError):
        t.read_as_of(spark, 0.0)  # before the first commit


# ------------------- cross-snapshot (batch) dedup --------------------------


def test_incremental_dedup_two_batches(spark, tmp_path):
    """Batch 2 docs duplicating batch 1 are dropped using ONLY the
    persisted signature store (no text column ever stored, so batch-1
    text is never rescanned); within-batch dups keep-first."""
    from python_etl_spark.operators.incremental import IncrementalDeduper

    d = IncrementalDeduper(str(tmp_path / "sigstore"))
    b1 = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "delta epsilon"), (3, "zeta")],
        "doc_id long, text string",
    )
    a1 = d.accept_batch(b1, "b1")
    assert sorted(r.doc_id for r in a1.collect()) == [1, 2, 3]

    b2 = spark.createDataFrame(
        [
            (10, "ALPHA  beta gamma"),   # normalized dup of doc 1
            (11, "eta theta"),           # new
            (12, "eta theta"),           # within-batch dup of 11
            (13, "zeta"),                # dup of doc 3
        ],
        "doc_id long, text string",
    )
    a2 = d.accept_batch(b2, "b2")
    assert sorted(r.doc_id for r in a2.collect()) == [11]

    store = d.table.read(spark)
    assert store.columns == ["sig", "id", "batch_id"]  # no text stored
    assert store.count() == 4
    assert store.where("batch_id = 'b2'").count() == 1


def test_incremental_dedup_crash_before_append_recovers(spark, tmp_path):
    """Crash between filter and signature-append: the store is
    unchanged, and re-running the batch accepts the same rows and
    appends exactly once."""
    import pytest

    from python_etl_spark.operators.incremental import IncrementalDeduper
    from python_etl_spark.sinks.table import VersionedTable

    d = IncrementalDeduper(str(tmp_path / "sigstore"))
    d.accept_batch(
        spark.createDataFrame([(1, "aa"), (2, "bb")], "doc_id long, text string"),
        "b1",
    )
    v_before = d.table.latest_version()

    b2 = spark.createDataFrame(
        [(10, "aa"), (11, "cc")], "doc_id long, text string"
    )
    orig_append = VersionedTable.append

    def boom(self, *a, **k):
        raise OSError("simulated crash before signature append")

    VersionedTable.append = boom
    try:
        with pytest.raises(OSError, match="simulated crash"):
            d.accept_batch(b2, "b2")
    finally:
        VersionedTable.append = orig_append
    assert d.table.latest_version() == v_before  # nothing half-added

    a2 = d.accept_batch(b2, "b2")  # clean re-run
    assert sorted(r.doc_id for r in a2.collect()) == [11]
    assert d.table.read(spark).where("batch_id = 'b2'").count() == 1


def test_incremental_dedup_rerun_after_append_is_idempotent(spark, tmp_path):
    """Crash AFTER the append (caller lost the output): re-running the
    same batch_id returns the same accepted rows — the batch's own
    stored signatures must not mark it duplicate — and does NOT
    double-append."""
    from python_etl_spark.operators.incremental import IncrementalDeduper

    d = IncrementalDeduper(str(tmp_path / "sigstore"))
    d.accept_batch(
        spark.createDataFrame([(1, "aa")], "doc_id long, text string"), "b1"
    )
    b2 = spark.createDataFrame(
        [(10, "aa"), (11, "cc")], "doc_id long, text string"
    )
    first = sorted(r.doc_id for r in d.accept_batch(b2, "b2").collect())
    v_after = d.table.latest_version()
    rerun = sorted(r.doc_id for r in d.accept_batch(b2, "b2").collect())
    assert first == rerun == [11]
    assert d.table.latest_version() == v_after  # append skipped
    assert d.table.read(spark).where("batch_id = 'b2'").count() == 1


def test_incremental_minhash_near_dup_two_batches(spark, tmp_path):
    """Near-dup cross-snapshot: a batch-2 doc that is a NEAR copy
    (one word changed) of a batch-1 doc shares an LSH band bucket and
    is dropped using only the persisted band store; distinct docs
    survive; within-batch near-dups keep the min id."""
    from python_etl_spark.operators.incremental import (
        IncrementalMinHashDeduper,
    )

    base = " ".join(f"tok{i}" for i in range(30))
    near = base.rsplit(" ", 1)[0] + " CHANGED"
    other = " ".join(f"zz{i}" for i in range(30))

    d = IncrementalMinHashDeduper(str(tmp_path / "bands"))
    b1 = spark.createDataFrame(
        [(1, base), (2, near), (3, other)], "doc_id long, text string"
    )
    a1 = sorted(r.doc_id for r in d.accept_batch(b1, "b1").collect())
    assert a1 == [1, 3]  # 2 near-dups 1 within the batch

    b2 = spark.createDataFrame(
        [
            (10, base.rsplit(" ", 1)[0] + " OTHERWORD"),  # near-dup of 1
            (11, " ".join(f"qq{i}" for i in range(30))),  # new
        ],
        "doc_id long, text string",
    )
    a2 = sorted(r.doc_id for r in d.accept_batch(b2, "b2").collect())
    assert a2 == [11]

    store = d.table.read(spark)
    assert store.columns == ["band", "bucket", "id", "batch_id"]
    assert sorted(r.id for r in store.select("id").distinct().collect()) == [
        1, 3, 11,
    ]
    # kept docs share NO bucket: every (band,bucket) has one owner
    assert (
        store.groupBy("band", "bucket").count().where("count > 1").count()
        == 0
    )


def test_incremental_minhash_rerun_idempotent(spark, tmp_path):
    from python_etl_spark.operators.incremental import (
        IncrementalMinHashDeduper,
    )

    base = " ".join(f"tok{i}" for i in range(30))
    d = IncrementalMinHashDeduper(str(tmp_path / "bands"))
    d.accept_batch(
        spark.createDataFrame([(1, base)], "doc_id long, text string"), "b1"
    )
    b2 = spark.createDataFrame(
        [(10, base + " extra"), (11, " ".join(f"n{i}" for i in range(30)))],
        "doc_id long, text string",
    )
    first = sorted(r.doc_id for r in d.accept_batch(b2, "b2").collect())
    v = d.table.latest_version()
    again = sorted(r.doc_id for r in d.accept_batch(b2, "b2").collect())
    assert first == again == [11]
    assert d.table.latest_version() == v


def test_incremental_store_compacts_after_many_batches(spark, tmp_path):
    """A long-lived signature store must not accrete unbounded commit
    dirs: accept_batch triggers compact_if_needed, so after many
    nightly batches the snapshot unions a bounded number of dirs and
    the dedup behavior is unchanged."""
    from python_etl_spark.operators.incremental import IncrementalDeduper

    d = IncrementalDeduper(str(tmp_path / "sigstore"))
    d.table.checkpoint_interval = 5
    for i in range(20):
        d.accept_batch(
            spark.createDataFrame(
                [(i * 10, f"text number {i}")], "doc_id long, text string"
            ),
            f"b{i}",
        )
    assert len(d.table._read_manifest()["data_dirs"]) <= 17
    store = d.table.read(spark)
    assert store.count() == 20  # every batch's signature survived
    # dedup still correct against the compacted store
    a = d.accept_batch(
        spark.createDataFrame(
            [(999, "text number 3"), (1000, "brand new")],
            "doc_id long, text string",
        ),
        "b_extra",
    )
    assert sorted(r.doc_id for r in a.collect()) == [1000]


def test_incremental_store_concurrent_batches_no_lost_commit(spark, tmp_path):
    """Two threads race accept_batch with DIFFERENT batches: the
    VersionedTable commit race must let both signature appends land
    (loser retries), so no batch's signatures are lost."""
    import threading

    from python_etl_spark.operators.incremental import IncrementalDeduper

    root = str(tmp_path / "sigstore")
    IncrementalDeduper(root).accept_batch(
        spark.createDataFrame([(0, "base text")], "doc_id long, text string"),
        "b0",
    )
    barrier = threading.Barrier(2)
    errs = []

    def work(tag, rows):
        try:
            d = IncrementalDeduper(root)
            d.table.max_retries = 8
            df = spark.createDataFrame(rows, "doc_id long, text string")
            barrier.wait()
            d.accept_batch(df, tag)
        except Exception as e:  # pragma: no cover - failure detail
            errs.append((tag, e))

    t1 = threading.Thread(
        target=work, args=("bA", [(10, "alpha alpha"), (11, "beta")])
    )
    t2 = threading.Thread(
        target=work, args=("bB", [(20, "gamma"), (21, "delta")])
    )
    t1.start(); t2.start(); t1.join(); t2.join()
    assert errs == []
    store = IncrementalDeduper(root).table.read(spark)
    got = {r["batch_id"] for r in store.select("batch_id").distinct().collect()}
    assert got == {"b0", "bA", "bB"}
    assert store.count() == 5  # 1 + 2 + 2 — nothing lost, nothing doubled


# ------------------- changes() incremental read face -----------------------


def test_changes_reads_only_new_commit_dirs(spark, tmp_path):
    """The delta read must OPEN only the files the appends in range
    added — the property that makes a nightly refresh O(night), not
    O(corpus). Proven on inputFiles(), not row counts."""
    t = VersionedTable(str(tmp_path / "ch"))
    t.create(_src(spark, 0, 100))
    t.append(_src(spark, 100, 150))
    t.append(_src(spark, 150, 170))
    v0_files = set(t.read(spark, 0).inputFiles())
    delta = t.changes(spark, 0)  # (v0, latest]
    assert sorted(r["k"] for r in delta.collect()) == list(range(100, 170))
    assert not (set(delta.inputFiles()) & v0_files)
    # single-commit slice
    d2 = t.changes(spark, 1, 2)
    assert sorted(r["k"] for r in d2.collect()) == list(range(150, 170))
    # empty range: same schema, zero rows
    d3 = t.changes(spark, 2, 2)
    assert d3.count() == 0 and d3.columns == t.read(spark).columns


def test_changes_refuses_copy_on_write_range(spark, tmp_path):
    """A merge/compact/delete in the range rewrites dirs, so the
    appended-dirs diff stops meaning "new rows" — the guard must
    raise, and a post-rewrite baseline must work again."""
    t = VersionedTable(str(tmp_path / "cw"))
    t.create(_src(spark, 0, 10))
    t.append(_src(spark, 10, 20))
    t.compact(spark)  # v2
    with pytest.raises(ValueError, match="compact"):
        t.changes(spark, 0)
    # re-baselined at the rewrite: appends after it diff cleanly
    t.append(_src(spark, 20, 25))
    assert sorted(
        r["k"] for r in t.changes(spark, 2).collect()
    ) == list(range(20, 25))


def test_overwrite_replaces_snapshot_keeps_time_travel(spark, tmp_path):
    t = VersionedTable(str(tmp_path / "ow"))
    t.create(_src(spark, 0, 10))
    v = t.overwrite(_src(spark, 50, 55), meta={"source_version": 7})
    assert v == 1
    assert sorted(r["k"] for r in t.read(spark).collect()) == list(
        range(50, 55)
    )
    # the pre-overwrite snapshot is still readable (time travel)
    assert t.read(spark, 0).count() == 10
    assert t.meta()["source_version"] == 7


# ------------------- materialized rollup maintenance -----------------------


def _rollup(tmp_path, name="r"):
    from python_etl_spark.operators.incremental import MaterializedRollup

    return MaterializedRollup(
        str(tmp_path / name),
        keys=["grp"],
        spec={
            "n": ("count", "k"),
            "total": ("sum", "v"),
            "lo": ("min", "v"),
            "hi": ("max", "v"),
        },
    )


def _grp_src(spark, lo, hi):
    return _src(spark, lo, hi).select(
        (F.col("k") % 7).alias("grp"), "k", "v"
    )


def test_rollup_incremental_equals_full_recompute(spark, tmp_path):
    src = VersionedTable(str(tmp_path / "src"))
    roll = _rollup(tmp_path)
    src.create(_grp_src(spark, 0, 100))
    roll.refresh(src, spark)
    src.append(_grp_src(spark, 100, 250))
    roll.refresh(src, spark)
    src.append(_grp_src(spark, 250, 260))
    roll.refresh(src, spark)
    got = {
        r["grp"]: (r["n"], r["total"], r["lo"], r["hi"])
        for r in roll.read(spark).collect()
    }
    want = {
        r["grp"]: (r["n"], r["total"], r["lo"], r["hi"])
        for r in src.read(spark)
        .groupBy("grp")
        .agg(
            F.count("k").alias("n"),
            F.sum("v").alias("total"),
            F.min("v").alias("lo"),
            F.max("v").alias("hi"),
        )
        .collect()
    }
    assert got == want
    assert roll.source_version() == 2


def test_rollup_refresh_is_idempotent_noop_when_current(spark, tmp_path):
    """Replay after a crash that lost the driver but not the commit:
    bookmark >= target -> no new rollup version, state unchanged."""
    src = VersionedTable(str(tmp_path / "src2"))
    roll = _rollup(tmp_path, "r2")
    src.create(_grp_src(spark, 0, 50))
    roll.refresh(src, spark)
    v = roll.table.latest_version()
    assert roll.refresh(src, spark) is None  # replay
    assert roll.table.latest_version() == v  # no phantom commit


def test_rollup_refresh_folds_only_the_delta(spark, tmp_path):
    """The refresh's corpus-side read must touch only the appended
    commit's files — asserted on the changes() frame the refresh
    consumes (same bookmark, same call)."""
    src = VersionedTable(str(tmp_path / "src3"))
    roll = _rollup(tmp_path, "r3")
    src.create(_grp_src(spark, 0, 1000))
    roll.refresh(src, spark)
    src.append(_grp_src(spark, 1000, 1010))
    old_files = set(src.read(spark, 0).inputFiles())
    delta = src.changes(spark, roll.source_version())
    assert not (set(delta.inputFiles()) & old_files)
    assert delta.count() == 10
    roll.refresh(src, spark)
    assert roll.source_version() == 1


def test_rollup_crash_between_source_append_and_refresh(spark, tmp_path):
    """Night N's append lands, the refresh dies before its overwrite:
    rollup state and bookmark are untouched, and the rerun folds the
    night exactly once."""
    src = VersionedTable(str(tmp_path / "src4"))
    roll = _rollup(tmp_path, "r4")
    src.create(_grp_src(spark, 0, 100))
    roll.refresh(src, spark)
    src.append(_grp_src(spark, 100, 200))
    # simulated crash: nothing refreshed. Bookmark still v0.
    assert roll.source_version() == 0
    roll.refresh(src, spark)  # the rerun
    assert roll.source_version() == 1
    total = sum(r["n"] for r in roll.read(spark).collect())
    assert total == 200  # folded once, not twice


def test_rollup_rejects_unmergeable_spec(tmp_path):
    from python_etl_spark.operators.incremental import MaterializedRollup

    with pytest.raises(ValueError, match="avg"):
        MaterializedRollup(
            str(tmp_path / "bad"), ["g"], {"a": ("avg", "v")}
        )


def test_rollup_folds_across_source_delete_via_change_feed(spark, tmp_path):
    """A copy-on-write DELETE in the source no longer forces a
    re-baseline: the refresh folds the row-level change feed (min/max
    spec → affected-key recompute path) and equals the one-shot
    recompute; an OVERWRITE (no row lineage) still requires rebuild."""
    src = VersionedTable(str(tmp_path / "src5"))
    roll = _rollup(tmp_path, "r5")
    src.create(_grp_src(spark, 0, 100))
    roll.refresh(src, spark)
    src.delete_where(F.col("k") >= 50)  # copy-on-write rewrite
    src.append(_grp_src(spark, 100, 110))
    roll.refresh(src, spark)  # folds delete feed + append, no rebuild
    assert roll.source_version() == src.latest_version()
    assert sum(r["n"] for r in roll.read(spark).collect()) == 60
    expect = {
        tuple(r)
        for r in _rollup(tmp_path, "r5_full")
        ._partial(src.read(spark))
        .drop("__rows")
        .collect()
    }
    assert {tuple(r) for r in roll.read(spark).collect()} == expect
    # and incremental refresh works again from the folded state
    src.append(_grp_src(spark, 110, 115))
    roll.refresh(src, spark)
    assert sum(r["n"] for r in roll.read(spark).collect()) == 65
    # overwrite = blind replace, no lineage: feed raises, rebuild heals
    src.overwrite(src.read(spark).where(F.col("k") % 2 == 0))
    with pytest.raises(ValueError, match="re-baseline"):
        roll.refresh(src, spark)
    roll.rebuild(src, spark)
    assert roll.source_version() == src.latest_version()


def test_materialized_topk_incremental_equals_full(spark, tmp_path):
    """The maintained leaderboard equals a one-shot top-k recompute
    after several appends (mergeability of top-k state), replay is a
    no-op, and each refresh read only the new commit's files."""
    from python_etl_spark.operators.incremental import MaterializedTopK

    src = VersionedTable(str(tmp_path / "src"))
    lead = MaterializedTopK(
        str(tmp_path / "lead"), keys=["grp"], order_col="score",
        tiebreak="k", k=3,
    )

    def batch(lo, hi):
        return _src(spark, lo, hi).select(
            (F.col("k") % 4).alias("grp"),
            "k",
            ((F.col("k") * 37) % 101).alias("score"),
        )

    src.create(batch(0, 50))
    lead.refresh(src, spark)
    src.append(batch(50, 180))
    lead.refresh(src, spark)
    src.append(batch(180, 200))
    old_files = set(src.read(spark, 1).inputFiles())
    delta = src.changes(spark, lead.source_version())
    assert not (set(delta.inputFiles()) & old_files)
    lead.refresh(src, spark)

    from pyspark.sql import Window

    w = Window.partitionBy("grp").orderBy(F.desc("score"), F.asc("k"))
    want = (
        src.read(spark)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .drop("rn")
    )
    got = {tuple(r) for r in lead.read(spark).collect()}
    assert got == {tuple(r) for r in want.collect()}
    assert len(got) == 12  # 4 groups x 3
    v = lead.table.latest_version()
    assert lead.refresh(src, spark) is None  # replay no-op
    assert lead.table.latest_version() == v


def test_changes_reads_evolved_appends_with_merged_schema(spark, tmp_path):
    """An additive-evolution append inside the range must surface its
    new column, and pre-evolution delta rows must carry NULL for it
    (the mergeSchema branch of the incremental read)."""
    t = VersionedTable(str(tmp_path / "chev"))
    t.create(_src(spark, 0, 10))
    t.append(_src(spark, 10, 20))  # v1: old schema
    evolved = _src(spark, 20, 25).withColumn("tag", F.lit("new"))
    t.append(evolved, allow_evolution=True)  # v2: +tag
    delta = t.changes(spark, 0)  # (v0, v2]
    assert "tag" in delta.columns
    rows = {r["k"]: r["tag"] for r in delta.collect()}
    assert len(rows) == 15
    assert all(v is None for k, v in rows.items() if k < 20)
    assert all(v == "new" for k, v in rows.items() if k >= 20)


def test_incremental_dedup_string_ids_keep_provenance(spark, tmp_path):
    """URL/hash doc ids (the common corpus key) must land in the
    signature store in their NATIVE type — a silent cast-to-long would
    null the provenance column for every non-numeric id."""
    from python_etl_spark.operators.incremental import (
        IncrementalDeduper,
        IncrementalMinHashDeduper,
    )

    d = IncrementalDeduper(str(tmp_path / "sigstore"))
    b1 = spark.createDataFrame(
        [
            ("https://a.com/x", "alpha beta gamma"),
            ("https://b.com/y", "delta epsilon"),
        ],
        "doc_id string, text string",
    )
    a1 = d.accept_batch(b1, "b1")
    assert a1.count() == 2
    store = d.table.read(spark)
    assert dict(store.dtypes)["id"] == "string"
    ids = {r.id for r in store.collect()}
    assert ids == {"https://a.com/x", "https://b.com/y"}
    assert store.where("id IS NULL").count() == 0

    m = IncrementalMinHashDeduper(str(tmp_path / "bands"))
    mb = spark.createDataFrame(
        [
            ("sha1:aa", "the quick brown fox jumps over the lazy dog"),
            ("sha1:bb", "an entirely different document about spark"),
        ],
        "doc_id string, text string",
    )
    am = m.accept_batch(mb, "b1")
    assert am.count() == 2
    bands = m.table.read(spark)
    assert dict(bands.dtypes)["id"] == "string"
    assert bands.where("id IS NULL").count() == 0
    assert {r.id for r in bands.select("id").distinct().collect()} == {
        "sha1:aa", "sha1:bb",
    }


def test_rollup_folds_merge_commit_reading_only_its_files(spark, tmp_path):
    """THE round-9 contract: a source MERGE commit folds into the
    rollup via the signed change feed — the maintained state equals
    the one-shot recompute, and the delta read opened ONLY the merge
    commit's cdf files (never the corpus). Spec is all sum/count so
    the signed fold path applies."""
    from python_etl_spark.operators.incremental import MaterializedRollup

    src = VersionedTable(str(tmp_path / "src6"))
    roll = MaterializedRollup(
        str(tmp_path / "r6"),
        keys=["grp"],
        spec={"n": ("count", "k"), "total": ("sum", "v")},
    )
    src.create(_grp_src(spark, 0, 100))
    roll.refresh(src, spark)
    base_files = set(src.read(spark, 0).inputFiles())

    # MERGE: bump v for every k % 10 == 0 key, insert three new keys
    upd = _grp_src(spark, 0, 100).where(F.col("k") % 10 == 0).select(
        "grp", "k", (F.col("v") + 1000).alias("v")
    ).unionByName(_grp_src(spark, 200, 203))
    src.merge(upd, ["k"])

    feed = src.row_changes(spark, 0, src.latest_version())
    feed_files = set(feed.inputFiles())
    assert feed_files, "feed must read the cdf files"
    assert not (feed_files & base_files), (
        "the delta read must open only the merge commit's change "
        "files, never the v0 corpus"
    )

    roll.refresh(src, spark)  # folds the merge — no rebuild call
    assert roll.source_version() == src.latest_version()
    got = {tuple(r) for r in roll.read(spark).collect()}
    expect = {
        tuple(r)
        for r in src.read(spark)
        .groupBy("grp")
        .agg(F.count("k").alias("n"), F.sum("v").alias("total"))
        .collect()
    }
    assert got == expect

    # follow-up delete also folds (signed path drops dead keys)
    src.delete_where(F.col("k") >= 90)
    roll.refresh(src, spark)
    got2 = {tuple(r) for r in roll.read(spark).collect()}
    expect2 = {
        tuple(r)
        for r in src.read(spark)
        .groupBy("grp")
        .agg(F.count("k").alias("n"), F.sum("v").alias("total"))
        .collect()
    }
    assert got2 == expect2


def test_rollup_signed_fold_drops_fully_deleted_keys(spark, tmp_path):
    """Deleting EVERY row of a key folds its hidden live-row counter
    to zero and the key vanishes from the rollup, exactly like a
    recompute (the IVM counting algorithm)."""
    from python_etl_spark.operators.incremental import MaterializedRollup

    src = VersionedTable(str(tmp_path / "src7"))
    roll = MaterializedRollup(
        str(tmp_path / "r7"), keys=["grp"],
        spec={"n": ("count", "k"), "total": ("sum", "v")},
    )
    src.create(_grp_src(spark, 0, 70))  # grps 0..6, 10 rows each
    roll.refresh(src, spark)
    assert roll.read(spark).count() == 7
    src.delete_where(F.col("grp") == 3)  # kill one whole key
    roll.refresh(src, spark)
    got = roll.read(spark)
    assert got.count() == 6
    assert got.where("grp = 3").count() == 0


def test_topk_recomputes_only_affected_keys_across_delete(spark, tmp_path):
    """A source delete evicts leaderboard rows folded state can't
    resurrect: the refresh recomputes JUST the touched keys (semi
    join) and equals the one-shot top-k; untouched keys keep state."""
    from python_etl_spark.operators.incremental import MaterializedTopK

    src = VersionedTable(str(tmp_path / "srcT"))
    lead = MaterializedTopK(
        str(tmp_path / "leadT"), keys=["grp"], order_col="score",
        tiebreak="k", k=3,
    )

    def batch(lo, hi):
        return _src(spark, lo, hi).select(
            (F.col("k") % 4).alias("grp"), "k",
            ((F.col("k") * 37) % 101).alias("score"),
        )

    src.create(batch(0, 120))
    lead.refresh(src, spark)
    # delete the current top scorers of grp 0 only
    top0 = [
        r["k"]
        for r in lead.read(spark).where("grp = 0").collect()
    ]
    src.delete_where(F.col("k").isin(top0))
    lead.refresh(src, spark)
    got = {
        (r["grp"], r["k"], r["score"])
        for r in lead.read(spark).collect()
    }
    from pyspark.sql import Window

    w = Window.partitionBy("grp").orderBy(F.desc("score"), F.asc("k"))
    expect = {
        (r["grp"], r["k"], r["score"])
        for r in src.read(spark)
        .withColumn("rn", F.row_number().over(w))
        .where("rn <= 3")
        .collect()
    }
    assert got == expect


def test_rollup_folds_across_compaction_without_rebaseline(spark, tmp_path):
    """compact/compact_bins are row-preserving: the feed skips them
    and the fold continues — no re-baseline for maintenance rewrites."""
    src = VersionedTable(str(tmp_path / "src8"))
    roll = _rollup(tmp_path, "r8")
    src.create(_grp_src(spark, 0, 50))
    roll.refresh(src, spark)
    src.append(_grp_src(spark, 50, 80))
    src.compact(spark)  # rewrite barrier for changes(), NOT for the feed
    src.append(_grp_src(spark, 80, 100))
    roll.refresh(src, spark)
    assert roll.source_version() == src.latest_version()
    assert sum(r["n"] for r in roll.read(spark).collect()) == 100


def test_incremental_store_migrates_legacy_bigint_id(spark, tmp_path):
    """ADVICE r9: a store created before native-typed ids persisted
    `id` as bigint. The first post-upgrade append with STRING ids must
    migrate the store once (id cast to string) instead of poisoning
    the next snapshot read with a long-vs-string conflict — and the
    cross-batch dedup semantics must hold across the migration."""
    from python_etl_spark.operators.incremental import IncrementalDeduper
    from python_etl_spark.sinks.table import VersionedTable

    root = str(tmp_path / "store")
    # legacy store: id persisted as BIGINT (the pre-r9 layout)
    legacy = spark.createDataFrame(
        [("sig-a", 1, "b1"), ("sig-b", 2, "b1")],
        "sig string, id long, batch_id string",
    )
    VersionedTable(root).create(legacy, meta={"batch_id": "b1"})

    d = IncrementalDeduper(root, id_col="url", text_col="text")
    batch = spark.createDataFrame(
        [("u/1", "fresh text one"), ("u/2", "fresh text two")],
        "url string, text string",
    )
    accepted = d.accept_batch(batch, "b2")
    assert {r["url"] for r in accepted.collect()} == {"u/1", "u/2"}
    store = VersionedTable(root).read(spark)
    assert store.schema["id"].dataType.simpleString() == "string"
    # legacy rows survive (ids stringified), new rows appended
    assert store.count() == 4
    # and the migrated store still kills a cross-batch duplicate
    dup = spark.createDataFrame(
        [("u/9", "fresh text one")], "url string, text string"
    )
    assert d.accept_batch(dup, "b3").count() == 0
    # re-running a committed batch stays idempotent post-migration
    again = d.accept_batch(batch, "b2")
    assert {r["url"] for r in again.collect()} == {"u/1", "u/2"}
    assert VersionedTable(root).read(spark).count() == 4


def test_materialized_theta_sketch_exact_merge(spark, tmp_path):
    """KMV mergeability is exact: after interleaved appends +
    refreshes the stored sketch equals the batch-built sketch
    BIT-FOR-BIT; a source delete recomputes only the touched
    audiences and lands on the batch sketch again; replays no-op."""
    from python_etl_spark.operators.incremental import (
        MaterializedThetaSketch,
    )
    from python_etl_spark.sinks.table import VersionedTable

    def batch(df):
        return sorted((r.aud, r.h) for r in sk._sketch(
            sk._hashed(df)
        ).collect())

    src = VersionedTable(str(tmp_path / "src"))
    sk = MaterializedThetaSketch(
        str(tmp_path / "sk"), "seg", "uid", k=16
    )
    src.create(
        spark.range(0, 200).selectExpr(
            "CAST(id % 3 AS STRING) AS seg", "id AS uid"
        )
    )
    assert sk.refresh(src, spark) is not None
    assert sk.refresh(src, spark) is None  # idempotent replay
    # two more appends, folding each
    for lo in (200, 400):
        src.append(
            spark.range(lo, lo + 150).selectExpr(
                "CAST(id % 3 AS STRING) AS seg", "id AS uid"
            )
        )
        assert sk.refresh(src, spark) is not None
    got = sorted((r.aud, r.h) for r in sk.read(spark).collect())
    assert got == batch(src.read(spark))
    # estimates: exact below k is impossible here (saturated); bound
    ests = {r.aud: r.est for r in sk.estimates(spark).collect()}
    for aud, est in ests.items():
        exact = (
            src.read(spark)
            .where(F.col("seg") == aud)
            .select("uid")
            .distinct()
            .count()
        )
        assert abs(est - exact) <= 0.85 * exact  # k=16: loose bound
    # delete some members of one audience: touched-audience recompute
    src.delete_where(
        (F.col("seg") == "1") & (F.col("uid") < 250)
    )
    assert sk.refresh(src, spark) is not None
    got = sorted((r.aud, r.h) for r in sk.read(spark).collect())
    assert got == batch(src.read(spark))
