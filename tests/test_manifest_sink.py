"""Write-audit-publish manifest sink: commit atomicity, idempotent
re-runs, audit aborts, time travel, and orphan-file invisibility."""

from __future__ import annotations

import os

import pytest

from tinymapreduce_spark.sources.manifest_sink import AuditError, ManifestTable


@pytest.fixture
def table(tmp_path):
    return ManifestTable(str(tmp_path / "t"))


def _df(spark, lo, hi):
    return spark.range(lo, hi).selectExpr("id", "id * 2 AS v")


def test_publish_and_read(spark, table):
    v = table.publish(_df(spark, 0, 100), snapshot_id="s1")
    assert v == 1 and table.current_version() == 1
    got = sorted(r.id for r in table.read(spark).collect())
    assert got == list(range(100))


def test_idempotent_rerun_same_snapshot_id(spark, table):
    v1 = table.publish(_df(spark, 0, 50), snapshot_id="job-2026-08-14")
    v2 = table.publish(_df(spark, 0, 50), snapshot_id="job-2026-08-14")
    assert v1 == v2 == 1
    assert len(table.history()) == 1
    assert table.read(spark).count() == 50


def test_audit_failure_leaves_readers_untouched(spark, table):
    table.publish(_df(spark, 0, 10), snapshot_id="good")
    with pytest.raises(AuditError):
        table.publish(
            _df(spark, 0, 10),
            snapshot_id="bad",
            audit=lambda d: "too many nulls" if d.count() else "too many nulls",
        )
    # pointer still on v1; staged files for the failed snapshot removed
    assert table.current_version() == 1
    assert not [d for d in os.listdir(table.data_dir) if "snap-bad" in d]
    assert table.read(spark).count() == 10


def test_versioning_and_time_travel(spark, table):
    table.publish(_df(spark, 0, 10), snapshot_id="a")
    table.publish(_df(spark, 0, 25), snapshot_id="b")
    assert table.current_version() == 2
    assert table.read(spark).count() == 25
    assert table.read(spark, version=1).count() == 10
    assert [s.snapshot_id for s in table.history()] == ["a", "b"]


def test_concurrent_publishes_serialize(spark, table):
    """Concurrent writers must serialize through the commit lock:
    N threads publishing distinct snapshots produce versions 1..N with
    no version collisions, every snapshot readable; and two threads
    racing the SAME snapshot_id commit it exactly once."""
    from concurrent.futures import ThreadPoolExecutor

    dfs = {f"s{i}": _df(spark, i * 100, i * 100 + 10) for i in range(4)}
    with ThreadPoolExecutor(max_workers=4) as ex:
        versions = list(
            ex.map(lambda kv: table.publish(kv[1], snapshot_id=kv[0]), dfs.items())
        )
    assert sorted(versions) == [1, 2, 3, 4]
    assert {s.snapshot_id for s in table.history()} == set(dfs)
    for v in versions:
        assert table.read(spark, version=v).count() == 10

    with ThreadPoolExecutor(max_workers=2) as ex:
        same = list(
            ex.map(
                lambda _: table.publish(_df(spark, 0, 7), snapshot_id="dup-race"),
                range(2),
            )
        )
    assert same[0] == same[1]
    assert [s.snapshot_id for s in table.history()].count("dup-race") == 1


def test_expire_and_vacuum(spark, table):
    """Lifecycle: expiring old snapshots removes their manifests (reads
    fail), vacuum reclaims only directories no kept manifest references,
    and the kept versions stay byte-identical readable."""
    for i, sid in enumerate(["a", "b", "c"], start=1):
        table.publish(_df(spark, 0, i * 10), snapshot_id=sid)
    # an orphan from a crashed writer, never published
    orphan = os.path.join(table.data_dir, "snap-crash-ffff")
    _df(spark, 0, 5).write.parquet(orphan)

    expired = table.expire_snapshots(keep_last=2)
    assert expired == [1]
    with pytest.raises(FileNotFoundError):
        table.read(spark, version=1)
    assert [s.snapshot_id for s in table.history()] == ["b", "c"]

    removed = table.vacuum()
    # v1's directory AND the orphan are gone; kept dirs remain
    assert len(removed) == 2
    assert not os.path.exists(orphan)
    assert table.read(spark, version=2).count() == 20
    assert table.read(spark).count() == 30


def test_orphan_files_invisible(spark, table):
    table.publish(_df(spark, 0, 10), snapshot_id="a")
    # a crashed writer's leftovers: data files with no manifest
    orphan = os.path.join(table.data_dir, "snap-crashed-deadbeef")
    _df(spark, 100, 200).write.parquet(orphan)
    assert table.read(spark).count() == 10  # manifest list, not dir glob


def test_schema_evolution_harmonized_read(spark, table):
    """Snapshots may evolve schemas: a column added in v2 reads as NULL
    for v1 rows in the harmonized union; each version alone still reads
    with exactly its own schema; manifests record the per-version DDL,
    and a version's files read back with exactly that recorded schema."""
    v1 = spark.range(0, 5).selectExpr("id", "id * 2 AS v")
    v2 = spark.range(5, 8).selectExpr(
        "id", "id * 2 AS v", "'b' AS batch_tag", "CAST(id AS DECIMAL(18,2)) AS amt"
    )
    table.publish(v1, snapshot_id="old-schema")
    table.publish(v2, snapshot_id="new-schema")

    assert "batch_tag" not in table.read(spark, version=1).columns
    assert "batch_tag" in table.read(spark, version=2).columns
    assert "batch_tag" in table.snapshot(2).schema_ddl
    # a field name simpleString() leaves unquoted (unparseable DDL)
    # still reads back with the recorded schema, via file inference
    odd = ManifestTable(table.table_dir + "_odd")
    odd.publish(spark.range(3).selectExpr("id AS `sum(id)`"), snapshot_id="odd")
    for snap in (table.snapshot(1), table.snapshot(2), odd.snapshot(1)):
        back = ManifestTable._read_files(spark, snap.files, snap.schema_ddl)
        assert back.schema.simpleString() == snap.schema_ddl
    assert table.snapshot(2).schema_ddl == v2.schema.simpleString()

    h = table.read_history_harmonized(spark)
    rows = {(r.id): (r.batch_tag, r._version) for r in h.collect()}
    assert len(rows) == 8
    assert all(rows[i] == (None, 1) for i in range(5))
    assert all(rows[i] == ("b", 2) for i in range(5, 8))


def test_file_stats_skipping_prunes_and_stays_correct(spark, table):
    """read_pruned must consult per-file min/max: a range-clustered
    publish yields disjoint per-file id ranges, a narrow slice reads a
    strict subset of files, and the pruned-scan + residual-filter answer
    equals the plain filtered scan."""
    table.publish(
        _df(spark, 0, 1000).repartitionByRange(8, "id"),
        snapshot_id="s1",
        stats_cols=["id"],
    )
    snap = table.snapshot(1)
    assert snap.stats and len(snap.stats) == len(snap.files) == 8
    assert sum(s["rows"] for s in snap.stats.values()) == snap.n_rows == 1000

    pruned = table.read_pruned(spark, "id", 100, 220)
    n_files_read = pruned.select("_metadata.file_path").distinct().count()
    assert 0 < n_files_read < len(snap.files)
    got = sorted(
        r.id for r in pruned.where("id BETWEEN 100 AND 220").collect()
    )
    assert got == list(range(100, 221))


def test_delete_matching_rewrites_only_intersecting_files(spark, table):
    """Copy-on-write delete: files whose key range misses every delete
    key carry over by PATH (no rewrite); deleted keys are gone; stats
    stay consistent for further pruning; re-runs are no-ops."""
    table.publish(
        _df(spark, 0, 1000).repartitionByRange(8, "id"),
        snapshot_id="base",
        stats_cols=["id"],
    )
    v1_files = set(table.snapshot(1).files)
    v2 = table.delete_matching(spark, "id", [5, 7, 130], snapshot_id="erase-1")
    assert v2 == 2
    v2_snap = table.snapshot(2)
    reused = set(v2_snap.files) & v1_files
    assert reused, "non-intersecting files must be reused verbatim"
    assert set(v2_snap.files) - v1_files, "intersecting files must be rewritten"
    assert v2_snap.n_rows == 997
    got = set(r.id for r in table.read(spark).collect())
    assert got == set(range(1000)) - {5, 7, 130}
    # stats carried + recomputed -> pruning still works on v2
    assert set(v2_snap.stats) == set(v2_snap.files)
    # idempotent re-run
    assert table.delete_matching(spark, "id", [5, 7, 130], snapshot_id="erase-1") == 2
    assert table.current_version() == 2


def test_delete_matching_empty_keys_and_full_wipe(spark, table):
    table.publish(
        _df(spark, 0, 100).repartitionByRange(4, "id"),
        snapshot_id="base",
        stats_cols=["id"],
    )
    # empty key list: no new version
    assert table.delete_matching(spark, "id", [], snapshot_id="noop") == 1
    assert table.current_version() == 1
    # wipe everything: manifest with zero files still reads (empty, schema kept)
    v = table.delete_matching(spark, "id", list(range(100)), snapshot_id="wipe")
    assert v == 2
    df = table.read(spark)
    assert df.count() == 0
    assert [f.name for f in df.schema.fields] == ["id", "v"]


def test_append_carries_files_and_incremental_reads_only_new(spark, table):
    v1 = table.publish(
        _df(spark, 0, 100).repartitionByRange(4, "id"),
        snapshot_id="day1",
        stats_cols=["id"],
    )
    v2 = table.append(
        _df(spark, 100, 150).repartitionByRange(2, "id"),
        snapshot_id="day2",
        stats_cols=["id"],
    )
    assert (v1, v2) == (1, 2)
    s1, s2 = table.snapshot(1), table.snapshot(2)
    # every v1 file carried by path; append cost is O(new data)
    assert set(s1.files) <= set(s2.files)
    assert s2.n_rows == 150
    # stats merged: pruning works across old + new files
    assert set(s2.stats) == set(s2.files)
    inc = table.read_incremental(spark, from_version=1)
    assert sorted(r.id for r in inc.collect()) == list(range(100, 150))
    # full current read sees both days
    assert table.read(spark).count() == 150
    # idempotent re-append
    assert table.append(_df(spark, 100, 150), snapshot_id="day2") == 2


def test_upsert_single_commit_updates_inserts_and_reuses_files(spark, table):
    table.publish(
        _df(spark, 0, 1000).repartitionByRange(8, "id"),
        snapshot_id="base",
        stats_cols=["id"],
    )
    v1_files = set(table.snapshot(1).files)
    # update ids 10,11 (v doubled), insert 5000,5001
    ups = spark.createDataFrame(
        [(10, 999), (11, 998), (5000, 1), (5001, 2)], "id long, v long"
    )
    v2 = table.upsert_matching(spark, "id", ups, snapshot_id="m1")
    assert v2 == 2 and len(table.history()) == 2  # ONE commit for the whole MERGE
    s2 = table.snapshot(2)
    assert set(s2.files) & v1_files, "non-intersecting files reused"
    assert s2.n_rows == 1002
    got = {r.id: r.v for r in table.read(spark).collect()}
    assert got[10] == 999 and got[11] == 998
    assert got[5000] == 1 and got[5001] == 2
    assert got[12] == 24  # untouched row intact
    # stats consistent for downstream pruning + idempotent re-run
    assert set(s2.stats) == set(s2.files)
    assert table.upsert_matching(spark, "id", ups, snapshot_id="m1") == 2


def test_optimize_makes_pruning_effective(spark, table):
    """Hash-partitioned publish -> every file spans the id range and
    read_pruned keeps all files; after optimize, a narrow slice reads a
    strict subset. Content identical across versions; old version still
    readable (time travel across the rewrite)."""
    table.publish(
        _df(spark, 0, 1000).repartition(8, "id"),
        snapshot_id="ingested",
        stats_cols=["id"],
    )
    assert len(table.read_pruned(spark, "id", 100, 120).inputFiles()) == 8
    v2 = table.optimize(spark, "id", snapshot_id="opt-1", n_files=8)
    assert v2 == 2
    pruned = table.read_pruned(spark, "id", 100, 120)
    assert 0 < len(pruned.inputFiles()) < 8
    assert sorted(r.id for r in table.read(spark).collect()) == list(range(1000))
    assert table.read(spark, version=1).count() == 1000  # time travel intact
    assert table.optimize(spark, "id", snapshot_id="opt-1") == 2  # idempotent


def test_concurrent_append_and_upsert_serialize(spark, table):
    """Two writers racing DIFFERENT commit kinds (append vs upsert) must
    serialize through the commit lock into two consecutive versions
    whose combined effect equals some sequential order — here the ops
    touch disjoint key ranges, so the final state is order-independent
    and exact."""
    import threading

    table.publish(
        _df(spark, 0, 500).repartitionByRange(4, "id"),
        snapshot_id="base",
        stats_cols=["id"],
    )
    errs = []

    def do_append():
        try:
            table.append(
                _df(spark, 1000, 1100), snapshot_id="app-1", stats_cols=["id"]
            )
        except Exception as e:  # pragma: no cover
            errs.append(e)

    def do_upsert():
        try:
            ups = spark.createDataFrame([(7, 777), (2000, 1)], "id long, v long")
            table.upsert_matching(spark, "id", ups, snapshot_id="ups-1")
        except Exception as e:  # pragma: no cover
            errs.append(e)

    t1, t2 = threading.Thread(target=do_append), threading.Thread(target=do_upsert)
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errs, errs
    assert table.current_version() == 3
    got = {r.id: r.v for r in table.read(spark).collect()}
    assert len(got) == 500 + 100 + 1
    assert got[7] == 777 and got[2000] == 1 and got[1050] == 2100


def test_read_asof_timestamp(spark, table):
    import time

    table.publish(_df(spark, 0, 10), snapshot_id="v1")
    t_between = time.time()
    time.sleep(0.05)
    table.publish(_df(spark, 0, 25), snapshot_id="v2")
    after = time.time()

    assert table.read_asof(spark, t_between).count() == 10
    assert table.read_asof(spark, after).count() == 25
    with pytest.raises(FileNotFoundError):
        table.read_asof(spark, t_between - 3600)
    # commit instants are monotone even across versions
    assert table._committed_at(1) <= table._committed_at(2)


def test_concurrent_deletes_both_apply_via_retry(spark, table):
    """Two racing read-modify-write deletes: one of them must hit
    CommitConflict internally and retry against the other's commit —
    afterwards BOTH key sets are gone and the versions are consecutive."""
    import threading

    table.publish(
        _df(spark, 0, 800).repartitionByRange(8, "id"),
        snapshot_id="base",
        stats_cols=["id"],
    )
    errs = []

    def do_delete(keys, sid):
        try:
            table.delete_matching(spark, "id", keys, snapshot_id=sid)
        except Exception as e:  # pragma: no cover
            errs.append(e)

    a = threading.Thread(target=do_delete, args=(list(range(10, 20)), "del-a"))
    b = threading.Thread(target=do_delete, args=(list(range(700, 710)), "del-b"))
    a.start(); b.start(); a.join(); b.join()
    assert not errs, errs
    assert table.current_version() == 3
    got = {r.id for r in table.read(spark).collect()}
    assert got == set(range(800)) - set(range(10, 20)) - set(range(700, 710))
    assert table.snapshot(3).n_rows == 780


def test_concurrent_apply_changes_both_apply_via_retry(spark, table):
    """Two racing CDC apply_changes batches (each mixing deletes and
    upserts on disjoint key slices): the loser retries against the
    winner's commit — afterwards BOTH batches' deletes AND upserts are
    visible and versions are consecutive."""
    import threading

    table.publish(
        _df(spark, 0, 800).repartitionByRange(8, "id"),
        snapshot_id="base",
        stats_cols=["id"],
    )
    errs = []

    def do_apply(del_keys, up_keys, sid):
        try:
            rows = [(k, 0, "D") for k in del_keys]
            rows += [(k, 999, "U") for k in up_keys]
            cdf = spark.createDataFrame(rows, "id long, v long, op string")
            table.apply_changes(spark, "id", cdf, snapshot_id=sid)
        except Exception as e:  # pragma: no cover
            errs.append(e)

    a = threading.Thread(
        target=do_apply, args=(range(10, 20), range(30, 35), "cdc-a")
    )
    b = threading.Thread(
        target=do_apply, args=(range(700, 710), range(720, 725), "cdc-b")
    )
    a.start(); b.start(); a.join(); b.join()
    assert not errs, errs
    assert table.current_version() == 3
    got = {r.id: r.v for r in table.read(spark).collect()}
    assert not any(k in got for k in (*range(10, 20), *range(700, 710)))
    assert all(got[k] == 999 for k in (*range(30, 35), *range(720, 725)))
    assert len(got) == 800 - 20


def test_split_files_by_key_frame_semi_join_refinement(spark, table):
    """Scan planning for MERGE/DELETE: beyond the global [lo, hi]
    prefilter, the stats×keys semi-join marks ONLY files actually
    containing a key as candidates — middle files inside the global key
    range but hit by no key carry over untouched."""
    from tinymapreduce_spark.sources.manifest_sink import _split_files_by_key_frame

    table.publish(
        _df(spark, 0, 1000).repartitionByRange(8, "id"),
        snapshot_id="base",
        stats_cols=["id"],
    )
    snap = table.snapshot(1)
    keys = spark.createDataFrame([(5,), (990,)], "id long")
    untouched, candidates = _split_files_by_key_frame(
        spark, snap, "id", keys, 5, 990
    )
    assert len(candidates) == 2, candidates
    assert len(untouched) == len(snap.files) - 2
    assert set(untouched) | set(candidates) == set(snap.files)


def test_upsert_large_key_frame_never_collects_keys(spark, table, monkeypatch):
    """The MERGE key set stays a DataFrame end to end: 10⁵ distinct
    upsert keys flow through the stats semi-join + LEFT ANTI join, and
    any driver-side collect bigger than O(#files) trips the guard."""
    from pyspark.sql import DataFrame

    table.publish(
        _df(spark, 0, 200_000).repartitionByRange(8, "id"),
        snapshot_id="base",
        stats_cols=["id"],
    )
    ups = spark.range(0, 100_000).selectExpr(
        "id * 2 AS id", "CAST(-1 AS LONG) AS v"
    )
    orig = DataFrame.collect

    def guarded(self):
        rows = orig(self)
        assert len(rows) <= 1_000, (
            f"driver-side materialization of {len(rows)} rows in the MERGE path"
        )
        return rows

    monkeypatch.setattr(DataFrame, "collect", guarded)
    v2 = table.upsert_matching(spark, "id", ups, snapshot_id="m-big")
    monkeypatch.setattr(DataFrame, "collect", orig)
    assert v2 == 2
    s2 = table.snapshot(2)
    assert s2.n_rows == 200_000  # every key existed: pure update, no inserts
    cur = table.read(spark)
    assert cur.where("id % 2 = 0 AND v <> -1").count() == 0
    assert cur.where("id % 2 = 1 AND v <> id * 2").count() == 0


def test_mor_large_key_frame_never_collects_keys(spark, table, monkeypatch):
    """The deletion-vector path honors the same no-collect contract as
    MERGE: 10⁵ erase keys flow through the stats semi-join + position
    left-semi join into the DV sidecar without any key-sized driver
    materialization (VERDICT r4 #2 — the erase feed at 100× is millions
    of keys)."""
    from pyspark.sql import DataFrame

    table.publish(
        _df(spark, 0, 200_000).repartitionByRange(8, "id"),
        snapshot_id="base",
        stats_cols=["id"],
    )
    erase = spark.range(0, 100_000).selectExpr("id * 2 AS id")
    orig = DataFrame.collect

    def guarded(self):
        rows = orig(self)
        assert len(rows) <= 1_000, (
            f"driver-side materialization of {len(rows)} rows in the DV path"
        )
        return rows

    monkeypatch.setattr(DataFrame, "collect", guarded)
    v2 = table.delete_matching_mor(spark, "id", erase, snapshot_id="dv-big")
    monkeypatch.setattr(DataFrame, "collect", orig)
    assert v2 == 2
    s2 = table.snapshot(2)
    assert set(s2.files) == set(table.snapshot(1).files)  # MOR: files shared
    assert s2.n_rows == 100_000
    cur = table.read(spark)
    assert cur.count() == 100_000
    assert cur.where("id % 2 = 0").count() == 0


def test_delete_and_upsert_null_key_semantics(spark, table):
    """Iceberg/Delta NULL contract: a NULL key matches nothing — NULL
    erase-list entries are ignored, existing NULL-key rows survive every
    rewrite, and NULL-key new_rows are pure inserts."""
    base = spark.createDataFrame([(1, 10), (2, 20), (None, 99)], "id long, v long")
    table.publish(base, snapshot_id="base", stats_cols=["id"])
    table.delete_matching(spark, "id", [1, None], snapshot_id="e1")
    rows = {(r.id, r.v) for r in table.read(spark).collect()}
    assert rows == {(2, 20), (None, 99)}, rows
    ups = spark.createDataFrame([(2, 200), (None, 55)], "id long, v long")
    table.upsert_matching(spark, "id", ups, snapshot_id="m1")
    rows = {(r.id, r.v) for r in table.read(spark).collect()}
    assert rows == {(2, 200), (None, 99), (None, 55)}, rows


def test_delete_by_frame_table_sized_key_set(spark, table):
    """DELETE whose key set is itself a DataFrame (segment erasure /
    CDC retraction): same atomic single-commit semantics, file reuse,
    and idempotency as the list form."""
    table.publish(
        _df(spark, 0, 1000).repartitionByRange(8, "id"),
        snapshot_id="base",
        stats_cols=["id"],
    )
    v1_files = set(table.snapshot(1).files)
    keys = spark.range(0, 300).select("id")  # first files only
    v = table.delete_by_frame(spark, "id", keys, snapshot_id="e-frame")
    assert v == 2
    s2 = table.snapshot(2)
    assert set(s2.files) & v1_files, "files outside the key range reused"
    assert s2.n_rows == 700
    assert sorted(r.id for r in table.read(spark).collect()) == list(range(300, 1000))
    assert table.delete_by_frame(spark, "id", keys, snapshot_id="e-frame") == 2


def test_rewrite_on_statsless_table_treats_all_files_as_candidates(spark, table):
    """A table published WITHOUT per-file stats cannot prune — every
    file is a candidate and MERGE/DELETE must still be correct (just
    unpruned), including through the join-based key match."""
    table.publish(_df(spark, 0, 200).repartition(4, "id"), snapshot_id="base")
    assert not table.snapshot(1).stats
    ups = spark.createDataFrame([(5, -1), (500, -2)], "id long, v long")
    table.upsert_matching(spark, "id", ups, snapshot_id="m1")
    got = {r.id: r.v for r in table.read(spark).collect()}
    assert got[5] == -1 and got[500] == -2 and got[7] == 14
    table.delete_matching(spark, "id", [500, 7], snapshot_id="e1")
    remaining = {r.id for r in table.read(spark).collect()}
    assert 500 not in remaining and 7 not in remaining and 5 in remaining
    assert len(remaining) == 199  # 200 +1 insert -2 deletes


def test_expire_vacuum_removes_only_unreferenced_dirs(spark, table):
    """Retention split: expire drops old manifests, vacuum deletes only
    data dirs no KEPT manifest references — the current version's rows
    survive bit-for-bit, and expired versions stop being readable."""
    import os

    import pytest
    from pyspark.sql import functions as F

    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    table.publish(df.where("k < 60").repartition(2), snapshot_id="d1")
    table.append(df.where("k >= 60").repartition(2), snapshot_id="d2")
    table.optimize(spark, "k", snapshot_id="compact", n_files=2)
    before = {(r.k, r.v) for r in table.read(spark).collect()}

    expired = table.expire_snapshots(keep_last=1)
    assert expired == [1, 2]
    removed = table.vacuum()
    assert removed, "pre-compaction dirs must actually be reclaimed"
    # live data intact, expired versions gone
    assert {(r.k, r.v) for r in table.read(spark).collect()} == before
    assert len(table.history()) == 1
    with pytest.raises(FileNotFoundError):
        table.read(spark, version=1)
    # idempotent re-pass: nothing further to reclaim
    assert table.vacuum() == []
    # the compacted version's dirs are all still on disk
    live_dirs = {os.path.dirname(f) for f in table.snapshot(3).files}
    for d in live_dirs:
        assert os.path.isdir(d)


def test_merge_on_read_dv_delete_mechanism(spark, table):
    """Deletion vectors: the delete commits no data-file rewrite (base
    files byte-identical), overlapping key sets never double-record a
    position (visible-row accounting exact), readers and time travel
    subtract DVs, copy-on-write refuses over outstanding DVs, and
    optimize() materializes them into a DV-free version."""
    import os

    import pytest
    from pyspark.sql import functions as F

    df = spark.range(200).select(
        F.col("id").alias("k"), (F.col("id") % 5).alias("g")
    )
    table.publish(
        df.repartitionByRange(4, "k"), snapshot_id="base", stats_cols=["k"]
    )
    base_snap = table.snapshot(1)
    base_sizes = {f: os.path.getsize(f) for f in base_snap.files}

    table.delete_matching_mor(
        spark, "k", df.where("k % 3 = 0").select("k"), snapshot_id="dv1"
    )
    # overlapping set: k % 6 = 0 is a subset of k % 3 = 0 plus nothing new
    table.delete_matching_mor(
        spark, "k", df.where("k % 6 = 0 or k % 7 = 0").select("k"), snapshot_id="dv2"
    )
    snap = table.snapshot(table.current_version())
    assert snap.files == base_snap.files  # no rewrite
    assert {f: os.path.getsize(f) for f in snap.files} == base_sizes
    assert snap.deletes and len(snap.deletes) == 2

    expected = {
        r.k for r in df.where("not (k % 3 = 0 or k % 7 = 0)").collect()
    }
    assert {r.k for r in table.read(spark).collect()} == expected
    assert snap.n_rows == len(expected)  # overlap not double-subtracted
    # time travel to the pre-delete version still serves every row
    assert table.read(spark, version=1).count() == 200

    # copy-on-write over outstanding DVs would resurrect deleted rows
    with pytest.raises(ValueError, match="deletion vectors"):
        table.delete_matching(spark, "k", [1], snapshot_id="cow")

    # materialize: optimize reads DV-aware and publishes a clean version
    table.optimize(spark, "k", snapshot_id="compact", n_files=2)
    final = table.snapshot(table.current_version())
    assert not final.deletes
    assert {r.k for r in table.read(spark).collect()} == expected
    # ...and copy-on-write works again afterwards
    table.delete_matching(spark, "k", [1], snapshot_id="cow2")
    assert {r.k for r in table.read(spark).collect()} == expected - {1}

    # vacuum on a DV-bearing history keeps the sidecars alive
    table2 = ManifestTable(str(table.table_dir) + "_dvkeep")
    table2.publish(df.repartitionByRange(2, "k"), snapshot_id="b", stats_cols=["k"])
    table2.delete_matching_mor(
        spark, "k", df.where("k < 50").select("k"), snapshot_id="d"
    )
    assert table2.vacuum() == []
    assert table2.read(spark).count() == 150


def test_expire_vacuum_query_is_stable_across_repeated_runs(spark, sf_dir):
    """Regression: the retention-lifecycle query interacts with its own
    expiry — snapshot-id no-ops consult a history that expire_snapshots
    prunes, so before the done-marker guard the THIRD in-session run
    re-published day1 alone, no-opped the day2 append (its id survived
    as the kept snapshot) and compacted a day1-only table, silently
    dropping the 1997 slice. Three consecutive runs must agree exactly."""
    from tinymapreduce_spark.sources.manifest_sink import manifest_expire_vacuum

    runs = [
        sorted(map(tuple, manifest_expire_vacuum(spark, sf_dir).collect()))
        for _ in range(3)
    ]
    assert runs[0] == runs[1] == runs[2]
    assert len(runs[0]) > 0


# --- row-level change feed (read_changes) ----------------------------------


def _feed(table, spark, **kw):
    rows = table.read_changes(spark, ["id"], **kw).collect()
    return sorted((r._commit_version, r._change_type, r.id, r.v) for r in rows)


def test_change_feed_insert_update_delete(spark, table):
    table.publish(_df(spark, 0, 10).repartition(4, "id"), snapshot_id="v1")
    # v2: upsert — update ids 0-2 (v -> id*2+1), insert 10-12
    changed = spark.range(0, 3).selectExpr("id", "id * 2 + 1 AS v")
    fresh = spark.range(10, 13).selectExpr("id", "id * 2 AS v")
    table.upsert_matching(spark, "id", changed.unionByName(fresh), snapshot_id="v2")
    # v3: delete ids 4 and 10
    table.delete_matching(spark, "id", [4, 10], snapshot_id="v3")

    feed = _feed(table, spark)
    assert [t for t in feed if t[0] == 2 and t[1] == "insert"] == [
        (2, "insert", 10, 20), (2, "insert", 11, 22), (2, "insert", 12, 24)
    ]
    assert [t for t in feed if t[1] == "update_preimage"] == [
        (2, "update_preimage", 0, 0),
        (2, "update_preimage", 1, 2),
        (2, "update_preimage", 2, 4),
    ]
    assert [t for t in feed if t[1] == "update_postimage"] == [
        (2, "update_postimage", 0, 1),
        (2, "update_postimage", 1, 3),
        (2, "update_postimage", 2, 5),
    ]
    assert [t for t in feed if t[1] == "delete"] == [
        (3, "delete", 4, 8), (3, "delete", 10, 20)
    ]
    # version-range filters: only commit 3
    assert {t[0] for t in _feed(table, spark, from_version=2)} == {3}


def test_change_feed_pure_recluster_emits_nothing(spark, table):
    table.publish(_df(spark, 0, 200).repartition(6, "id"), snapshot_id="base")
    table.optimize(spark, "id", n_files=3, snapshot_id="opt")
    assert _feed(table, spark) == []  # every rewritten row cancels


def test_change_feed_scans_only_touched_files(spark, table):
    # append-only step: the feed must read ONLY the appended files —
    # carried files never enter the plan (the 100 TB argument)
    table.publish(_df(spark, 0, 100).repartition(5, "id"), snapshot_id="base")
    table.append(_df(spark, 100, 120).repartition(1), snapshot_id="more")
    carried = set(table.snapshot(1).files)
    added = set(table.snapshot(2).files) - carried
    feed = table.read_changes(spark, ["id"])
    read = {os.path.normpath(p.removeprefix("file:")) for p in feed.inputFiles()}
    assert read and read <= {os.path.normpath(f) for f in added}
    got = sorted((r._change_type, r.id) for r in feed.collect())
    assert got == [("insert", i) for i in range(100, 120)]


def test_change_feed_sees_dv_deletes(spark, table):
    # merge-on-read erasure: base files are byte-identical, only a DV
    # sidecar lands — the feed must still emit the masked rows as
    # deletes (carried-but-newly-masked files join the scan)
    table.publish(_df(spark, 0, 50).repartition(2, "id"), snapshot_id="base")
    keys = spark.createDataFrame([(7,), (33,)], "id long")
    table.delete_matching_mor(spark, "id", keys, snapshot_id="erase")
    assert set(table.snapshot(2).files) == set(table.snapshot(1).files)
    feed = _feed(table, spark)
    assert feed == [(2, "delete", 7, 14), (2, "delete", 33, 66)]


# --- metadata-only aggregation (metadata_agg) -------------------------------


def test_metadata_agg_opens_no_files_and_is_exact(spark, table):
    table.publish(
        _df(spark, 5, 105).repartition(4, "id"), snapshot_id="s", stats_cols=["id", "v"]
    )
    out = table.metadata_agg(spark, ["id", "v"])
    assert out.inputFiles() == []  # the manifest fold never touches data
    row = out.collect()[0]
    assert (row.n_rows, row.min_id, row.max_id, row.min_v, row.max_v) == (
        100, 5, 104, 10, 208
    )
    # and it answers PER VERSION: append then ask about v1 again
    table.append(_df(spark, 200, 210), snapshot_id="more", stats_cols=["id", "v"])
    assert table.metadata_agg(spark, ["id"]).collect()[0].max_id == 209
    assert table.metadata_agg(spark, ["id"], version=1).collect()[0].max_id == 104


def test_metadata_agg_honest_boundaries(spark, table):
    table.publish(_df(spark, 0, 50).repartition(2, "id"), snapshot_id="nostats")
    with pytest.raises(ValueError, match="stats"):
        table.metadata_agg(spark, ["id"])
    # stats on id only: asking for v must refuse
    table.publish(
        _df(spark, 0, 50).repartition(2, "id"), snapshot_id="idonly", stats_cols=["id"]
    )
    with pytest.raises(ValueError, match="bounds"):
        table.metadata_agg(spark, ["v"])
    # float stats are enclosing (decimal widening), not exact: refuse
    fdf = spark.range(0, 20).selectExpr("id", "CAST(id AS DOUBLE) / 3 AS f")
    table.publish(fdf, snapshot_id="floats", stats_cols=["f"])
    with pytest.raises(ValueError, match="exact"):
        table.metadata_agg(spark, ["f"])
    # a DV-masked snapshot must scan (the masked row could be the extreme)
    table.publish(
        _df(spark, 0, 30).repartition(2, "id"), snapshot_id="dvbase", stats_cols=["id"]
    )
    keys = spark.createDataFrame([(29,)], "id long")
    table.delete_matching_mor(spark, "id", keys, snapshot_id="dverase")
    with pytest.raises(ValueError, match="deletion vectors"):
        table.metadata_agg(spark, ["id"])


def test_metadata_agg_detects_statless_append(spark, table):
    table.publish(_df(spark, 0, 50), snapshot_id="base", stats_cols=["id"])
    table.append(_df(spark, 50, 60), snapshot_id="nostats-append")
    with pytest.raises(ValueError, match="lacks stats"):
        table.metadata_agg(spark, ["id"])


# --- named refs (tags): version names + retention pins -----------------------


def test_tags_name_versions_and_pin_retention(spark, table):
    for i, sid in enumerate(["a", "b", "c", "d"], start=1):
        table.publish(_df(spark, 0, i * 10), snapshot_id=sid)
    table.tag("train-2026-08", version=1)
    assert table.refs() == {"train-2026-08": 1}
    assert table.read_tag(spark, "train-2026-08").count() == 10
    # immutability: re-tagging to a different version raises
    with pytest.raises(ValueError, match="already names"):
        table.tag("train-2026-08", version=3)
    table.tag("train-2026-08", version=1)  # same version: idempotent
    # expiry keeps the tagged version however far the table advances
    expired = table.expire_snapshots(keep_last=1)
    assert expired == [2, 3]  # v1 pinned by the tag, v4 by keep_last
    assert table.read_tag(spark, "train-2026-08").count() == 10
    table.vacuum()
    assert table.read_tag(spark, "train-2026-08").count() == 10  # files kept
    # dropping the tag releases the pin (expire re-reports the already-
    # deleted 2/3 — its contract is "not readable after", not a delta)
    table.drop_tag("train-2026-08")
    assert 1 in table.expire_snapshots(keep_last=1)
    with pytest.raises(FileNotFoundError):
        table.read(spark, version=1)
    with pytest.raises(FileNotFoundError):
        table.read_tag(spark, "train-2026-08")


def test_tag_requires_readable_version(spark, table):
    table.publish(_df(spark, 0, 5), snapshot_id="only")
    with pytest.raises(FileNotFoundError):
        table.tag("ghost", version=9)
