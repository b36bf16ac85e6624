"""Manifest-committed snapshot tables: atomicity, isolation, time travel."""

from __future__ import annotations

import json
import os

import pytest

from nexus_processor_spark.sources import snapshots as snap


def _df(spark, lo, hi):
    return spark.range(lo, hi).selectExpr("id", "id * 2 AS v")


def test_append_overwrite_and_time_travel(spark, tmp_path):
    t = str(tmp_path / "tbl")
    v0 = snap.write_snapshot(_df(spark, 0, 10), t)
    v1 = snap.write_snapshot(_df(spark, 10, 15), t, mode="append")
    v2 = snap.write_snapshot(_df(spark, 100, 103), t, mode="overwrite")
    assert (v0, v1, v2) == (0, 1, 2)
    assert snap.read_snapshot(spark, t).count() == 3          # latest
    assert snap.read_snapshot(spark, t, version=1).count() == 15
    assert snap.read_snapshot(spark, t, version=0).count() == 10
    assert snap.current_version(t) == 2
    with pytest.raises(FileNotFoundError):
        snap.read_snapshot(spark, t, version=9)


def test_uncommitted_data_is_invisible(spark, tmp_path):
    """Crash before the manifest rename: data exists on disk, no reader
    sees it and the next commit proceeds normally."""
    t = str(tmp_path / "tbl")
    snap.write_snapshot(_df(spark, 0, 5), t)
    # simulate a crashed writer: data directory without a manifest entry
    orphan = os.path.join(t, "data", "deadbeef")
    _df(spark, 1000, 2000).write.parquet(orphan)
    assert snap.read_snapshot(spark, t).count() == 5
    snap.write_snapshot(_df(spark, 5, 8), t, mode="append")
    assert snap.read_snapshot(spark, t).count() == 8
    # a half-written manifest (tmp suffix) is equally invisible
    with open(os.path.join(t, "manifest.99.json.tmp"), "w") as fh:
        json.dump({"data_dirs": ["data/deadbeef"]}, fh)
    assert snap.current_version(t) == 1


def test_snapshot_isolation_for_open_readers(spark, tmp_path):
    """A reader resolved at version v keeps its result across later
    overwrites — the manifest pins the file set."""
    t = str(tmp_path / "tbl")
    snap.write_snapshot(_df(spark, 0, 10), t)
    reader = snap.read_snapshot(spark, t, version=0)
    snap.write_snapshot(_df(spark, 50, 52), t, mode="overwrite")
    assert reader.count() == 10          # unaffected by the overwrite
    assert snap.read_snapshot(spark, t).count() == 2


def test_expire_snapshots_prunes_unreferenced_data(spark, tmp_path):
    t = str(tmp_path / "tbl")
    snap.write_snapshot(_df(spark, 0, 10), t)                   # v0
    snap.write_snapshot(_df(spark, 10, 20), t, mode="overwrite")  # v1
    snap.write_snapshot(_df(spark, 20, 25), t, mode="append")     # v2
    expired = snap.expire_snapshots(t, keep_last=2)
    assert expired == [0]
    # v0's directory is gone (unreferenced), v1/v2 still read fine
    assert snap.read_snapshot(spark, t, version=1).count() == 10
    assert snap.read_snapshot(spark, t, version=2).count() == 15
    with pytest.raises(FileNotFoundError):
        snap.read_snapshot(spark, t, version=0)
    data_dirs = os.listdir(os.path.join(t, "data"))
    assert len(data_dirs) == 2  # v1's dir + v2's delta dir


def test_catalog_snapshot_format_roundtrip(spark, tmp_path):
    """write_table/read_table with fmt='snapshot': the lakehouse path
    executed end-to-end (the Iceberg branch emits matching DDL but the
    jars are absent in this environment)."""
    from nexus_processor_spark.sources import catalog

    root = str(tmp_path / "lake")
    base = spark.createDataFrame(
        [("INST", 1, "INST_1", "t")],
        "instrument_id string, run_number long, run_id string, title string",
    )
    p = catalog.write_table(base, root, "metadata", fmt="snapshot")
    assert snap.current_version(p) == 0
    catalog.write_table(base, root, "metadata", fmt="snapshot", mode="append")
    assert catalog.read_table(
        spark, root, "metadata", fmt="snapshot").count() == 2
    assert snap.read_snapshot(spark, p, version=0).count() == 1


def test_schema_travels_with_the_manifest(spark, tmp_path):
    t = str(tmp_path / "tbl")
    snap.write_snapshot(_df(spark, 0, 3), t)
    got = snap.read_snapshot(spark, t)
    assert [f.name for f in got.schema.fields] == ["id", "v"]
    rows = sorted((r.id, r.v) for r in got.collect())
    assert rows == [(0, 0), (1, 2), (2, 4)]


def test_concurrent_commit_retries_not_lost(spark, tmp_path, monkeypatch):
    """Two writers racing for the same version: the put-if-absent
    manifest publication makes exactly one win; the loser retries at the
    next number and BOTH appends stay visible (no lost commit)."""
    t = str(tmp_path / "tbl")
    snap.write_snapshot(_df(spark, 0, 10), t)  # v0

    real_publish = snap._publish_manifest
    raced = {"done": False}

    def racing_publish(table_path, version, manifest):
        # first attempt: a concurrent writer lands the same version just
        # before us, so our create-exclusive link must lose
        if not raced["done"]:
            raced["done"] = True
            other = dict(manifest)
            other["data_dirs"] = ["data/rival"]
            _df(spark, 500, 503).write.parquet(os.path.join(t, "data/rival"))
            assert real_publish(table_path, version, other)
        return real_publish(table_path, version, manifest)

    monkeypatch.setattr(snap, "_publish_manifest", racing_publish)
    v = snap.write_snapshot(_df(spark, 10, 15), t, mode="append")
    assert v == 2  # lost v1 to the rival, retried
    # latest snapshot sees v0's rows + OUR append; the rival's v1 is a
    # committed overwrite-style manifest we appended on top of
    got = sorted(r.id for r in snap.read_snapshot(spark, t).collect())
    assert set(range(10, 15)).issubset(got)
    assert snap.read_snapshot(spark, t, version=1).count() == 3


def test_pinned_version_commit_is_idempotent(spark, tmp_path):
    """version= pins the commit number: a second attempt at an existing
    version is skipped (None), its data invisible — the external
    sequencer (streaming batch id) replay contract."""
    t = str(tmp_path / "tbl")
    assert snap.write_snapshot(_df(spark, 0, 5), t, version=7) == 7
    assert snap.write_snapshot(_df(spark, 90, 99), t,
                               mode="append", version=7) is None
    assert snap.read_snapshot(spark, t).count() == 5
    assert snap.write_snapshot(_df(spark, 5, 8), t,
                               mode="append", version=9) == 9
    assert snap.read_snapshot(spark, t).count() == 8


def test_expire_leaves_inflight_commit_dirs(spark, tmp_path):
    """A concurrent writer's data directory (written, manifest not yet
    published) survives expiry: only directories referenced by expired
    manifests — and by no kept one — are deleted."""
    t = str(tmp_path / "tbl")
    snap.write_snapshot(_df(spark, 0, 10), t)                     # v0
    snap.write_snapshot(_df(spark, 10, 20), t, mode="overwrite")  # v1
    snap.write_snapshot(_df(spark, 20, 25), t, mode="append")     # v2
    inflight = os.path.join(t, "data", "inflightcafe")
    _df(spark, 900, 905).write.parquet(inflight)
    snap.expire_snapshots(t, keep_last=2)
    assert os.path.isdir(inflight)  # in-flight commit untouched
    # ... so publishing it afterwards yields a readable snapshot
    prev = snap.current_version(t)
    dirs = snap._read_manifest(t, prev)["data_dirs"] + ["data/inflightcafe"]
    assert snap._publish_manifest(t, prev + 1, {
        "version": prev + 1, "mode": "append",
        "schema": _df(spark, 0, 1).schema.jsonValue(), "data_dirs": dirs,
    })
    assert snap.read_snapshot(spark, t).count() == 20


def test_append_schema_evolution_null_fills_old_dirs(spark, tmp_path):
    """Add-column append: the latest manifest's schema applies to every
    listed directory, so pre-evolution rows read null for the new
    column; time travel to the old version keeps the old schema."""
    t = str(tmp_path / "tbl")
    snap.write_snapshot(_df(spark, 0, 3), t)
    evolved = spark.range(3, 5).selectExpr(
        "id", "id * 2 AS v", "CAST(id AS STRING) AS tag")
    snap.write_snapshot(evolved, t, mode="append")
    got = snap.read_snapshot(spark, t)
    assert [f.name for f in got.schema.fields] == ["id", "v", "tag"]
    tags = {r.id: r.tag for r in got.collect()}
    assert tags == {0: None, 1: None, 2: None, 3: "3", 4: "4"}
    old = snap.read_snapshot(spark, t, version=0)
    assert [f.name for f in old.schema.fields] == ["id", "v"]


def test_manifest_stats_prune_directories(spark, tmp_path):
    """Per-directory min/max in the manifest skip whole directories on
    read: three appended commits with disjoint id ranges, a pruned read
    lists only the overlapping directory's files (I/O-level skip; rows
    inside surviving dirs are untouched, like partition pruning)."""
    t = str(tmp_path / "tbl")
    snap.write_snapshot(_df(spark, 0, 10), t, stats_cols=("id",))
    snap.write_snapshot(_df(spark, 100, 110), t,
                        mode="append", stats_cols=("id",))
    snap.write_snapshot(_df(spark, 200, 210), t,
                        mode="append", stats_cols=("id",))

    got = snap.read_snapshot(spark, t, prune={"id": (100, 150)})
    assert sorted(r.id for r in got.collect()) == list(range(100, 110))
    dirs = {f.split("/data/")[1].split("/")[0] for f in got.inputFiles()}
    assert len(dirs) == 1  # two of three directories never scanned

    low = snap.read_snapshot(spark, t, prune={"id": (None, 50)})
    assert sorted(r.id for r in low.collect()) == list(range(10))
    empty = snap.read_snapshot(spark, t, prune={"id": (1000, None)})
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] == ["id", "v"]
    # unpruned read still sees everything
    assert snap.read_snapshot(spark, t).count() == 30


def test_commit_stats_are_observed_by_the_write_job(spark, tmp_path):
    """Manifest min/max come from the write job itself: a commit with
    stats launches exactly the jobs of the same commit without them."""
    from conftest import count_jobs

    df = _df(spark, 0, 50)
    _, plain = count_jobs(
        spark, lambda: snap.write_snapshot(df, str(tmp_path / "plain")))
    t = str(tmp_path / "stats")
    _, observed = count_jobs(
        spark, lambda: snap.write_snapshot(df, t, stats_cols=("id", "v")))
    assert observed == plain
    m = snap._read_manifest(t, 0)
    assert list(m["stats"].values()) == [{"id": [0, 49], "v": [0, 98]}]


def test_stats_less_directories_are_kept_conservatively(spark, tmp_path):
    """A directory committed without stats can't be proven disjoint, so
    a pruned read keeps it — pruning is an optimization, never a filter."""
    t = str(tmp_path / "tbl")
    snap.write_snapshot(_df(spark, 0, 10), t, stats_cols=("id",))
    snap.write_snapshot(_df(spark, 500, 505), t, mode="append")  # no stats
    got = snap.read_snapshot(spark, t, prune={"id": (0, 5)})
    assert sorted(r.id for r in got.collect()) == list(range(10)) + list(
        range(500, 505))


def test_upsert_rewrites_only_directories_containing_update_keys(spark, tmp_path):
    """Directory-level copy-on-write: updates landing in one of three
    directories rewrite only that directory — the other two carry over
    by reference (same names, stats intact), and time travel still sees
    the pre-image."""
    t = str(tmp_path / "tbl")
    snap.write_snapshot(_df(spark, 0, 10), t, stats_cols=("id",))
    snap.write_snapshot(_df(spark, 100, 110), t,
                        mode="append", stats_cols=("id",))
    snap.write_snapshot(_df(spark, 200, 210), t,
                        mode="append", stats_cols=("id",))
    before = snap._read_manifest(t, 2)["data_dirs"]

    # 105 lives in dir 1; 300 is a brand-new key (no directory contains
    # it, so RANGE overlap alone must not mark dirs 2/3 affected)
    updates = spark.createDataFrame([(105, -1), (300, -3)], "id long, v long")
    v = snap.upsert_snapshot(spark, t, updates, "id")
    assert v == 3
    after = snap._read_manifest(t, 3)
    kept = [d for d in after["data_dirs"] if d in before]
    assert set(kept) == {before[0], before[2]}  # dir 1 rewritten
    assert len(after["data_dirs"]) == 3
    # carried dirs keep their stats for future pruning
    assert after["stats"][before[0]]["id"] == [0, 9]

    got = {r.id: r.v for r in snap.read_snapshot(spark, t).collect()}
    want = {i: i * 2 for i in list(range(10)) + list(range(100, 110))
            + list(range(200, 210))}
    want[105] = -1
    want[300] = -3
    assert got == want
    # pre-image intact at the previous version
    old = {r.id: r.v for r in snap.read_snapshot(spark, t, version=2).collect()}
    assert old[105] == 210 and 300 not in old


def test_upsert_treats_stats_less_directories_conservatively(spark, tmp_path):
    t = str(tmp_path / "tbl")
    snap.write_snapshot(_df(spark, 0, 10), t)  # no stats recorded
    updates = spark.createDataFrame([(3, -1)], "id long, v long")
    snap.upsert_snapshot(spark, t, updates, "id")
    got = {r.id: r.v for r in snap.read_snapshot(spark, t).collect()}
    assert got[3] == -1 and got[4] == 8 and len(got) == 10


def test_upsert_requires_a_committed_base(spark, tmp_path):
    with pytest.raises(FileNotFoundError):
        snap.upsert_snapshot(
            spark, str(tmp_path / "none"),
            spark.createDataFrame([(1, 1)], "id long, v long"), "id")


def test_compact_snapshot_bin_packs_to_one_directory(spark, tmp_path):
    t = str(tmp_path / "tbl")
    for lo in range(0, 50, 10):
        snap.write_snapshot(
            _df(spark, lo, lo + 10), t,
            mode="append" if lo else "overwrite", stats_cols=("id",))
    assert len(snap._read_manifest(t, 4)["data_dirs"]) == 5
    v = snap.compact_snapshot(spark, t, stats_cols=("id",))
    m = snap._read_manifest(t, v)
    assert len(m["data_dirs"]) == 1
    assert m["stats"][m["data_dirs"][0]]["id"] == [0, 49]
    assert snap.read_snapshot(spark, t).count() == 50
    assert snap.read_snapshot(spark, t, version=4).count() == 50


def test_snapshot_model_property(spark, tmp_path):
    """Model-based check: a random op sequence (append / overwrite /
    upsert / delete) against the snapshot table equals a plain dict
    model at every step, and every retained version time-travels to its
    historical model state."""
    import random

    rng = random.Random(20240814)
    t = str(tmp_path / "tbl")
    model: dict[int, int] = {}
    history: list[dict[int, int]] = []

    def df_of(rows):
        return spark.createDataFrame(
            [(k, v) for k, v in rows], "id long, v long")

    snap.write_snapshot(df_of([(i, i) for i in range(8)]), t,
                        stats_cols=("id",))
    model = {i: i for i in range(8)}
    history.append(dict(model))

    for step in range(7):
        op = rng.choice(["append", "overwrite", "upsert", "delete"])
        if op == "append":
            # disjoint new keys (append does not dedupe; keep the model
            # a function by appending fresh keys only)
            base = 100 * (step + 1)
            rows = [(base + j, rng.randrange(1000)) for j in range(3)]
            snap.write_snapshot(df_of(rows), t, mode="append",
                                stats_cols=("id",))
            model.update(dict(rows))
        elif op == "overwrite":
            rows = [(rng.randrange(50), rng.randrange(1000))
                    for _ in range(4)]
            rows = list(dict(rows).items())
            snap.write_snapshot(df_of(rows), t, mode="overwrite",
                                stats_cols=("id",))
            model = dict(rows)
        elif op == "upsert":
            keys = rng.sample(sorted(model) + [9000 + step], 2)
            rows = [(k, rng.randrange(1000)) for k in keys]
            snap.upsert_snapshot(spark, t, df_of(rows), "id")
            model.update(dict(rows))
        else:
            if model:
                kill = rng.sample(sorted(model),
                                  min(2, len(model)))
                snap.upsert_snapshot(
                    spark, t, df_of([]).limit(0), "id",
                    delete_keys=spark.createDataFrame(
                        [(k,) for k in kill], "id long"),
                )
                for k in kill:
                    model.pop(k)
        history.append(dict(model))
        got = {r.id: r.v for r in snap.read_snapshot(spark, t).collect()}
        assert got == model, (step, op)

    # every retained version replays its historical state
    for v in snap._versions(t):
        got = {r.id: r.v
               for r in snap.read_snapshot(spark, t, version=v).collect()}
        assert got == history[v], v


def test_catalog_snapshot_sort_by_records_prunable_stats(spark, tmp_path):
    """write_table(fmt='snapshot', sort_by=...) records manifest stats
    on the clustered keys; non-JSON stat types (timestamps) simply skip
    stats instead of corrupting the manifest."""
    from pyspark.sql import functions as F

    from nexus_processor_spark.sources import catalog

    root = str(tmp_path / "lake")
    base = spark.range(100).select(
        F.lit("INST").alias("instrument_id"),
        F.col("id").alias("run_number"),
        F.concat(F.lit("INST_"), F.col("id")).alias("run_id"),
        F.lit("t").alias("title"),
        F.timestamp_seconds(F.col("id") * 3600).alias("start_time"),
    )
    p = catalog.write_table(
        base, root, "metadata", fmt="snapshot",
        sort_by=["run_number", "start_time"],
    )
    m = snap._read_manifest(p, 0)
    d = m["data_dirs"][0]
    assert m["stats"][d]["run_number"] == [0, 99]
    assert "start_time" not in m["stats"][d]  # timestamp: no JSON stats
    got = snap.read_snapshot(spark, p, prune={"run_number": (200, None)})
    assert got.count() == 0


def test_evolve_rename_is_metadata_only(spark, tmp_path):
    """Rename commits a manifest, touches no data file, and reads the
    old physical column under the new logical name — across appends
    from both before and after the evolution."""
    t = str(tmp_path / "tbl")
    snap.write_snapshot(_df(spark, 0, 5), t, stats_cols=("id",))

    def data_mtimes():
        out = {}
        for root, _, files in os.walk(os.path.join(t, "data")):
            for f in files:
                p = os.path.join(root, f)
                out[p] = os.stat(p).st_mtime_ns
        return out

    before = data_mtimes()
    v = snap.evolve_schema(t, rename={"v": "value"})
    assert v == 1
    assert data_mtimes() == before  # zero data I/O
    got = snap.read_snapshot(spark, t)
    assert got.columns == ["id", "value"]
    assert {(r.id, r.value) for r in got.collect()} == {
        (i, i * 2) for i in range(5)}
    # pre-evolution version time-travels under the OLD name
    assert snap.read_snapshot(spark, t, version=0).columns == ["id", "v"]
    # a post-rename append writes the new name; both dirs read together
    snap.write_snapshot(
        spark.range(5, 8).selectExpr("id", "id * 2 AS value"), t,
        mode="append", stats_cols=("id",))
    got = snap.read_snapshot(spark, t)
    assert {(r.id, r.value) for r in got.collect()} == {
        (i, i * 2) for i in range(8)}


def test_evolve_add_and_drop(spark, tmp_path):
    t = str(tmp_path / "tbl")
    snap.write_snapshot(_df(spark, 0, 4), t)
    snap.evolve_schema(t, add={"note": "string"}, drop=("v",))
    got = snap.read_snapshot(spark, t)
    assert got.columns == ["id", "note"]
    assert all(r.note is None for r in got.collect())
    # dropped column time-travels intact
    assert snap.read_snapshot(spark, t, version=0).columns == ["id", "v"]
    with pytest.raises(ValueError, match="already in schema"):
        snap.evolve_schema(t, add={"id": "long"})
    with pytest.raises(ValueError, match="not in schema"):
        snap.evolve_schema(t, drop=("v",))
    with pytest.raises(ValueError, match="not in schema"):
        snap.evolve_schema(t, rename={"v": "w"})


def test_evolve_drop_then_readd_reads_null_not_stale_bytes(spark, tmp_path):
    """Re-adding a previously-dropped column name must read null-filled
    from old directories — never resurrect the stale physical bytes the
    drop left behind (ADVICE r9). New writes after the re-add serve
    real values; time travel still sees the original column."""
    t = str(tmp_path / "tbl")
    snap.write_snapshot(_df(spark, 0, 4), t)          # cols: id, v
    snap.evolve_schema(t, drop=("v",))
    snap.evolve_schema(t, add={"v": "long"})
    got = snap.read_snapshot(spark, t)
    assert got.columns == ["id", "v"]
    assert all(r.v is None for r in got.collect()), (
        "old directory resurrected dropped bytes")
    # a post-re-add append provides real values for its own rows only
    snap.write_snapshot(
        spark.range(10, 13).selectExpr("id", "id * 7 AS v"), t,
        mode="append")
    vals = {r.id: r.v for r in snap.read_snapshot(spark, t).collect()}
    assert vals[11] == 77 and vals[0] is None
    # pre-drop version still time-travels with the original values
    v0 = {r.id: r.v for r in
          snap.read_snapshot(spark, t, version=0).collect()}
    assert v0 == {i: i * 2 for i in range(4)}
    # rename of the re-added column keeps old dirs null-filled
    snap.evolve_schema(t, rename={"v": "w"})
    w = {r.id: r.w for r in snap.read_snapshot(spark, t).collect()}
    assert w[11] == 77 and w[0] is None
    # an add into a table whose add-name matches NO physical column is
    # also tombstoned (uniform rule) and stays null on old dirs
    snap.evolve_schema(t, add={"fresh": "string"})
    assert all(
        r.fresh is None
        for r in snap.read_snapshot(spark, t).collect())


def test_upsert_after_rename_rewrites_under_logical_schema(spark, tmp_path):
    """CoW upsert against a renamed table: affected pre-rename dirs are
    read through the column map, merged rows land under the logical
    name, untouched pre-rename dirs carry their mapping forward."""
    from pyspark.sql import functions as F

    t = str(tmp_path / "tbl")
    snap.write_snapshot(_df(spark, 0, 10), t, stats_cols=("id",))
    snap.write_snapshot(
        _df(spark, 100, 110), t, mode="append", stats_cols=("id",))
    snap.evolve_schema(t, rename={"v": "value"})
    updates = spark.range(0, 3).selectExpr("id", "id * 100 AS value")
    snap.upsert_snapshot(spark, t, updates, "id")
    got = {r.id: r.value for r in snap.read_snapshot(spark, t).collect()}
    assert got[0] == 0 and got[1] == 100 and got[2] == 200
    assert got[5] == 10                     # untouched low-range row
    assert got[105] == 210                  # untouched carried-by-ref dir
    assert len(got) == 20
    # the untouched 100-109 directory still reads via its mapping
    m = snap._read_manifest(t, snap.current_version(t))
    assert m.get("column_map"), "carried dir must keep its rename map"
    # stats keys followed the rename (pruning works post-evolution)
    pruned = snap.read_snapshot(spark, t, prune={"id": (100, None)})
    assert {r.id for r in pruned.collect()} >= set(range(100, 110))
    # compaction normalizes: physical names become logical, map clears
    snap.compact_snapshot(spark, t, stats_cols=("id",))
    m = snap._read_manifest(t, snap.current_version(t))
    assert not m.get("column_map")
    got2 = {r.id: r.value for r in snap.read_snapshot(spark, t).collect()}
    assert got2 == got


def test_evolve_rename_chain_and_collision_guard(spark, tmp_path):
    t = str(tmp_path / "tbl")
    snap.write_snapshot(_df(spark, 0, 3), t)
    snap.evolve_schema(t, rename={"v": "w"})
    snap.evolve_schema(t, rename={"w": "x"})   # chain: x -> physical v
    got = snap.read_snapshot(spark, t)
    assert got.columns == ["id", "x"]
    assert {(r.id, r.x) for r in got.collect()} == {(i, i * 2)
                                                    for i in range(3)}
    with pytest.raises(ValueError, match="collides"):
        snap.evolve_schema(t, rename={"x": "id"})


def test_timestamp_time_travel(spark, tmp_path):
    """AS-OF reads resolve to the highest commit at or before the
    timestamp, from the committed_at_ms the publication stamps."""
    t = str(tmp_path / "tbl")
    snap.write_snapshot(_df(spark, 0, 5), t)
    t0 = snap._read_manifest(t, 0)["committed_at_ms"]
    snap.write_snapshot(_df(spark, 5, 9), t, mode="append")
    t1 = snap._read_manifest(t, 1)["committed_at_ms"]
    assert snap.version_as_of(t, t0) == 0
    assert snap.version_as_of(t, t1 + 10_000) == 1
    assert snap.read_snapshot(spark, t, as_of_ms=t0).count() == 5
    if t1 > t0:  # sub-ms commits can share a stamp; then both read 9
        assert snap.read_snapshot(spark, t, as_of_ms=t1).count() == 9
    with pytest.raises(FileNotFoundError, match="at or before"):
        snap.version_as_of(t, t0 - 1)
    with pytest.raises(ValueError, match="not both"):
        snap.read_snapshot(spark, t, version=0, as_of_ms=t0)
