"""Manifest-committed snapshot tables: executed lakehouse semantics
without the (environment-gated) Iceberg runtime.

The reference commits event tables through an Iceberg catalog
(reference ``lakehouse_scripts/init_neutron_data.py:129-201``,
``ingest_neutron_data.py:209-211``); this container has no Iceberg jars,
so ``catalog.write_table(fmt="iceberg")`` can emit the matching DDL but
never execute. This module supplies the SEMANTICS that matter —
atomic snapshot commits, snapshot-isolated readers, append/overwrite,
time travel, and crash invisibility — with nothing but parquet files
and one atomically-renamed manifest per version, so the behavior is
fully executed and test-pinned in this environment:

* Data files land under ``<table>/data/<uuid>/`` (one directory per
  commit attempt — writers never touch other commits' files).
* A commit is the CREATE-EXCLUSIVE publication of ``manifest.<v>.json``
  (written to a private tmp name, then ``os.link``-ed into place —
  put-if-absent, so two racing writers can never both claim version v;
  the loser re-reads the new current manifest and retries at v+1, its
  already-written data directory intact). The manifest lists EVERY data
  directory visible in that snapshot. Readers resolve the highest
  manifest and read exactly its listed directories: a crash before the
  link leaves orphan data that no reader ever sees; a reader holding
  version v is unaffected by later commits (snapshot isolation).
* ``append`` lists the previous snapshot's directories + the new one;
  ``overwrite`` lists only the new one (old files stay on disk for time
  travel until ``expire_snapshots`` prunes directories referenced only
  by expired manifests — never unreferenced/in-flight directories,
  which may belong to a concurrent writer's not-yet-committed attempt).
* Manifests optionally carry per-directory column min/max
  (``stats_cols`` on write), and ``read_snapshot(prune=...)`` skips
  directories provably disjoint from a requested range before Spark
  ever lists them — the manifest-level data skipping that makes a
  lakehouse table queryable at 100 TB without scanning its history.

## Schema across snapshots

``read_snapshot`` applies the REQUESTED manifest's recorded schema to
every directory it lists. An ``append`` whose DataFrame adds a column
therefore reads older directories null-filled for the new column
(standard mergeable add-column evolution); a column present only in
older snapshots disappears from newer reads but time-travels intact.

``evolve_schema`` commits METADATA-ONLY evolution — add / drop /
RENAME — without reading or writing a single data file: the manifest
carries a per-directory ``column_map`` (logical name -> that
directory's physical column name), the observable core of Iceberg's
field-id indirection. A renamed column keeps reading its old physical
name in pre-rename directories and its new name in post-rename ones;
readers group directories by mapping so the unrenamed common case
stays one multi-path scan. Drops hide the column (time travel intact);
adds read null-filled everywhere until a write provides values.

This is the standard snapshot/manifest design from the public Iceberg /
Delta literature reduced to its observable semantics — not a port of
either implementation.
"""

from __future__ import annotations

import json
import os
import re
import uuid

from pyspark.sql import DataFrame, SparkSession

_MANIFEST_RE = re.compile(r"^manifest\.(\d+)\.json$")


def _require_local(table_path: str) -> None:
    """This store is LOCAL-FILESYSTEM by contract: commits are
    ``os.link`` put-if-absent and listings are ``os.listdir``. A URI
    path (hdfs://, s3a://) would silently become a literal local
    directory on the driver — fail loudly instead (on a cluster, mount
    the table root or port `_publish_manifest` to the object store's
    native put-if-absent)."""
    if "://" in table_path:
        raise ValueError(
            f"snapshot tables are local-filesystem only, got {table_path!r}"
        )


def _versions(table_path: str) -> list[int]:
    if not os.path.isdir(table_path):
        return []
    out = []
    for name in os.listdir(table_path):
        m = _MANIFEST_RE.match(name)
        if m:
            out.append(int(m.group(1)))
    return sorted(out)


def _read_manifest(table_path: str, version: int) -> dict:
    with open(os.path.join(table_path, f"manifest.{version}.json")) as fh:
        return json.load(fh)


def current_version(table_path: str) -> int | None:
    vs = _versions(table_path)
    return vs[-1] if vs else None


def has_version(table_path: str, version: int) -> bool:
    """Whether ``version`` is committed — how a commit pinned to a
    streaming batch id tells a replayed batch from a new one."""
    return os.path.exists(
        os.path.join(table_path, f"manifest.{version}.json"))


def _publish_manifest(table_path: str, version: int, manifest: dict) -> bool:
    """Put-if-absent publication of ``manifest.<version>.json``: write to
    a commit-private tmp name, then ``os.link`` it into place — link
    fails with EEXIST when another writer already owns the version, so
    exactly one committer wins. Returns False on a lost race.

    Stamps ``committed_at_ms`` (driver wall clock at publication) into
    the manifest — the basis for timestamp time travel
    (``read_snapshot(as_of_ms=...)``). Commit order is defined by the
    version race, not the clock, so a skewed clock can at worst make
    an AS-OF read resolve to a neighboring version, never corrupt one.
    """
    import time

    manifest = {**manifest, "committed_at_ms": int(time.time() * 1000)}
    tmp = os.path.join(
        table_path, f"manifest.{version}.json.tmp.{uuid.uuid4().hex}"
    )
    final = os.path.join(table_path, f"manifest.{version}.json")
    with open(tmp, "w") as fh:
        json.dump(manifest, fh)
    try:
        os.link(tmp, final)  # THE commit point (create-exclusive)
        return True
    except FileExistsError:
        return False
    finally:
        os.remove(tmp)


def _remove_manifest(table_path: str, version: int) -> None:
    """Delete ``manifest.<version>.json`` (expiry's last step)."""
    os.remove(os.path.join(table_path, f"manifest.{version}.json"))


def _read_mapped(
    spark: SparkSession, table_path: str, m: dict, dirs: list
) -> DataFrame:
    """Read manifest-listed directories under the manifest's LOGICAL
    schema, applying its per-directory ``column_map`` (renamed columns
    read their recorded physical name). Directories group by mapping,
    so the identity-mapped common case stays ONE multi-path scan and a
    table that never renamed pays nothing."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructField, StructType

    schema = StructType.fromJson(m["schema"])
    if not dirs:
        return spark.createDataFrame([], schema)
    cmap = m.get("column_map", {})
    groups: dict[tuple, list] = {}
    for d in dirs:
        sig = tuple(sorted(cmap.get(d, {}).items()))
        groups.setdefault(sig, []).append(d)
    out = None
    for sig, ds in sorted(groups.items()):
        mp = dict(sig)
        phys = StructType([
            StructField(mp.get(f.name, f.name), f.dataType, f.nullable)
            for f in schema.fields
        ])
        df = spark.read.schema(phys).parquet(
            *[os.path.join(table_path, d) for d in ds])
        if mp:
            df = df.select(*[
                F.col(mp.get(f.name, f.name)).alias(f.name)
                for f in schema.fields
            ])
        out = df if out is None else out.unionByName(df)
    return out


def evolve_schema(
    table_path: str,
    *,
    add: dict | None = None,
    drop: tuple = (),
    rename: dict | None = None,
) -> int:
    """Metadata-only schema evolution — commits a new manifest, touches
    ZERO data files (the add/drop/rename DDL of the Iceberg/Delta
    design reduced to its observable semantics):

    * ``add``: ``{name: ddl_type}`` — appended nullable; every existing
      directory reads it null-filled until a write provides values.
    * ``drop``: column names removed from the read schema (files keep
      the bytes; earlier versions time-travel with the column intact).
    * ``rename``: ``{old: new}`` — existing directories keep serving
      the value under its physical name via the manifest's
      per-directory ``column_map``; post-evolution writes use the new
      name directly. Never a rewrite, never positional matching.

    Stats keys follow renames/drops, so manifest-level pruning keeps
    working across an evolution. Publication is the same put-if-absent
    manifest race as every other commit. Returns the new version."""
    from pyspark.sql.types import StructField, StructType
    from pyspark.sql.types import _parse_datatype_string

    _require_local(table_path)
    add = dict(add or {})
    rename = dict(rename or {})
    drop = tuple(drop)
    while True:
        prev = current_version(table_path)
        if prev is None:
            raise FileNotFoundError(
                f"no committed snapshot under {table_path}")
        m = _read_manifest(table_path, prev)
        schema = StructType.fromJson(m["schema"])
        names = [f.name for f in schema.fields]
        for old in rename:
            if old not in names:
                raise ValueError(f"rename source {old!r} not in schema")
            if old in drop:
                raise ValueError(f"{old!r} both renamed and dropped")
        for d in drop:
            if d not in names:
                raise ValueError(f"drop column {d!r} not in schema")
        kept = [rename.get(n, n) for n in names if n not in drop]
        dup = {n for n in kept if kept.count(n) > 1}
        if dup:
            raise ValueError(f"rename collides on {sorted(dup)}")
        for a in add:
            if a in kept:
                raise ValueError(f"add column {a!r} already in schema")
        new_fields = [
            StructField(rename.get(f.name, f.name), f.dataType, True)
            for f in schema.fields if f.name not in drop
        ]
        for name, ddl in add.items():
            new_fields.append(
                StructField(name, _parse_datatype_string(ddl), True))
        prev_map = m.get("column_map", {})
        stats = m.get("stats", {})
        new_map: dict = {}
        new_stats: dict = {}
        for d in m["data_dirs"]:
            mp = dict(prev_map.get(d, {}))
            for old, new in rename.items():
                mp[new] = mp.pop(old, old)
            for dc in drop:
                mp.pop(dc, None)
            for a in add:
                # map the added column to a physical name that cannot
                # exist in ANY already-written directory, so every
                # existing directory reads it null-filled — without
                # this, re-adding a previously-dropped name (or one
                # that happens to exist physically) would resurrect the
                # stale bytes instead of honoring the documented
                # "adds read null-filled until a write provides
                # values" contract (ADVICE r9). Post-evolution writes
                # create new directories with no mapping, so they
                # serve real values directly.
                mp[a] = f"__absent__{a}"
            mp = {k: v for k, v in mp.items() if k != v}
            phys = [mp.get(f.name, f.name) for f in new_fields]
            if len(set(phys)) != len(phys):
                raise ValueError(
                    f"directory {d}: two logical columns would read "
                    "the same physical column")
            if mp:
                new_map[d] = mp
            if d in stats:
                st = {
                    rename.get(c, c): v for c, v in stats[d].items()
                    if c not in drop
                }
                if st:
                    new_stats[d] = st
        manifest = {
            "version": prev + 1,
            "mode": "evolve",
            "schema": StructType(new_fields).jsonValue(),
            "data_dirs": m["data_dirs"],
        }
        if new_stats:
            manifest["stats"] = new_stats
        if new_map:
            manifest["column_map"] = new_map
        if _publish_manifest(table_path, prev + 1, manifest):
            return prev + 1
        # lost a race with a concurrent commit: re-derive and retry


def write_snapshot(
    df: DataFrame,
    table_path: str,
    *,
    mode: str = "append",
    version: int | None = None,
    stats_cols: tuple[str, ...] = (),
) -> int | None:
    """Commit ``df`` as a new snapshot; returns the committed version.

    The data write happens into a fresh commit-private directory; the
    snapshot becomes visible only at the create-exclusive manifest
    publication (on an object store this maps to the usual
    put-if-absent commit). A crash at ANY earlier point leaves the table
    exactly at its previous version. A writer that loses the version
    race re-reads the new current manifest and retries at the next
    number — its data directory is already on disk, so the retry is
    manifest-only and no committed snapshot's directories are dropped.

    ``version`` pins the commit to an exact number (idempotent external
    sequencers, e.g. a streaming batch id): if that manifest already
    exists the commit is SKIPPED and None is returned — data written by
    the skipped attempt stays orphaned and invisible.

    ``stats_cols`` records per-directory min/max for the named columns
    in the manifest (one delta-sized aggregate scan of the freshly
    written directory; appends inherit earlier directories' stats from
    the previous manifest). ``read_snapshot(prune=...)`` uses them to
    skip whole directories on read — the manifest-level file skipping
    of the Iceberg/Delta design, executed here.
    """
    _require_local(table_path)
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append or overwrite, got {mode!r}")
    if version is not None and has_version(table_path, version):
        return None
    os.makedirs(table_path, exist_ok=True)
    commit_dir = f"data/{uuid.uuid4().hex}"
    df.write.mode("overwrite").parquet(os.path.join(table_path, commit_dir))
    new_stats = {}
    if stats_cols:
        from pyspark.sql import functions as F

        spark = df.sparkSession
        written = spark.read.parquet(os.path.join(table_path, commit_dir))
        row = written.agg(*[
            a for c in stats_cols
            for a in (F.min(c).alias(f"_lo_{c}"), F.max(c).alias(f"_hi_{c}"))
        ]).first()
        new_stats = {
            c: [row[f"_lo_{c}"], row[f"_hi_{c}"]]
            for c in stats_cols
            # manifest is JSON: only natively-representable stat types
            # (prune compares with the same semantics); a timestamp/
            # decimal column simply records no stats (= never pruned)
            if all(isinstance(v, (int, float, str, type(None)))
                   for v in (row[f"_lo_{c}"], row[f"_hi_{c}"]))
        }

    while True:
        prev = current_version(table_path)
        dirs = [commit_dir]
        stats = {commit_dir: new_stats} if new_stats else {}
        cmap = {}
        if mode == "append" and prev is not None:
            pm = _read_manifest(table_path, prev)
            dirs = pm["data_dirs"] + dirs
            stats = {**pm.get("stats", {}), **stats}
            # carried-by-reference directories keep their rename
            # mappings; the fresh commit dir is identity-mapped
            cmap = pm.get("column_map", {})
        v = version if version is not None else (
            0 if prev is None else prev + 1
        )
        manifest = {
            "version": v,
            "mode": mode,
            "schema": df.schema.jsonValue(),
            "data_dirs": dirs,
        }
        if stats:
            manifest["stats"] = stats
        if cmap:
            manifest["column_map"] = cmap
        if _publish_manifest(table_path, v, manifest):
            return v
        if version is not None:  # pinned version taken: idempotent skip
            return None


def version_as_of(table_path: str, as_of_ms: int) -> int:
    """Highest version whose recorded commit time is <= ``as_of_ms``
    (epoch milliseconds) — timestamp time travel over the manifest log.
    Manifests from before the stamp was introduced fall back to the
    manifest file's mtime. Raises when the timestamp predates every
    retained commit (expired history cannot be resolved honestly)."""
    _require_local(table_path)
    best = None
    for v in _versions(table_path):
        m = _read_manifest(table_path, v)
        ts = m.get("committed_at_ms")
        if ts is None:
            ts = int(os.stat(
                os.path.join(table_path, f"manifest.{v}.json")
            ).st_mtime * 1000)
        if ts <= as_of_ms and (best is None or v > best):
            best = v
    if best is None:
        raise FileNotFoundError(
            f"no snapshot at or before {as_of_ms} ms under {table_path}")
    return best


def read_snapshot(
    spark: SparkSession,
    table_path: str,
    *,
    version: int | None = None,
    as_of_ms: int | None = None,
    prune: dict | None = None,
) -> DataFrame:
    """Read a snapshot (latest by default; ``version`` or ``as_of_ms``
    time-travels — at most one of the two).
    Only the manifest's directories are scanned — uncommitted/orphaned
    data is invisible by construction.

    ``prune`` maps column -> (lo, hi) half-open-agnostic RANGE (either
    bound None for unbounded): directories whose recorded [min, max]
    for that column cannot overlap the range are skipped entirely —
    manifest-level file skipping, an I/O optimization only. Rows inside
    surviving directories are NOT filtered (exactly like partition
    pruning); apply the real predicate on the returned frame.
    Directories without stats for a pruned column are conservatively
    kept. Returns an empty frame of the manifest schema when every
    directory prunes away."""
    vs = _versions(table_path)
    if not vs:
        raise FileNotFoundError(f"no committed snapshot under {table_path}")
    if as_of_ms is not None:
        if version is not None:
            raise ValueError("pass version OR as_of_ms, not both")
        version = version_as_of(table_path, as_of_ms)
    if version is None:
        version = vs[-1]
    elif version not in vs:
        raise FileNotFoundError(
            f"version {version} not present under {table_path}; have {vs}"
        )
    m = _read_manifest(table_path, version)
    dirs = m["data_dirs"]
    if prune:
        stats = m.get("stats", {})

        def _keep(d: str) -> bool:
            for col, (lo, hi) in prune.items():
                rec = stats.get(d, {}).get(col)
                if rec is None or rec[0] is None or rec[1] is None:
                    continue  # no stats -> cannot prove disjoint
                if hi is not None and rec[0] is not None and rec[0] > hi:
                    return False
                if lo is not None and rec[1] is not None and rec[1] < lo:
                    return False
            return True

        dirs = [d for d in dirs if _keep(d)]
    return _read_mapped(spark, table_path, m, dirs)


def upsert_snapshot(
    spark: SparkSession,
    table_path: str,
    updates: DataFrame,
    key_col: str,
    *,
    stats_cols: tuple[str, ...] = (),
    version: int | None = None,
    delete_keys: DataFrame | None = None,
) -> int | None:
    """Copy-on-write MERGE: rows of ``updates`` replace same-key rows of
    the current snapshot; new keys append; keys in ``delete_keys`` (a
    one-column frame of ``key_col`` values) are REMOVED — they join the
    directory probe and the anti-join but contribute no replacement
    rows, so a delete is "replace with nothing" inside the same single
    commit. Directory-level CoW — only
    directories whose recorded ``key_col`` [min, max] actually CONTAINS
    an update key are rewritten (one small join of the update keys
    against the manifest's per-dir ranges); every other directory
    carries over BY REFERENCE, stats intact, untouched on disk. At
    100 TB that is the difference between rewriting a table and
    rewriting the few files a trickle of updates lands in. Directories
    without ``key_col`` stats are rewritten conservatively.

    The commit is the same put-if-absent manifest publication as
    ``write_snapshot``; on a lost race the affected-directory set is
    recomputed against the new current manifest and the merge re-runs
    (the orphaned first attempt stays invisible). Requires an existing
    snapshot (commit the base with ``write_snapshot`` first); ``updates``
    must carry the snapshot schema. ``updates`` is evaluated twice
    (affected-dir probe + rewrite) — persist upstream if it's expensive.
    Previous versions time-travel unchanged (the pre-image directories
    survive until ``expire_snapshots``).

    ``version`` pins the commit number exactly as in
    :func:`write_snapshot`: an already-present manifest means a replayed
    external sequencer batch — the merge is SKIPPED and None returned
    (the streaming CDC-apply idempotency contract)."""
    from pyspark.sql import functions as F

    _require_local(table_path)
    if current_version(table_path) is None:
        raise FileNotFoundError(f"no committed snapshot under {table_path}")
    if version is not None and has_version(table_path, version):
        return None
    stats_cols = tuple(dict.fromkeys((key_col, *stats_cols)))

    while True:
        prev = current_version(table_path)
        m = _read_manifest(table_path, prev)
        stats = m.get("stats", {})
        ranged = [
            (d, s[key_col][0], s[key_col][1])
            for d in m["data_dirs"]
            if (s := stats.get(d, {})).get(key_col) is not None
            and s[key_col][0] is not None and s[key_col][1] is not None
        ]
        statless = [
            d for d in m["data_dirs"]
            if stats.get(d, {}).get(key_col) is None
            or None in stats[d][key_col]
        ]
        touched_keys = updates.select(F.col(key_col)).distinct()
        if delete_keys is not None:
            touched_keys = touched_keys.unionByName(
                delete_keys.select(F.col(key_col))
            ).distinct()
        affected = set(statless)
        if ranged:
            dirs_df = spark.createDataFrame(
                ranged, ["_dir", "_lo", "_hi"]
            )
            hit = (
                touched_keys.select(F.col(key_col).alias("_k"))
                .join(
                    F.broadcast(dirs_df),
                    (F.col("_k") >= F.col("_lo"))
                    & (F.col("_k") <= F.col("_hi")),
                )
                .select("_dir").distinct()
            )
            affected |= {r._dir for r in hit.collect()}
        untouched = [d for d in m["data_dirs"] if d not in affected]

        merged = updates
        if affected:
            # mapped read: affected pre-rename directories surface
            # their physical columns under the logical schema
            old = _read_mapped(spark, table_path, m, sorted(affected))
            merged = updates.unionByName(
                old.join(touched_keys, key_col, "left_anti"),
                allowMissingColumns=True,
            )
        commit_dir = f"data/{uuid.uuid4().hex}"
        full = os.path.join(table_path, commit_dir)
        merged.write.mode("overwrite").parquet(full)
        written = spark.read.parquet(full)
        row = written.agg(*[
            a for c in stats_cols
            for a in (F.min(c).alias(f"_lo_{c}"), F.max(c).alias(f"_hi_{c}"))
        ]).first()
        v = version if version is not None else prev + 1
        manifest = {
            "version": v,
            "mode": "upsert",
            "schema": written.schema.jsonValue(),
            "data_dirs": untouched + [commit_dir],
            "stats": {
                **{d: stats[d] for d in untouched if d in stats},
                commit_dir: {
                    c: [row[f"_lo_{c}"], row[f"_hi_{c}"]]
                    for c in stats_cols
                    if all(isinstance(v, (int, float, str, type(None)))
                           for v in (row[f"_lo_{c}"], row[f"_hi_{c}"]))
                },
            },
        }
        prev_cmap = m.get("column_map", {})
        cmap = {d: prev_cmap[d] for d in untouched if d in prev_cmap}
        if cmap:
            manifest["column_map"] = cmap
        if _publish_manifest(table_path, v, manifest):
            return v
        if version is not None:  # pinned version taken: idempotent skip
            return None
        # lost the race: recompute against the new current manifest


def compact_snapshot(
    spark: SparkSession,
    table_path: str,
    *,
    stats_cols: tuple[str, ...] = (),
) -> int:
    """Bin-pack the current snapshot into ONE data directory (a small
    upsert-heavy table accumulates directories; readers pay per-dir
    listing). Same rows, new overwrite-mode manifest; older versions
    time-travel unchanged until ``expire_snapshots``."""
    v = write_snapshot(
        read_snapshot(spark, table_path), table_path,
        mode="overwrite", stats_cols=stats_cols,
    )
    assert v is not None  # unpinned commits always land
    return v


def expire_snapshots(table_path: str, *, keep_last: int = 2) -> list[int]:
    """Drop manifests older than the last ``keep_last`` and delete data
    directories referenced by an expired manifest and by NO retained
    one. Returns the expired versions. Readers of retained versions are
    unaffected (their directories survive by definition), and so is a
    concurrent writer mid-commit: its data directory is referenced by
    no manifest at all yet, and unreferenced directories are never
    touched here (orphans from crashed attempts are reclaimed only when
    a later expiry sees them referenced by an expired manifest — i.e.
    never; they are invisible and bounded by crash count, a deliberate
    trade against deleting an in-flight commit's files)."""
    import shutil

    _require_local(table_path)
    vs = _versions(table_path)
    expired = vs[:-keep_last] if keep_last > 0 else vs
    kept = vs[len(expired):]
    referenced: set[str] = set()
    for v in kept:
        referenced.update(_read_manifest(table_path, v)["data_dirs"])
    removable: set[str] = set()
    for v in expired:
        removable.update(_read_manifest(table_path, v)["data_dirs"])
    # data directories FIRST, manifests last: the expired manifests are
    # the only record that these directories are reclaimable, so a crash
    # between the two loops must leave the manifests (a re-run then
    # re-expires the same versions; rmtree is isdir-guarded) rather
    # than leak unreferenced directories forever
    for d in removable - referenced:
        full = os.path.join(table_path, d)
        if os.path.isdir(full):
            shutil.rmtree(full)
    for v in expired:
        _remove_manifest(table_path, v)
    return expired


def merge_into(
    spark: SparkSession,
    table_path: str,
    source: DataFrame,
    key_col: str,
    *,
    when_matched: str = "update",
    when_not_matched: str = "insert",
    matched_delete_condition=None,
    stats_cols: tuple[str, ...] = (),
    version: int | None = None,
) -> int | None:
    """SQL-MERGE clause semantics over the snapshot machinery, in ONE
    commit: ``when_matched`` = "update" (source row replaces the target
    row) or "ignore" (target wins); ``when_not_matched`` = "insert" or
    "ignore" (unknown keys dropped); ``matched_delete_condition`` (a
    boolean Column over source columns) deletes matched keys instead of
    updating them — the clause tombstone-style CDC can't express
    without a separate feed.

    With the default update+insert clauses this IS
    :func:`upsert_snapshot` and delegates directly (no extra work).
    Any non-default clause needs to know which source keys exist in the
    target: ONE skinny key-projection semi/anti split of the
    batch-sized source (the table side scans only ``key_col``), then
    the same single copy-on-write commit. Returns the committed
    version (None = replayed pinned version)."""
    from pyspark.sql import functions as F

    if when_matched not in ("update", "ignore"):
        raise ValueError(f"when_matched={when_matched!r}")
    if when_not_matched not in ("insert", "ignore"):
        raise ValueError(f"when_not_matched={when_not_matched!r}")
    plain = (when_matched == "update" and when_not_matched == "insert"
             and matched_delete_condition is None)
    if plain:
        return upsert_snapshot(
            spark, table_path, source, key_col,
            stats_cols=stats_cols, version=version,
        )
    tgt_keys = read_snapshot(spark, table_path).select(key_col)
    matched = source.join(tgt_keys, key_col, "semi")
    unmatched = source.join(tgt_keys, key_col, "anti")
    deletes = None
    if matched_delete_condition is not None:
        deletes = matched.filter(matched_delete_condition).select(key_col)
        matched = matched.filter(~matched_delete_condition)
    parts = []
    if when_matched == "update":
        parts.append(matched)
    if when_not_matched == "insert":
        parts.append(unmatched)
    if not parts:
        # deletes-only merge: an empty same-schema updates frame
        parts.append(source.filter(F.lit(False)))
    updates = parts[0]
    for p in parts[1:]:
        updates = updates.unionByName(p)
    return upsert_snapshot(
        spark, table_path, updates, key_col,
        stats_cols=stats_cols, version=version, delete_keys=deletes,
    )
