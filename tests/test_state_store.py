"""KeyedStateStore: bloom/bucket probe pruning, tiered folding, and the
round's scale pins (VERDICT r5 next #1/#2/#7).

The two load-bearing invariants:

* **No false negatives** — a probe result must be a SUPERSET of the
  exact matches (bloom build in Spark and bloom test in numpy must
  agree bit-for-bit), else the curation stream silently keeps
  duplicates.
* **Probe I/O tracks batch keys, not state size** — per-batch probe
  bytes must stay flat while the accumulated state grows 10x.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from nexus_processor_spark.streaming import curate, state_store
from nexus_processor_spark.streaming.state_store import KeyedStateStore

ROW_SCHEMA = "key string, ref string, vals array<string>, cnt bigint"


def _store(spark, path, **kw):
    kw.setdefault("fold_factor", 4)
    return KeyedStateStore(
        spark, str(path), row_schema=ROW_SCHEMA,
        key_col="key", kind_col="kind", bloom_kinds=("md5", "band"), **kw,
    )


def _delta(spark, kind, keys):
    return spark.createDataFrame(
        [(kind, k, None, None, None) for k in keys], curate.STATE_SCHEMA
    )


@pytest.fixture(autouse=True, params=["fs"])
def local_fs(request):
    """The store runs over the local filesystem only (its commit point
    is ``snapshots._publish_manifest``). The single param keeps this
    module's ``[fs]`` test ids, so tier-1 records stay comparable with
    runs that also covered a since-deleted object-store twin."""
    return request.param


def test_probe_has_no_false_negatives_randomized(spark, tmp_path):
    """1000 random keys across 3 deltas; 600 probe keys (half present,
    half absent, adversarially similar strings). The probe result must
    contain EVERY present key — a single false negative means the
    Spark-side bloom build and the numpy-side test disagree."""
    rng = random.Random(6)
    store = _store(spark, tmp_path / "s", target_rows_per_bucket=8)
    all_keys = []
    for b in range(3):
        keys = [
            "".join(rng.choice("0123456789abcdef") for _ in range(32))
            for _ in range(333)
        ]
        all_keys.extend(keys)
        store.commit_delta(_delta(spark, "md5", keys), version=b)
    present = rng.sample(all_keys, 10)
    absent = [
        k[:-1] + ("0" if k[-1] != "0" else "1")
        for k in rng.sample(all_keys, 300)
    ]
    probe_keys = spark.createDataFrame(
        [(k,) for k in present + absent], "key string")
    got = {r.key for r in store.probe("md5", probe_keys).collect()}
    assert set(present) <= got  # superset: no false negatives, ever
    # and the pruned read didn't scan everything: 10 true keys touch at
    # most 10 of the 192 bucket dirs (plus the bloom fp tail)
    assert len(got) < len(all_keys) / 3


@pytest.mark.slow
def test_probe_equals_full_scan_semantics(spark, tmp_path):
    """curate_batch decisions through the store handle == decisions
    through the full-state DataFrame (the oracle path), end to end on
    real documents — layout and pruning change I/O, never results."""
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").select("doc_id", "text")
    b1 = docs.filter("doc_id % 2 = 0")
    b2 = docs.filter("doc_id % 2 = 1")
    a1 = curate.curate_batch(b1, None)
    delta = curate._survivor_state(
        a1.filter("keep"), text_col="text", id_col="doc_id")
    sd = str(tmp_path / "state")
    curate._advance_state(spark, sd, 0, delta)

    store = curate.open_state(spark, sd)
    via_store = {
        r.doc_id: (r.keep, r.drop_reason)
        for r in curate.curate_batch(b2, store).collect()
    }
    via_df = {
        r.doc_id: (r.keep, r.drop_reason)
        for r in curate.curate_batch(
            b2, curate.read_state(spark, sd)).collect()
    }
    assert via_store == via_df
    assert any(not k for k, _ in via_store.values()) or via_store
    # and the probes pruned: the exact-dup probe read fewer bytes than
    # the whole state occupies
    total = state_store._dir_bytes(sd)
    assert store.probe_bytes_total < total * 3  # 3 probes ran


@pytest.mark.slow
def test_probe_bytes_stay_flat_as_state_grows_10x(spark, tmp_path):
    """THE r5 scale pin (VERDICT next #1): fixed probe, state grown 10x
    — per-probe bytes read must not track state size. The probe keys
    contain 20 true hits per round, so candidate reads stay
    candidate-sized while the log grows."""
    store = _store(
        spark, tmp_path / "s", target_rows_per_bucket=64, fold_factor=4)
    hits = [f"hit{i:028d}" for i in range(20)]
    store.commit_delta(
        _delta(spark, "md5", hits), version=0,
        fold_fn=curate._compact_state)
    probe_keys = spark.createDataFrame(
        [(k,) for k in hits]
        + [(f"miss{i:026d}",) for i in range(500)], "key string")

    def probe_bytes():
        got = store.probe("md5", probe_keys)
        n = got.join(probe_keys, "key", "left_semi").count()
        assert n == len(hits)
        return store.last_probe_bytes

    small = probe_bytes()
    # grow the state ~200x with keys the probe never asks for; tier
    # folds run, merging the hit keys into big directories — the
    # per-dir bucket sizing keeps the read granularity bounded anyway
    for b in range(1, 11):
        filler = [f"fill{b:04d}x{i:023d}" for i in range(4000)]
        store.commit_delta(
            _delta(spark, "md5", filler), version=b,
            fold_fn=curate._compact_state)
    big = probe_bytes()
    total = state_store._dir_bytes(str(tmp_path / "s"))
    # the probe reads hit-bucket files (+ bloom fp tail), not the
    # state: a fraction of the full scan, and within a small factor of
    # the cold-state probe even though the state grew ~200x
    assert big < total / 4, (big, total)
    assert big <= small * 6 + 65536, (small, big)
    # bloom sidecars are immutable and cached: a steady-state probe
    # loads zero metadata bytes
    probe_bytes()
    assert store.last_probe_meta_bytes == 0


@pytest.mark.slow
def test_fold_keeps_single_commit_bounded_over_32_batches(spark, tmp_path):
    """Tiered-compaction pin (VERDICT r5 next #2): across 32 equal
    deltas no single commit writes more than a fixed multiple of the
    delta size — the old policy's every-16th-commit FULL rewrite would
    hit 16x/32x the delta here and keep growing with the corpus."""
    store = _store(spark, tmp_path / "s", fold_factor=4)
    commit_bytes = []
    delta_bytes = []
    for b in range(32):
        keys = [f"b{b:03d}k{i:03d}" for i in range(100)]
        store.commit_delta(
            _delta(spark, "md5", keys), version=b,
            fold_fn=curate._compact_state,
        )
        commit_bytes.append(store.last_commit_bytes)
        delta_bytes.append(store.last_commit_bytes - store.last_fold_bytes)
    d = sorted(delta_bytes)[len(delta_bytes) // 2]  # median delta
    # T=4 over 32 commits: largest event is a tier-1 fold (16 deltas)
    # plus the append and a possible tier-0 cascade — comfortably under
    # 24x the delta; a full-state rewrite would be ~32x and growing
    assert max(commit_bytes) <= 24 * d, (max(commit_bytes), d)
    # fan-in stays logarithmic-ish, far below one dir per batch
    assert len(store._dirs()) <= 8
    # nothing lost in the folds
    assert store.read_kind("md5").count() == 3200


def test_qhist_counts_survive_folds(spark, tmp_path):
    """qhist rows are additive; folds must SUM them (via the
    _compact_state fold_fn), not dedupe them."""
    store = _store(spark, tmp_path / "s", fold_factor=2)
    for b in range(4):
        qh = spark.createDataFrame(
            [("qhist", "42.0", None, None, 10)], curate.STATE_SCHEMA)
        store.commit_delta(qh, version=b, fold_fn=curate._compact_state)
    rows = store.read_kind("qhist").collect()
    assert sum(r.cnt for r in rows) == 40


def test_retention_contract_keep_last_two(spark, tmp_path):
    """VERDICT r5 next #7: expiry to keep_last=2 is sufficient because
    Structured Streaming replays AT MOST the latest batch (N): batches
    <= N-1 are checkpoint-complete. Pin both halves: (a) after commit N
    only {N-1, N} manifests remain, (b) a replay of N is detected via
    its manifest and skipped whole — commit_delta returns None and
    rewrites nothing."""
    sd = str(tmp_path / "state")
    for b in range(5):
        curate._advance_state(
            spark, sd, b, _delta(spark, "md5", [f"b{b}k{i}" for i in range(5)]))
    assert curate.state_versions(sd) == [3, 4]
    store = curate.open_state(spark, sd)
    before_dirs = [e["path"] for e in store._dirs()]
    # replay of the latest batch: manifest exists -> skipped whole
    v = store.commit_delta(
        _delta(spark, "md5", ["replayed-row"]), version=4)
    assert v is None
    assert [e["path"] for e in store._dirs()] == before_dirs
    assert store.read_kind("md5").filter(
        F.col("key") == "replayed-row").count() == 0
    # all five batches' keys are still probe-visible after expiry
    assert store.read_kind("md5").count() == 25


@pytest.mark.slow
def test_store_probes_add_no_shuffle_joins(spark, tmp_path):
    """The store-path twin of test_streaming_curate's broadcast-only
    invariant: pruned probe reads must still join the batch via
    broadcast — zero extra SortMergeJoin/ShuffledHashJoin vs cold."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sd = str(tmp_path / "state")
    a1 = curate.curate_batch(docs.filter("doc_id % 2 = 0"), None)
    curate._advance_state(
        spark, sd, 0,
        curate._survivor_state(
            a1.filter("keep"), text_col="text", id_col="doc_id"))

    def shuffle_joins(df):
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode
            .fromString("formatted")
        )
        return plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin")

    batch = docs.filter("doc_id % 2 = 1")
    cold = shuffle_joins(curate.curate_batch(batch, None))
    warm = shuffle_joins(
        curate.curate_batch(batch, curate.open_state(spark, sd)))
    assert warm == cold


@pytest.mark.slow
def test_probe_bytes_flat_across_fold_generations(spark, tmp_path):
    """VERDICT r6 next #1: bucket-file SIZE, not bucket count, is the
    invariant. Under the old 256-bucket cap a tier-folded directory's
    bucket files grew as dir_rows/256 and probe bytes jumped ~20x the
    batch after a fold (curatebench, r6). Here the state crosses TWO
    fold generations (T=2: gen-1 merges appear by commit 2, gen-2 by
    commit 4) into directories with MORE buckets than one bloom group
    — probe bytes must stay within a small factor of the cold-state
    probe."""
    store = _store(
        spark, tmp_path / "s", target_rows_per_bucket=8, fold_factor=2)
    hits = [f"hit{i:028d}" for i in range(5)]
    store.commit_delta(
        _delta(spark, "md5", hits), version=0,
        fold_fn=curate._compact_state)
    probe_keys = spark.createDataFrame(
        [(k,) for k in hits]
        + [(f"miss{i:026d}",) for i in range(200)], "key string")

    def probe_bytes():
        got = store.probe("md5", probe_keys)
        assert got.join(probe_keys, "key", "left_semi").count() == len(hits)
        return store.last_probe_bytes

    small = probe_bytes()
    for b in range(1, 9):
        filler = [f"fill{b:04d}x{i:023d}" for i in range(512)]
        store.commit_delta(
            _delta(spark, "md5", filler), version=b,
            fold_fn=curate._compact_state)
    # the tiered log now holds fold-generation >= 2 directories big
    # enough that their bucket count exceeds one bloom group
    nbs = [e["buckets"] for e in store._dirs()]
    assert max(nbs) > state_store.BLOOM_GROUP, nbs
    big = probe_bytes()
    # bucket files hold ~target_rows_per_bucket rows regardless of the
    # fold generation, so the probe reads hit-sized bytes: within ~2x
    # of the pre-fold probe (+ a fixed parquet-footer allowance for
    # the extra log directories the 5 hits now appear in)
    assert big <= small * 2 + 32768, (small, big)
    # sharded sidecars engaged and are cached: steady-state probes load
    # zero metadata bytes
    probe_bytes()
    assert store.last_probe_meta_bytes == 0


@pytest.mark.slow
def test_sharded_bloom_sidecars_layout_and_pruning(spark, tmp_path):
    """A directory with more buckets than one bloom group writes one
    sidecar PER GROUP (never the legacy single file), and a probe
    loads only the groups its candidate buckets fall in."""
    import glob
    import os

    store = _store(spark, tmp_path / "s", target_rows_per_bucket=4)
    keys = [f"k{i:030d}" for i in range(4096)]  # -> 1024 buckets
    store.commit_delta(_delta(spark, "md5", keys), version=0)
    (entry,) = store._dirs()
    assert entry["buckets"] == 1024
    d = str(tmp_path / "s" / entry["path"])
    shards = glob.glob(os.path.join(d, "_bloom_md5.g*.npz"))
    assert len(shards) == 1024 // state_store.BLOOM_GROUP
    assert not os.path.exists(os.path.join(d, "_bloom_md5.npz"))
    # one probe key -> exactly one group's shard loaded cold
    state_store._cache_clear()
    got = store.probe(
        "md5", spark.createDataFrame([(keys[7],)], "key string"))
    assert keys[7] in {r.key for r in got.collect()}
    total_shard_bytes = sum(os.path.getsize(s) for s in shards)
    assert 0 < store.last_probe_meta_bytes < total_shard_bytes / 2


def test_concurrent_commit_race_single_winner(spark, tmp_path):
    """Deployment-contract pin (VERDICT r6 next #6): two writers racing
    the SAME version corrupt nothing — os.link publication lets exactly
    one manifest win, the loser returns None, and its unreferenced data
    directory is an orphan the age-gated GC sweeps."""
    import threading

    sd = str(tmp_path / "s")
    results: dict[str, int | None] = {}

    def commit(tag: str, keys: list[str]) -> None:
        st = _store(spark, sd)
        results[tag] = st.commit_delta(
            _delta(spark, "md5", keys), version=0)

    t1 = threading.Thread(target=commit, args=("a", ["a1", "a2"]))
    t2 = threading.Thread(target=commit, args=("b", ["b1", "b2"]))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert sorted(results.values(), key=str) in ([None, 0], [0, None])
    store = _store(spark, sd)
    assert store.versions() == [0]
    winner = "a" if results["a"] == 0 else "b"
    rows = {r.key for r in store.read_kind("md5").collect()}
    assert rows == {f"{winner}1", f"{winner}2"}
    # the loser's dir (if it got as far as writing one before seeing
    # the published manifest) is an orphan; age-gated sweep removes it
    import os
    data = os.path.join(sd, "data")
    assert len(os.listdir(data)) in (1, 2)
    store.expire(keep_last=2, orphan_ttl_seconds=0.0)
    assert len(os.listdir(data)) == 1
    assert {r.key for r in store.read_kind("md5").collect()} == rows


def test_orphan_gc_age_gate(spark, tmp_path):
    """Orphan sweep is TTL-gated: a young unreferenced directory (an
    in-flight commit) survives; None skips the sweep entirely."""
    import os

    sd = str(tmp_path / "s")
    store = _store(spark, sd)
    store.commit_delta(_delta(spark, "md5", ["k1"]), version=0)
    orphan = os.path.join(sd, "data", "deadbeef")
    os.makedirs(orphan)
    store.expire(keep_last=2, orphan_ttl_seconds=None)
    assert os.path.isdir(orphan)
    store.expire(keep_last=2, orphan_ttl_seconds=3600.0)
    assert os.path.isdir(orphan)  # younger than the window
    store.expire(keep_last=2, orphan_ttl_seconds=0.0)
    assert not os.path.isdir(orphan)
    assert store.read_kind("md5").count() == 1


def test_crash_at_commit_point_is_invisible_and_retry_lands_once(
        spark, tmp_path, monkeypatch):
    """A crash at the single commit point — ``commit_delta`` has written
    its data directory, ``snapshots._publish_manifest`` never ran —
    leaves the current version unchanged, and neither ``read_kind`` nor
    ``probe`` returns a crashed row. A retry of the same version lands
    exactly once, and the orphan sweep removes the crashed attempt's
    directory."""
    import os

    from nexus_processor_spark.sources import snapshots

    sd = str(tmp_path / "s")
    data = os.path.join(sd, "data")
    store = _store(spark, sd)
    store.commit_delta(_delta(spark, "md5", ["k0", "k1"]), version=0)
    before = set(os.listdir(data))

    def crash(*a, **kw):
        raise OSError("crashed at the commit point")

    with monkeypatch.context() as m:
        m.setattr(snapshots, "_publish_manifest", crash)
        with pytest.raises(OSError, match="commit point"):
            store.commit_delta(
                _delta(spark, "md5", ["c0", "c1"]), version=1)
    orphans = set(os.listdir(data)) - before
    assert len(orphans) == 1  # the data directory was written
    assert store.current_version() == 0
    crashed = {"c0", "c1"}
    assert {r.key for r in store.read_kind("md5").collect()} == {"k0", "k1"}
    probe_keys = spark.createDataFrame(
        [("c0",), ("c1",), ("k0",)], "key string")
    got = {r.key for r in store.probe("md5", probe_keys).collect()}
    assert "k0" in got and not got & crashed

    assert store.commit_delta(
        _delta(spark, "md5", ["c0", "c1"]), version=1) == 1
    assert store.commit_delta(
        _delta(spark, "md5", ["c0", "c1"]), version=1) is None
    assert store.versions() == [0, 1]
    rows = sorted(r.key for r in store.read_kind("md5").collect())
    assert rows == ["c0", "c1", "k0", "k1"]
    got = {r.key for r in store.probe("md5", probe_keys).collect()}
    assert crashed <= got

    store.expire(keep_last=2, orphan_ttl_seconds=0.0)
    left = set(os.listdir(data))
    assert not orphans & left and len(left) == 2
    assert sorted(r.key for r in store.read_kind("md5").collect()) == rows


def test_probe_with_zero_keys_skips_sidecarless_dirs(spark, tmp_path):
    """ADVICE r6: zero batch keys must short-circuit to the empty frame
    even when a directory has NO bloom sidecar (a kind outside
    bloom_kinds would otherwise full-scan)."""
    store = KeyedStateStore(
        spark, str(tmp_path / "s"), row_schema=ROW_SCHEMA,
        key_col="key", kind_col="kind", bloom_kinds=(),  # no sidecars
    )
    store.commit_delta(
        _delta(spark, "md5", [f"k{i}" for i in range(50)]), version=0)
    empty = store.probe(
        "md5", spark.createDataFrame([], "key string"))
    assert empty.count() == 0
    assert store.last_probe_bytes == 0


def test_empty_delta_and_empty_probe(spark, tmp_path):
    store = _store(spark, tmp_path / "s")
    store.commit_delta(_delta(spark, "md5", []), version=0)
    store.commit_delta(_delta(spark, "md5", ["k1"]), version=1)
    got = store.probe(
        "md5", spark.createDataFrame([("k1",)], "key string"))
    assert [r.key for r in got.collect()] == ["k1"]
    empty = store.probe(
        "md5", spark.createDataFrame([], "key string"))
    assert empty.count() == 0
    # unknown kind: empty frame with the right columns
    none = store.probe(
        "mins", spark.createDataFrame([("k1",)], "key string"))
    assert none.count() == 0 and "key" in none.columns


def test_bulk_delta_expected_rows_routes_to_distributed_build(
        spark, tmp_path):
    """A caller-supplied expected_rows above driver_build_max_rows must
    route the bloom build to the fused distributed path (no O(delta)
    driver collect) and still produce probe-correct sidecars."""
    store = KeyedStateStore(
        spark, str(tmp_path / "s"), row_schema=ROW_SCHEMA,
        key_col="key", kind_col="kind", bloom_kinds=("md5",),
        driver_build_max_rows=5,  # force the threshold far down
        target_rows_per_bucket=16,  # ~13 buckets: pruning observable
    )
    keys = [f"bulk{i:04d}" for i in range(200)]
    v = store.commit_delta(
        _delta(spark, "md5", keys), version=0, expected_rows=len(keys))
    assert v == 0
    got = store.probe(
        "md5", spark.createDataFrame([("bulk0007",), ("absent",)],
                                     "key string"))
    assert "bulk0007" in {r.key for r in got.collect()}
    # and the pruned read skipped most buckets despite the bulk build
    assert store.last_probe_bytes < state_store._dir_bytes(
        str(tmp_path / "s"))


def test_unhinted_bulk_delta_routes_to_distributed_build(spark, tmp_path):
    """A large delta committed WITHOUT expected_rows must not take the
    O(delta) driver collect: the limit-bounded probe detects the
    overflow and routes to the distributed build (the r8 advisor's
    guard hole — previously expected_rows=None always collected
    (kind, h1, h2) for every delta row driver-side)."""
    store = KeyedStateStore(
        spark, str(tmp_path / "s"), row_schema=ROW_SCHEMA,
        key_col="key", kind_col="kind", bloom_kinds=("md5",),
        driver_build_max_rows=5,
        target_rows_per_bucket=16,
    )

    def _boom(*a, **k):
        raise AssertionError("driver-side bloom build must not run")

    store._build_blooms_driver = _boom
    keys = [f"nohint{i:04d}" for i in range(200)]
    v = store.commit_delta(_delta(spark, "md5", keys), version=0)
    assert v == 0
    got = {r.key for r in store.probe(
        "md5", spark.createDataFrame(
            [("nohint0007",), ("absent",)], "key string")).collect()}
    assert "nohint0007" in got and "absent" not in got


def test_small_unhinted_delta_keeps_driver_build(spark, tmp_path):
    """The common micro-batch path must NOT regress to extra jobs: an
    un-hinted delta under the bound still builds driver-side from the
    single capped collect."""
    store = KeyedStateStore(
        spark, str(tmp_path / "s"), row_schema=ROW_SCHEMA,
        key_col="key", kind_col="kind", bloom_kinds=("md5",),
        driver_build_max_rows=1000,
    )

    def _boom(*a, **k):
        raise AssertionError("distributed build must not run")

    store._build_blooms_distributed = _boom
    keys = [f"small{i:02d}" for i in range(20)]
    assert store.commit_delta(_delta(spark, "md5", keys), version=0) == 0
    got = {r.key for r in store.probe(
        "md5", spark.createDataFrame([("small07",)], "key string"))
        .collect()}
    assert "small07" in got


@pytest.mark.slow
def test_fold_bloom_build_stays_o_buckets_on_driver(
        spark, tmp_path, monkeypatch):
    """The distributed (fold-sized) bloom build must write its shards
    EXECUTOR-side: the driver-side shard writer never runs, and no
    collect/toPandas during the commit returns more than O(buckets)
    rows — before this change the driver collected EVERY finished
    bloom word (O(state bloom bytes)) and wrote all shards itself."""
    # patch the CONCRETE class: pyspark.sql.DataFrame is the abstract
    # interface in Spark 4 and its methods are overridden by classic
    from pyspark.sql.classic.dataframe import DataFrame

    store = KeyedStateStore(
        spark, str(tmp_path / "s"), row_schema=ROW_SCHEMA,
        key_col="key", kind_col="kind", bloom_kinds=("md5",),
        driver_build_max_rows=5,      # force the distributed path
        target_rows_per_bucket=16,    # 20k keys -> ~1250 buckets, 5 groups
    )

    def _boom(*a, **k):
        raise AssertionError("driver-side shard writer must not run")

    store._write_bloom_shards = _boom
    keys = [f"fold{i:06d}" for i in range(20_000)]
    sizes: list[int] = []
    orig_collect, orig_topandas = DataFrame.collect, DataFrame.toPandas

    def spy_collect(self):
        r = orig_collect(self)
        sizes.append(len(r))
        return r

    def spy_topandas(self):
        r = orig_topandas(self)
        sizes.append(len(r))
        return r

    monkeypatch.setattr(DataFrame, "collect", spy_collect)
    monkeypatch.setattr(DataFrame, "toPandas", spy_topandas)
    v = store.commit_delta(
        _delta(spark, "md5", keys), version=0, expected_rows=len(keys))
    monkeypatch.undo()
    assert v == 0
    nb = store._dirs()[0]["buckets"]
    assert nb > state_store.BLOOM_GROUP  # sharded: multiple groups
    # counts collect is O(buckets); shard summary is O(groups); the
    # old word collect was ~keys-sized and trips this bound
    assert sizes and max(sizes) <= 2 * nb
    # every group's shard file exists (zero groups included)
    import os as _os
    d = _os.path.join(str(tmp_path / "s"), store._dirs()[0]["path"])
    shards = [f for f in _os.listdir(d) if f.startswith("_bloom_md5.g")]
    assert len(shards) == -(-nb // state_store.BLOOM_GROUP)
    got = {r.key for r in store.probe(
        "md5", spark.createDataFrame(
            [("fold000007",), ("nope",)], "key string")).collect()}
    assert "fold000007" in got and "nope" not in got


def test_shard_cache_post_fold_probe_loads_only_new_dirs(spark, tmp_path):
    """VERDICT r8 next #8: steady-state sidecar-cache pins. A repeated
    probe loads ZERO metadata bytes (every shard cache-hit); after a
    new commit — and after a tier fold rewrites directories — the next
    probe loads at most the sidecars of directories it has never seen,
    never re-reading cached shards of surviving dirs."""
    import glob
    import os

    store = _store(
        spark, tmp_path / "s", target_rows_per_bucket=8, fold_factor=4)
    keys0 = [f"a{i:031d}" for i in range(64)]
    store.commit_delta(
        _delta(spark, "md5", keys0), version=0,
        fold_fn=curate._compact_state)
    probe_keys = spark.createDataFrame(
        [(k,) for k in keys0[:8]], "key string")
    store.probe("md5", probe_keys).count()
    assert store.last_probe_meta_bytes > 0  # cold: sidecars read once
    store.probe("md5", probe_keys).count()
    assert store.last_probe_meta_bytes == 0  # warm repeat: all cached

    def sidecar_bytes(entries):
        total = 0
        for e in entries:
            pat = os.path.join(
                str(tmp_path / "s"), e["path"], "_bloom_md5*.npz")
            total += sum(os.path.getsize(f) for f in glob.glob(pat))
        return total

    seen = {e["path"] for e in store._dirs()}
    store.commit_delta(
        _delta(spark, "md5", [f"b{i:031d}" for i in range(64)]),
        version=1, fold_fn=curate._compact_state)
    new = [e for e in store._dirs() if e["path"] not in seen]
    assert new  # the commit added at least one directory
    store.probe("md5", probe_keys).count()
    assert 0 < store.last_probe_meta_bytes <= sidecar_bytes(new)
    store.probe("md5", probe_keys).count()
    assert store.last_probe_meta_bytes == 0

    # drive commits until the tiered log FOLDS some directory away,
    # then pin the same only-new-dirs property across the rewrite
    prev = {e["path"] for e in store._dirs()}
    v = 2
    while True:
        store.commit_delta(
            _delta(spark, "md5", [f"c{v:02d}{i:029d}" for i in range(64)]),
            version=v, fold_fn=curate._compact_state)
        cur = {e["path"] for e in store._dirs()}
        folded_away = prev - cur
        v += 1
        assert v < 24, "fold never triggered"
        if folded_away:
            break
        prev = cur
    new = [e for e in store._dirs() if e["path"] not in prev]
    assert new  # the fold produced merged directories
    store.probe("md5", probe_keys).count()
    assert 0 < store.last_probe_meta_bytes <= sidecar_bytes(new)
    store.probe("md5", probe_keys).count()
    assert store.last_probe_meta_bytes == 0
