"""Artifact-preservation pin for bench.py's section carry-forward.

Round 11 lost a completed 90-minute full-sweep BENCH_SECTIONS.json to a
headline-only debug rerun that rewrote the same default path with only
the headline keys. ``carry_sections`` is the guard: sections absent or
budget-skipped in the current run are carried from the prior artifact
with a provenance marker, and sections that DID run are never
overwritten by stale data.
"""
from pathlib import Path

import bench


def test_missing_sections_carried_with_marker(monkeypatch):
    # the prior artifacts below carry no ``cpus``, which reads as 32-core
    monkeypatch.setattr(bench, "CPUS", 32)
    full = {"metric": "headline_queries_total_runtime", "value": 1.0}
    prior = {"curatebench": {"batches": [1, 2], "state_rows": 10},
             "bigbench": {"rows": 5}}
    out = bench.carry_sections(full, prior)
    assert out is full
    assert full["curatebench"] == {
        "batches": [1, 2], "state_rows": 10,
        "carried_from_prior_run": True}
    assert full["bigbench"] == {"rows": 5, "carried_from_prior_run": True}


def test_budget_skip_marker_is_replaced_by_prior_measurement(monkeypatch):
    # the prior artifacts below carry no ``cpus``, which reads as 32-core
    monkeypatch.setattr(bench, "CPUS", 32)
    full = {"docsbench": {"skipped": "budget (5400s)"}}
    prior = {"docsbench": {"qps": 12.0}}
    bench.carry_sections(full, prior)
    assert full["docsbench"] == {"qps": 12.0,
                                 "carried_from_prior_run": True}


def test_fresh_measurement_never_overwritten():
    full = {"annbench1m": {"configs": {"new": 1}}}
    prior = {"annbench1m": {"configs": {"old": 0},
                            "carried_from_prior_run": True}}
    bench.carry_sections(full, prior)
    assert full["annbench1m"] == {"configs": {"new": 1}}


def test_prior_skip_marker_is_not_carried():
    full = {}
    prior = {"tablebench": {"skipped": "budget (5400s)"}}
    bench.carry_sections(full, prior)
    assert "tablebench" not in full


def test_carry_survives_chained_reruns(monkeypatch):
    # the prior artifacts below carry no ``cpus``, which reads as 32-core
    monkeypatch.setattr(bench, "CPUS", 32)
    # a carried section carries again (marker stays a single bool)
    full = {}
    prior = {"vecbench": {"qps": 3.0, "carried_from_prior_run": True}}
    bench.carry_sections(full, prior)
    assert full["vecbench"] == {"qps": 3.0,
                                "carried_from_prior_run": True}


def test_empty_prior_is_noop():
    full = {"value": 2.0}
    bench.carry_sections(full, {})
    assert full == {"value": 2.0}


def test_fold_efficiency_pin_passes_on_proportional_folds():
    # folds cheaper per committed MB than steady probe+join batches
    v = {"folds": {"max_batch_over_median": 3.54, "batches": [
        {"sec": 30.0, "commit_mb": 38.0, "fold_mb": 0.0},
        {"sec": 132.0, "commit_mb": 38.0, "fold_mb": 0.0},  # noise batch
        {"sec": 197.0, "commit_mb": 579.0, "fold_mb": 540.0},
    ]}}
    pin = bench.fold_efficiency_pin(v)
    assert pin["ok"] is True
    row = pin["variants"]["folds"]
    assert row["worst_fold_mb"] == 540.0
    assert row["ratio"] < 1.0  # sequential rewrite beats probe work
    assert row["max_batch_over_median"] == 3.54  # informational only


def test_fold_efficiency_pin_trips_on_superlinear_fold():
    # a fold scanning O(state): huge seconds for its committed bytes
    v = {"main": {"batches": [
        {"sec": 30.0, "commit_mb": 38.0, "fold_mb": 0.0},
        {"sec": 31.0, "commit_mb": 38.0, "fold_mb": 0.0},
        {"sec": 500.0, "commit_mb": 80.0, "fold_mb": 40.0},
    ]}}
    pin = bench.fold_efficiency_pin(v)
    assert pin["ok"] is False
    assert pin["variants"]["main"]["ratio"] > bench.FOLD_EFF_K


def test_fold_efficiency_pin_skips_variants_without_folds():
    v = {"gates": {"max_batch_over_median": 1.2, "batches": [
        {"sec": 10.0, "commit_mb": 20.0, "fold_mb": 0.0}]}}
    pin = bench.fold_efficiency_pin(v)
    assert pin["ok"] is True
    assert "ratio" not in pin["variants"]["gates"]


def test_errored_section_carries_prior_and_keeps_error_visible(monkeypatch):
    # the prior artifacts below carry no ``cpus``, which reads as 32-core
    monkeypatch.setattr(bench, "CPUS", 32)
    full = {"opsbench": {"error": "Py4JJavaError: boom"}}
    prior = {"opsbench": {"qps": 9.0}}
    bench.carry_sections(full, prior)
    assert full["opsbench"] == {
        "qps": 9.0, "carried_from_prior_run": True,
        "error_this_run": "Py4JJavaError: boom"}


def test_prior_error_section_is_not_carried():
    full = {}
    prior = {"opsbench": {"error": "boom"}}
    bench.carry_sections(full, prior)
    assert "opsbench" not in full


def test_carry_refused_across_core_counts():
    # r12: an artifact measured at a different $SPARK_GRAFT_CPUS is a
    # different machine shape — never carried (the r11 8-core rerun
    # clobber-class, now also guarded at the carry layer).
    full = {}
    prior = {"cpus": 8, "bigbench": {"rows": 5}}
    bench.carry_sections(full, prior)
    assert "bigbench" not in full


def test_carry_treats_missing_cpus_as_32():
    # artifacts that predate the per-cpus split were all 32-core
    full = {}
    prior = {"bigbench": {"rows": 5}}
    bench.carry_sections(full, prior)
    assert (("bigbench" in full) == (bench.CPUS == 32))


def test_scaling_section_is_carryable():
    full = {}
    prior = {"cpus": bench.CPUS,
             "scaling": {"cpus": bench.CPUS, "flagship_sec": 5.0}}
    bench.carry_sections(full, prior)
    assert full["scaling"]["carried_from_prior_run"] is True


class _FakeSpark:
    """A session stand-in: sections add to ``cached``, clearCache empties
    it; it holds no persisted RDDs."""

    def __init__(self):
        self.cached: set = set()
        self.catalog = self
        self.sparkContext = self._jsc = self

    def clearCache(self):
        self.cached.clear()

    def getPersistentRDDs(self):
        return {}


def _fake_sweep(monkeypatch, sections, stopped_after=None):
    """Drive bench.run_sections with fake sections and no JVM; the fake
    context reads as stopped once the section ``stopped_after`` ran."""
    monkeypatch.setattr(bench, "BENCH_BUDGET_S", float("inf"))
    calls, persisted = [], []

    def fake(name, fail=False):
        def fn(spark):
            calls.append(name)
            if fail:
                raise RuntimeError(f"{name} broke")
            return {"sec": 1.0}
        return fn

    table = [(name, fake(name, fail), 0.0) for name, fail in sections]
    results: dict = {}
    lost = bench.run_sections(
        _FakeSpark(), table, results, lambda r: persisted.append(dict(r)),
        is_stopped=lambda: stopped_after in calls)
    return lost, results, calls, persisted


def test_dead_context_marks_later_sections_without_running_them(monkeypatch):
    lost, results, calls, persisted = _fake_sweep(monkeypatch, [
        ("scaling", False), ("curatebench", True),
        ("annbench", False), ("docsbench", False)],
        stopped_after="curatebench")
    assert lost == "curatebench"
    assert calls == ["scaling", "curatebench"]
    assert results["scaling"] == {"sec": 1.0}
    assert results["curatebench"]["context_lost"] == "curatebench"
    assert "curatebench broke" in results["curatebench"]["error"]
    assert results["annbench"] == {"context_lost": "curatebench"}
    assert results["docsbench"] == {"context_lost": "curatebench"}
    assert len(persisted) == 4  # the artifact is rewritten per section


def test_context_lost_markers_are_never_carried(monkeypatch):
    monkeypatch.setattr(bench, "CPUS", 32)
    _, results, _, _ = _fake_sweep(monkeypatch, [
        ("curatebench", True), ("annbench", False)],
        stopped_after="curatebench")
    prior = {"curatebench": {"batches": [1]}, "annbench": {"qps": 2.0},
             "vecbench": {"qps": 3.0}}
    full = bench.carry_sections(dict(results), prior)
    assert full["curatebench"]["context_lost"] == "curatebench"
    assert "carried_from_prior_run" not in full["curatebench"]
    assert full["annbench"] == {"context_lost": "curatebench"}
    # a section this run never reached still carries as before
    assert full["vecbench"]["carried_from_prior_run"] is True


def test_prior_context_lost_marker_is_not_carried(monkeypatch):
    monkeypatch.setattr(bench, "CPUS", 32)
    full = {}
    bench.carry_sections(full, {"annbench": {"context_lost": "curatebench"}})
    assert "annbench" not in full


def test_failure_on_a_live_context_keeps_the_sweep_going(monkeypatch):
    lost, results, calls, _ = _fake_sweep(monkeypatch, [
        ("opsbench", True), ("vecbench", False)])
    assert lost is None
    assert calls == ["opsbench", "vecbench"]
    assert "context_lost" not in results["opsbench"]
    assert results["vecbench"] == {"sec": 1.0}


def test_failed_section_leaves_no_cache_for_the_next(monkeypatch):
    """A section that raises after persisting frames must not hand them
    to the next section: the runner clears the cache between sections."""
    monkeypatch.setattr(bench, "BENCH_BUDGET_S", float("inf"))
    seen: dict = {}

    def section(name, fail):
        def fn(spark):
            seen[name] = set(spark.cached)
            spark.cached.add(name)
            if fail:
                raise RuntimeError(f"{name} broke")
            return {"sec": 1.0}
        return fn

    table = [("curatebench", section("curatebench", True), 0.0),
             ("annbench", section("annbench", False), 0.0)]
    results: dict = {}
    bench.run_sections(_FakeSpark(), table, results, lambda r: None,
                       is_stopped=lambda: False)
    assert "curatebench broke" in results["curatebench"]["error"]
    assert seen["annbench"] == set()


def test_unreachable_jvm_reads_as_stopped():
    class Gone:
        @property
        def sparkContext(self):
            raise ConnectionError("gateway closed")

    assert bench._context_stopped(Gone()) is True


def test_failed_section_leaves_no_checkpoint_blocks_for_the_next(
        spark, monkeypatch):
    """``localCheckpoint`` blocks are persisted RDDs, not cache entries:
    after a section that checkpoints a frame and then raises, the next
    section must start with no persisted RDD at all."""
    monkeypatch.setattr(bench, "BENCH_BUDGET_S", float("inf"))
    seen: dict = {}

    def checkpoint_then_fail(s):
        s.range(1000).localCheckpoint(eager=True)
        raise RuntimeError("curatebench broke")

    def count_persisted(s):
        seen["n"] = s.sparkContext._jsc.getPersistentRDDs().size()
        return {"sec": 1.0}

    results: dict = {}
    bench.run_sections(
        spark, [("curatebench", checkpoint_then_fail, 0.0),
                ("annbench", count_persisted, 0.0)],
        results, lambda r: None, is_stopped=lambda: False)
    assert "curatebench broke" in results["curatebench"]["error"]
    assert seen["n"] == 0


def test_twin_modulus_keeps_twins_in_the_next_batch_at_any_size():
    assert bench.twin_modulus(2_000_000, 1_000_000) == 999_961
    assert bench.twin_modulus(20_000, 20_000) == 9_961
    for docs, vecs in ((2_000_000, 1_000_000), (20_000, 20_000),
                       (20_000, 3_000), (5_000_000, 1_000_000)):
        m = bench.twin_modulus(docs, vecs)
        assert m % 40 == 1 and m <= vecs and m < docs


class _FakeFrame:
    """Stands in for a synthesized DataFrame: its writer leaves a row
    count and the _SUCCESS marker a finished Spark write leaves."""

    def __init__(self, rows):
        self.rows = rows
        self.write = self

    def mode(self, _):
        return self

    def option(self, *_):
        return self

    def parquet(self, path):
        Path(path).mkdir(parents=True)
        (Path(path) / "rows").write_text(str(self.rows))
        (Path(path) / "_SUCCESS").touch()


def test_synth_set_of_another_size_is_regenerated_apart(monkeypatch, tmp_path):
    """A down-sized sweep's data set is never read as a full-size one:
    asking for another row count writes a new set at its own path and
    leaves the finished one alone."""
    monkeypatch.setattr(bench, "_BENCHDATA", tmp_path)
    monkeypatch.setattr(bench, "_note", lambda *_: None)
    small = f"{bench._data_dir('docsbig', 20_000)}/documents.parquet"
    full = f"{bench._data_dir('docsbig', 2_000_000)}/documents.parquet"
    bench._synth_once(small, lambda: _FakeFrame(20_000))
    bench._synth_once(full, lambda: _FakeFrame(2_000_000))
    assert small != full
    assert (Path(small) / "rows").read_text() == "20000"
    assert (Path(full) / "rows").read_text() == "2000000"
    # a finished set of the asked size is reused, not rewritten
    bench._synth_once(full, lambda: _FakeFrame(-1))
    assert (Path(full) / "rows").read_text() == "2000000"
    # every synthesized set the sweep reads is keyed by its row count
    for path, rows in ((bench.BIG_DIR, bench.BIG_ROWS),
                       (bench.SNAP_DIR, bench.BIG_ROWS),
                       (bench.DOCS_DIR, bench.DOCS_ROWS),
                       (bench.VEC_DIR, bench.VEC_ROWS)):
        assert path.endswith(f"-{rows}"), path
