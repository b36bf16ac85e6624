from __future__ import annotations

from nexus_processor_spark import sql as sqlmod

SF = "/root/testdata/sf0.001"


def test_views_and_parameterized_sql(spark):
    sqlmod.register_testdata_views(spark, SF, ("events", "orders"))
    out = sqlmod.sql(
        spark,
        """
        SELECT event_type, count(*) AS n
        FROM events WHERE event_type = :et GROUP BY 1
        """,
        et="click",
    ).collect()
    assert len(out) == 1 and out[0].event_type == "click" and out[0].n > 0


def test_lake_views_answer_parameterized_sql(spark, tmp_path):
    """S11 catalog table scan: tables written by ``catalog.write_table``
    register as views and answer bound-parameter SQL, joins included."""
    import json

    from nexus_processor_spark.sources import catalog, nexus
    from tests.test_nexus_ingest import fixture_tree

    p = tmp_path / "run.json"
    p.write_text(json.dumps(fixture_tree()))
    root = str(tmp_path / "lake")
    for t in ("events", "metadata"):
        catalog.write_table(nexus.ingest_table(spark, [str(p)], t), root, t)
    sqlmod.register_lake_views(spark, root, ("events", "metadata"))
    rows = sqlmod.sql(
        spark,
        """
        SELECT m.title, e.bank, count(*) AS n
        FROM events e JOIN metadata m USING (run_id)
        WHERE e.pulse_index = :p GROUP BY 1, 2
        """,
        p=1,
    ).collect()
    assert [tuple(r) for r in rows] == [("Test Run", "bank1_events", 2)]


def test_injection_is_inert(spark):
    sqlmod.register_testdata_views(spark, SF, ("events",))
    # a value that would break an f-string query stays a plain value
    evil = "click' OR '1'='1"
    rows = sqlmod.sql(
        spark,
        "SELECT count(*) AS n FROM events WHERE event_type = :et",
        et=evil,
    ).collect()
    assert rows[0].n == 0


def test_engine_sql_functions_match_column_builders(spark):
    from pyspark.sql import functions as F

    from nexus_processor_spark.functions.core import (
        event_micros,
        event_seconds,
        interval_bounds,
        interval_floor,
        make_run_id,
    )
    from nexus_processor_spark.operators.pipeline import (
        hash_sample,
        hex_threshold,
    )
    from nexus_processor_spark.sql import register_engine_functions

    register_engine_functions(spark)

    ns = [1_704_844_800_123_456_789, -1_234_567_891_234_567_890, 0, 999]
    df = spark.createDataFrame([(v,) for v in ns], "ts long")
    df.createOrReplaceTempView("ts_probe")
    sql_rows = spark.sql(
        "SELECT event_seconds(ts) AS s, event_micros(ts) AS us, "
        "interval_floor(event_seconds(ts), 3600.0) AS b, "
        "interval_start(interval_floor(event_seconds(ts), 3600.0), 3600.0)"
        " AS lo, "
        "interval_end(interval_floor(event_seconds(ts), 3600.0), 3600.0)"
        " AS hi FROM ts_probe ORDER BY ts"
    ).collect()
    b = interval_floor(event_seconds("ts"), 3600.0)
    lo, hi = interval_bounds(b, 3600.0)
    col_rows = df.orderBy("ts").select(
        event_seconds("ts").alias("s"),
        event_micros("ts").alias("us"),
        b.alias("b"), lo.alias("lo"), hi.alias("hi"),
    ).collect()
    for c in ("s", "us", "b", "lo", "hi"):
        assert [r[c] for r in sql_rows] == [r[c] for r in col_rows], c

    # md5-threshold sampling: the SQL keep flag selects exactly the rows
    # pipeline.hash_sample keeps, at several fractions
    keys = df.select(F.col("ts").cast("string").alias("k"))
    for frac in (0.25, 0.5, 0.75):
        kept = {r.k for r in hash_sample(keys, frac, key_col="k").collect()}
        flags = spark.sql(
            "SELECT CAST(ts AS STRING) AS k, hash_sample_keep("
            f"CAST(ts AS STRING), '{hex_threshold(frac)}') AS keep "
            "FROM ts_probe").collect()
        assert {r.k for r in flags if r.keep} == kept, frac

    r = spark.sql(
        "SELECT make_run_id('ARCS', 1234) AS rid, "
        "run_id_to_filename(make_run_id('ARCS', 1234)) AS fn, "
        "hash_bucket('apple', 16) AS hb, hash_sign('apple') AS hs, "
        "jaccard(array('a','b','c'), array('b','c','d')) AS j, "
        "cosine(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS cos"
    ).first()
    assert (r.rid, r.fn) == ("ARCS:1234", "ARCS_1234")
    import hashlib

    h = hashlib.md5(b"apple").hexdigest()
    assert r.hb == int(h[:8], 16) % 16
    assert r.hs == (1 if int(h[8], 16) % 2 == 0 else -1)
    assert r.j == 2 / 4
    assert r.cos == 1.0

    # engine twin for make_run_id column builder
    got = spark.createDataFrame([("ARCS", 1234)], "i string, r long").select(
        make_run_id("i", "r").alias("rid")
    ).first().rid
    assert got == r.rid
