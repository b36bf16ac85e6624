"""CLI entry points — the engine's analog of the reference's ``cli.py``.

    python -m nexus_processor_spark ingest FILE... --output LAKE
    python -m nexus_processor_spark timeslice --root LAKE --interval 60
    python -m nexus_processor_spark replay --root LAKE [--run-id R] [--rate N]
    python -m nexus_processor_spark ddl [TABLE]

Unlike the reference CLI (one file, one process), ``ingest`` fans every
input file out to an executor task and writes all nine tables partitioned
by run key.
"""

from __future__ import annotations

import argparse
import sys
from datetime import datetime, timezone


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="nexus-processor-spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    ing = sub.add_parser("ingest", help="NeXus files -> partitioned lake tables")
    ing.add_argument("files", nargs="+")
    ing.add_argument("--output", required=True, help="lake root directory")
    ing.add_argument("--tables", default=None,
                     help="comma-separated subset (default: all nine)")
    ing.add_argument("--mode", default="append", choices=["append", "overwrite"])
    ing.add_argument("--time-log", default="proton_charge",
                     help="DAS log naming the pulse clock (reference --time-log)")
    ing.add_argument("--max-events", type=int, default=None,
                     help="cap events per bank (reference --max-events)")
    ing.add_argument("--max-events-per-file", type=int, default=None,
                     help="output file chunking (reference --max-events-per-file)")
    ing.add_argument("--skip-bad-files", action="store_true",
                     help="log and skip unreadable files instead of failing")

    ts = sub.add_parser("timeslice", help="events per interval per bank")
    ts.add_argument("--root", required=True)
    ts.add_argument("--interval", type=float, default=60.0)
    ts.add_argument("--run-id", default=None)
    ts.add_argument("--bank", default=None)
    ts.add_argument("--by-bank", action="store_true")
    ts.add_argument("--start", type=float, default=None,
                    help="half-open range start, epoch seconds (reference --start)")
    ts.add_argument("--end", type=float, default=None,
                    help="half-open range end, epoch seconds (reference --end)")
    ts.add_argument("--summary", action="store_true",
                    help="print the global range summary instead of rows")
    ts.add_argument("--include-error-events", action="store_true",
                    help="keep error/unmapped banks (excluded by default)")
    ts.add_argument("--output", default=None, help="write result parquet here")

    rp = sub.add_parser("replay", help="ordered JSONL replay to stdout")
    rp.add_argument("--root", required=True)
    rp.add_argument("--run-id", default=None)
    rp.add_argument("--bank", default=None)
    rp.add_argument("--rate", type=float, default=None, help="events/sec")
    rp.add_argument("--format", dest="replay_fmt", default="jsonl",
                    choices=["jsonl", "csv"],
                    help="stdout format (reference --format)")
    rp.add_argument("--batch-size", type=int, default=10_000,
                    help="emit chunk size (reference --batch-size)")
    rp.add_argument("--dry-run", action="store_true",
                    help="print the replay count, emit nothing")
    rp.add_argument("--output", dest="replay_output", default="stdout",
                    choices=["stdout", "flight"],
                    help="stdout JSONL or an Arrow Flight server "
                         "(reference replay_events --output)")
    rp.add_argument("--port", type=int, default=8815,
                    help="Flight server port (reference --port)")
    rp.add_argument("--serve-seconds", type=float, default=None,
                    help="stop the Flight server after N seconds "
                         "(default: serve until interrupted)")
    rp.add_argument("--instrument", default=None,
                    help="filter by instrument id (reference --instrument)")
    rp.add_argument("--run-start", type=int, default=None,
                    help="run-number range start (reference --run-start)")
    rp.add_argument("--run-end", type=int, default=None,
                    help="run-number range end (reference --run-end)")

    st = sub.add_parser(
        "stream", help="streaming replay of the events table "
        "(reference spark_replay_events.py)")
    st.add_argument("--root", required=True)
    st.add_argument("--sink", default="count",
                    choices=["count", "console", "kafka"],
                    help="count: drain via foreachBatch and print totals")
    st.add_argument("--checkpoint", required=True)
    st.add_argument("--start-timestamp", default=None,
                    help="ISO timestamp; skip older data (reference --start-timestamp)")
    st.add_argument("--max-files-per-trigger", type=int, default=None)
    st.add_argument("--trigger-interval", type=int, default=10,
                    help="processing-time trigger seconds (console/kafka)")
    st.add_argument("--bootstrap-servers", default=None)
    st.add_argument("--topic", default=None)
    st.add_argument("--timeout", type=float, default=None,
                    help="stop after N seconds (console/kafka; count drains)")

    ddl = sub.add_parser("ddl", help="print CREATE TABLE statements")
    ddl.add_argument("table", nargs="?", default=None)

    co = sub.add_parser(
        "corpus", help="training-corpus ops over a documents parquet"
    )
    co.add_argument("op", choices=["profile", "dedup", "neardup", "sample",
                                   "score", "mix", "boilerplate", "curate",
                                   "diff", "curate-stream"])
    co.add_argument("--eval-set", default=None,
                    help="curate: eval/benchmark parquet for decontamination")
    co.add_argument("--input", required=True,
                    help="documents parquet path (doc_id, text, ...); for "
                         "curate-stream, a glob the stream watches")
    co.add_argument("--output", default=None,
                    help="write result parquet here (default: show); "
                         "required for curate-stream (the audit sink dir)")
    co.add_argument("--fraction", type=float, default=0.1,
                    help="sample: deterministic hash-sample fraction")
    co.add_argument("--threshold", type=float, default=0.5,
                    help="neardup/curate-stream: Jaccard threshold")
    co.add_argument("--against", default=None,
                    help="diff: the NEW snapshot parquet (--input is old)")
    co.add_argument("--state", default=None,
                    help="curate-stream: versioned dedup-state directory")
    co.add_argument("--quality-q", type=float, default=None,
                    help="curate-stream: drop docs under this quantile "
                         "of text length over the ACCUMULATED corpus")
    co.add_argument("--checkpoint", dest="corpus_checkpoint", default=None,
                    help="curate-stream: stream checkpoint directory")
    co.add_argument("--probe-mode", dest="probe_mode", default="driver",
                    choices=["driver", "distributed"],
                    help="curate-stream: state-probe execution side "
                         "(distributed = executor-side bloom test, no "
                         "per-batch driver key collect)")

    ck = sub.add_parser(
        "check", help="data-quality expectation suite over a parquet table"
    )
    ck.add_argument("--input", required=True, help="table parquet path")
    ck.add_argument("--key", default=None,
                    help="column expected unique (and non-null)")
    ck.add_argument("--not-null", default=None,
                    help="comma-separated columns expected non-null")
    ck.add_argument("--output", default=None,
                    help="write the (check, metric, passed) report here")

    sy = sub.add_parser(
        "synth", help="generate a deterministic synthetic table"
    )
    sy.add_argument("table", choices=["events", "documents", "embeddings"])
    sy.add_argument("--rows", type=int, required=True)
    sy.add_argument("--output", required=True, help="parquet output path")

    lh = sub.add_parser(
        "lakehouse",
        help="CDC extract -> apply -> incremental view maintenance over "
             "a snapshot table, end to end, with a built-in equivalence "
             "check (the composition demo of streaming/cdc.py)")
    lh.add_argument("--input", required=True, help="OLD snapshot parquet")
    lh.add_argument("--against", required=True, help="NEW snapshot parquet")
    lh.add_argument("--key", required=True, help="primary key column")
    lh.add_argument("--group", required=True,
                    help="group column of the maintained aggregate view")
    lh.add_argument("--measure", required=True,
                    help="numeric column; the view maintains its SUM and "
                         "a row count per group")
    lh.add_argument("--table-dir", required=True,
                    help="snapshot table directory (created)")
    lh.add_argument("--agg-dir", required=True,
                    help="maintained aggregate view directory (created)")

    qr = sub.add_parser(
        "query", help="run a registry query against a testdata-layout dir"
    )
    qr.add_argument("name", help="query name (see --list)")
    qr.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    qr.add_argument("--output", default=None)
    qr.add_argument("--limit", type=int, default=50)
    qr.add_argument("--explain", action="store_true",
                    help="print the formatted physical plan instead of rows")
    return p


def main(argv: list[str] | None = None) -> int:
    args = _build_parser().parse_args(argv)

    if args.cmd == "ddl":
        from nexus_processor_spark.schemas import TABLES, table_ddl

        names = [args.table] if args.table else list(TABLES)
        for n in names:
            print(table_ddl(n) + ";")
        return 0

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from nexus_processor_spark.session import get_spark
    from nexus_processor_spark.sources import catalog

    # Stop only a session we created — embedding callers (tests, notebooks)
    # keep theirs.
    # getActiveSession is THREAD-local: a CLI invoked from a worker
    # thread of an embedding process (tests, notebook executors) must not
    # stop the process-wide session, so also check the global instance.
    owned = (
        SparkSession.getActiveSession() is None
        and getattr(SparkSession, "_instantiatedSession", None) is None
    )
    spark = get_spark(f"nexus-{args.cmd}")
    try:
        if args.cmd == "ingest":
            from nexus_processor_spark.schemas import TABLES
            from nexus_processor_spark.sources import nexus

            tables = tuple(args.tables.split(",")) if args.tables else tuple(TABLES)
            stamp = datetime.now(timezone.utc).isoformat()
            frames = {
                t: nexus.ingest_table(spark, args.files, t, ingestion_time=stamp,
                                      skip_bad_files=args.skip_bad_files,
                                      max_events=args.max_events,
                                      time_log=args.time_log)
                for t in tables
            }
            for name, df in frames.items():
                path = catalog.write_table(
                    df, args.output, name, mode=args.mode,
                    max_records_per_file=args.max_events_per_file)
                print(f"wrote {name} -> {path}", file=sys.stderr)
        elif args.cmd == "timeslice":
            from nexus_processor_spark.operators import timeslice
            from nexus_processor_spark.streaming import replay as rp

            events = catalog.read_table(spark, args.root, "events")
            events = rp.filtered_events(events, run_id=args.run_id, bank=args.bank)
            if not args.include_error_events:
                events = timeslice.exclude_error_banks(events)
            enriched = timeslice.with_absolute_time(events)
            lo = args.start if args.start is not None else float("-inf")
            hi = args.end if args.end is not None else float("inf")
            if args.summary:
                result = timeslice.count_in_time_range(enriched, lo, hi)
            else:
                if args.start is not None or args.end is not None:
                    enriched = enriched.filter(
                        (F.col("absolute_time") >= lo)
                        & (F.col("absolute_time") < hi))
                fn = (timeslice.count_by_bank_and_interval if args.by_bank
                      else timeslice.count_by_interval)
                result = fn(enriched, args.interval)
            if args.output:
                result.write.mode("overwrite").parquet(args.output)
            else:
                result.show(100, truncate=False)
        elif args.cmd == "replay":
            from nexus_processor_spark.streaming import replay as rp

            events = catalog.read_table(spark, args.root, "events")
            run_range = None
            if args.run_start is not None or args.run_end is not None:
                run_range = (
                    args.run_start if args.run_start is not None else 0,
                    args.run_end if args.run_end is not None else 2**62,
                )
            events = rp.filtered_events(
                events, run_id=args.run_id, bank=args.bank,
                instrument_id=args.instrument, run_range=run_range)
            if args.dry_run:
                print(f"would replay {events.count()} events",
                      file=sys.stderr)
            elif args.replay_output == "flight":
                from nexus_processor_spark.sources.flight import (
                    EventFlightServer,
                )

                ordered = rp.ordered_replay(events)
                server = EventFlightServer(
                    {"events": lambda: ordered},
                    location=f"grpc://0.0.0.0:{args.port}",
                )
                print(f"serving events at {server.endpoint}",
                      file=sys.stderr, flush=True)
                if args.serve_seconds is not None:
                    import threading

                    threading.Timer(args.serve_seconds, server.shutdown).start()
                server.serve()
            else:
                n = rp.replay_to_jsonl(
                    events, rate_events_per_sec=args.rate,
                    batch_size=args.batch_size, fmt=args.replay_fmt)
                print(f"replayed {n} events", file=sys.stderr)
        elif args.cmd == "stream":
            from nexus_processor_spark.streaming import replay as rp

            stream = rp.read_events_stream(
                spark, args.root,
                max_files_per_trigger=args.max_files_per_trigger,
                start_timestamp=args.start_timestamp,
            )
            if args.sink == "count":
                # foreachBatch is at-least-once: a batch replayed after a
                # crash-restart arrives again with the SAME batch id, so
                # key the tally on batch id to keep the printed total
                # exactly-once.
                counted: dict[int, int] = {}

                def _count(df, batch_id, _c=counted):
                    if batch_id not in _c:
                        _c[batch_id] = df.count()

                q = rp.stream_foreach_batch(
                    stream, _count, checkpoint=args.checkpoint)
                q.awaitTermination()
                print(f"streamed {sum(counted.values())} events",
                      file=sys.stderr)
            elif args.sink == "console":
                q = rp.stream_to_console(
                    stream, trigger_seconds=args.trigger_interval,
                    checkpoint=args.checkpoint)
                q.awaitTermination(args.timeout)
                q.stop()
            else:  # kafka — needs the spark-sql-kafka package on the cp
                if not (args.bootstrap_servers and args.topic):
                    raise SystemExit(
                        "--sink kafka requires --bootstrap-servers and --topic")
                q = rp.stream_to_kafka(
                    stream, brokers=args.bootstrap_servers, topic=args.topic,
                    checkpoint=args.checkpoint,
                    trigger_seconds=args.trigger_interval,
                )
                q.awaitTermination(args.timeout)
                q.stop()
        elif args.cmd == "corpus":
            if args.op == "curate-stream":
                from nexus_processor_spark.streaming import curate

                if not (args.output and args.state and args.corpus_checkpoint):
                    raise SystemExit(
                        "corpus curate-stream requires --output (audit sink)"
                        ", --state and --checkpoint")
                stream = spark.readStream.schema(
                    "doc_id long, text string").parquet(args.input)
                if args.quality_q is not None:
                    # derive the metric in-stream: the accumulated
                    # quantile gate ranks on text length
                    stream = stream.withColumn(
                        "n_chars", F.length("text").cast("long"))
                q = curate.curate_stream(
                    stream, state_path=args.state, sink_path=args.output,
                    checkpoint_dir=args.corpus_checkpoint,
                    near_dup_threshold=args.threshold,
                    quality_q=args.quality_q,
                    probe_mode=args.probe_mode,
                )
                q.awaitTermination()
                print(f"curated into {args.output}", file=sys.stderr)
                return 0  # session cleanup in the finally below
            docs = spark.read.parquet(args.input)
            if args.op == "diff":
                from nexus_processor_spark.operators import pipeline

                if not args.against:
                    raise SystemExit("corpus diff requires --against NEW")
                result = pipeline.corpus_diff(
                    docs, spark.read.parquet(args.against)
                )
            elif args.op == "profile":
                from nexus_processor_spark.operators import textstats

                result = textstats.text_profile(docs)
            elif args.op == "dedup":
                from nexus_processor_spark.operators import dedup

                result = dedup.exact_dedup(docs)
            elif args.op == "neardup":
                from nexus_processor_spark.operators import dedup

                result = dedup.minhash_dedup_pairs(
                    docs, threshold=args.threshold
                )
            elif args.op == "score":
                from nexus_processor_spark.operators import pipeline

                result = pipeline.lm_doc_score(docs)
            elif args.op == "mix":
                from nexus_processor_spark.operators import pipeline

                result = pipeline.temperature_mix(docs)
            elif args.op == "boilerplate":
                from nexus_processor_spark.operators import pipeline

                result = pipeline.boilerplate_phrases(docs)
            elif args.op == "curate":
                from nexus_processor_spark.operators import pipeline

                ev = (spark.read.parquet(args.eval_set)
                      if args.eval_set else None)
                result = pipeline.curate_corpus(docs, ev)
            else:
                from nexus_processor_spark.operators import pipeline

                result = pipeline.hash_sample(docs, args.fraction)
            if args.output:
                result.write.mode("overwrite").parquet(args.output)
                print(f"wrote {args.output}", file=sys.stderr)
            else:
                result.show(50, truncate=False)
        elif args.cmd == "check":
            from nexus_processor_spark.operators import quality

            df = spark.read.parquet(args.input)
            checks = []
            if args.key:
                checks += [quality.not_null(args.key), quality.unique(args.key)]
            for c in (args.not_null or "").split(","):
                if c and c != args.key:
                    checks.append(quality.not_null(c))
            if not checks:
                print("check: pass --key and/or --not-null", file=sys.stderr)
                return 2
            report = quality.run_checks(df, checks)
            rows = report.collect()
            if args.output:
                report.write.mode("overwrite").parquet(args.output)
            for r in rows:
                flag = "PASS" if r["passed"] else "FAIL"
                print(f"{flag} {r['check']} metric={r['metric']}")
            # gate semantics: non-zero exit when any expectation fails
            if not all(r["passed"] for r in rows):
                return 1
        elif args.cmd == "synth":
            from nexus_processor_spark.sources.synth import GENERATORS

            df = GENERATORS[args.table](spark, args.rows)
            (df.write.mode("overwrite").option("compression", "zstd")
               .parquet(args.output))
            print(f"wrote {args.rows} {args.table} rows -> {args.output}",
                  file=sys.stderr)
        elif args.cmd == "lakehouse":
            from nexus_processor_spark.sources import snapshots
            from nexus_processor_spark.streaming import cdc

            old = spark.read.parquet(args.input)
            new = spark.read.parquet(args.against)
            measures = [
                F.sum(args.measure).alias(f"sum_{args.measure}"),
                F.count(F.lit(1)).alias("n_rows"),
            ]
            # batch 0: the OLD snapshot arrives as its own cold change
            # feed (builds the base table + the view's full build)
            cdc.maintain_agg_batch(
                spark, args.table_dir, args.agg_dir,
                old.withColumn("deleted", F.lit(False)), args.key,
                args.group, measures, delete_col="deleted", version=0,
            )
            # batch 1: the minimal drift batch, applied incrementally
            changes = cdc.extract_changes(old, new, args.key)
            n_changes = changes.count()
            cdc.maintain_agg_batch(
                spark, args.table_dir, args.agg_dir, changes, args.key,
                args.group, measures, delete_col="deleted", version=1,
            )
            print(f"applied {n_changes} extracted change rows",
                  file=sys.stderr)
            # equivalence gate: maintained base == NEW snapshot, and the
            # incrementally-maintained view == a from-scratch recompute
            # (sums rounded — the two plans may order double adds
            # differently)
            base = snapshots.read_snapshot(
                spark, args.table_dir).select(*new.columns)
            bad_base = (base.exceptAll(new).count()
                        + new.exceptAll(base).count())
            sum_col = f"sum_{args.measure}"
            view = snapshots.read_snapshot(spark, args.agg_dir).select(
                args.group, F.round(sum_col, 6).alias(sum_col), "n_rows")
            recomputed = (
                new.filter(F.col(args.group).isNotNull())
                .groupBy(args.group).agg(*measures)
                .select(args.group, F.round(sum_col, 6).alias(sum_col),
                        "n_rows")
            )
            bad_view = (view.exceptAll(recomputed).count()
                        + recomputed.exceptAll(view).count())
            print(("PASS" if bad_base == 0 else "FAIL")
                  + " maintained base == NEW snapshot")
            print(("PASS" if bad_view == 0 else "FAIL")
                  + " maintained view == full recompute")
            if bad_base or bad_view:
                return 1
        elif args.cmd == "query":
            from nexus_processor_spark import queries as registry

            qs = registry.queries()
            if args.name not in qs:
                print(f"unknown query {args.name!r}; available:",
                      file=sys.stderr)
                print("\n".join(sorted(qs)), file=sys.stderr)
                return 2
            result = qs[args.name](spark, args.sf_dir)
            if args.explain:
                result.explain("formatted")
            elif args.output:
                result.write.mode("overwrite").parquet(args.output)
                print(f"wrote {args.output}", file=sys.stderr)
            else:
                result.show(args.limit, truncate=False)
    finally:
        if owned:
            spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
