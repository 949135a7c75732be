"""Command-line entry points mirroring the reference's user surface:
``ingest`` (reference src/ingest.py:117-124 + Makefile ingest/ingest-dry),
``export`` (src/export.py), ``diagnose`` (scripts/diagnose_pool.py),
``sample`` (the README.md:53-68 query API as a one-shot command).

Each subcommand is a thin adapter over the library — all real behavior
(normalization, partitioned writes, seeded sampling) is the tested package
code. ``python -m gridiron_spark <cmd> --help`` for usage.
"""

from __future__ import annotations

import argparse
import sys

from pyspark.sql import SparkSession


def _spark(app: str) -> SparkSession:
    from gridiron_spark.session import get_spark

    return get_spark(app)


def cmd_ingest(args, spark: SparkSession) -> int:
    from gridiron_spark.ingest import LakeIngestor

    ing = LakeIngestor(spark, schema=args.schema, pool=args.output)
    summary = ing.ingest(
        args.input, dry_run=args.dry_run, source_format=args.format
    )
    print(
        f"{'DRY RUN: ' if args.dry_run else ''}rows={summary.n_rows} "
        f"games={summary.n_games} plays={summary.n_plays} max_frame={summary.max_frame}"
    )
    return 0


def cmd_export(args, spark: SparkSession) -> int:
    from gridiron_spark.pool import Pool

    pool = Pool(spark, args.pool)
    df = pool.scan() if args.n is None else pool.sample_plays(args.n, seed=args.seed)
    pool.export_csv(df, args.output)
    print(f"exported {df.count()} rows -> {args.output}")
    return 0


def cmd_diagnose(args, spark: SparkSession) -> int:
    """Pool health check (scripts/diagnose_pool.py semantics): path exists,
    scannable, schema printable, one row readable — via limit(1), never a
    full collect."""
    from gridiron_spark.pool import Pool

    try:
        pool = Pool(spark, args.pool)
    except FileNotFoundError as e:
        print(f"FAIL: {e}")
        return 1
    df = pool.scan()
    print("schema:")
    for f in df.schema.fields:
        print(f"  {f.name}: {f.dataType.simpleString()}")
    # cross-season schema-drift check (footer reads only): a plain scan of
    # a heterogeneous lake silently adopts one footprint — surface that
    # here, where the reference's diagnose script would have looked.
    plain = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    uni = {
        f.name: f.dataType.simpleString()
        for f in pool.scan_unified().schema.fields
    }
    if uni != plain:
        missing = sorted(set(uni) - set(plain))
        widened = sorted(
            n for n in plain if n in uni and uni[n] != plain[n]
        )
        print(
            "WARNING: heterogeneous lake — plain scan misses columns "
            f"{missing or '[]'}; type drift on {widened or '[]'}; "
            "query via Pool.scan_unified()"
        )
    ok = pool.probe()
    print("probe: OK (1 row readable)" if ok else "FAIL: no rows readable")
    return 0 if ok else 1


def cmd_sample(args, spark: SparkSession) -> int:
    from pyspark.sql import functions as F

    from gridiron_spark.pool import Pool

    pool = Pool(spark, args.pool)
    filters = [F.expr(f) for f in args.filter or []]
    df = pool.sample_plays(args.n, filters=filters, seed=args.seed)
    n_plays = df.select("gameId", "playId").distinct().count()
    print(f"sampled {n_plays} plays / {df.count()} rows (seed={args.seed})")
    return 0


def cmd_animate(args, spark: SparkSession) -> int:
    """Assemble one play's animation data (the dashboard's data layer,
    reference app/main.py:74-107): frames in time order with the
    offense/defense/ball side label, plus the header stats the dashboard
    shows. ``--output`` writes the labeled frames as CSV; stats always print."""
    from gridiron_spark.operators.features import animate_stats, side_split
    from gridiron_spark.pool import Pool

    pool = Pool(spark, args.pool)
    play = pool.fetch_play(args.game, args.play)
    labeled = side_split(play, home_is_offense=not args.away_offense)
    stats = animate_stats(play).collect()
    if not stats:
        print(f"FAIL: no rows for gameId={args.game} playId={args.play}")
        return 1
    s = stats[0]
    sides = {r["side"]: r["n"] for r in labeled.groupBy("side").count().withColumnRenamed("count", "n").collect()}
    print(
        f"game={args.game} play={args.play}: frames={s.n_frames} "
        f"duration={s.duration_s:.1f}s players={s.n_players} "
        f"max_speed={s.max_speed} events={list(s.events)} "
        f"offense={sides.get('offense', 0)} defense={sides.get('defense', 0)} "
        f"ball={sides.get('ball', 0)}"
    )
    if args.output:
        pool.export_csv(labeled, args.output, single_file=True)
        print(f"wrote animation frames -> {args.output}")
    if args.html:
        from gridiron_spark.viz import figure_html, play_figure

        fig = play_figure(labeled)
        with open(args.html, "w") as fh:
            fh.write(
                figure_html(fig, title=f"game {args.game} play {args.play}")
            )
        print(
            f"wrote dashboard figure -> {args.html} "
            f"({len(fig['data'])} traces, {len(fig['frames'])} frames)"
        )
    return 0


def cmd_prepare_corpus(args, spark: SparkSession) -> int:
    """Run the composed training-data pipeline (quality gate → benchmark
    decontamination → per-source token-budget mixture → length-bucketed
    sequence packing, queries/pipeline.py) and write the packed sequences
    as Hive-partitioned parquet shards keyed by bucket_len — the artifact
    a trainer's data loader reads per length bucket."""
    from gridiron_spark.queries.pipeline import training_data_pipeline

    packed = training_data_pipeline(spark, args.sf_dir)
    (
        packed.repartition(args.shards, "bucket_len", "seq_idx")
        .write.mode("overwrite")
        .partitionBy("bucket_len")
        .parquet(args.output)
    )
    out = spark.read.parquet(args.output)
    n_seq = out.count()
    buckets = sorted(
        r.bucket_len for r in out.select("bucket_len").distinct().collect()
    )
    print(f"wrote {n_seq} packed sequences -> {args.output} "
          f"(buckets: {buckets}, shards/bucket <= {args.shards})")
    return 0 if n_seq > 0 else 1


def cmd_compact(args, spark: SparkSession) -> int:
    from gridiron_spark.pool import compact_pool

    sort_by = args.sort_by.split(",") if args.sort_by else ()
    df = compact_pool(
        spark, args.pool, tuple(args.partition_by.split(",")), sort_by=sort_by
    )
    print(f"compacted pool: {df.count()} rows")
    return 0


def cmd_serve(args, spark: SparkSession) -> int:
    """Serve the game/play-dropdown dashboard over the animate data path
    (gridiron_spark.serve — the Streamlit shell of reference
    app/main.py:27-60 on the stdlib HTTP server)."""
    from gridiron_spark.serve import serve

    return serve(spark, args.pool, args.port)


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="gridiron_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    pi = sub.add_parser("ingest", help="normalize CSVs into the partitioned lake")
    pi.add_argument("--input", required=True, help="input file or glob")
    pi.add_argument(
        "--format", choices=("csv", "json", "parquet", "orc"), default="csv",
        help="source format (csv, JSON-lines, parquet, or orc)",
    )
    pi.add_argument("--schema", required=True, help="YAML schema path")
    pi.add_argument("--output", required=True, help="lake root directory")
    pi.add_argument("--dry-run", action="store_true")
    pi.set_defaults(fn=cmd_ingest)

    pe = sub.add_parser("export", help="dump (sampled) pool to CSV")
    pe.add_argument("--pool", required=True)
    pe.add_argument("--output", required=True)
    pe.add_argument("--n", type=int, default=None, help="sample n plays (default: all)")
    pe.add_argument("--seed", type=int, default=42)
    pe.set_defaults(fn=cmd_export)

    pd = sub.add_parser("diagnose", help="pool health check")
    pd.add_argument("--pool", required=True)
    pd.set_defaults(fn=cmd_diagnose)

    ps = sub.add_parser("sample", help="seeded exact-n play sample")
    ps.add_argument("--pool", required=True)
    ps.add_argument("--n", type=int, required=True)
    ps.add_argument("--seed", type=int, default=42)
    ps.add_argument(
        "--filter", action="append", help="SQL predicate, repeatable (conjunctive)"
    )
    ps.set_defaults(fn=cmd_sample)

    pa = sub.add_parser(
        "animate", help="assemble one play's animation data (dashboard surface)"
    )
    pa.add_argument("--pool", required=True)
    pa.add_argument("--game", type=int, required=True)
    pa.add_argument("--play", type=int, required=True)
    pa.add_argument("--output", default=None, help="CSV output dir (optional)")
    pa.add_argument(
        "--html", default=None,
        help="write the animated Plotly dashboard figure to this HTML file "
        "(reference app/main.py:118-239)",
    )
    pa.add_argument(
        "--away-offense", action="store_true",
        help="read the away team as the offense (default: home)",
    )
    pa.set_defaults(fn=cmd_animate)

    pc = sub.add_parser(
        "compact", help="rewrite fragmented partitions to one file each"
    )
    pc.add_argument("--pool", required=True)
    pc.add_argument(
        "--partition-by", default="season,gameId",
        help="comma-separated Hive partition columns",
    )
    pc.add_argument(
        "--sort-by", default=None,
        help="comma-separated in-file sort columns (row-group skipping)",
    )
    pc.set_defaults(fn=cmd_compact)

    pp = sub.add_parser(
        "prepare-corpus",
        help="run the training-data pipeline and write packed parquet shards",
    )
    pp.add_argument("--sf-dir", required=True, help="source tables directory")
    pp.add_argument("--output", required=True, help="shard output directory")
    pp.add_argument(
        "--shards", type=int, default=4,
        help="max output files per length bucket",
    )
    pp.set_defaults(fn=cmd_prepare_corpus)

    pv = sub.add_parser(
        "serve",
        help="interactive play dashboard (reference app/main.py:27-60 shell)",
    )
    pv.add_argument("--pool", required=True, help="tracking pool directory")
    pv.add_argument("--port", type=int, default=8501)
    pv.set_defaults(fn=cmd_serve)
    return p


def main(argv: list[str] | None = None, spark: SparkSession | None = None) -> int:
    args = build_parser().parse_args(argv)
    s = spark or _spark(f"gridiron-{args.cmd}")
    try:
        return args.fn(args, s)
    finally:
        if spark is None:
            s.stop()


if __name__ == "__main__":
    sys.exit(main())
