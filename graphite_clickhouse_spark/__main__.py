"""Runnable server entrypoint — the `graphite-clickhouse -config x.conf`
equivalent:

    python -m graphite_clickhouse_spark --config graphite.conf \
        --data /path/to/ingest-dir [--listen 127.0.0.1:9090] [--sf-events DIR]

`--data` points at an IngestJob layout (points/ path_index/ tags_index/ —
what the streaming ingest writes); `--sf-events` instead derives the
tables from a testdata events parquet (demo mode). `--check` parses the
config, builds the engine, and exits — the config-validation mode.
"""

from __future__ import annotations

import argparse
import sys


def build_engine(spark, settings, data_dir=None, sf_events=None):
    from .config import engine_from_settings

    if data_dir:
        from pyspark.sql import functions as F

        from .streaming.ingest import IngestJob, tags_map_from_path

        job = IngestJob(data_dir)

        def _reload():
            # fresh spark.read per refresh: a held DataFrame pins its
            # file listing, and live ingest keeps appending files
            pts = job.read_points(spark)
            tagged = pts.filter(F.col("path").contains("?")).withColumn(
                "tags", tags_map_from_path("path")
            )
            return (
                pts.filter(~F.col("path").contains("?")),
                job.read_path_index(spark),
                tagged,
                job.read_tags_index(spark),
            )

        points, path_index, tagged, tags_index = _reload()
        engine = engine_from_settings(
            spark, settings, points, path_index=path_index,
            tagged_points=tagged, tags_index=tags_index,
        )
        engine.ingest = job  # enables /api/v1/write
        engine.frame_loader = _reload
        return engine
    if sf_events:
        from .sources.tables import (
            build_path_index,
            points_from_events,
            tagged_points_from_events,
        )

        points = points_from_events(spark, sf_events)
        return engine_from_settings(
            spark, settings, points,
            path_index=build_path_index(points.select("path")),
            tagged_points=tagged_points_from_events(spark, sf_events),
        )
    raise SystemExit("one of --data or --sf-events is required")


def main(argv=None):
    ap = argparse.ArgumentParser(prog="graphite_clickhouse_spark")
    ap.add_argument("--config", help="graphite-clickhouse.conf (TOML)")
    ap.add_argument("--data", help="IngestJob layout directory")
    ap.add_argument("--sf-events", help="testdata dir with events.parquet (demo)")
    ap.add_argument("--listen", default="127.0.0.1:9090", help="host:port")
    ap.add_argument(
        "--carbon-listen", metavar="HOST:PORT",
        help="also accept carbon plaintext over TCP (the carbon-clickhouse "
             "receiver role): lines spool under <data>/spool and a "
             "continuous text stream ingests them; requires --data",
    )
    ap.add_argument(
        "--carbon-pickle-listen", metavar="HOST:PORT",
        help="also accept the carbon pickle protocol (port-2004 framing); "
             "datapoints land in the same spool/stream; requires --data",
    )
    ap.add_argument(
        "--carbon-udp-listen", metavar="HOST:PORT",
        help="also accept carbon plaintext datagrams over UDP; "
             "same spool/stream; requires --data",
    )
    ap.add_argument("--check", action="store_true",
                    help="validate config + engine wiring, then exit")
    # warmup is DEFAULT-ON since r9 (r8 VERDICT next-round #8): one
    # representative query per request class fires before the listener
    # is announced — first dashboard round 3.0 s warmed vs 5.3 s cold
    # (BENCH_LATENCY.json cold_start), and the r8 plan cache made the
    # warmup itself cheaper than when opt-in was chosen
    ap.add_argument("--warmup", action="store_true", default=True,
                    help="fire one representative query per request "
                         "class (find/render/promql) before announcing "
                         "the listener — trades slower startup for a "
                         "fast first dashboard load (default: on; see "
                         "BENCH_LATENCY.json cold_start)")
    ap.add_argument("--no-warmup", dest="warmup", action="store_false",
                    help="announce the listener immediately; the first "
                         "request per class pays the plan-build + JIT "
                         "cost instead")
    ap.add_argument("--build-tags", action="store_true",
                    help="run the tagger batch job ([tags] rules over the "
                         "metric namespace) and exit — the reference's "
                         "`-tags` mode")
    ap.add_argument("--optimize", action="store_true",
                    help="run the storage optimize job (rollup-on-merge + "
                         "TTL using the config's rollup rules) on --data, "
                         "then exit — the OPTIMIZE FINAL analog")
    ap.add_argument("--optimize-drop-age", metavar="DUR",
                    help="with --optimize: expire rows older than this Go "
                         "duration (e.g. 2160h for 90 days)")
    ap.add_argument("--sd-list", action="store_true",
                    help="list registered nodes in SD, then exit")
    ap.add_argument("--sd-delete", action="store_true",
                    help="delete this hostname's SD records, then exit")
    ap.add_argument("--sd-evict", nargs="+", metavar="HOST",
                    help="delete the named hostnames' SD records, then exit")
    ap.add_argument("--sd-expired", action="store_true",
                    help="list expired SD records, then exit")
    ap.add_argument("--sd-clean", action="store_true",
                    help="delete expired SD records, then exit")
    ap.add_argument("--version", action="store_true",
                    help="print version and exit")
    ap.add_argument(
        "--match", nargs="+", metavar="METRIC",
        help="print the rollup rules the named metrics match, then exit "
             "(the reference CLI's `match` debug command)",
    )
    ap.add_argument("--age", type=int, default=0,
                    help="data age in seconds for --match lookups")
    ap.add_argument("--rollup",
                    help="rollup rules XML file for --match (instead of "
                         "the config's rollup-conf)")
    args = ap.parse_args(argv)

    if args.version:
        from . import __version__

        print(f"graphite_clickhouse_spark {__version__}")
        return None

    from .config import Settings, load_settings_file

    settings = Settings()
    if args.config:
        settings = load_settings_file(args.config)

    if args.match:
        return _match_command(settings, args)

    if (args.sd_list or args.sd_delete or args.sd_evict or args.sd_expired
            or args.sd_clean):
        return _sd_command(settings, args)

    from .session import get_spark

    spark = get_spark("graphite-clickhouse-spark-server")
    if args.build_tags:
        return _build_tags(spark, settings, args)
    if args.optimize:
        if not args.data:
            raise SystemExit("--optimize requires --data")
        from .config import parse_go_duration
        from .streaming.ingest import IngestJob

        drop = (
            int(parse_go_duration(args.optimize_drop_age))
            if args.optimize_drop_age else None
        )
        IngestJob(args.data).optimize(
            spark, settings.rules, drop_older_than_sec=drop
        )
        print(f"optimize: rewrote {args.data}/points and its indexes"
              + (f", expired rows older than {args.optimize_drop_age}"
                 if drop else ""),
              file=sys.stderr)
        return None
    engine = build_engine(spark, settings, args.data, args.sf_events)
    if args.check:
        print("config + engine OK", file=sys.stderr)
        return None

    if args.carbon_listen or args.carbon_pickle_listen or args.carbon_udp_listen:
        if not args.data:
            raise SystemExit("carbon receivers require --data")
        from .streaming.ingest import (
            CarbonLineReceiver,
            CarbonPickleReceiver,
            CarbonUDPReceiver,
        )

        if args.carbon_listen:
            chost, _, cport = args.carbon_listen.partition(":")
            rx = CarbonLineReceiver(
                f"{args.data}/spool", chost or "127.0.0.1", int(cport or 2003)
            )
            print(
                f"carbon plaintext listening on "
                f"{rx.address[0]}:{rx.address[1]}", file=sys.stderr,
            )
        if args.carbon_pickle_listen:
            phost, _, pport = args.carbon_pickle_listen.partition(":")
            prx = CarbonPickleReceiver(
                f"{args.data}/spool", phost or "127.0.0.1", int(pport or 2004)
            )
            print(
                f"carbon pickle listening on "
                f"{prx.address[0]}:{prx.address[1]}", file=sys.stderr,
            )
        if args.carbon_udp_listen:
            uhost, _, uport = args.carbon_udp_listen.partition(":")
            urx = CarbonUDPReceiver(
                f"{args.data}/spool", uhost or "127.0.0.1", int(uport or 2003)
            )
            print(
                f"carbon udp listening on "
                f"{urx.address[0]}:{urx.address[1]}", file=sys.stderr,
            )
        engine.ingest.start_text_stream(
            spark, f"{args.data}/spool", f"{args.data}/checkpoint",
            available_now=False,
        )

    from .server import make_server, warmup_engine

    if args.warmup:
        timings = warmup_engine(engine)
        print(
            "warmup: "
            + " ".join(f"{k}={v}s" for k, v in timings.items()),
            file=sys.stderr,
        )

    host, _, port = args.listen.partition(":")
    srv = make_server(engine, host, int(port or 9090), settings=settings)
    print(
        f"graphite-clickhouse-spark listening on "
        f"http://{srv.server_address[0]}:{srv.server_address[1]}",
        file=sys.stderr,
    )

    registrar = None
    if settings.sd_url:
        from .sd import Registrar

        # register the BOUND port (relevant when ":0" was requested);
        # the reference registers cfg.Listen verbatim, which is the
        # same thing for any real config
        bound = srv.server_address[1]
        registrar = Registrar(
            settings, f"{host}:{bound}" if host else f":{bound}"
        )
        registrar.start()
        print(
            f"sd: registering in {settings.sd_namespace} at "
            f"{settings.sd_url}", file=sys.stderr,
        )
    try:
        srv.serve_forever()
    finally:
        if registrar is not None:
            registrar.stop()
    return srv


def _build_tags(spark, settings, args):
    """The reference's `-tags` batch mode (graphite-clickhouse.go:549-552,
    tagger.Make): read the metric namespace, apply the [tags] rules
    file, write the tagged table. Input: [tags] input-file (text lines
    or a parquet with a path/name column) or the --data path index;
    output: [tags] output-file as a parquet directory (the Spark-native
    stand-in for the reference's RowBinary upload file)."""
    import sys as _sys

    from .pipeline.tagger import parse_rules, tagged_table

    if not settings.tags_rules_path:
        raise SystemExit("--build-tags needs [tags] rules in the config")
    if not settings.tags_output_path:
        raise SystemExit("--build-tags needs [tags] output-file")
    with open(settings.tags_rules_path) as fh:
        rules = parse_rules(fh.read())

    if settings.tags_input_file:
        src = settings.tags_input_file
        if src.endswith(".parquet") or src.endswith("/"):
            paths = spark.read.parquet(src)
            col = "path" if "path" in paths.columns else "name"
            paths = paths.select(paths[col].alias("path"))
        else:
            from pyspark.sql import functions as F

            paths = (
                spark.read.text(src)
                .select(F.trim("value").alias("path"))
                .filter(F.col("path") != "")
            )
    elif args.data:
        from .streaming.ingest import IngestJob

        paths = (
            IngestJob(args.data).read_path_index(spark).select("path").distinct()
        )
    else:
        raise SystemExit("--build-tags needs [tags] input-file or --data")

    out = tagged_table(paths, rules)
    out.write.mode("overwrite").parquet(settings.tags_output_path)
    n = spark.read.parquet(settings.tags_output_path).count()
    print(f"tagger: wrote {n} tagged paths to {settings.tags_output_path}",
          file=_sys.stderr)
    return None


def _match_command(settings, args):
    """`--match metric... [--age N] [--rollup file.xml]` — which rollup
    rules a metric resolves to (graphite-clickhouse.go:299-416
    checkRollupMatch / printMatchedRollupRules, same output shape)."""
    from .operators.rollup import Rules

    if args.rollup:
        print(f'rollup file "{args.rollup}"')
        with open(args.rollup) as fh:
            rules = Rules.from_xml(fh.read())
    else:
        rules = settings.rules
    for metric in args.match:
        prec, aggr, ap_, rp = rules.lookup_verbose(metric, args.age)
        print(f'  metric "{metric}", age {args.age} -> '
              f'precision={prec}, aggr={aggr}')
        if ap_ is not None:
            line = (f'    aggr pattern: type={ap_.rule_type}, '
                    f'regexp="{ap_.regexp}", function={ap_.function or ""}')
            if ap_.retention:
                print(line + ", retentions:")
                for r in ap_.retention:
                    print(f"    [age: {r.age}, precision: {r.precision}]")
            else:
                print(line)
        if rp is not None:
            print(f'    retention pattern: type={rp.rule_type}, '
                  f'regexp="{rp.regexp}", function={rp.function or ""}, '
                  f"retentions:")
            for r in rp.retention:
                print(f"    [age: {r.age}, precision: {r.precision}]")
    return None


def _sd_command(settings, args):
    """The reference CLI's sd-list / sd-delete / sd-evict / sd-expired /
    sd-clean subcommands (graphite-clickhouse.go:95-300)."""
    import time as _time

    from .sd import Registrar, cleanup, new_sd  # noqa: F401
    from .sd.register import short_hostname

    if not settings.sd_url:
        return None

    def fmt(ts):
        return _time.strftime(
            "%Y-%m-%dT%H:%M:%SZ", _time.gmtime(ts)
        )

    if args.sd_list:
        sd = new_sd(settings, "")
        for node in sd.nodes():
            print(f"{sd.namespace()}/{node.key}: {node.value} "
                  f"({fmt(node.flags)})")
    elif args.sd_delete:
        new_sd(settings, short_hostname()).clear("", "")
    elif args.sd_evict:
        for host in args.sd_evict:
            new_sd(settings, host).clear("", "")
    elif args.sd_expired or args.sd_clean:
        sd = new_sd(settings, "")
        for node, action in cleanup(settings, sd, bool(args.sd_expired)):
            suffix = f", {action}" if action else ""
            print(f"{node.key}: {node.value} ({fmt(node.flags)}){suffix}")
    return None


if __name__ == "__main__":
    main()
