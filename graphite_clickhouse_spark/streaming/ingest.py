"""Structured-Streaming ingest — the carbon-clickhouse role (SURVEY.md §2.9).

The reference delegates ingest to carbon-clickhouse and reads recent
unflushed points over the carbonlink pickle protocol
(render/data/carbonlink.go:52-93). In a Spark-native engine both collapse
into one Structured Streaming job:

    carbon plaintext lines ("metric.path value timestamp\\n")
      -> parse (pure column expressions, no Python per row)
      -> foreachBatch: version-max dedup within batch, append to the
         date-partitioned points table, upsert new paths into path_index
         and tag rows into tags_index

and "read your recent writes" (carbonlink, S6) becomes: queries simply
read the same table the stream appends to — dedup-on-read
(operators/dedup.py) resolves any duplicate (path, time) by max version,
exactly the ReplacingMergeTree semantics (helper/point/point.go:5-10).

Scale notes: parsing is whole-stage-codegen'd JVM work; the only shuffles
are the per-batch dedup (small: one micro-batch) and the distinct() for
new index paths (runs on the name universe, not the points). At 100 TB the
same job runs unchanged against Kafka (`readStream.format("kafka")`) —
swap the source, keep the plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import dedup_versions_all_columns
from ..sources.tables import build_daily_path_index

POINT_SCHEMA = "path string, value double, time long, date date, version long"
#: explicit read schemas: a micro-batch with only plain (or only tagged)
#: paths leaves the other table's directory empty, and an empty parquet
#: dir cannot infer a schema
INDEX_SCHEMA = "path string, level int, is_leaf boolean, path_rev string, date date"
TAGS_SCHEMA = "path string, tags map<string,string>, date date"


def _normalize_tagged(col_name: str) -> F.Column:
    """Carbon tagged names -> canonical stored form.

    The carbon plaintext protocol spells tags `name;tag1=v1;tag2=v2`;
    carbon-clickhouse canonicalizes to `name?tag1=v1&tag2=v2` with SORTED
    tags (finder/tagged.go:551-596 decodes assuming that form). Accepts
    either spelling. Pure JVM expressions: translate / split / array_sort /
    array_join."""
    # `;` form -> `?`+`&` form first (first ';' becomes '?', rest '&')
    c = f"""
        CASE WHEN instr({col_name}, ';') > 0 AND instr({col_name}, '?') = 0
             THEN concat(substring_index({col_name}, ';', 1), '?',
                         replace(substring({col_name},
                             length(substring_index({col_name}, ';', 1)) + 2), ';', '&'))
             ELSE {col_name} END
    """
    return F.expr(
        f"""
        CASE WHEN instr({c}, '?') = 0 THEN {c}
        ELSE concat(
            substring_index({c}, '?', 1), '?',
            array_join(array_sort(split(substring({c},
                length(substring_index({c}, '?', 1)) + 2), '&')), '&'))
        END
        """
    )


def tags_map_from_path(col_name: str) -> F.Column:
    """Tagged path -> MAP<STRING,STRING> including __name__
    (reference stores Tags Array(String) of 'k=v'; a map is the Spark-native
    shape, SURVEY.md §1.2).

    Duplicate tag keys keep the LAST occurrence, like graphite-web's
    TaggedSeries.parse (a dict built left-to-right). A plain str_to_map
    would instead throw DUPLICATED_MAP_KEY under Spark's default
    mapKeyDedupPolicy=EXCEPTION and kill the whole batch on one hostile
    path like `m?a=1&a=2` (found by the tagged-path differential fuzz);
    the aggregate below folds the reversed entry list keeping
    first-seen-of-reversed = last-of-original, so the map build can
    never see a duplicate."""
    name = f"substring_index({col_name}, '?', 1)"
    query = f"substring({col_name}, length({name}) + 2)"
    # one 'k=v' segment -> (k, v): split on the FIRST '=' only; a
    # segment without '=' carries a NULL value (str_to_map parity)
    entry = (
        "named_struct('key', substring_index(x, '=', 1), 'value', "
        "if(instr(x, '=') > 0, "
        "substring(x, length(substring_index(x, '=', 1)) + 2), "
        "cast(null as string)))"
    )
    # the accumulator is SEEDED with the __name__ entry, so a hostile
    # `__name__=...` tag can never duplicate it (the name part of the
    # path is authoritative) — and no map_concat remains to throw
    dedup_entries = f"""
        aggregate(
            reverse(split({query}, '&')),
            array(named_struct(
                'key', '__name__', 'value', {name})),
            (acc, x) -> if(
                exists(acc, e -> e.key = substring_index(x, '=', 1)),
                acc, array_append(acc, {entry}))
        )
    """
    return F.expr(
        f"""
        CASE WHEN instr({col_name}, '?') = 0
             THEN map('__name__', {col_name})
        ELSE map_from_entries({dedup_entries})
        END
        """
    )


def parse_carbon_lines(
    lines: DataFrame, line_col: str = "value", version: int | None = None
) -> DataFrame:
    """Carbon plaintext protocol -> points rows.

    Line = `<path> <value> <epoch-seconds>`; malformed lines are dropped
    (carbon servers tolerate garbage). Works identically on batch and
    streaming DataFrames — it is only column expressions.

    `version` pins the write-version for deterministic tests; production
    leaves it None -> ingest wall-clock seconds, reproducing the
    carbon-clickhouse write-Timestamp (helper/point/point.go:9).
    """
    parts = F.split(F.trim(F.col(line_col)), r"\s+")
    ver = F.lit(version).cast("long") if version is not None else F.unix_timestamp()
    return (
        lines.select(parts.alias("p"))
        .filter(F.size("p") == 3)
        .select(
            _normalize_tagged("p[0]").alias("path"),
            F.col("p")[1].try_cast("double").alias("value"),
            F.col("p")[2].try_cast("double").try_cast("long").alias("time"),
        )
        .filter(F.col("value").isNotNull() & F.col("time").isNotNull())
        # carbon timestamps are uint32 on the reference wire
        # (helper/point/point.go Timestamp uint32): out-of-range values
        # are malformed lines, dropped like any other garbage. Without
        # this bound a single poison line (|ts| > ~9.2e12 s) crashes the
        # WHOLE micro-batch — timestamp_seconds multiplies to micros with
        # Math.multiplyExact (found by the differential parse fuzz).
        .filter(F.col("time").between(0, 4294967295))
        .withColumn("date", F.to_date(F.timestamp_seconds(F.col("time"))))
        .withColumn("version", ver)
    )


def build_tags_index(points: DataFrame) -> DataFrame:
    """Distinct tagged paths -> (path, tags map, date) rows — the
    graphite_tagged table equivalent (SURVEY.md §1.2)."""
    return (
        points.filter(F.col("path").contains("?"))
        .select("path", "date")
        .distinct()
        .withColumn("tags", tags_map_from_path("path"))
    )


class IngestJob:
    """Owns the output layout: points/ (date-partitioned parquet),
    path_index/, tags_index/."""

    def __init__(self, base_dir: str, version: int | None = None):
        import os

        self.points_dir = f"{base_dir}/points"
        self.index_dir = f"{base_dir}/path_index"
        self.tags_dir = f"{base_dir}/tags_index"
        self.version = version
        self._recover_dirs()
        # a fresh directory reads as an empty store, not PATH_NOT_FOUND
        for d in (self.points_dir, self.index_dir, self.tags_dir):
            os.makedirs(d, exist_ok=True)

    def _recover_dirs(self) -> None:
        """Make the compact/optimize swaps crash-recoverable: a crash
        between the two renames leaves a table dir absent with its .old/
        twin holding the live table (rename it back); stale .old/
        .compacting/.optimizing leftovers from any earlier crash are
        removed so the next swap cannot nest the live table inside a
        leftover dir."""
        import os
        import shutil

        for live in (self.points_dir, self.index_dir, self.tags_dir):
            old = live + ".old"
            if not os.path.exists(live) and os.path.isdir(old):
                os.rename(old, live)
            for suffix in (".old", ".compacting", ".optimizing"):
                p = live + suffix
                if os.path.isdir(p):
                    shutil.rmtree(p, ignore_errors=True)

    def _swap_in(self, tmp: str, live: str) -> None:
        """Replace the table dir `live` with the rewritten table at `tmp`,
        restoring the original on failure; `_recover_dirs` handles the
        crash case."""
        import os
        import shutil

        old = live + ".old"
        if os.path.isdir(old):
            shutil.rmtree(old)
        os.rename(live, old)
        try:
            os.rename(tmp, live)
        except BaseException:
            os.rename(old, live)
            raise
        shutil.rmtree(old, ignore_errors=True)

    def _merge_indexes(self, spark: SparkSession, keep_from_ts: int | None = None) -> None:
        """The ReplacingMergeTree merge for both index tables: every
        micro-batch appends one path_index row per node and one tags_index
        row per tagged series per day it touched, so a live store holds
        up to one index row per batch where one per day would do. Fold
        them to distinct rows, one file per date, by the same temp-dir +
        swap as the points.

        `keep_from_ts` is the TTL cutoff: a date partition entirely
        older than it is dropped (partition-precise, where the points'
        TTL is row-precise), so a series whose points all expired leaves
        find, autocomplete, seriesByTag and the Prometheus label/series
        answers with them."""
        tables = (
            (self.index_dir, self.read_path_index(spark).distinct()),
            # the tags map is a function of the path (and a map column
            # cannot take part in a plain distinct)
            (self.tags_dir,
             self.read_tags_index(spark).dropDuplicates(["path", "date"])),
        )
        for live, rows in tables:
            if keep_from_ts is not None:
                rows = rows.filter(
                    F.col("date")
                    >= F.to_date(F.timestamp_seconds(F.lit(keep_from_ts)))
                )
            tmp = live + ".compacting"
            (
                rows.repartition("date")
                .sortWithinPartitions("path")
                .write.mode("overwrite")
                .partitionBy("date")
                .parquet(tmp)
            )
            self._swap_in(tmp, live)

    # -- batch body (also the foreachBatch callback) ----------------------

    def write_batch(self, parsed: DataFrame, batch_id: int | None = None) -> None:
        # the deduped batch feeds THREE writes (points + both indexes);
        # without the persist each write re-runs the parse AND the dedup
        # shuffle from the source (measured 109k -> 137k points/s at a
        # 2M-point batch). Default MEMORY_AND_DISK level, so an
        # oversized micro-batch spills instead of OOMing an executor.
        parsed = dedup_versions_all_columns(parsed).persist()
        try:
            parsed.write.mode("append").partitionBy("date").parquet(
                self.points_dir
            )
            plain = parsed.filter(~F.col("path").contains("?"))
            # daily index rows, date-partitioned: a windowed find prunes
            # to the days in range (doc/index-table.md:20-38)
            build_daily_path_index(plain).write.mode("append").partitionBy(
                "date"
            ).parquet(self.index_dir)
            # date-partitioned like the reference's tags table (ORDER BY
            # (Tag1, Path, Date)): the tagged-autocomplete-days window and
            # the /api/v1/series start/end become partition prunes
            # (seriesByTag resolution has no date bound and reads every
            # date)
            tagged = build_tags_index(parsed)
            tagged.write.mode("append").partitionBy("date").parquet(
                self.tags_dir
            )
        finally:
            parsed.unpersist()

    # -- streaming --------------------------------------------------------

    def _start_parsed_stream(
        self, parsed: DataFrame, checkpoint_dir: str, available_now: bool
    ):
        """Shared tail of every source variant: the parsed-points stream
        feeds the same foreachBatch upsert regardless of transport."""
        writer = (
            parsed.writeStream.outputMode("append")
            .option("checkpointLocation", checkpoint_dir)
            .foreachBatch(lambda df, bid: self.write_batch(df, bid))
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def start_text_stream(
        self, spark: SparkSession, input_dir: str, checkpoint_dir: str, available_now: bool = True
    ):
        """Tail a directory of carbon plaintext files. Swap
        `.format("text")` for `"kafka"` + the same parse for production."""
        lines = spark.readStream.format("text").load(input_dir)
        parsed = parse_carbon_lines(lines, version=self.version)
        return self._start_parsed_stream(parsed, checkpoint_dir, available_now)

    def start_record_stream(
        self, records: DataFrame, checkpoint_dir: str, available_now: bool = True
    ):
        """Kafka-record-shaped source: a streaming DataFrame with the
        connector's schema (key binary, value binary, topic, partition,
        offset, timestamp, ...) where each record's VALUE is one carbon
        plaintext line — the carbon-relay-to-Kafka deployment shape. In
        production `records` is exactly
        `spark.readStream.format("kafka").option(...).load()`; everything
        downstream of the value cast is byte-identical to the text-spool
        path (same parse, same dedup, same three-table upsert), which
        tests/test_streaming.py pins by comparing table contents across
        the two transports."""
        lines = records.select(F.col("value").cast("string").alias("value"))
        parsed = parse_carbon_lines(lines, version=self.version)
        return self._start_parsed_stream(parsed, checkpoint_dir, available_now)

    # -- maintenance ------------------------------------------------------

    def _date_bytes(self) -> dict[str, int]:
        """On-disk bytes per date partition (a file LISTING, not a data
        scan — the same metadata a table format keeps)."""
        import os

        sizes: dict[str, int] = {}
        root = self.points_dir
        if not os.path.isdir(root):
            return sizes
        for entry in os.scandir(root):
            if not (entry.is_dir() and entry.name.startswith("date=")):
                continue
            date = entry.name[len("date="):]
            total = 0
            for dp, _dn, fn in os.walk(entry.path):
                for f in fn:
                    if not f.startswith(("_", ".")):
                        total += os.path.getsize(os.path.join(dp, f))
            sizes[date] = total
        return sizes

    def compact(
        self,
        spark: SparkSession,
        target_files_per_date: int | None = None,
        target_bytes_per_file: int = 256 << 20,
    ) -> None:
        """The ReplacingMergeTree background merge, run explicitly: fold
        duplicate (path, time) rows to their max-version winner and
        coalesce the many small files streaming appends leave behind.

        The reference leans on ClickHouse doing this continuously (and
        still dedups client-side because merges lag — helper/point/
        func.go:28-51); here it is a scheduled batch job. Dedup-on-read
        stays correct before/after, compaction just makes reads cheaper.
        Writes to a temp dir then swaps, so concurrent readers never see a
        half-written table. The two index tables are merged the same way
        (`_merge_indexes`).

        File sizing: by default each date gets ceil(date_bytes /
        target_bytes_per_file) output files (size-binned — at 100 TB a
        single date is TBs and a fixed files-per-date would produce
        unsplittable monster files); pass target_files_per_date to force
        a fixed count instead. Bins are hash(path)-assigned so one path's
        rows stay in one file (read locality for per-metric scans).
        """
        import math

        from ..operators.dedup import dedup_versions_all_columns

        self._recover_dirs()
        tmp = self.points_dir + ".compacting"
        if target_files_per_date is None:
            bins = {
                d: max(1, math.ceil(b / max(1, target_bytes_per_file)))
                for d, b in self._date_bytes().items()
            }
        else:
            bins = None
        deduped = dedup_versions_all_columns(self.read_points(spark))
        if bins is None:
            shaped = deduped.repartition(int(target_files_per_date), "date")
        else:
            # per-date bin column via a tiny literal map; shuffle on
            # (date, bin) so each task owns whole bins -> one file per
            # (date, bin) after partitionBy
            nbins = F.coalesce(
                F.element_at(
                    F.create_map(
                        *[F.lit(x) for d, n in sorted(bins.items()) for x in (d, n)]
                    ),
                    F.col("date").cast("string"),
                ),
                F.lit(1),
            )
            total = max(1, sum(bins.values()))
            shaped = (
                deduped.withColumn("_bin", F.pmod(F.xxhash64("path"), nbins))
                # range partitioner over ~total distinct (date, bin) keys:
                # one group per task (mod hash collisions), so the write
                # emits ~one file per bin and dates stay contiguous
                .repartitionByRange(total, F.col("date"), F.col("_bin"))
                .drop("_bin")
            )
        (
            shaped.sortWithinPartitions("path", "time")
            .write.mode("overwrite")
            .partitionBy("date")
            .parquet(tmp)
        )
        self._swap_in(tmp, self.points_dir)
        self._merge_indexes(spark)

    def optimize(
        self,
        spark: SparkSession,
        rules,
        now_ts: int | None = None,
        drop_older_than_sec: int | None = None,
        target_files_per_date: int | None = None,
        target_bytes_per_file: int = 256 << 20,
    ) -> None:
        """GraphiteMergeTree OPTIMIZE FINAL + TTL, run as a batch job over
        the stored layout — the two jobs ClickHouse performs continuously
        for the reference and this engine must schedule:

        1. **TTL delete** (`drop_older_than_sec`): rows older than
           `now - drop` are expired, row-precise like a ClickHouse TTL
           expression (a date partition whose rows all expire simply
           produces no output partition). The index tables lose every
           date partition wholly older than the cutoff.
        2. **Rollup-on-merge**: every surviving row rewrites through
           `operators.rollup.graphite_merge` — times round to the
           retention precision for their age, colliding (path, time)
           versions dedup, buckets aggregate with the metric's rollup
           function. Old partitions physically shrink to their retention
           resolution, which is where the 100 TB storage curve flattens.

        Same temp-dir + atomic-swap protocol and index merge as
        `compact`; dedup-on-read
        stays correct before and after (merge output is just fewer,
        already-merged rows). Query semantics are unchanged because the
        read path applies the same rules at fetch time — after optimize
        the fetch simply finds the data already at storage resolution.
        """
        import math
        import shutil
        import time as _time

        from ..operators.rollup import graphite_merge

        now = int(now_ts if now_ts is not None else _time.time())
        pts = self.read_points(spark)
        if drop_older_than_sec is not None:
            pts = pts.filter(F.col("time") >= F.lit(now - drop_older_than_sec))
        merged = graphite_merge(pts, rules, now)
        self._recover_dirs()
        tmp = self.points_dir + ".optimizing"
        if target_files_per_date is not None:
            shaped = merged.repartition(int(target_files_per_date), "date")
        else:
            bins = {
                d: max(1, math.ceil(b / max(1, target_bytes_per_file)))
                for d, b in self._date_bytes().items()
            }
            nbins = F.coalesce(
                F.element_at(
                    F.create_map(
                        *[F.lit(x) for d, n in sorted(bins.items()) for x in (d, n)]
                    ),
                    F.col("date").cast("string"),
                ),
                F.lit(1),
            )
            total = max(1, sum(bins.values()))
            shaped = (
                merged.withColumn("_bin", F.pmod(F.xxhash64("path"), nbins))
                .repartitionByRange(total, F.col("date"), F.col("_bin"))
                .drop("_bin")
            )
        (
            shaped.sortWithinPartitions("path", "time")
            .write.mode("overwrite")
            .partitionBy("date")
            .parquet(tmp)
        )
        self._swap_in(tmp, self.points_dir)
        self._merge_indexes(
            spark,
            None if drop_older_than_sec is None else now - drop_older_than_sec,
        )

    # -- read side --------------------------------------------------------

    def read_points(self, spark: SparkSession) -> DataFrame:
        return spark.read.schema(POINT_SCHEMA).parquet(self.points_dir)

    def read_path_index(self, spark: SparkSession) -> DataFrame:
        """The daily path index, RAW: appended batches may repeat a
        (path, date) row, one per micro-batch at worst, until `compact`
        or `optimize` merges them. Each consumer dedups its own
        projection (find, glob resolve and index.json all end in a
        distinct), so a dedup here would only be a second shuffle per
        request."""
        return spark.read.schema(INDEX_SCHEMA).parquet(self.index_dir)

    def read_tags_index(self, spark: SparkSession) -> DataFrame:
        """The daily tag index (path, tags, date), RAW for the same
        reason: autocomplete, seriesByTag resolution and the Prometheus
        label/series answers each end in their own distinct."""
        return spark.read.schema(TAGS_SCHEMA).parquet(self.tags_dir)


def points_with_recent(storage: DataFrame, recent: DataFrame) -> DataFrame:
    """Carbonlink equivalent (SURVEY §2.1 S6, §2.3 J4): serve queries over
    storage UNION the streaming sink's latest appends. Version-max dedup
    on read (operators/dedup.py) resolves overlapping (path, time) exactly
    like the reference's cache-points merge (render/data/data.go:94-130)."""
    return storage.unionByName(recent, allowMissingColumns=True)


def streaming_dedup_within_watermark(parsed: DataFrame, delay: str = "1 hour") -> DataFrame:
    """Pure-streaming alternative to dedup-in-foreachBatch: drop duplicate
    (path, time) arrivals within the watermark window. Note: unlike
    version-max dedup this keeps the FIRST arrival — use only for
    at-least-once sources where duplicates are identical payloads."""
    return parsed.withColumn(
        "event_time", F.timestamp_seconds(F.col("time"))
    ).withWatermark("event_time", delay).dropDuplicatesWithinWatermark(["path", "time"])


class CarbonLineReceiver:
    """Carbon plaintext TCP receiver -> spool files for the text stream.

    The reference ecosystem's primary ingest transport is agents pushing
    `metric value timestamp\\n` lines over TCP (carbon-clickhouse's tcp
    receiver). Spark's own socket source is a CLIENT (it dials out), so
    the receiver half lives here: a threaded acceptor appends complete
    lines to rotating spool files that `IngestJob.start_text_stream`
    tails — receive and ingest are decoupled by a durable buffer, which
    is also the production shape (swap the spool directory for Kafka and
    nothing else changes; a crash between flush and ingest loses nothing
    already spooled).

    Rotation: a spool file closes after `rotate_lines` lines or
    `rotate_seconds` since it opened — whichever first — and only CLOSED
    files are named *.txt (open files carry .part, invisible to the
    `.txt` glob the stream reads), so the file-source never observes a
    half-written file.
    """

    def __init__(
        self,
        spool_dir: str,
        host: str = "127.0.0.1",
        port: int = 0,
        rotate_lines: int = 50_000,
        rotate_seconds: float = 2.0,
    ):
        import os
        import socket
        import threading
        import time

        os.makedirs(spool_dir, exist_ok=True)
        self.spool_dir = spool_dir
        self.rotate_lines = rotate_lines
        self.rotate_seconds = rotate_seconds
        self._seq = 0
        self._lock = threading.Lock()
        self._stopping = threading.Event()
        self._srv = socket.create_server((host, port))
        self._srv.settimeout(0.2)
        self.address = self._srv.getsockname()[:2]
        self._threads: list[threading.Thread] = []
        self._time = time
        t = threading.Thread(target=self._accept_loop, daemon=True)
        t.start()
        # dedicated attribute (not a positional slot in _threads): close()
        # must know which thread is the one-and-only appender of conn
        # threads so it can snapshot the rest only after this one exits
        self._accept_thread = t
        self._threads.append(t)

    # distinguishes the three transports' files in a shared spool dir
    _spool_kind = "tcp"

    def _spool_token(self) -> str:
        """Unique-per-receiver-instance spool name component. Without it,
        two receivers sharing one spool dir (tcp+udp+pickle all spool to
        <data>/spool) — or a restart with leftover files — would both
        count from 1 and os.rename would silently replace a spooled file
        the stream had already recorded as seen, losing its contents."""
        import os
        import uuid

        tok = getattr(self, "_spool_tok", None)
        if tok is None:
            tok = f"{os.getpid():x}-{uuid.uuid4().hex[:8]}"
            self._spool_tok = tok
        return tok

    def _spool_path(self) -> str:
        import os

        tok = self._spool_token()
        with self._lock:
            while True:
                self._seq += 1
                p = os.path.join(
                    self.spool_dir,
                    f"carbon-{self._spool_kind}-{tok}-{self._seq:08d}",
                )
                # belt over braces: never step on an existing spool file
                if not os.path.exists(p + ".txt"):
                    return p

    def _accept_loop(self):
        import socket
        import threading

        def spawn(conn):
            t = threading.Thread(
                target=self._conn_loop, args=(conn,), daemon=True
            )
            t.start()
            self._threads.append(t)

        while True:
            if self._stopping.is_set():
                # Drain ONLY the backlog that already exists: a client can
                # connect+send+close entirely inside the OS queue before
                # accept() ever returns it — aborting without this drain
                # strands that data (found by the verify drive: a whole
                # 3k-line connection vanished when close() raced the
                # accept).  But the drain must CONVERGE under live
                # traffic: reconnecting senders (the normal carbon case)
                # would otherwise keep a "wait until idle" loop accepting
                # brand-new connections forever and close() would hang.
                # Non-blocking accept-until-EWOULDBLOCK takes exactly the
                # queued connections; the wall-clock cap bounds shutdown
                # even against a connect flood racing the drain.
                self._srv.setblocking(False)
                deadline = self._time.monotonic() + self.backlog_drain_seconds
                while self._time.monotonic() < deadline:
                    try:
                        conn, _addr = self._srv.accept()
                    except (BlockingIOError, OSError):
                        break
                    spawn(conn)
                return
            try:
                conn, _addr = self._srv.accept()
            except socket.timeout:
                continue
            except OSError:
                return
            spawn(conn)

    def _extract(self, buf: bytes) -> tuple[list[bytes], bytes]:
        """Split complete plaintext lines off the buffer."""
        *complete, rest = buf.split(b"\n")
        return [l for l in complete if l.strip()], rest

    def _finalize(self, buf: bytes) -> list[bytes]:
        """A trailing line without its newline still counts on close."""
        return [buf] if buf.strip() else []

    def _conn_loop(self, conn):
        import os

        buf = b""
        lines: list[bytes] = []
        opened = self._time.monotonic()
        conn.settimeout(0.2)

        def flush():
            nonlocal lines, opened
            # emit in rotate_lines-sized files: one large recv chunk can
            # carry many lines, and the per-file bound must hold anyway
            while lines:
                batch, lines = lines[: self.rotate_lines], lines[self.rotate_lines:]
                p = self._spool_path()
                # dot-prefix while writing: Spark's file source ignores
                # hidden files, so the stream can never list a file
                # mid-write; the rename to the visible name is atomic
                part = os.path.join(
                    os.path.dirname(p), "." + os.path.basename(p) + ".part"
                )
                with open(part, "wb") as fh:
                    fh.write(b"\n".join(batch) + b"\n")
                os.rename(part, p + ".txt")
            opened = self._time.monotonic()

        drain_deadline = None
        try:
            while True:
                # shutdown DRAINS: bytes the peer already sent (sitting in
                # the kernel buffer or in flight) must reach the spool — a
                # close() that aborts mid-read silently loses accepted
                # data (found by the ingest bench: 53k of 2M lines gone).
                # When stopping, keep reading until peer EOF, a 0.2 s idle
                # gap, or the drain deadline for a peer that never stops.
                if self._stopping.is_set() and drain_deadline is None:
                    drain_deadline = self._time.monotonic() + self.drain_seconds
                if drain_deadline is not None and (
                    self._time.monotonic() >= drain_deadline
                ):
                    break
                try:
                    chunk = conn.recv(65536)
                except TimeoutError:
                    if self._stopping.is_set():
                        break  # stopping + idle socket: drained
                    chunk = None
                except OSError:
                    break
                if chunk == b"":  # peer closed
                    break
                if chunk:
                    buf += chunk
                    complete, buf = self._extract(buf)
                    lines.extend(complete)
                if lines and (
                    len(lines) >= self.rotate_lines
                    or self._time.monotonic() - opened >= self.rotate_seconds
                ):
                    flush()
        finally:
            lines.extend(self._finalize(buf))
            flush()
            conn.close()

    #: max seconds close() keeps reading from a peer that is still
    #: actively sending (idle peers release after one 0.2 s recv timeout)
    drain_seconds = 10.0
    #: max seconds the stopping accept loop spends taking already-queued
    #: connections off the OS backlog before it stops accepting entirely
    backlog_drain_seconds = 2.0

    def close(self):
        """Ordered shutdown that terminates under active traffic:

        1. the accept loop drains the already-queued OS backlog
           (non-blocking, wall-clock capped) and exits — it does NOT
           wait for reconnecting senders to go idle, which previously
           made close() hang forever under a live carbon feed;
        2. with the accept loop gone the listener closes, so late
           connectors get a hard refusal instead of a silent queue;
        3. conn threads are joined — the set is fixed now (only the
           accept loop ever appends), and each exits on peer EOF, a
           0.2 s idle gap, or its own drain_seconds deadline.
        """
        self._stopping.set()
        accept_thread = self._accept_thread
        accept_thread.join(timeout=self.backlog_drain_seconds + 5)
        try:
            self._srv.close()
        except OSError:
            pass
        # The accept loop is the ONLY appender of conn threads, so the
        # list is fixed once it has exited — but its join above is
        # timeout-bounded, and a conn thread appended after a one-shot
        # snapshot would never be joined (its spool flush lost). Keep
        # re-snapshotting until the accept thread is gone AND no new
        # threads appeared, with a hard pass cap so a wedged accept
        # loop can't hang close() forever (r6 advisor).
        joined = 0
        for _pass in range(4):
            threads = list(self._threads)
            for t in threads[joined:]:
                if t is not accept_thread:
                    t.join(timeout=self.drain_seconds + 10)
            joined = len(threads)
            if not accept_thread.is_alive() and len(self._threads) == joined:
                break
            accept_thread.join(timeout=1.0)


class CarbonUDPReceiver:
    """Carbon plaintext over UDP (carbon's third ingest transport):
    each datagram carries one or more complete `metric value timestamp`
    lines — no framing to reassemble, no connection state. Lines land in
    the same dot-prefixed-then-renamed spool files the TCP receivers
    write, so the downstream text stream is shared. Datagram loss is the
    transport's documented trade-off; nothing here adds to it (a flush
    failure keeps lines buffered for the next tick)."""

    def __init__(
        self,
        spool_dir: str,
        host: str = "127.0.0.1",
        port: int = 0,
        rotate_lines: int = 50_000,
        rotate_seconds: float = 2.0,
    ):
        import os
        import socket
        import threading
        import time

        os.makedirs(spool_dir, exist_ok=True)
        self.spool_dir = spool_dir
        self.rotate_lines = rotate_lines
        self.rotate_seconds = rotate_seconds
        self._seq = 0
        self._lock = threading.Lock()
        self._stopping = threading.Event()
        self._sock = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
        self._sock.bind((host, port))
        self._sock.settimeout(0.2)
        self.address = self._sock.getsockname()[:2]
        self._time = time
        self._thread = threading.Thread(target=self._recv_loop, daemon=True)
        self._thread.start()

    # same spool naming/visibility protocol as CarbonLineReceiver
    _spool_kind = "udp"
    _spool_token = CarbonLineReceiver._spool_token
    _spool_path = CarbonLineReceiver._spool_path

    def _recv_loop(self):
        import os
        import socket

        lines: list[bytes] = []
        opened = self._time.monotonic()

        def flush():
            nonlocal lines, opened
            while lines:
                batch, lines = lines[: self.rotate_lines], lines[self.rotate_lines:]
                p = self._spool_path()
                part = os.path.join(
                    os.path.dirname(p), "." + os.path.basename(p) + ".part"
                )
                with open(part, "wb") as fh:
                    fh.write(b"\n".join(batch) + b"\n")
                os.rename(part, p + ".txt")
            opened = self._time.monotonic()

        try:
            while True:
                # like the TCP receiver: close() DRAINS datagrams already
                # in the kernel buffer (stop only on a post-stop idle
                # timeout) — adding avoidable loss to a lossy transport
                # is still a bug
                try:
                    datagram, _addr = self._sock.recvfrom(65536)
                except socket.timeout:
                    if self._stopping.is_set():
                        break
                    datagram = None
                except OSError:
                    break
                if datagram:
                    lines.extend(
                        l for l in datagram.split(b"\n") if l.strip()
                    )
                if lines and (
                    len(lines) >= self.rotate_lines
                    or self._time.monotonic() - opened >= self.rotate_seconds
                ):
                    flush()
        finally:
            flush()

    def close(self):
        self._stopping.set()
        # the recv loop drains the socket before this close lands; the
        # join waits for the final flush
        self._thread.join(timeout=10)
        try:
            self._sock.close()
        except OSError:
            pass


class CarbonPickleReceiver(CarbonLineReceiver):
    """Carbon pickle protocol receiver (graphite's port-2004 transport):
    frames of 4-byte big-endian length + a pickle of
    ``[(metric, (timestamp, value)), ...]``.

    Datapoints are rendered back to plaintext lines into the SAME spool
    the plaintext receiver uses, so the downstream text stream ingests
    both transports unchanged. Unpickling is RESTRICTED — find_class is
    refused outright (lists/tuples/primitives need no classes), the
    carbon daemon's own safe-unpickler posture against the protocol's
    arbitrary-code hazard. A malformed frame is dropped; the connection
    and the remaining frames keep flowing.
    """

    _spool_kind = "pickle"
    _MAX_FRAME = 8 * 1024 * 1024  # a framing desync must not buffer GBs

    @classmethod
    def _safe_loads(cls, payload: bytes):
        import codecs
        import io
        import pickle

        # the only globals a datapoint list may reference: protocol-2
        # pickles of BYTES metrics (python2 senders) encode them via
        # _codecs.encode / builtins.bytearray — everything else refused
        allowed = {
            ("_codecs", "encode"): codecs.encode,
            ("builtins", "bytes"): bytes,
            ("builtins", "bytearray"): bytearray,
        }

        class _SafeUnpickler(pickle.Unpickler):
            def find_class(self, module, name):
                try:
                    return allowed[(module, name)]
                except KeyError:
                    raise pickle.UnpicklingError(
                        f"carbon pickle frames may not reference "
                        f"{module}.{name}"
                    ) from None

        return _SafeUnpickler(io.BytesIO(payload)).load()

    def _frame_lines(self, payload: bytes) -> list[bytes]:
        try:
            points = self._safe_loads(payload)
        except Exception:  # corrupt / hostile frame: drop it
            return []
        out: list[bytes] = []
        if not isinstance(points, (list, tuple)):
            return out
        for item in points:
            try:
                metric, (ts, value) = item
            except (TypeError, ValueError):
                continue
            if isinstance(metric, bytes):
                metric = metric.decode("utf-8", "replace")
            if not isinstance(metric, str) or not metric.strip():
                continue
            try:
                ts = float(ts)
                value = float(value)
            except (TypeError, ValueError):
                continue
            out.append(f"{metric.strip()} {value!r} {int(ts)}".encode())
        return out

    def _extract(self, buf: bytes) -> tuple[list[bytes], bytes]:
        lines: list[bytes] = []
        while len(buf) >= 4:
            n = int.from_bytes(buf[:4], "big")
            if n > self._MAX_FRAME:
                # framing lost: resync by dropping the connection's
                # buffer (the finally-flush keeps what was decoded)
                return lines, b""
            if len(buf) < 4 + n:
                break
            lines.extend(self._frame_lines(buf[4:4 + n]))
            buf = buf[4 + n:]
        return lines, buf

    def _finalize(self, buf: bytes) -> list[bytes]:
        return []  # an incomplete trailing frame is undecodable
