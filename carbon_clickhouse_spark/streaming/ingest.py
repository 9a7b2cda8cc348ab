"""Structured Streaming ingestion (SURVEY §2.5 K1-K6 + §3.1 stage map).

The reference's disk pipeline — writeChan -> chunk file rotation ->
symlink fan-out -> per-table uploader with retry (at-least-once) -> ack
cleanup — collapses into one Structured Streaming graph:

- micro-batch == chunk file (``trigger(processingTime=chunk_interval)``,
  K1); checkpointing replaces the scan/retry/`_`-rename machinery (K4)
- one ``foreachBatch`` writes all four tables from one batch (K3): a
  single source of truth per micro-batch, each table commit atomic
- the batch function returns only after every table is written — the
  gRPC StoreSync durability handshake (K6) for free
- drop rules run as filters inside the batch (F1-F4), with the dropped
  rows appended to an audit table (F5's ring buffer, durable)
- exists-cache (A2) is an anti-join against the stored index/tagged
  tables, so re-delivered batches cannot re-insert series rows

Sources: any streaming DataFrame of raw protocol lines works — file
landing zone (``spark.readStream.text``), socket (demo only), or Kafka
(``value`` casted to string). This mirrors S1/S2: Spark has no UDP/TCP
server source, so production deployments land frames in Kafka/files,
exactly how the reference's users front it with a load balancer.
"""

from __future__ import annotations

import os
import threading
from collections import defaultdict
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..pipeline import IngestConfig, derive_tables
from ..operators.dedup import new_series_only
from ..operators.layout import append_table, table_sort_cols
from ..operators.filters import drop_rule_predicate
from ..sources.plain import parse_plain_lines
from ..functions.tags import TagConfig


def parse_chunk_auto_interval(spec: str) -> list[tuple[int, float]]:
    """Parse the reference's ``chunk-auto-interval`` backpressure spec
    (K2, ``helper/config/chunk_interval.go:68-85``): ``"5:10s,20:60s"``
    means >=5 unhandled chunks -> 10s rotation, >=20 -> 60s. Returns
    [(threshold, seconds)] sorted ascending."""
    out = []
    for part in spec.split(","):
        part = part.strip()
        if not part:
            continue
        thresh, dur = part.split(":")
        d = dur.strip()
        mult = 1.0
        for suffix, m in (("ms", 0.001), ("s", 1.0), ("m", 60.0), ("h", 3600.0)):
            if d.endswith(suffix):
                d, mult = d[: -len(suffix)], m
                break
        out.append((int(thresh), float(d) * mult))
    return sorted(out)


def effective_chunk_interval(
    base_seconds: float, backlog: int, auto: list[tuple[int, float]]
) -> float:
    """K2 governor: pick the largest configured interval whose backlog
    threshold is met (``writer/writer.go:147-157`` semantics). Feed it
    the streaming backlog (e.g. files pending in the landing dir) and
    restart the trigger when it changes."""
    interval = base_seconds
    for thresh, seconds in auto:
        if backlog >= thresh:
            interval = seconds
    return interval


# One writer at a time per TABLE DIRECTORY, process-wide: with several
# protocol pipelines appending to the same four-table root (__main__
# runs one StreamingQuery per enabled front, all feeding one root —
# the reference's single writeChan, carbon/app.go:193), concurrent
# append jobs to the SAME path race on the Hadoop committer's shared
# `_temporary` staging dir — the first commit deletes the other job's
# staged files, silently losing a batch. Different tables still write
# in parallel; only same-table writes serialize. On a real cluster the
# equivalent fix is a concurrency-safe committer (e.g. a manifest
# committer / Delta's optimistic protocol); this lock is the
# single-process guarantee.
_TABLE_WRITE_LOCKS: dict[str, threading.Lock] = defaultdict(threading.Lock)
_TABLE_WRITE_LOCKS_GUARD = threading.Lock()


def _table_lock(path: str) -> threading.Lock:
    with _TABLE_WRITE_LOCKS_GUARD:
        return _TABLE_WRITE_LOCKS[os.path.abspath(path)]


@dataclass
class StreamConfig:
    root: str
    checkpoint: str | None = None
    chunk_interval: str = "1 second"  # ref carbon/config.go:131-133
    ingest: IngestConfig = field(default_factory=IngestConfig)
    tag_config: TagConfig | None = None
    audit_dropped: bool = True  # F5
    # protocol label stamped onto audited drops, so the
    # /debug/receive/<protocol>/dropped/ introspection endpoint can
    # slice the shared audit table per front (carbon/app.go:265-353)
    protocol: str = "tcp"
    exists_cache: bool = True  # A2
    collector: object | None = None  # S7: SelfMetricsCollector (optional)
    # Micro-batch parallelism follows the landing chunk-file count (one
    # scan partition per small file). A front that rotates ONE big chunk
    # per interval would run the whole batch on one core — set this to
    # fan the parsed batch out across the executors before the four
    # table writes. None = trust the source partitioning.
    repartition: int | None = None
    # K5 in the stream: mirror every micro-batch's four tables into a
    # real ClickHouse over HTTP (sinks/clickhouse.CHTarget). The
    # upload shares the exists-cache-deduped series rows with the
    # parquet write, and the micro-batch commits only after ClickHouse
    # acked — the reference's sync-ack guarantee (K6) extended to the
    # serving store. None = parquet tables only.
    clickhouse: object | None = None
    # ClickHouse-style background merges (A3/A4 applied continuously):
    # a streaming.merger.BackgroundMerger observed once per committed
    # micro-batch; every N batches it compacts the four tables in a
    # daemon thread behind the same table locks. None = merges stay
    # explicit (--compact / read-time views).
    merger: object | None = None


def start_plain_ingest(
    spark: SparkSession,
    lines: DataFrame,
    config: StreamConfig,
    line_col: str = "value",
) -> StreamingQuery:
    """Start the plain-protocol ingest stream: raw lines -> four
    tables under ``config.root``."""

    def decode(batch: DataFrame) -> DataFrame:
        return parse_plain_lines(
            batch, line_col=line_col, tag_config=config.tag_config, zero_version=False
        )

    return start_ingest(spark, lines, config, decode)


def start_ingest(
    spark: SparkSession,
    source: DataFrame,
    config: StreamConfig,
    decoder,
) -> StreamingQuery:
    """Protocol-agnostic ingest stream: ``decoder(batch_df) -> points
    DataFrame`` plugs any wire decoder (plain lines, telegraf JSON
    bodies, prometheus write-requests, pickle frames, gRPC payloads)
    into the same transactional four-table foreachBatch pipeline —
    mirroring how every reference receiver feeds the single writeChan
    (``carbon/app.go:193``). Returns the StreamingQuery (caller owns
    stop)."""
    checkpoint = config.checkpoint or os.path.join(config.root, "_checkpoint")

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        spark_b = batch.sparkSession
        points = decoder(batch)
        if config.repartition:
            points = points.repartition(config.repartition)
        ic = config.ingest
        keep = drop_rule_predicate(
            now=ic.now,
            drop_future_seconds=ic.drop_future_seconds,
            drop_past_seconds=ic.drop_past_seconds,
            drop_longer_than=ic.drop_longer_than,
        )
        points = points.persist()
        try:
            if config.audit_dropped:
                dropped = points.filter(~keep).withColumn(
                    "protocol", F.lit(config.protocol)
                )
                dropped_path = os.path.join(config.root, "dropped")
                with _table_lock(dropped_path):
                    dropped.write.mode("append").parquet(dropped_path)
            kept_rows: int | None = None
            if config.collector is not None:
                # per-reason drop counters (S7): one aggregation over
                # the already-persisted batch, counter names straight
                # from receiver/base.go's SendStat registry
                from ..operators.filters import drop_reason_flags

                flags = drop_reason_flags(
                    now=ic.now,
                    drop_future_seconds=ic.drop_future_seconds,
                    drop_past_seconds=ic.drop_past_seconds,
                    drop_longer_than=ic.drop_longer_than,
                )
                agg = points.select(
                    F.count(F.lit(1)).alias("__total"),
                    *[
                        F.sum(F.when(c, 1).otherwise(0)).cast("long").alias(k)
                        for k, c in flags.items()
                    ],
                ).first()
                for k in flags:
                    if agg[k]:
                        config.collector.add(k, float(agg[k]))
                kept_rows = int(agg["__total"]) - sum(
                    int(agg[k]) for k in flags
                )
            tables = derive_tables(points, ic)

            # one dates probe off the persisted batch, shared by both
            # anti-joins (was one collect per table), computed LAZILY
            # inside the first index/tagged writer to reach it — the
            # points writes below start materializing the cached batch
            # concurrently instead of idling behind the collect. None
            # on the first batch (no stored table to anti-join
            # against; the probe is a full pass over the batch).
            dates_lock = threading.Lock()
            dates_memo: list = []

            def _batch_dates():
                with dates_lock:
                    if not dates_memo:
                        have_stored = any(
                            _table_exists(spark_b, os.path.join(config.root, t))
                            for t in ("index", "tagged")
                        )
                        dates_memo.append(
                            [
                                r["date"]
                                for r in points.select("date").distinct().collect()
                            ]
                            if have_stored
                            else None
                        )
                    return dates_memo[0]

            ch = config.clickhouse
            ch_names = {
                "points": "graphite",
                "points_reverse": "graphite_reverse",
                "index": "graphite_index",
                "tagged": "graphite_tagged",
                **(ch.tables or {} if ch is not None else {}),
            }

            def _ch_kwargs():
                return dict(
                    gzip=ch.gzip, transport=ch.transport, tls=ch.tls,
                    retries=ch.retries, retry_delay_s=ch.retry_delay_s,
                )

            def _timed_upload(table_name, n_rows, fn):
                """Run one CH upload hop with the reference's
                per-uploader stat vocabulary (uploader/base.go:46-63):
                uploaded / uploaded_metrics / upload_time(ms) /
                errors, module = the destination table name."""
                col = config.collector
                if col is None:
                    fn()
                    return
                import time as _time

                t0 = _time.monotonic()
                try:
                    fn()
                except Exception:
                    col.add("errors", 1.0, module=table_name)
                    raise
                col.add("uploaded", 1.0, module=table_name)
                if n_rows is not None:
                    col.add(
                        "uploaded_metrics", float(n_rows), module=table_name
                    )
                col.add(
                    "upload_time",
                    (_time.monotonic() - t0) * 1000.0,
                    module=table_name,
                )

            def _write_points(name):
                path = os.path.join(config.root, name)
                with _table_lock(path):
                    append_table(tables[name], path, table_sort_cols(name))
                if ch is not None:
                    from ..sinks.clickhouse import insert_points

                    _timed_upload(
                        ch_names[name],
                        kept_rows,
                        lambda: insert_points(
                            tables[name], ch.base_url, ch_names[name],
                            zero_timestamp=ch.zero_timestamp,
                            **_ch_kwargs(),
                        ),
                    )

            def _write_series(name, keys):
                df = tables[name]
                if config.exists_cache:
                    df = _anti_existing(
                        spark_b, df, config.root, name, keys, _batch_dates()
                    )
                path = os.path.join(config.root, name)
                # legacy tree/series tables mirror to CH only when the
                # config names a table for them (ch_names carries just
                # the four modern types by default)
                if ch is None or name not in ch_names:
                    with _table_lock(path):
                        append_table(df, path, table_sort_cols(name))
                    return
                # pin the deduped rows for the mirror: re-evaluating the
                # anti-join after the write would see the just-appended
                # rows and go empty (and a layout migration would have
                # deleted the files it read)
                df = df.persist()
                try:
                    with _table_lock(path):
                        append_table(df, path, table_sort_cols(name))
                    # same deduped rows as the parquet write: the A2
                    # exists-cache throttles the CH upload exactly like
                    # the reference's cached uploader
                    # (uploader/cached.go:63-112)
                    from ..sinks.clickhouse import insert_index, insert_tagged

                    fn = insert_index if name == "index" else insert_tagged
                    n = (
                        df.count()
                        if config.collector is not None
                        else None  # cheap: the rows are persisted
                    )
                    _timed_upload(
                        ch_names[name],
                        n,
                        lambda: fn(
                            df, ch.base_url, ch_names[name],
                            **_ch_kwargs(),
                        ),
                    )
                finally:
                    df.unpersist()

            # the four table writes share the persisted batch and are
            # independent jobs — run them concurrently (the micro-batch
            # still commits only after every write returns, so the K6
            # sync-ack semantics are unchanged)
            from concurrent.futures import ThreadPoolExecutor

            series_keys = {
                "index": ["date", "level", "path"],
                "tagged": ["date", "tag1", "path"],
                # legacy uploader types (uploader/uploader.go:48-60)
                "tree": ["level", "path"],
                "series": ["date", "level", "path"],
                "series_reverse": ["date", "level", "path"],
            }
            with ThreadPoolExecutor(max_workers=4) as pool:
                futures = [
                    pool.submit(_write_points, "points"),
                    pool.submit(_write_points, "points_reverse"),
                ] + [
                    pool.submit(_write_series, name, series_keys[name])
                    for name in tables
                    if name in series_keys
                ]
                for f in futures:
                    f.result()
            if config.merger is not None:
                # after every table write landed: the probe result is
                # shared with the anti-joins (memoized), so this adds
                # no extra job when the exists-cache already ran it
                config.merger.observe(spark_b, _batch_dates())
        finally:
            points.unpersist()

    return (
        source.writeStream.foreachBatch(process_batch)
        # named per protocol front so the S7 collector attributes
        # progress to the right stat module (the reference registers
        # one statModule per receiver, receiver/base.go:129)
        .queryName(f"ccs-{config.protocol}")
        .option("checkpointLocation", checkpoint)
        .trigger(processingTime=config.chunk_interval)
        .start()
    )


def _table_exists(spark: SparkSession, path: str) -> bool:
    """Existence probe that works for any filesystem the session can
    reach: one Hadoop ``FileSystem.exists`` RPC, no Spark job and no
    log-spamming analysis exception (a ``spark.read.parquet`` probe on
    a missing first-batch table dumps a WARN stack trace per miss)."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(jpath))


def _anti_existing(
    spark: SparkSession,
    df: DataFrame,
    root: str,
    table: str,
    keys: list[str],
    batch_dates: list | None = None,
) -> DataFrame:
    path = os.path.join(root, table)
    if not _table_exists(spark, path):
        return df  # first batch: table doesn't exist yet
    existing = spark.read.parquet(path)
    # prune the stored side to the batch's dates before the anti-join:
    # a micro-batch covers one or two days, so the right side shrinks
    # from the whole index history to a sliver (at 100 TB this is the
    # difference between joining GBs and joining the world); the tree
    # date rides along for the tree rows
    if "date" in df.columns and "date" in existing.columns:
        from ..functions.dates import TREE_DATE

        if batch_dates is None:
            batch_dates = [
                r["date"] for r in df.select("date").distinct().collect()
            ]
        batch_dates = list(batch_dates)
        if TREE_DATE not in batch_dates:
            batch_dates.append(TREE_DATE)
        if "month" in existing.columns:
            # month-partitioned stored table: the date prune becomes
            # STRUCTURAL partition pruning before the row filter
            months = sorted(
                {d.strftime("%Y%m") for d in batch_dates if d}
            )
            existing = existing.filter(F.col("month").isin(months))
        existing = existing.filter(F.col("date").isin(batch_dates))
    return new_series_only(df, existing, keys)


def landing_backlog(landing_dir: str, checkpoint: str) -> int:
    """Unhandled-chunk count for the K2 governor: files present in the
    landing zone that the file-stream source hasn't committed yet
    (the reference's ``w.chunkBufferSize``/spool backlog equivalent).
    Reads the source's checkpoint log — no Spark job."""
    import glob
    import json

    present = {
        os.path.abspath(p)
        for p in glob.glob(os.path.join(landing_dir, "*"))
        if os.path.isfile(p)
    }
    seen: set[str] = set()
    for log_file in glob.glob(os.path.join(checkpoint, "sources", "*", "*")):
        try:
            with open(log_file) as fh:
                for line in fh:
                    line = line.strip()
                    if not line.startswith("{"):
                        continue  # "v1" header
                    for entry in _log_entries(json.loads(line)):
                        seen.add(os.path.abspath(entry.replace("file:", "", 1)))
        except (OSError, ValueError):
            continue
    return len(present - seen)


def _log_entries(obj) -> list[str]:
    if isinstance(obj, dict) and "path" in obj:
        return [obj["path"]]
    if isinstance(obj, list):
        return [e["path"] for e in obj if isinstance(e, dict) and "path" in e]
    return []


class ChunkIntervalGovernor:
    """K2 wired: monitor backlog, restart the (checkpointed) stream at
    the mapped trigger interval when it changes —
    ``writer/writer.go:147-157``'s automatic interval switch. Spark
    cannot retune a live trigger, so the switch is a stop/start against
    the same checkpoint (exactly-once preserved by the sink's batch-id
    dedup + file-source log).

    ``start_fn(interval_seconds) -> StreamingQuery`` owns stream
    construction; ``backlog_fn() -> int`` probes the spool (use
    :func:`landing_backlog` for a file landing zone). Call
    :meth:`tick` from a scheduler/monitor thread, or :meth:`run` to
    poll inline."""

    def __init__(
        self,
        start_fn,
        backlog_fn,
        base_seconds: float = 1.0,
        auto_interval: str | list[tuple[int, float]] = "",
        collector=None,
    ) -> None:
        self.start_fn = start_fn
        self.backlog_fn = backlog_fn
        self.base_seconds = base_seconds
        self.auto = (
            parse_chunk_auto_interval(auto_interval)
            if isinstance(auto_interval, str)
            else sorted(auto_interval)
        )
        self.collector = collector  # S7: writer-module gauges
        self.current_interval = base_seconds
        self.query: StreamingQuery = start_fn(base_seconds)
        self.switches: list[tuple[int, float]] = []  # (backlog, interval) audit

    def tick(self) -> float:
        """One governor step: probe backlog, restart on interval
        change. Returns the interval now in force."""
        backlog = self.backlog_fn()
        eff = effective_chunk_interval(self.base_seconds, backlog, self.auto)
        if self.collector is not None:
            # writer/writer.go:102-109 stat names
            self.collector.gauge("unhandled", float(backlog), module="writer")
            self.collector.gauge("chunkInterval_s", eff, module="writer")
        if eff != self.current_interval:
            self.query.stop()
            self.query.awaitTermination()
            self.query = self.start_fn(eff)
            self.current_interval = eff
            self.switches.append((backlog, eff))
        return self.current_interval

    def run(self, poll_seconds: float = 5.0, max_ticks: int | None = None) -> None:
        import time

        ticks = 0
        while self.query.isActive and (max_ticks is None or ticks < max_ticks):
            self.tick()
            ticks += 1
            time.sleep(poll_seconds)

    def stop(self) -> None:
        self.query.stop()


def file_landing_source(spark: SparkSession, landing_dir: str) -> DataFrame:
    """S1/S2-equivalent landing zone: each file is a chunk of protocol
    lines (what a TCP/UDP front writes)."""
    return spark.readStream.text(landing_dir)


def binary_landing_source(spark: SparkSession, landing_dir: str) -> DataFrame:
    """Landing zone for the binary fronts (pickle / prometheus /
    telegraf / grpc): each ``.bin`` file is a chunk of length-framed
    message bodies (``sources/framing.py``), streamed whole via the
    ``binaryFile`` source."""
    # binaryFile's schema is fixed but the streaming source requires
    # it stated explicitly (no inference on an empty landing dir)
    schema = (
        "path STRING, modificationTime TIMESTAMP, length LONG, content BINARY"
    )
    return (
        spark.readStream.format("binaryFile")
        .schema(schema)
        .option("pathGlobFilter", "*.bin")
        .load(landing_dir)
    )


def start_pickle_ingest(
    spark: SparkSession, files: DataFrame, config: StreamConfig
) -> StreamingQuery:
    """Binary landing chunks of carbon pickle frames -> four tables.
    The landed chunk IS a valid pickle wire stream, so the decoder
    runs ``framed=True`` over whole files — no per-message explode."""
    import time as _time

    from ..sources.pickle_source import pickle_frames_to_points

    def decode(batch: DataFrame) -> DataFrame:
        return pickle_frames_to_points(
            batch, blob_col="content", framed=True, version=int(_time.time())
        )

    return start_ingest(spark, files, config, decode)


def start_prometheus_ingest(
    spark: SparkSession, files: DataFrame, config: StreamConfig
) -> StreamingQuery:
    """Binary landing chunks of remote-write bodies (snappy or raw
    protobuf) -> four tables."""
    import time as _time

    from ..sources.framing import framed_bodies
    from ..sources.prometheus import (
        decode_write_requests,
        prometheus_series_to_points,
    )

    def decode(batch: DataFrame) -> DataFrame:
        series = decode_write_requests(framed_bodies(batch))
        return prometheus_series_to_points(series, version=int(_time.time()))

    return start_ingest(spark, files, config, decode)


def start_telegraf_ingest(
    spark: SparkSession, files: DataFrame, config: StreamConfig, concat: str = "_"
) -> StreamingQuery:
    """Binary landing chunks of Telegraf HTTP JSON bodies -> four
    tables."""
    import time as _time

    from ..sources.framing import framed_bodies
    from ..sources.telegraf import telegraf_json_to_points

    def decode(batch: DataFrame) -> DataFrame:
        return telegraf_json_to_points(
            framed_bodies(batch), version=int(_time.time()), concat=concat
        )

    return start_ingest(spark, files, config, decode)


def start_grpc_ingest(
    spark: SparkSession, files: DataFrame, config: StreamConfig
) -> StreamingQuery:
    """Binary landing chunks of carbon.Payload protobufs -> four
    tables (decoded by the hand-rolled proto walker)."""
    import time as _time

    from ..sources.framing import framed_bodies
    from ..sources.grpc_source import grpc_payloads_to_points

    def decode(batch: DataFrame) -> DataFrame:
        return grpc_payloads_to_points(
            framed_bodies(batch), blob_col="body", version=int(_time.time())
        )

    return start_ingest(spark, files, config, decode)


def socket_source(spark: SparkSession, host: str, port: int) -> DataFrame:
    """Demo source (matches the reference's plain TCP): one line per
    record. Not for production (no replay)."""
    return (
        spark.readStream.format("socket")
        .option("host", host)
        .option("port", port)
        .load()
    )


def start_otlp_ingest(
    spark: SparkSession, files: DataFrame, config: StreamConfig
) -> StreamingQuery:
    """Binary landing chunks of OTLP ExportMetricsServiceRequest
    bodies -> four tables, through the SAME canonicalization path as
    Prometheus remote-write (``sources/otlp.py``)."""
    import time as _time

    from ..sources.framing import framed_bodies
    from ..sources.otlp import otlp_to_points

    def decode(batch: DataFrame) -> DataFrame:
        return otlp_to_points(framed_bodies(batch), version=int(_time.time()))

    return start_ingest(spark, files, config, decode)
