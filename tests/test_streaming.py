"""Streaming ingest e2e: file landing zone -> four tables, with
idempotent exists-cache and dropped-row audit."""

import os
import time

import pytest
from pyspark.sql import functions as F

from carbon_clickhouse_spark.pipeline import IngestConfig
from carbon_clickhouse_spark.streaming.ingest import (
    StreamConfig,
    file_landing_source,
    start_plain_ingest,
)

LINES1 = [
    "test.host1.cpu.loadavg 10.2 1625478240",
    "cpu.loadavg;env=test;host=host1 2.1 1625478240",
    "way.too.far.future 1.0 9999999999",  # dropped by F1
]
LINES2 = [
    "test.host1.cpu.loadavg 9.4 1625478300",  # same series: index dedup
    "test.host2.cpu.loadavg 5.5 1625478300",  # new series
]


def _wait_batches(query, n, timeout=60):
    deadline = time.time() + timeout
    while time.time() < deadline:
        progress = query.lastProgress
        if progress and progress["batchId"] >= n and progress["numInputRows"] == 0:
            return
        time.sleep(0.5)
    raise TimeoutError("stream did not drain")


def test_streaming_ingest(spark, tmp_path):
    landing = tmp_path / "landing"
    landing.mkdir()
    root = str(tmp_path / "tables")

    cfg = StreamConfig(
        root=root,
        chunk_interval="1 second",
        ingest=IngestConfig(now=1625478400, drop_future_seconds=3600),
    )
    (landing / "chunk1.txt").write_text("\n".join(LINES1) + "\n")
    q = start_plain_ingest(spark, file_landing_source(spark, str(landing)), cfg)
    try:
        deadline = time.time() + 90
        while time.time() < deadline and not os.path.exists(f"{root}/index"):
            time.sleep(0.5)
        time.sleep(2)
        (landing / "chunk2.txt").write_text("\n".join(LINES2) + "\n")
        deadline = time.time() + 90
        while time.time() < deadline:
            try:
                pts = spark.read.parquet(f"{root}/points")
                if pts.count() >= 4:
                    break
            except Exception:
                pass
            time.sleep(0.5)
    finally:
        q.stop()

    points = spark.read.parquet(f"{root}/points")
    assert points.count() == 4  # 3 kept from batch1 is 2 + 2 from batch2
    assert points.filter(F.col("path") == "way.too.far.future").count() == 0

    dropped = spark.read.parquet(f"{root}/dropped")
    assert dropped.filter(F.col("path") == "way.too.far.future").count() == 1

    # exists-cache: re-seen series produce no duplicate index rows
    index = spark.read.parquet(f"{root}/index")
    full_paths = index.filter(F.col("path") == "test.host1.cpu.loadavg")
    assert full_paths.count() == full_paths.select("date", "level").distinct().count()

    tagged = spark.read.parquet(f"{root}/tagged")
    assert tagged.filter(F.col("tag1") == "env=test").count() == 1


def test_collector_buffered_flush_and_counter_names(spark, tmp_path):
    """S7: counters are send-and-reset, gauges latest-wins, points are
    named <prefix>.<module>.<stat>, and flushes coalesce — no parquet
    write until flush_every progress events accumulate, one file per
    flush."""
    import glob

    from carbon_clickhouse_spark.streaming.collector import SelfMetricsCollector

    out = str(tmp_path / "selfstats")
    col = SelfMetricsCollector(
        spark, out, prefix="carbon.agents.testhost", module="tcp",
        flush_every=1000, flush_interval_s=9999,
    )
    col.add("metricsReceived", 10.0)
    col.add("metricsReceived", 5.0)
    col.add("errors", 2.0)
    col.add("uploaded", 7.0, module="upload.graphite_index")
    col.gauge("active", 3.0)
    col.gauge("active", 4.0)  # latest wins
    col.gauge("chunkInterval_s", 1.0, module="writer")
    assert not os.path.exists(out)  # buffered, not flushed per event
    col.flush()
    got = {
        r.path: r.value for r in spark.read.parquet(out).collect()
    }
    assert got == {
        "carbon.agents.testhost.tcp.metricsReceived": 15.0,
        "carbon.agents.testhost.tcp.errors": 2.0,
        "carbon.agents.testhost.upload.graphite_index.uploaded": 7.0,
        "carbon.agents.testhost.tcp.active": 4.0,
        "carbon.agents.testhost.writer.chunkInterval_s": 1.0,
    }
    files_after_first = len(glob.glob(out + "/month=*/*.parquet"))
    assert files_after_first == 1  # coalesced: one file per flush
    # send-and-reset: counters cleared, gauges persist
    col.add("metricsReceived", 1.0)
    col.flush()
    got2 = spark.read.parquet(out)
    assert (
        got2.filter(F.col("path").endswith("metricsReceived"))
        .agg(F.sum("value"))
        .first()[0]
        == 16.0
    )


def test_ingest_reports_drop_reason_counters(spark, tmp_path):
    """Drop-reason counters (futureDropped/pastDropped/tooLongDropped)
    flow from the streaming batch into the collector with the
    reference's mutually-exclusive priority."""
    from carbon_clickhouse_spark.streaming.collector import SelfMetricsCollector

    landing = tmp_path / "landing"
    landing.mkdir()
    root = str(tmp_path / "tables")
    col = SelfMetricsCollector(
        spark, str(tmp_path / "selfstats"), module="tcp",
        flush_every=1000, flush_interval_s=9999,
    )
    cfg = StreamConfig(
        root=root,
        chunk_interval="1 second",
        ingest=IngestConfig(
            now=1625478400,
            drop_future_seconds=3600,
            drop_past_seconds=86400,
            drop_longer_than=40,
        ),
        collector=col,
    )
    (landing / "chunk1.txt").write_text(
        "\n".join(
            [
                "ok.metric 1.0 1625478240",
                "way.too.far.future 1.0 9999999999",
                "ancient.metric 1.0 1000",
                "this.metric.name.is.way.longer.than.forty.characters 1.0 1625478240",
            ]
        )
        + "\n"
    )
    q = start_plain_ingest(spark, file_landing_source(spark, str(landing)), cfg)
    try:
        deadline = time.time() + 90
        while time.time() < deadline and col._counters.get(("tcp", "futureDropped"), 0) < 1:
            time.sleep(0.5)
    finally:
        q.stop()
    assert col._counters[("tcp", "futureDropped")] == 1.0
    assert col._counters[("tcp", "pastDropped")] == 1.0
    assert col._counters[("tcp", "tooLongDropped")] == 1.0


def test_streaming_telegraf_ingest(spark, tmp_path):
    """Protocol-agnostic stream: telegraf JSON bodies through the same
    foreachBatch pipeline."""
    import json

    from carbon_clickhouse_spark.sources.telegraf import telegraf_json_to_points
    from carbon_clickhouse_spark.streaming.ingest import start_ingest

    landing = tmp_path / "tg"
    landing.mkdir()
    root = str(tmp_path / "tables")
    body = json.dumps(
        {
            "metrics": [
                {
                    "name": "cpu",
                    "timestamp": 1625478240,
                    "fields": {"usage": 42.5},
                    "tags": {"host": "h1"},
                }
            ]
        }
    )
    (landing / "b1.json").write_text(body + "\n")

    cfg = StreamConfig(root=root, ingest=IngestConfig(now=1625478400))
    decoder = lambda batch: telegraf_json_to_points(batch, body_col="value")  # noqa: E731
    q = start_ingest(spark, file_landing_source(spark, str(landing)), cfg, decoder)
    try:
        deadline = time.time() + 90
        while time.time() < deadline:
            try:
                # tagged is the LAST table the batch writes — waiting on
                # it guarantees the whole batch committed before stop()
                if spark.read.parquet(f"{root}/tagged").count() >= 1:
                    break
            except Exception:
                pass
            time.sleep(0.5)
    finally:
        q.stop()

    pts = spark.read.parquet(f"{root}/points").collect()
    assert [(r.path, r.value, r.time) for r in pts] == [
        ("cpu_usage?host=h1", 42.5, 1625478240)
    ]
    tagged = spark.read.parquet(f"{root}/tagged")
    assert {r.tag1 for r in tagged.collect()} == {"__name__=cpu_usage", "host=h1"}


def test_streaming_prometheus_binary_ingest(spark, tmp_path):
    """Binary protocol through the stream: raw WriteRequest protobuf
    files -> decode -> four tables."""
    import struct

    from carbon_clickhouse_spark.sources.prometheus import (
        decode_write_requests,
        prometheus_series_to_points,
    )
    from carbon_clickhouse_spark.streaming.ingest import start_ingest

    def _label(name, value):
        out = b""
        for fno, sv in ((1, name), (2, value)):
            raw = sv.encode()
            out += bytes([fno << 3 | 2, len(raw)]) + raw
        return bytes([1 << 3 | 2, len(out)]) + out

    def _sample(value, ts_ms):
        body = bytes([1 << 3 | 1]) + struct.pack("<d", value)
        ts, v = b"", ts_ms
        while True:
            b = v & 0x7F
            v >>= 7
            ts += bytes([b | (0x80 if v else 0)])
            if not v:
                break
        body += bytes([2 << 3 | 0]) + ts
        return bytes([2 << 3 | 2, len(body)]) + body

    ts_msg = _label("__name__", "up") + _label("job", "node") + _sample(1.5, 1625478240000)
    body = bytes([1 << 3 | 2, len(ts_msg)]) + ts_msg

    landing = tmp_path / "prom"
    landing.mkdir()
    (landing / "req1.bin").write_bytes(body)
    root = str(tmp_path / "tables")

    source = (
        spark.readStream.format("binaryFile")
        .schema(
            "path string, modificationTime timestamp, length long, content binary"
        )
        .load(str(landing))
        .select("content")
    )
    decoder = lambda batch: prometheus_series_to_points(  # noqa: E731
        decode_write_requests(batch, body_col="content")
    )
    cfg = StreamConfig(root=root, ingest=IngestConfig(now=1625478400))
    q = start_ingest(spark, source, cfg, decoder)
    try:
        deadline = time.time() + 90
        while time.time() < deadline:
            try:
                if spark.read.parquet(f"{root}/tagged").count() >= 1:
                    break
            except Exception:
                pass
            time.sleep(0.5)
    finally:
        q.stop()

    pts = spark.read.parquet(f"{root}/points").collect()
    assert [(r.path, r.value, r.time) for r in pts] == [("up?job=node", 1.5, 1625478240)]


def test_chunk_interval_governor(spark, tmp_path):
    """K2 wired: backlog above the auto-interval threshold restarts
    the stream at the mapped (longer) chunk interval; draining the
    backlog restores the base interval."""
    from carbon_clickhouse_spark.streaming.ingest import (
        ChunkIntervalGovernor,
        landing_backlog,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    root = str(tmp_path / "tables")
    ckpt = str(tmp_path / "ckpt")
    started = []

    def start_fn(interval_seconds):
        started.append(interval_seconds)
        cfg = StreamConfig(
            root=root,
            checkpoint=ckpt,
            chunk_interval=f"{int(interval_seconds * 1000)} milliseconds",
            ingest=IngestConfig(now=1625478400, drop_future_seconds=3600),
        )
        return start_plain_ingest(
            spark, file_landing_source(spark, str(landing)), cfg
        )

    gov = ChunkIntervalGovernor(
        start_fn,
        lambda: landing_backlog(str(landing), ckpt),
        base_seconds=1.0,
        auto_interval="3:30s",
    )
    try:
        # no backlog: base interval holds
        gov.query.processAllAvailable()
        assert gov.tick() == 1.0

        # stop the stream and pile up 4 unprocessed chunks -> over the
        # 3-chunk threshold -> governor restarts at 30s
        gov.query.stop()
        gov.query.awaitTermination()
        for i in range(4):
            (landing / f"burst{i}.txt").write_text(
                f"burst.metric{i} {i}.0 1625478300\n"
            )
        assert landing_backlog(str(landing), ckpt) == 4
        assert gov.tick() == 30.0
        assert started[-1] == 30.0
        assert gov.switches == [(4, 30.0)]

        # drain the backlog -> governor returns to the base interval
        gov.query.processAllAvailable()
        assert landing_backlog(str(landing), ckpt) == 0
        assert gov.tick() == 1.0
        assert started[-1] == 1.0
    finally:
        gov.stop()

    pts = spark.read.parquet(f"{root}/points")
    assert pts.filter(F.col("path").startswith("burst.")).count() == 4


def test_tcp_receiver_end_to_end(spark, tmp_path):
    """Live-socket S1 parity: netcat-style TCP send (split mid-line to
    exercise partial-frame reassembly) -> receiver lands atomic chunk
    files -> micro-batch pipeline -> points rows visible."""
    from carbon_clickhouse_spark.streaming.receivers import (
        PlainLineReceiver,
        send_lines,
    )

    landing = str(tmp_path / "landing")
    root = str(tmp_path / "tables")
    rx = PlainLineReceiver(landing, flush_interval=0.1).start()
    try:
        lines = [
            f"tcp.host{i % 3}.metric {i}.5 {1625400000 + i}" for i in range(200)
        ]
        # tiny chunks force lines to straddle recv() boundaries
        send_lines("127.0.0.1", rx.port, lines, chunk=37)
        deadline = time.time() + 10
        while time.time() < deadline and not os.listdir(landing):
            time.sleep(0.1)
        assert os.listdir(landing), "receiver landed no chunk files"

        cfg = StreamConfig(
            root=root,
            chunk_interval="500 milliseconds",
            ingest=IngestConfig(now=1625478400),
            audit_dropped=False,
        )
        q = start_plain_ingest(spark, file_landing_source(spark, landing), cfg)
        try:
            deadline = time.time() + 90
            n = 0
            while time.time() < deadline:
                try:
                    n = spark.read.parquet(f"{root}/points").count()
                    if n >= 200:
                        break
                except Exception:
                    pass
                time.sleep(0.5)
        finally:
            q.stop()
        assert n == 200
        pts = spark.read.parquet(f"{root}/points")
        assert pts.filter(F.col("path") == "tcp.host1.metric").count() > 0
    finally:
        rx.stop()


def test_udp_receiver_datagram_framing(tmp_path):
    """UDP parity: complete lines in a datagram land; an unterminated
    tail is dropped (reference receiver/udp.go semantics)."""
    import socket as pysocket

    from carbon_clickhouse_spark.streaming.receivers import PlainLineReceiver

    landing = str(tmp_path / "udp_landing")
    rx = PlainLineReceiver(landing, udp=True, flush_interval=0.1).start()
    try:
        s = pysocket.socket(pysocket.AF_INET, pysocket.SOCK_DGRAM)
        s.sendto(
            b"udp.a 1 1625400000\nudp.b 2 1625400001\nudp.partial 3",
            ("127.0.0.1", rx.udp_port),
        )
        s.close()
        deadline = time.time() + 10
        while time.time() < deadline and not os.listdir(landing):
            time.sleep(0.1)
        rx.writer.flush()
        body = b"".join(
            open(os.path.join(landing, f), "rb").read()
            for f in os.listdir(landing)
        )
        assert b"udp.a 1" in body and b"udp.b 2" in body
        assert b"udp.partial" not in body
    finally:
        rx.stop()


def test_receiver_stop_without_start_does_not_hang(tmp_path):
    from carbon_clickhouse_spark.streaming.receivers import PlainLineReceiver

    rx = PlainLineReceiver(str(tmp_path / "x"))
    rx.stop()  # must return immediately (shutdown() only after start())


def test_restart_from_checkpoint_no_loss_no_dup(spark, tmp_path):
    """K4 continuity: stop the stream, land more chunks, restart
    against the same checkpoint + root — every line lands exactly
    once (committed offsets are not re-read; new files are), and a
    third restart with nothing new writes nothing."""
    landing = tmp_path / "landing"
    landing.mkdir()
    root = str(tmp_path / "tables")
    cfg = StreamConfig(
        root=root,
        chunk_interval="500 milliseconds",
        ingest=IngestConfig(now=1625478400, drop_future_seconds=3600),
        audit_dropped=False,
    )

    def run_until_drained():
        q = start_plain_ingest(
            spark, file_landing_source(spark, str(landing)), cfg
        )
        try:
            q.processAllAvailable()
            assert q.exception() is None
        finally:
            q.stop()

    (landing / "a.txt").write_text(
        "m.one 1 1625478240\nm.two 2 1625478240\n"
    )
    run_until_drained()
    (landing / "b.txt").write_text(
        "m.one 3 1625478300\nm.three 4 1625478300\n"
    )
    run_until_drained()

    pts = spark.read.parquet(f"{root}/points")
    rows = sorted((r.path, r.value, r.time) for r in pts.collect())
    assert rows == [
        ("m.one", 1.0, 1625478240),
        ("m.one", 3.0, 1625478300),
        ("m.three", 4.0, 1625478300),
        ("m.two", 2.0, 1625478240),
    ]
    idx = spark.read.parquet(f"{root}/index")
    assert idx.groupBy("date", "level", "path").count().filter(
        "count > 1"
    ).count() == 0

    run_until_drained()  # nothing new: nothing written
    assert spark.read.parquet(f"{root}/points").count() == 4


def test_streaming_mirrors_to_clickhouse(spark, tmp_path):
    """K5 in the stream: every micro-batch lands in parquet AND in the
    (simulated) ClickHouse endpoint over real HTTP; the exists-cache
    throttles the index/tagged uploads across batches exactly like the
    reference's cached uploader (uploader/cached.go:63-112)."""
    from carbon_clickhouse_spark.sinks.chsim import ClickHouseSim
    from carbon_clickhouse_spark.sinks.clickhouse import CHTarget

    landing = tmp_path / "landing"
    landing.mkdir()
    root = str(tmp_path / "tables")
    sim = ClickHouseSim()
    url = sim.start()
    cfg = StreamConfig(
        root=root,
        chunk_interval="500 milliseconds",
        ingest=IngestConfig(now=1625478400),
        audit_dropped=False,
        exists_cache=True,
        clickhouse=CHTarget(base_url=url, retries=2, retry_delay_s=0.1),
    )
    (landing / "wave1.txt").write_text(
        "test.host1.cpu.loadavg 10.2 1625478240\n"
        "cpu.loadavg;env=test;host=host1 2.1 1625478240\n"
    )
    q = start_plain_ingest(spark, file_landing_source(spark, str(landing)), cfg)
    try:
        q.processAllAvailable()
        assert q.exception() is None
        idx_after_1 = len(sim.rows("graphite_index"))
        tag_after_1 = len(sim.rows("graphite_tagged"))
        assert len(sim.rows("graphite")) == 2
        assert len(sim.rows("graphite_reverse")) == 2
        assert idx_after_1 > 0 and tag_after_1 > 0
        # same series again, new value: points upload grows, series
        # tables must NOT (A2 throttles the CH hop too)
        (landing / "wave2.txt").write_text(
            "test.host1.cpu.loadavg 9.4 1625478300\n"
            "cpu.loadavg;env=test;host=host1 1.3 1625478360\n"
        )
        q.processAllAvailable()
        assert q.exception() is None
    finally:
        q.stop()
        sim.stop()
    assert len(sim.rows("graphite")) == 4
    assert len(sim.rows("graphite_index")) == idx_after_1
    assert len(sim.rows("graphite_tagged")) == tag_after_1
    # parquet and CH saw the same point rows
    pq = {
        (r.path, r.value, r.time)
        for r in spark.read.parquet(f"{root}/points").collect()
    }
    ch = {(p, v, t) for p, v, t, d, ver in sim.rows("graphite")}
    assert pq == ch


def test_tcp_read_timeout_closes_idle_connection(tmp_path):
    """[tcp] read-timeout parity: an idle connection is closed by the
    server instead of pinning a handler thread forever; lines sent
    before the idle period still land."""
    import socket

    from carbon_clickhouse_spark.streaming.receivers import PlainLineReceiver

    landing = str(tmp_path / "landing")
    rx = PlainLineReceiver(
        landing, flush_interval=0.05, read_timeout=0.5
    ).start()
    try:
        s = socket.create_connection(("127.0.0.1", rx.port))
        s.sendall(b"a.b 1 100\n")
        # idle past the timeout: server closes its end
        deadline = time.time() + 10
        s.settimeout(10)
        closed = False
        while time.time() < deadline:
            try:
                if s.recv(1) == b"":
                    closed = True
                    break
            except OSError:
                closed = True
                break
        assert closed, "server kept the idle connection open"
        s.close()
        deadline = time.time() + 5
        while time.time() < deadline and not os.listdir(landing):
            time.sleep(0.05)
        data = b"".join(
            open(os.path.join(landing, f), "rb").read()
            for f in os.listdir(landing)
        )
        assert b"a.b 1 100" in data
    finally:
        rx.stop()


def test_udp_log_incomplete_counts_tails(tmp_path):
    """[udp] log-incomplete parity: datagrams with an unterminated
    tail are counted (and logged); terminated ones are not."""
    import socket

    from carbon_clickhouse_spark.streaming.receivers import PlainLineReceiver

    landing = str(tmp_path / "landing")
    rx = PlainLineReceiver(
        landing, tcp=False, udp=True, flush_interval=0.05,
        log_incomplete=True,
    ).start()
    try:
        s = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
        s.sendto(b"full.line 1 100\n", ("127.0.0.1", rx.udp_port))
        s.sendto(b"ok.line 2 200\ncut.off 3 3", ("127.0.0.1", rx.udp_port))
        deadline = time.time() + 10
        while time.time() < deadline and rx.incomplete_datagrams < 1:
            time.sleep(0.05)
        assert rx.incomplete_datagrams == 1
    finally:
        rx.stop()


def test_collector_remote_endpoint(spark, tmp_path):
    """[common] metric-endpoint parity: a tcp:// endpoint receives the
    flush as plain graphite lines (no local parquet); a dead endpoint
    degrades to the local table write instead of dropping the flush."""
    import socket
    import threading

    from carbon_clickhouse_spark.streaming.collector import SelfMetricsCollector

    got = []
    srv = socket.create_server(("127.0.0.1", 0))
    port = srv.getsockname()[1]

    def accept_one():
        conn, _ = srv.accept()
        buf = b""
        while True:
            d = conn.recv(65536)
            if not d:
                break
            buf += d
        got.append(buf)
        conn.close()

    t = threading.Thread(target=accept_one, daemon=True)
    t.start()

    out = str(tmp_path / "selfstats")
    col = SelfMetricsCollector(
        spark, out, prefix="carbon.agents.h", module="tcp",
        flush_every=1000, flush_interval_s=9999,
        endpoint=f"tcp://127.0.0.1:{port}",
    )
    col.add("metricsReceived", 3.0)
    col.flush()
    t.join(10)
    srv.close()
    lines = got[0].decode().strip().split("\n")
    assert len(lines) == 1
    path, value, ts = lines[0].split(" ")
    assert path == "carbon.agents.h.tcp.metricsReceived" and value == "3.0"
    assert not os.path.exists(out)  # remote delivery: nothing local

    # dead endpoint: flush falls back to the local parquet table
    col2 = SelfMetricsCollector(
        spark, out, prefix="carbon.agents.h", module="tcp",
        flush_every=1000, flush_interval_s=9999,
        endpoint=f"tcp://127.0.0.1:{port}",  # closed above
    )
    col2.add("errors", 1.0)
    col2.flush()
    vals = {r.path: r.value for r in spark.read.parquet(out).collect()}
    assert vals == {"carbon.agents.h.tcp.errors": 1.0}


def test_collector_bad_endpoint_degrades_to_local(spark, tmp_path):
    from carbon_clickhouse_spark.streaming.collector import SelfMetricsCollector

    col = SelfMetricsCollector(
        spark, str(tmp_path / "s"), endpoint="http://not-graphite"
    )
    assert col.endpoint == ""  # parse fallback, like the reference


def test_streaming_writes_legacy_tables(spark, tmp_path):
    """StreamConfig whose IngestConfig names legacy uploader types
    writes tree/series tables per micro-batch, exists-cache deduped
    across batches like index/tagged."""
    from carbon_clickhouse_spark.pipeline import IngestConfig

    landing = tmp_path / "landing"
    landing.mkdir()
    root = str(tmp_path / "tables")
    cfg = StreamConfig(
        root=root,
        chunk_interval="500 milliseconds",
        ingest=IngestConfig(
            now=1625478400, legacy_tables=("tree", "series")
        ),
        audit_dropped=False,
    )
    (landing / "w1.txt").write_text("leg.a 1 1625400000\n")
    q = start_plain_ingest(spark, file_landing_source(spark, str(landing)), cfg)
    try:
        q.processAllAvailable()
        # same series again + one new: cross-batch dedup must hold
        (landing / "w2.txt").write_text("leg.a 2 1625400060\nleg.b 3 1625400060\n")
        q.processAllAvailable()
        assert q.exception() is None
    finally:
        q.stop()

    tree = spark.read.parquet(f"{root}/tree").select("level", "path")
    assert tree.count() == tree.distinct().count()
    paths = {r.path for r in tree.collect()}
    assert paths == {"leg.a", "leg.b", "leg."}
    series = spark.read.parquet(f"{root}/series")
    keys = series.select("date", "path")
    assert keys.count() == keys.distinct().count()
    assert {r.path for r in series.collect()} == {"leg.a", "leg.b"}


def test_continuous_rollup_watermarked(spark, tmp_path):
    """Watermarked event-time rollup: buckets finalize (append mode)
    once the watermark passes; a too-late point is excluded from the
    live aggregate; values match the batch rollup semantics."""
    from carbon_clickhouse_spark.sources.plain import parse_plain_lines
    from carbon_clickhouse_spark.streaming.analytics import continuous_rollup
    from carbon_clickhouse_spark.streaming.ingest import file_landing_source

    landing = tmp_path / "landing"
    landing.mkdir()
    out = str(tmp_path / "agg")
    lines = file_landing_source(spark, str(landing))
    pts = parse_plain_lines(lines, line_col="value")
    agg = continuous_rollup(pts, precision_s=60, late_allowance="2 minutes")
    q = (
        agg.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        # bucket 1625400000: two values; then an advancing wave pushes
        # the watermark far past it so it finalizes
        (landing / "w1.txt").write_text(
            "cr.a 10 1625400000\ncr.a 30 1625400030\n"
        )
        q.processAllAvailable()
        (landing / "w2.txt").write_text("cr.a 5 1625401000\n")
        q.processAllAvailable()
        # a point older than the watermark: dropped from the live agg
        (landing / "w3.txt").write_text("cr.a 999 1625400010\n")
        q.processAllAvailable()
        # one more advance so any state that may finalize does
        (landing / "w4.txt").write_text("cr.a 7 1625402000\n")
        q.processAllAvailable()
        assert q.exception() is None
    finally:
        q.stop()

    rows = {
        r["time"]: r for r in spark.read.parquet(out).collect()
    }
    b = rows[1625400000]
    assert b["avg"] == pytest.approx(20.0)  # late 999 excluded
    assert b["sum"] == 40.0 and b["max"] == 30.0 and b["min"] == 10.0
    assert b["cnt"] == 2


def test_collector_attributes_by_query_name(spark, tmp_path):
    """Progress from a stream named ccs-<protocol> lands in that
    protocol's stat module; unnamed streams fall back to the default."""
    from types import SimpleNamespace

    from carbon_clickhouse_spark.streaming.collector import SelfMetricsCollector

    col = SelfMetricsCollector(
        spark, str(tmp_path / "s"), prefix="p", module="tcp",
        flush_every=10**9, flush_interval_s=10**9,
    )
    def ev(name, rows):
        return SimpleNamespace(progress=SimpleNamespace(
            name=name, numInputRows=rows, processedRowsPerSecond=1.0,
            inputRowsPerSecond=1.0, batchId=0))
    col.onQueryProgress(ev("ccs-prometheus", 5))
    col.onQueryProgress(ev("ccs-tcp", 7))
    col.onQueryProgress(ev(None, 3))  # unnamed -> default module
    assert col._counters[("prometheus", "metricsReceived")] == 5.0
    assert col._counters[("tcp", "metricsReceived")] == 10.0  # 7 + 3


def test_collector_ticker_flushes_quiet_buffer(spark, tmp_path):
    """A counter buffered after the last progress event still flushes
    on the wall-clock ticker (reference collector-loop behavior), and
    close() emits the remainder then stops the ticker."""
    from carbon_clickhouse_spark.streaming.collector import SelfMetricsCollector

    out = str(tmp_path / "s")
    col = SelfMetricsCollector(
        spark, out, prefix="p", module="tcp",
        flush_every=10**9, flush_interval_s=0.3,
    ).start_ticker()
    try:
        col.add("metricsReceived", 5.0)
        import glob

        deadline = time.time() + 20
        while time.time() < deadline and not glob.glob(
            out + "/month=*/*.parquet"
        ):
            time.sleep(0.1)
        vals = {r.path: r.value for r in spark.read.parquet(out).collect()}
        assert vals == {"p.tcp.metricsReceived": 5.0}
    finally:
        col.close()
    col.add("errors", 1.0)
    time.sleep(1.0)  # ticker stopped: nothing flushes on its own
    vals = {r.path: r.value for r in spark.read.parquet(out).collect()}
    assert "p.tcp.errors" not in vals


def test_rollup_serving_path_merges_history_and_hot(spark, tmp_path):
    """The continuous-rollup serving tier: a query over a LIVE stream
    (read_series with hot_rollup=) answers finalized buckets from the
    streaming rollup table and fresh buckets from raw points — and the
    merged result equals the batch rollup() oracle over the same data."""
    from carbon_clickhouse_spark.operators.rollup import rollup
    from carbon_clickhouse_spark.query.finder import read_series
    from carbon_clickhouse_spark.sources.plain import parse_plain_lines
    from carbon_clickhouse_spark.streaming.analytics import (
        continuous_rollup,
        rollup_horizon,
    )
    from carbon_clickhouse_spark.streaming.ingest import (
        StreamConfig,
        file_landing_source,
        start_plain_ingest,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    root = str(tmp_path / "tables")
    agg_out = str(tmp_path / "rollup_hot")

    # two consumers of one landing dir: K1 durable tables + the
    # continuous rollup
    q_ingest = start_plain_ingest(
        spark,
        file_landing_source(spark, str(landing)),
        StreamConfig(root=root, chunk_interval="500 milliseconds"),
    )
    pts_stream = parse_plain_lines(
        file_landing_source(spark, str(landing)), line_col="value"
    )
    q_agg = (
        continuous_rollup(pts_stream, precision_s=60, late_allowance="2 minutes")
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", agg_out)
        .option("checkpointLocation", str(tmp_path / "ckpt-agg"))
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    base = 1625400000
    try:
        # history: two old buckets for two series
        (landing / "w1.txt").write_text(
            f"hot.a 10 {base}\nhot.a 30 {base + 30}\n"
            f"hot.b 1 {base}\nhot.b 3 {base + 90}\n"
        )
        q_ingest.processAllAvailable()
        q_agg.processAllAvailable()
        # advance the watermark far past them, leaving FRESH points
        # the rollup has not finalized (their bucket is the max)
        (landing / "w2.txt").write_text(
            f"hot.a 7 {base + 1000}\nhot.b 9 {base + 1010}\n"
        )
        q_ingest.processAllAvailable()
        q_agg.processAllAvailable()
        assert q_ingest.exception() is None and q_agg.exception() is None
    finally:
        q_ingest.stop()
        q_agg.stop()

    finalized = spark.read.parquet(agg_out)
    points = spark.read.parquet(f"{root}/points")
    horizon = rollup_horizon(finalized, 60)
    assert horizon is not None
    t0, t1 = base - 60, base + 1200

    merged = read_series(
        points, ["hot.a", "hot.b"], t0, t1,
        precision_s=60, hot_rollup=finalized,
    )
    got = {(r.path, r.time): r.value for r in merged.collect()}

    oracle = rollup(
        points.filter(
            (F.col("time") >= t0) & (F.col("time") < t1)
        ),
        precision_s=60,
    )
    want = {(r.path, r.time): r.value for r in oracle.collect()}
    assert got == want
    # the merged view genuinely used BOTH tiers: at least one bucket
    # below the horizon (history) and one at/after it (hot)
    assert any(t < horizon for _, t in got)
    assert any(t >= horizon for _, t in got)
    # and the history buckets really exist in the finalized table
    fin_keys = {
        (r.path, r.time) for r in finalized.select("path", "time").collect()
    }
    assert {(p, t) for (p, t) in got if t < horizon} <= fin_keys


def test_uploader_stats_emitted_per_table(spark, tmp_path):
    """S7 uploader stat parity (uploader/base.go:46-63): when the
    stream mirrors into ClickHouse, the collector gets uploaded /
    uploaded_metrics / upload_time counters per destination table."""
    from carbon_clickhouse_spark.sinks.chsim import ClickHouseSim
    from carbon_clickhouse_spark.sinks.clickhouse import CHTarget
    from carbon_clickhouse_spark.sources.plain import parse_plain_lines  # noqa: F401
    from carbon_clickhouse_spark.streaming.collector import (
        SelfMetricsCollector,
    )
    from carbon_clickhouse_spark.streaming.ingest import (
        StreamConfig,
        file_landing_source,
        start_plain_ingest,
    )

    sim = ClickHouseSim()
    url = sim.start()
    landing = tmp_path / "landing"
    landing.mkdir()
    col = SelfMetricsCollector(
        spark, str(tmp_path / "selfmetrics"), prefix="p",
        flush_every=10**9, flush_interval_s=10**9,
    )
    cfg = StreamConfig(
        root=str(tmp_path / "tables"),
        chunk_interval="500 milliseconds",
        audit_dropped=False,
        clickhouse=CHTarget(base_url=url, retries=0, retry_delay_s=0.0),
        collector=col,
    )
    (landing / "w1.txt").write_text(
        "up.a 1 1625400000\nup.b 2 1625400000\n"
    )
    q = start_plain_ingest(
        spark, file_landing_source(spark, str(landing)), cfg
    )
    try:
        q.processAllAvailable()
        assert q.exception() is None
    finally:
        q.stop()
        sim.stop()
    c = col._counters
    assert c[("graphite", "uploaded")] >= 1.0
    assert c[("graphite", "uploaded_metrics")] == 2.0
    assert c[("graphite", "upload_time")] > 0.0
    assert c[("graphite_index", "uploaded")] >= 1.0
    assert c[("graphite_index", "uploaded_metrics")] > 0.0
    assert ("graphite", "errors") not in c
    assert len(sim.rows("graphite")) == 2


def test_serve_rollup_unaligned_window_edges(spark):
    """An unaligned time_from serves the leading bucket WHOLE from
    history (finalized buckets are indivisible) — its points neither
    vanish nor double-count across the tier split; with nothing
    finalized, the raw tier applies the same whole-bucket alignment."""
    from carbon_clickhouse_spark.streaming.analytics import serve_rollup

    base = 1_625_400_000
    fin = spark.createDataFrame(
        [("e.a", base, 20.0, 40.0, 30.0, 10.0, 2, 30.0),
         ("e.a", base + 60, 5.0, 5.0, 5.0, 5.0, 1, 5.0)],
        "path string, time long, avg double, sum double, max double, "
        "min double, cnt long, last double",
    )
    raw = spark.createDataFrame(
        [("e.a", 10.0, base), ("e.a", 30.0, base + 30),
         ("e.a", 5.0, base + 70), ("e.a", 7.0, base + 600)],
        "path string, value double, time long",
    )
    # time_from mid-bucket (base+30): leading bucket served whole
    got = {
        (r.path, r.time): r.value
        for r in serve_rollup(fin, raw, base + 30, base + 1200).collect()
    }
    assert got == {
        ("e.a", base): 20.0,       # whole leading bucket from history
        ("e.a", base + 60): 5.0,   # finalized
        ("e.a", base + 600): 7.0,  # hot tier past the horizon
    }
    # nothing finalized: all raw, same whole-bucket alignment
    empty = fin.limit(0)
    got2 = {
        (r.path, r.time): r.value
        for r in serve_rollup(empty, raw, base + 30, base + 1200).collect()
    }
    assert got2 == {
        ("e.a", base): 20.0,
        ("e.a", base + 60): 5.0,
        ("e.a", base + 600): 7.0,
    }


def test_rebuild_rollup_tier_folds_late_points(spark, tmp_path):
    """A point later than the stream's late_allowance reaches the
    durable store but not its finalized bucket; rebuild_rollup_tier
    folds it in, after which serve_rollup equals the batch rollup."""
    from carbon_clickhouse_spark.operators.rollup import rollup
    from carbon_clickhouse_spark.streaming.analytics import (
        rebuild_rollup_tier,
        serve_rollup,
    )

    base = 1_625_400_000
    root = str(tmp_path / "tables")
    # durable store INCLUDES the late point (999) ...
    spark.createDataFrame(
        [("lt.a", 10.0, base), ("lt.a", 30.0, base + 30),
         ("lt.a", 999.0, base + 10),  # late arrival
         ("lt.a", 7.0, base + 3600)],
        "path string, value double, time long",
    ).write.parquet(f"{root}/points")
    # ... but the streamed tier finalized bucket `base` without it
    spark.createDataFrame(
        [("lt.a", base, 20.0, 40.0, 30.0, 10.0, 2, 30.0)],
        "path string, time long, avg double, sum double, max double, "
        "min double, cnt long, last double",
    ).write.parquet(f"{root}/rollup_hot")

    pts = spark.read.parquet(f"{root}/points")
    fin = spark.read.parquet(f"{root}/rollup_hot")
    stale = {
        (r.path, r.time): r.value
        for r in serve_rollup(fin, pts, base, base + 4000).collect()
    }
    assert stale[("lt.a", base)] == 20.0  # late point invisible

    n = rebuild_rollup_tier(spark, root, precision_s=60)
    assert n >= 1
    fin2 = spark.read.parquet(f"{root}/rollup_hot")
    fresh = {
        (r.path, r.time): r.value
        for r in serve_rollup(fin2, pts, base, base + 4000).collect()
    }
    want = {
        (r.path, r.time): r.value
        for r in rollup(
            pts.filter((F.col("time") >= base) & (F.col("time") < base + 4000)),
            precision_s=60,
        ).collect()
    }
    assert fresh == want
    assert fresh[("lt.a", base)] == pytest.approx((10 + 30 + 999) / 3)


def test_rebuild_preserves_newer_buckets_and_sidecar(spark, tmp_path):
    """rebuild_rollup_tier never deletes a bucket it did not
    recompute: buckets at/after up_to (finalized by the stream while
    the rebuild ran) carry over verbatim; the precision sidecar
    drives the bucket width and survives the overwrite."""
    import os

    from carbon_clickhouse_spark.streaming.analytics import (
        rebuild_rollup_tier,
        tier_precision,
    )

    base = 1_625_400_000
    root = str(tmp_path / "tables")
    spark.createDataFrame(
        [("nb.a", 10.0, base), ("nb.a", 30.0, base + 100)],
        "path string, value double, time long",
    ).write.parquet(f"{root}/points")
    spark.createDataFrame(
        [("nb.a", base, 99.0, 99.0, 99.0, 99.0, 1, 99.0),
         # a bucket past up_to, as if the stream finalized it mid-rebuild
         ("nb.a", base + 300, 7.0, 7.0, 7.0, 7.0, 1, 7.0)],
        "path string, time long, avg double, sum double, max double, "
        "min double, cnt long, last double",
    ).write.parquet(f"{root}/rollup_hot")
    os.makedirs(f"{root}/rollup_hot", exist_ok=True)
    with open(f"{root}/rollup_hot/_precision", "w") as fh:
        fh.write("300")

    # precision_s=None -> sidecar's 300s buckets
    n = rebuild_rollup_tier(spark, root, up_to=base + 300)
    assert n == 1  # one 300s bucket recomputed (both points in it)
    rows = {r.time: r for r in spark.read.parquet(f"{root}/rollup_hot").collect()}
    assert rows[base].cnt == 2 and rows[base].avg == 20.0  # recomputed
    assert rows[base + 300].avg == 7.0  # carried over, not deleted
    assert tier_precision(root) == 300  # sidecar restored


def test_rebuild_rollup_tier_incremental_by_month(spark, tmp_path):
    """With a month-partitioned, version-stamped points table the
    refresh is incremental: only months that received points since
    the previous refresh recompute; idle months' tier rows carry over
    verbatim; the points scan is partition-pruned; the version
    watermark advances so a quiet cycle is a no-op."""
    from carbon_clickhouse_spark.streaming.analytics import (
        _tier_rebuild_frame,
        _tier_sidecar_int,
        rebuild_rollup_tier,
    )

    root = str(tmp_path / "tables")
    # three months of points (UTC): Jun/Jul/Aug 2021, version = arrival
    jun, jul, aug = 1_622_505_600, 1_625_097_600, 1_627_776_000
    rows = [
        ("m.a", 10.0, jun + 30, 1000), ("m.a", 20.0, jun + 90, 1000),
        ("m.a", 4.0, jul + 10, 1001), ("m.b", 8.0, jul + 10, 1001),
        ("m.a", 6.0, aug + 50, 1002),
    ]

    def _write(rs, mode):
        (
            spark.createDataFrame(
                rs, "path string, value double, time long, version long"
            )
            .withColumn(
                "month",
                F.date_format(F.timestamp_seconds("time"), "yyyyMM"),
            )
            .write.mode(mode)
            .partitionBy("month")
            .parquet(f"{root}/points")
        )

    _write(rows, "overwrite")
    horizon = aug + 3600  # everything below finalizes

    # first refresh: full rebuild, seeds the version watermark
    n1 = rebuild_rollup_tier(spark, root, precision_s=60, up_to=horizon)
    assert n1 == 5  # 2 Jun buckets + 2 Jul (a,b same bucket) + 1 Aug
    assert _tier_sidecar_int(root, "_refreshed_ver") == 1002
    before = {
        (r.path, r.time): r
        for r in spark.read.parquet(f"{root}/rollup_hot").collect()
    }

    # quiet cycle: the inclusive version filter re-verifies only the
    # month holding the boundary-version point (August, 1 bucket) —
    # never the whole corpus — and the tier values are unchanged
    assert rebuild_rollup_tier(spark, root, up_to=horizon) == 1
    quiet = {
        (r.path, r.time): r
        for r in spark.read.parquet(f"{root}/rollup_hot").collect()
    }
    assert {k: tuple(v) for k, v in quiet.items()} == {
        k: tuple(v) for k, v in before.items()
    }

    # a LATE point lands in June only (version advances)
    _write([("m.a", 99.0, jun + 31, 2000)], "append")
    n2 = rebuild_rollup_tier(spark, root, up_to=horizon)
    # June (2 buckets) + the boundary-version month August (1) — July
    # stays carried over, NOT all 5 recomputed
    assert n2 == 3
    assert _tier_sidecar_int(root, "_refreshed_ver") == 2000
    after = {
        (r.path, r.time): r
        for r in spark.read.parquet(f"{root}/rollup_hot").collect()
    }
    assert set(after) == set(before)
    # the touched June bucket folded the late point
    assert after[("m.a", jun)].cnt == 2
    assert after[("m.a", jun)].avg == pytest.approx((10.0 + 99.0) / 2)
    assert after[("m.a", jun)].last == 99.0
    # idle months verbatim: every field identical
    for key in set(before) - {("m.a", jun)}:
        assert tuple(after[key]) == tuple(before[key]), key

    # the recompute scan is partition-pruned to the touched month
    pts = spark.read.parquet(f"{root}/points")
    plan = (
        _tier_rebuild_frame(pts, 60, horizon, [202106])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters")[1].split("]")[0]
    assert "month" in pf, pf

    # explicit months= is a targeted repair: watermark must NOT move
    _write([("m.b", 1.0, jul + 11, 3000)], "append")
    n3 = rebuild_rollup_tier(spark, root, up_to=horizon, months=[202108])
    assert n3 == 1  # only the August bucket
    assert _tier_sidecar_int(root, "_refreshed_ver") == 2000
    # ... so the next auto refresh still catches July's new point
    n4 = rebuild_rollup_tier(spark, root, up_to=horizon)
    # July (2 path-buckets) + boundary-version June (2); August's 1
    # carried over, not all 5 recomputed
    assert n4 == 4
    final = {
        (r.path, r.time): r
        for r in spark.read.parquet(f"{root}/rollup_hot").collect()
    }
    assert final[("m.b", jul)].cnt == 2


def test_incremental_rebuild_leaves_idle_month_files_untouched(spark, tmp_path):
    """With the tier month-partitioned, an incremental refresh
    dynamic-overwrites only the touched months' partitions: a truly
    idle month's parquet FILES are byte-identical afterwards (same
    names and contents), while the late-point month and the
    boundary-version month are rewritten with correct values."""
    import glob
    import hashlib

    from carbon_clickhouse_spark.streaming.analytics import (
        rebuild_rollup_tier,
    )

    root = str(tmp_path / "tables")
    # June gets the late point; July stays idle (version below the
    # watermark); August holds the boundary version (re-verified)
    jun, jul, aug = 1_622_505_600, 1_625_097_600, 1_627_776_000
    rows = [
        ("pm.a", 10.0, jun + 30, 1000),
        ("pm.a", 4.0, jul + 10, 1001),
        ("pm.a", 8.0, aug + 20, 1002),
    ]

    def _write(rs, mode):
        (
            spark.createDataFrame(
                rs, "path string, value double, time long, version long"
            )
            .withColumn(
                "month",
                F.date_format(F.timestamp_seconds("time"), "yyyyMM"),
            )
            .write.mode(mode)
            .partitionBy("month")
            .parquet(f"{root}/points")
        )

    _write(rows, "overwrite")
    horizon = aug + 3600

    # first refresh: full rebuild writes the PARTITIONED tier layout
    assert rebuild_rollup_tier(spark, root, precision_s=60, up_to=horizon) == 3
    months_on_disk = {
        os.path.basename(d)
        for d in glob.glob(f"{root}/rollup_hot/month=*")
    }
    assert months_on_disk == {"month=202106", "month=202107", "month=202108"}

    def _snap(month):
        return {
            os.path.basename(f): hashlib.md5(open(f, "rb").read()).hexdigest()
            for f in glob.glob(f"{root}/rollup_hot/month={month}/*.parquet")
        }

    jul_before = _snap("202107")
    assert jul_before  # the idle month has real files to compare

    # late June point -> June rewritten; August re-verified (boundary
    # version); July's partition untouched ON DISK
    _write([("pm.a", 99.0, jun + 31, 2000)], "append")
    n = rebuild_rollup_tier(spark, root, up_to=horizon)
    assert n == 2  # June's 1 bucket + boundary-month August's 1
    assert _snap("202107") == jul_before  # byte-identical files
    tier = {
        (r.path, r.time): r
        for r in spark.read.parquet(f"{root}/rollup_hot").collect()
    }
    assert tier[("pm.a", jun)].cnt == 2
    assert tier[("pm.a", jun)].avg == pytest.approx((10.0 + 99.0) / 2)
    assert tier[("pm.a", jul)].avg == 4.0
    assert tier[("pm.a", aug)].avg == 8.0


def test_rollup_horizon_partitioned_equals_unpartitioned(spark, tmp_path):
    from carbon_clickhouse_spark.streaming.analytics import rollup_horizon

    jun, aug = 1_622_505_600, 1_627_776_000
    rows = [("h.a", jun, 1.0, 1.0, 1.0, 1.0, 1, 1.0),
            ("h.a", aug + 120, 2.0, 2.0, 2.0, 2.0, 1, 2.0)]
    schema = ("path string, time long, avg double, sum double, "
              "max double, min double, cnt long, last double")
    flat = spark.createDataFrame(rows, schema)
    flat.write.parquet(f"{tmp_path}/t1")
    (flat.withColumn("month",
                     F.date_format(F.timestamp_seconds("time"), "yyyyMM"))
     .write.partitionBy("month").parquet(f"{tmp_path}/t2"))
    h1 = rollup_horizon(spark.read.parquet(f"{tmp_path}/t1"), 60)
    h2 = rollup_horizon(spark.read.parquet(f"{tmp_path}/t2"), 60)
    assert h1 == h2 == aug + 180

def test_established_table_fast_path_skips_probe_and_handles_empty(
    spark, tmp_path
):
    """r12 optimization pin: once a series table holds rows, later
    batches skip the head(1) emptiness probe and append directly —
    an ALL-DUPLICATE batch (anti-join empties it) must add zero data
    files to the established table and leave every read intact. The
    mark is the table writer's one memo (``layout._KNOWN_PARTITIONED``)."""
    import glob

    from carbon_clickhouse_spark.operators import layout as layout_mod

    landing = tmp_path / "landing"
    landing.mkdir()
    root = str(tmp_path / "tables")
    lines = [
        "est.host1.cpu 1.5 1625478100",
        "est.host2.cpu 2.5 1625478200",
    ]
    cfg = StreamConfig(
        root=root,
        chunk_interval="500 milliseconds",
        ingest=IngestConfig(now=1625478400),
        audit_dropped=False,
        exists_cache=True,
    )
    q = start_plain_ingest(spark, file_landing_source(spark, str(landing)), cfg)
    try:
        (landing / "c1.txt").write_text("\n".join(lines) + "\n")
        q.processAllAvailable()
        assert q.exception() is None
        idx = os.path.abspath(f"{root}/index")
        with layout_mod._KNOWN_LOCK:  # first write marked it
            assert idx in layout_mod._KNOWN_PARTITIONED
        files_before = sorted(glob.glob(f"{root}/index/**/*.parquet",
                                        recursive=True))
        # the SAME lines again: the A2 anti-join empties the index /
        # tagged frames, and the established fast path appends nothing
        (landing / "c2.txt").write_text("\n".join(lines) + "\n")
        q.processAllAvailable()
        assert q.exception() is None
        files_after = sorted(glob.glob(f"{root}/index/**/*.parquet",
                                       recursive=True))
        assert files_after == files_before  # zero new data files
        # a genuinely new series after the dedup round still lands
        (landing / "c3.txt").write_text("est.host3.cpu 9 1625478300\n")
        q.processAllAvailable()
        assert q.exception() is None
    finally:
        q.stop()

    points = spark.read.parquet(f"{root}/points")
    assert points.count() == 5  # 2 + 2 (dup points still append) + 1
    index = spark.read.parquet(f"{root}/index")
    per_series = index.groupBy("date", "level", "path").count()
    assert per_series.filter("count > 1").count() == 0  # no dup rows
    assert index.filter(
        F.col("path") == "est.host3.cpu"
    ).count() > 0


def test_empty_first_batch_leaves_points_tables_readable(spark, tmp_path):
    """A fresh root whose first landed chunk holds only malformed lines
    used to get an empty PARTITIONED append: points/ and
    points_reverse/ held only _SUCCESS and every read failed with
    UNABLE_TO_INFER_SCHEMA until a later batch landed rows. An empty
    batch must write nothing; the next valid batch lands normally."""
    landing = tmp_path / "landing"
    landing.mkdir()
    root = str(tmp_path / "tables")
    cfg = StreamConfig(
        root=root,
        chunk_interval="500 milliseconds",
        ingest=IngestConfig(now=1625478400),
    )
    q = start_plain_ingest(spark, file_landing_source(spark, str(landing)), cfg)
    try:
        (landing / "c1.txt").write_text(
            "no.value.here\nbad.float abc 1625478240\nbad.ts 1.0 xyz\n"
        )
        q.processAllAvailable()
        assert q.exception() is None
        for name in ("points", "points_reverse", "index", "tagged"):
            path = f"{root}/{name}"
            if os.path.exists(path):
                assert spark.read.parquet(path).count() == 0
        (landing / "c2.txt").write_text("ok.host1.cpu 1.5 1625478240\n")
        q.processAllAvailable()
        assert q.exception() is None
    finally:
        q.stop()

    assert [r.path for r in spark.read.parquet(f"{root}/points").collect()] == [
        "ok.host1.cpu"
    ]
    assert [
        r.path for r in spark.read.parquet(f"{root}/points_reverse").collect()
    ] == ["cpu.host1.ok"]
    index = spark.read.parquet(f"{root}/index")
    assert index.filter(F.col("path") == "ok.host1.cpu").count() > 0
