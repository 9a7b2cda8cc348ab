"""Engine side of one benchmark run: set-up, the measured window, the
correctness checks and, when traced, the per-layer replays.

Everything the engine does here goes through its public entry points:
``parse_plain_lines`` + ``ingest_and_store`` build the store,
``compact_replacing``/``compact_rollup`` merge it, ``PlainLineReceiver``
feeds ``start_plain_ingest`` (with a ``BackgroundMerger`` when the
workload asks for one), and ``serve_api`` answers the readers. The
readers hit ONE long-lived ``serve_api``, started at set-up; the
harness never rebuilds its store while the window runs.
"""

from __future__ import annotations

import glob
import json
import math
import os
import random
import socket
import subprocess
import sys
import threading
import time
import urllib.error
import urllib.parse
import urllib.request
from dataclasses import dataclass

from pyspark.sql import functions as F

from carbon_clickhouse_spark.__main__ import serve_api
from carbon_clickhouse_spark.operators.compaction import compact_replacing, compact_rollup
from carbon_clickhouse_spark.operators.dedup import new_series_only
from carbon_clickhouse_spark.operators.rollup import Retention, RollupRule
from carbon_clickhouse_spark.pipeline import derive_tables, ingest_and_store, write_tables
from carbon_clickhouse_spark.query.api import evaluate_target, parse_target
from carbon_clickhouse_spark.sources.plain import parse_plain_lines
from carbon_clickhouse_spark.streaming.ingest import (
    StreamConfig,
    file_landing_source,
    landing_backlog,
    start_plain_ingest,
)
from carbon_clickhouse_spark.streaming.receivers import PlainLineReceiver

import panels as P
import stats as S
from corpus import (
    ROLLUP_AGE_S,
    ROLLUP_PRECISION_S,
    WARM_SLOT_BASE,
    Corpus,
    expected_store,
)

TABLES = ("points", "points_reverse", "index", "tagged")
INDEX_KEYS = ["date", "level", "path"]
RULES = (
    RollupRule("", "avg", (Retention(0, 1), Retention(ROLLUP_AGE_S, ROLLUP_PRECISION_S))),
)
LOADGEN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "loadgen.py")
#: live readers send literal renders (the stale-read probes) of uniformly
#: drawn series: one request type, so the median and the tail of a run
#: come from one latency mode rather than from a mix whose tail rests on
#: a dozen glob requests; the other types are replayed after the window
#: when traced, and all seven are read on dashboard_read
LIVE_MIX = ["render_literal"]


#: series universe: hosts x plugins x stuffs = 10 000 series
SHAPE = (25, 8, 50)
GROUPS_PER_S = 10
#: seconds of traffic before the measured window, which take the readers'
#: first, cold requests and the stream's switch from idle to loaded
WARM_S = 2
RECENT_S = 30
#: share of series whose history point is rewritten with a newer version
DUP_SHARE = 0.05


@dataclass(frozen=True)
class Workload:
    name: str
    per_month: int  # history points per series per month; 0 = no history
    rate: int  # live lines per second
    readers: int
    panels: int  # 0 = readers cycle LIVE_MIX over recent windows
    #: lines of the stream's first batch; without history it stores every
    #: series, so the window's batches write few new ones (a window that
    #: still met new series ran batches whose cost moved with how many
    #: it met)
    warm_lines: int


WORKLOADS = {
    "live_mixed": Workload(
        "live_mixed", per_month=0, rate=1000, readers=2, panels=0, warm_lines=10_000
    ),
    "dashboard_read": Workload(
        "dashboard_read", per_month=2, rate=150, readers=3, panels=40, warm_lines=500
    ),
}


def _close(a: float, b: float) -> bool:
    return abs(a - b) <= 1e-9 * max(1.0, abs(b))


def _progress(q) -> list[dict]:
    return [json.loads(p.json) for p in q.recentProgress]


def _committed_rows(q) -> int:
    c = S.commits_from_progress(_progress(q))
    return c[-1].cum_rows if c else 0


def _wait_rows(q, need: int, timeout: float) -> bool:
    """Wait until the stream's committed input rows reach ``need``.
    Progress for a finished batch is published a little after its
    commit, so this waits on coverage, not on the wall clock."""
    deadline = time.time() + timeout
    while time.time() < deadline:
        if _committed_rows(q) >= need:
            return True
        if q.exception() is not None:
            raise RuntimeError(f"ingest stream failed: {q.exception()}")
        time.sleep(0.1)
    return False


def _send(port: int, lines: list[str]) -> None:
    with socket.create_connection(("127.0.0.1", port)) as s:
        s.sendall(("\n".join(lines) + "\n").encode())


def _data_bytes(path: str, months=None) -> int:
    if months:
        dirs = [os.path.join(path, f"month={m}") for m in months]
    else:
        dirs = [path]
    total = 0
    for d in dirs:
        for f in glob.glob(os.path.join(d, "**", "*.parquet"), recursive=True):
            total += os.path.getsize(f)
    return total


def _chunk_time(path: str) -> float:
    return int(os.path.basename(path).split("-")[1]) / 1e9


def _next_job_id(spark) -> int:
    n = spark.sparkContext._jsc.sc().dagScheduler().nextJobId()
    return n if isinstance(n, int) else n.get()


def _http(url: str, timeout: float = 60.0) -> tuple[int, object]:
    try:
        with urllib.request.urlopen(url, timeout=timeout) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, None


def _url(port: int, req: dict) -> str:
    return f"http://127.0.0.1:{port}{req['endpoint']}?" + urllib.parse.urlencode(req["params"])


class Run:
    def __init__(self, spark, wl: Workload, seed: int, seconds: int, trace: bool, work: str):
        self.spark, self.wl, self.seed, self.seconds, self.trace = spark, wl, seed, seconds, trace
        self.work = work
        self.tracer = S.Tracer(trace)
        self.ledger = S.Ledger()
        self.correct = True
        self.problems: list[str] = []
        self.corpus = Corpus(seed, *SHAPE)
        self.t0 = int(time.time())
        self.per_group = wl.rate // GROUPS_PER_S
        self.layer: dict[str, tuple[float, str]] = {}
        self.report: dict = {}
        #: points written outside history and the window (warm, probes)
        self.extra_points: list = []
        self.extra_slot = WARM_SLOT_BASE
        #: reads of a replaced duplicate, and those not giving the newest
        #: version (the known defect, reported rather than failed)
        self.dup_seen = self.dup_wrong = 0

    # -- helpers --------------------------------------------------------
    def fail(self, kind: str, why: str) -> None:
        self.ledger.add(kind, 1, 1)
        self.correct = False
        self.problems.append(why)

    def check(self, kind: str, ok: bool, why: str) -> None:
        if ok:
            self.ledger.add(kind, 1, 0)
        else:
            self.fail(kind, why)

    def put(self, name: str, value: float, unit: str) -> None:
        self.layer[name] = (float(value), unit)

    def _timed_compaction(self, fn, kind: str):
        def wrapped(spark, path, *a, **kw):
            with self.tracer.span(f"operators.compaction.{kind}", table=os.path.basename(path)) as at:
                months = fn(spark, path, *a, **kw)
                at["bytes"] = _data_bytes(path, months)
            return months

        return wrapped

    def _parse(self, path: str, now: int):
        return parse_plain_lines(
            self.spark.read.text(path), line_col="value", now=now, zero_version=False
        )

    def _extra_group(self, n: int, ts: int) -> list[str]:
        group = self.corpus.live_group(0, n, ts, slot_base=self.extra_slot)
        self.extra_slot += n
        self.extra_points += [p for _, p in group if p is not None]
        return [text for text, _ in group]

    # -- set-up -----------------------------------------------------------
    def build_store(self, root: str, hist_path: str, rewrite_path: str | None) -> float:
        """History load (``ingest_and_store``; a second load rewrites
        some points with a newer version), then one merge of the
        series tables and the points. Returns the first load's time."""
        t = time.perf_counter()
        with self.tracer.span("pipeline.ingest_and_store"):
            ingest_and_store(self._parse(hist_path, self.t0), root)
        first = time.perf_counter() - t
        if rewrite_path:
            with self.tracer.span("pipeline.ingest_and_store"):
                ingest_and_store(self._parse(rewrite_path, self.t0 + 1), root)
        replacing = self._timed_compaction(compact_replacing, "compact_replacing")
        replacing(self.spark, os.path.join(root, "index"), INDEX_KEYS)
        rollup = self._timed_compaction(compact_rollup, "compact_rollup")
        rollup(self.spark, os.path.join(root, "points"), rules=RULES, now=self.t0)
        return first

    def setup(self, session_start_s: float) -> None:
        """Set-up, all of it counted in ``setup_s`` with the Spark
        session start: for a workload with history, the history store;
        the ingest stream with one warm batch (the prefill, for a workload
        without history); the long-lived ``serve_api`` and one warm
        read."""
        wl, spark = self.wl, self.spark
        self.hist_points, self.rewrites = [], []
        self.root = os.path.join(self.work, "store")
        t_setup = time.perf_counter()
        if wl.per_month:
            lines, rewrite_lines, self.hist_points, self.rewrites = self.corpus.history(
                self.t0, wl.per_month, DUP_SHARE
            )
            paths = {}
            for name, ls in (("history", lines), ("rewrites", rewrite_lines)):
                paths[name] = os.path.join(self.work, f"{name}.txt")
                with open(paths[name], "w") as fh:
                    fh.write("\n".join(ls) + "\n")
            t_setup = t = time.perf_counter()
            first = self.build_store(self.root, paths["history"], rewrite_lines and paths["rewrites"])
            self.report["store_build_s"] = time.perf_counter() - t
            if self.trace:
                self.put("pipeline.ingest_and_store_s", first, "s")

        t = time.perf_counter()
        self.landing = os.path.join(self.work, "landing")
        self.rx = PlainLineReceiver(self.landing).start()
        spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")
        self.query = start_plain_ingest(
            spark, file_landing_source(spark, self.landing), StreamConfig(root=self.root)
        )
        _send(self.rx.port, self._extra_group(wl.warm_lines, self.t0 - 120))
        if not _wait_rows(self.query, wl.warm_lines, 120):
            raise RuntimeError("warm-up batch never committed")
        self.report["stream_start_s"] = time.perf_counter() - t

        t = time.perf_counter()
        self.api = serve_api(self.root, spark)
        self.serve_start = time.time()
        #: plain series nodes stored before the server started
        self.visible_nodes = {
            ".".join(p.path.split(".")[:4])
            for p in self.hist_points + self.extra_points
            if "?" not in p.path
        }
        rng = random.Random(self.seed)
        windows = self.corpus.history_windows(self.t0, wl.per_month)
        req = P.build(self.corpus, "render_literal", rng, windows["B"], windows["A"])
        status, _ = _http(_url(self.api.port, req))
        if status != 200:
            raise RuntimeError(f"warm-up read answered {status}")
        self.report["serve_start_s"] = time.perf_counter() - t
        self.setup_s = session_start_s + time.perf_counter() - t_setup

    # -- measured window --------------------------------------------------
    def window(self) -> None:
        wl = self.wl
        self.baseline_rows = _committed_rows(self.query)
        self.files_before = set(glob.glob(os.path.join(self.landing, "chunk-*")))
        self.win_t0 = time.time() + 0.5  # traffic starts
        self.m0 = self.win_t0 + WARM_S  # the measured window starts
        self.warm_groups = WARM_S * GROUPS_PER_S
        windows = self.corpus.history_windows(self.t0, wl.per_month)
        spec = {
            "seed": self.seed,
            "shape": SHAPE,
            "t0": self.win_t0,
            "seconds": self.seconds,
            "warm_s": WARM_S,
            "groups_per_s": GROUPS_PER_S,
            "per_group": self.per_group,
            "rx_port": self.rx.port,
            "api_port": self.api.port,
            "readers": wl.readers,
            "recent_s": RECENT_S,
            "rolled_window": windows["A"],
            "timeout_s": 60,
            "mix": LIVE_MIX,
        }
        if wl.panels:
            spec["panels"] = P.make_panels(self.corpus, self.seed, wl.panels, windows["B"], windows["A"])
        spec_path = os.path.join(self.work, "loadgen_spec.json")
        out_path = os.path.join(self.work, "loadgen_out.json")
        with open(spec_path, "w") as fh:
            json.dump(spec, fh)
        backlog: list[int] = []
        stop = threading.Event()
        if self.trace:
            # the exists-cache's view before the window; the window only
            # appends files, so this listing stays readable
            self.index_before = self.spark.read.parquet(os.path.join(self.root, "index"))
            checkpoint = os.path.join(self.root, "_checkpoint")

            def poll() -> None:
                while not stop.wait(0.5):
                    backlog.append(landing_backlog(self.landing, checkpoint))

            poller = threading.Thread(target=poll, daemon=True)
            poller.start()
        with self.tracer.span("loadgen.window"):
            proc = subprocess.Popen(
                [sys.executable, LOADGEN, spec_path, out_path],
                stdout=subprocess.DEVNULL,
                stderr=subprocess.PIPE,
            )
            try:
                _, err = proc.communicate(timeout=WARM_S + self.seconds + 120)
            except subprocess.TimeoutExpired:
                raise RuntimeError("load generator overran its window") from None
            finally:
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
            if proc.returncode != 0:
                raise RuntimeError("load generator failed: " + err.decode()[-2000:])
        with open(out_path) as fh:
            out = json.load(fh)
        self.groups, self.requests = out["groups"], out["requests"]
        sent = self.groups[-1][4] if self.groups else 0
        with self.tracer.span("streaming.ingest.drain"):
            _wait_rows(self.query, self.baseline_rows + sent, 120)
        stop.set()
        if self.trace:
            poller.join()
            self.put("streaming.ingest.backlog_files_max", max(backlog, default=0), "count")
        self.files_window = sorted(
            set(glob.glob(os.path.join(self.landing, "chunk-*"))) - self.files_before
        )
        self.commits = S.commits_from_progress(_progress(self.query))

    def stop_engine(self) -> None:
        if self.trace:
            self.stream_jobs_probe()
            self.replay_requests()
        self.progress_events = _progress(self.query)
        self.query.stop()
        self.rx.stop()
        self.api.stop()

    # -- checks -------------------------------------------------------------
    def window_points(self):
        """(point, group) for every valid line the load generator sent."""
        out = []
        for g, grp in enumerate(self.groups):
            for _, pt in self.corpus.live_group(g, self.per_group, int(grp[0])):
                if pt is not None:
                    out.append((pt, g))
        return out

    def verify(self) -> None:
        spark, corpus = self.spark, self.corpus
        win = self.window_points()
        self.win_valid = sum(1 for _, g in win if g >= self.warm_groups)
        group_cum = [grp[4] for grp in self.groups]
        self.group_commit = S.group_commit_times(group_cum, self.commits, self.baseline_rows)
        all_points = self.hist_points + self.extra_points + [p for p, _ in win]
        self.truth = expected_store(all_points, self.rewrites, self.t0 - ROLLUP_AGE_S)
        recv = sum(1 for p in all_points if p.ts is None)
        self.dup_keys = {(p.path, p.ts) for p in self.rewrites}
        #: when each point became committed: 0 = before the server started
        self.avail = {(p.path, p.ts): self.group_commit[g] for p, g in win}
        self.by_path: dict[str, list[tuple[int, float]]] = {}
        for (path, ts), v in self.truth.items():
            self.by_path.setdefault(path, []).append((ts, v))
        for v in self.by_path.values():
            v.sort()

        root = self.root
        points = spark.read.parquet(os.path.join(root, "points"))
        self.stored_points = points.count()
        expected = len(self.truth) + recv
        self.check(
            "check.stored_points",
            self.stored_points == expected,
            f"stored points {self.stored_points} != valid lines sent {expected}",
        )
        paths = {p.path for p in all_points}
        want_plain = {p for p in paths if "?" not in p}
        want_tagged = {p for p in paths if "?" in p}
        index = spark.read.parquet(os.path.join(root, "index"))
        got_plain = {
            r["path"]
            for r in index.filter((F.col("level") > 0) & (F.col("level") < 10000))
            .select("path").distinct().collect()
        }
        self.check("check.index_series", got_plain == want_plain,
                   f"index series differ: {len(got_plain ^ want_plain)} paths")
        tagged = spark.read.parquet(os.path.join(root, "tagged"))
        got_tagged = {r["path"] for r in tagged.select("path").distinct().collect()}
        self.check("check.tagged_series", got_tagged == want_tagged,
                   f"tagged series differ: {sorted(got_tagged ^ want_tagged)[:3]}")
        self.stored_bytes = sum(_data_bytes(os.path.join(root, t)) for t in TABLES)

        # literal /render against one fresh server over the final store
        fresh = serve_api(root, spark)
        try:
            rng = random.Random(self.seed + 7)
            dup_paths = sorted({p.path for p in self.rewrites if "?" not in p.path})
            plain = sorted(p for p in want_plain - set(dup_paths) if p.startswith("loadtest.host"))
            sample = rng.sample(dup_paths, min(2, len(dup_paths))) + rng.sample(plain, 3)
            windows = corpus.history_windows(self.t0, self.wl.per_month)
            lo, hi = windows["A"][0], int(time.time()) + 1
            for path in sample:
                req = {"endpoint": "/render",
                       "params": {"target": path, "from": lo, "until": hi, "format": "json"}}
                status, body = _http(_url(fresh.port, req))
                if status != 200:
                    self.fail("check.render_literal", f"fresh /render {path} answered {status}")
                    continue
                got = {(s["target"], ts): v for s in body for v, ts in s["datapoints"] if v is not None}
                want = {(path, ts): v for ts, v in self.by_path.get(path, []) if lo <= ts <= hi}
                wrong = self._compare(got, want)
                self.check("check.render_literal", not wrong,
                           f"fresh /render {path}: {wrong} wrong or missing points")
        finally:
            fresh.stop()

        # every read the window made
        self.stale_probes = self.stale_missed = 0
        for rec in self.requests:
            self.check_read(rec)
        self.ledger.add("send_group", len(self.groups), sum(1 for c in self.group_commit if c is None))

    def _compare(self, got: dict, want: dict) -> int:
        """Wrong or missing points; replaced duplicates go to the dup
        tally instead (the known defect, see README)."""
        wrong = 0
        for key, v in got.items():
            if key in self.dup_keys:
                self.dup_seen += 1
                self.dup_wrong += not _close(v, self.truth[key])
            elif key not in self.truth or not _close(v, self.truth[key]):
                wrong += 1
        wrong += sum(1 for key in want if key not in got)
        return wrong

    def check_read(self, rec: dict) -> None:
        kind = f"read.{rec['kind']}"
        if rec["status"] != 200:
            self.ledger.add(kind, 1, 1)
            return
        body = rec["body"]
        if rec["kind"] == "find_prefix":
            got = {n["id"] for n in body}
            prefix = rec["params"]["query"][:-1]
            required = {n for n in self.visible_nodes if n.startswith(prefix)}
            self.check(kind, required <= got <= set(rec["nodes"]),
                       f"find {rec['params']['query']} differs")
            return
        if rec["kind"] == "render_function":
            self.check(kind, len(body) <= 1, f"{rec['params']['target']} returned {len(body)} series")
            return
        lo, hi = rec["window"]
        got = {(s["target"], ts): v for s in body for v, ts in s["datapoints"] if v is not None}
        required, late = {}, {}
        for sid in rec["series"]:
            path = self.corpus.path(sid)
            for ts, v in self.by_path.get(path, []):
                if not lo <= ts <= hi:
                    continue
                when = self.avail.get((path, ts), 0.0)
                if when is None or when > rec["t_start"]:
                    continue  # not committed when the request started
                (late if when > self.serve_start else required)[(path, ts)] = v
        wrong = self._compare({k: v for k, v in got.items() if k not in late}, required)
        if late:
            self.stale_probes += 1
            self.stale_missed += any(k not in got for k in late)
        self.check(kind, not wrong, f"{rec['params']['target']}: {wrong} wrong or missing points")

    # -- traced extras --------------------------------------------------------
    def stream_jobs_probe(self) -> None:
        """Spark jobs one micro-batch launches, counted on one quiet batch
        after the window (no readers)."""
        need = _committed_rows(self.query) + self.per_group
        j0 = _next_job_id(self.spark)
        _send(self.rx.port, self._extra_group(self.per_group, self.t0 - 60))
        _wait_rows(self.query, need, 120)
        self.put("streaming.ingest.jobs_per_batch", _next_job_id(self.spark) - j0, "count")

    def replay_requests(self) -> None:
        """Per request type: the window's HTTP times, and one sequential
        replay of a window request timed over HTTP and in process
        (``evaluate_target`` on the long-lived server's store), with the
        Spark jobs it launched and the JSON formatting of its rows."""
        store = self.api.store
        sc = self.spark.sparkContext
        overheads, formats = [], []
        rng = random.Random(self.seed + 3)
        now = int(time.time())
        windows = self.corpus.history_windows(self.t0, self.wl.per_month)
        for kind in P.KINDS:
            recs = [r for r in self.requests if r["kind"] == kind]
            http_ms = [(r["t_end"] - r["t_start"]) * 1000 for r in recs if r["status"]]
            rec = recs[0] if recs else P.build(
                self.corpus, kind, rng, (now - RECENT_S, now), windows["A"]
            )
            with self.tracer.span(f"query.{kind}.replay") as at:
                with self.tracer.span("query.api.http"):
                    t = time.perf_counter()
                    _http(_url(self.api.port, rec))
                    replay_http = (time.perf_counter() - t) * 1000
                group = f"perfbench-{kind}"
                sc.setJobGroup(group, group)
                with self.tracer.span("query.api.evaluate_target"):
                    t = time.perf_counter()
                    try:
                        rows = self._evaluate(store, rec)
                    except Exception as e:  # noqa: BLE001 - the engine's own error, recorded
                        rows, at["error"] = None, repr(e)[:200]
                    evaluate = (time.perf_counter() - t) * 1000
                sc.setLocalProperty("spark.jobGroup.id", None)
                jobs = len(sc.statusTracker().getJobIdsForGroup(group))
                if rows is not None and kind != "find_prefix":
                    with self.tracer.span("query.api.render_format"):
                        t = time.perf_counter()
                        by_path: dict = {}
                        for r in rows:
                            by_path.setdefault(r["path"], []).append([r["value"], r["time"]])
                        json.dumps([{"target": k, "datapoints": v} for k, v in by_path.items()])
                        formats.append((time.perf_counter() - t) * 1000)
            overheads.append(replay_http - evaluate)
            self.put(f"query.{kind}.http_ms_p50", S.median(http_ms or [replay_http]), "ms")
            self.put(f"query.{kind}.evaluate_ms_p50", evaluate, "ms")
            self.put(f"query.{kind}.jobs", jobs, "count")
        self.put("query.api.render_format_ms_p50", S.median(formats) if formats else 0.0, "ms")
        self.put("query.api.http_overhead_ms_p50", S.median(overheads), "ms")

    @staticmethod
    def _evaluate(store, rec: dict):
        if rec["kind"] == "find_prefix":
            return store.find(rec["params"]["query"])
        p = rec["params"]
        df = evaluate_target(parse_target(p["target"]), store, int(p["from"]), int(p["until"]), {})
        return df.orderBy("path", "time").collect()

    def staged_replay(self) -> None:
        """The window's landing chunks again, one stage at a time, each
        stage materialized: parse -> derive -> exists-cache anti-join ->
        write_tables into a scratch root."""
        spark, sc = self.spark, self.spark.sparkContext
        files = self.files_window
        if not files:
            return
        lines = spark.read.text(files).persist()
        rows_in = lines.count()

        def stage(name: str, fn):
            sc.setJobGroup(name, name)
            with self.tracer.span(name):
                t = time.perf_counter()
                out = fn()
                dt = time.perf_counter() - t
            sc.setLocalProperty("spark.jobGroup.id", None)
            return out, dt, len(sc.statusTracker().getJobIdsForGroup(name))

        with self.tracer.span("staged"):
            pts = parse_plain_lines(lines, line_col="value", zero_version=False).persist()
            rows_out, parse_s, parse_jobs = stage("sources.plain.parse", pts.count)
            for label, cond in (("tagged", F.col("value").contains(";")),
                                ("untagged", ~F.col("value").contains(";"))):
                part = lines.filter(cond).persist()
                part.count()
                _, dt, _ = stage(
                    f"functions.tags.{label}_parse",
                    lambda p=part: parse_plain_lines(p, line_col="value").count(),
                )
                self.put(f"functions.tags.{label}_parse_s", dt, "s")
                part.unpersist()
            tables = derive_tables(pts)
            built = {}
            for t in ("index", "tagged"):
                built[t] = tables[t].persist()
                n, dt, _ = stage(f"operators.{t}.build", built[t].count)
                self.put(f"operators.{t}.build_s", dt, "s")
                self.put(f"operators.{t}.rows", n, "count")
            fresh, dedup_s, _ = stage(
                "operators.dedup.new_series",
                lambda: new_series_only(built["index"], self.index_before, INDEX_KEYS).count(),
            )
            scratch = os.path.join(self.work, "staged_store")
            _, write_s, _ = stage(
                "pipeline.write_tables",
                lambda: write_tables({**tables, **built}, scratch),
            )
            if "pipeline.ingest_and_store_s" not in self.layer:
                # no history load on this workload: time the bulk path on
                # the same lines instead
                _, dt, _ = stage(
                    "pipeline.ingest_and_store",
                    lambda: ingest_and_store(
                        parse_plain_lines(lines, line_col="value", zero_version=False),
                        os.path.join(self.work, "staged_bulk"),
                    ),
                )
                self.put("pipeline.ingest_and_store_s", dt, "s")
        for t in TABLES:
            self.put(f"pipeline.bytes_written.{t}", _data_bytes(os.path.join(scratch, t)), "B")
        self.put("sources.plain.parse_s", parse_s, "s")
        self.put("sources.plain.rows_in", rows_in, "count")
        self.put("sources.plain.rows_out", rows_out, "count")
        self.put("sources.plain.jobs", parse_jobs, "count")
        self.put("operators.dedup.new_series_s", dedup_s, "s")
        self.put("operators.dedup.new_ratio", fresh / max(1, self.layer["operators.index.rows"][0]), "ratio")
        self.put("pipeline.write_tables_s", write_s, "s")
        staged_sum = parse_s + self.layer["operators.index.build_s"][0] + \
            self.layer["operators.tagged.build_s"][0] + dedup_s + write_s
        self.put("staged.sum_s", staged_sum, "s")
        for b in (built["index"], built["tagged"], pts, lines):
            b.unpersist()
        if not self.wl.per_month:
            # a store without history was never merged: merge it once
            # here so the compaction layer is measured on it too
            self._timed_compaction(compact_replacing, "compact_replacing")(
                spark, os.path.join(self.root, "index"), INDEX_KEYS)
            self._timed_compaction(compact_rollup, "compact_rollup")(
                spark, os.path.join(self.root, "points"), rules=RULES)

    # -- metrics --------------------------------------------------------------
    def end_to_end(self) -> dict[str, tuple[float, str]]:
        # the measured window: groups due in it, reads started in it
        dues = [grp[0] for grp in self.groups[self.warm_groups:]]
        group_commit = self.group_commit[self.warm_groups:]
        fresh, missing = S.freshness(dues, group_commit)
        q95, f95 = S.tail_percentile(fresh) if fresh else (0.95, math.nan)
        measured = [r for r in self.requests if self.m0 <= r["t_start"] < self.m0 + self.seconds]
        lat = [(r["t_end"] - r["t_start"]) * 1000 for r in measured if r["status"]]
        l95 = S.tail_percentile(lat) if lat else (0.95, math.nan)
        ok = sum(1 for r in measured if r["status"] == 200)
        # per second of the span the window's requests took, not of the
        # nominal window: a count over a fixed span moves in whole steps
        read_span = max((r["t_end"] for r in measured), default=self.m0 + self.seconds) - self.m0
        committed = [c for c in group_commit if c is not None]
        ingest_pps = self.win_valid / (max(committed) - self.m0) if committed else math.nan
        self.report.update({
            "freshness_samples": len(fresh),
            "freshness_p95_is_q": q95,
            "uncommitted_groups": missing,
            "read_samples": len(lat),
            "read_p95_is_q": l95[0],
            "reads_ok": ok,
            "reads_error": len(measured) - ok,
            "warm_s": WARM_S,
            "stale_read_ratio": self.stale_missed / self.stale_probes if self.stale_probes else None,
            "stale_probes": self.stale_probes,
            "dup_wrong_ratio": self.dup_wrong / self.dup_seen if self.dup_seen else None,
            "dup_probes": self.dup_seen,
        })
        return {
            "setup_s": (self.setup_s, "s"),
            "ingest_pps": (ingest_pps, "1/s"),
            "freshness_p50_s": (S.median(fresh) if fresh else math.nan, "s"),
            "freshness_p95_s": (f95, "s"),
            "read_p50_ms": (S.median(lat) if lat else math.nan, "ms"),
            "read_p95_ms": (l95[1], "ms"),
            "read_rps": (ok / read_span, "1/s"),
            "stored_bytes_per_point": (self.stored_bytes / max(1, self.stored_points), "B"),
        }

    def per_layer(self) -> dict[str, tuple[float, str]]:
        """Streaming, receiver and load-generator figures from the
        window (the replays filled in the rest)."""
        win_commits = [c for c in self.commits if c.cum_rows > self.baseline_rows]
        prog = {e["batchId"]: e for e in self.progress_events if "addBatch" in (e.get("durationMs") or {})}
        dur = [prog[c.batch_id]["durationMs"] for c in win_commits if c.batch_id in prog]

        def p50(key: str) -> float:
            xs = [d.get(key, 0) for d in dur]
            return S.median(xs) if xs else 0.0

        trig = [d["triggerExecution"] for d in dur]
        self.put("streaming.ingest.batches", len(win_commits), "count")
        self.put("streaming.ingest.batch_rows_p50", S.median([c.rows for c in win_commits]) if win_commits else 0, "count")
        self.put("streaming.ingest.trigger_ms_p50", S.median(trig) if trig else 0.0, "ms")
        self.put("streaming.ingest.trigger_ms_p95", S.tail_percentile(trig)[1] if trig else 0.0, "ms")
        self.put("streaming.ingest.add_batch_ms_p50", p50("addBatch"), "ms")
        self.put("streaming.ingest.planning_ms_p50", p50("queryPlanning"), "ms")
        self.put("streaming.ingest.commit_ms_p50", p50("commitOffsets"), "ms")
        self.put("streaming.fused_batch_s", sum(trig) / 1000, "s")

        # receiver: lines per landed chunk, delay from send to landing,
        # and how long each chunk waited for the batch that read it
        batch_of: dict[str, int] = {}
        for f in glob.glob(os.path.join(self.root, "_checkpoint", "sources", "0", "*")):
            with open(f) as fh:
                for line in fh:
                    if line.startswith("{"):
                        e = json.loads(line)
                        batch_of[os.path.basename(e["path"])] = e["batchId"]
        starts = {bid: S._epoch(e["timestamp"]) for bid, e in prog.items()}
        cum, delays, waits = 0, [], []
        sent_end = [grp[2] for grp in self.groups]
        group_cum = [grp[4] for grp in self.groups]
        g = 0
        for f in self.files_window:
            with open(f, "rb") as fh:
                cum += fh.read().count(b"\n")
            while g < len(group_cum) - 1 and group_cum[g] < cum:
                g += 1
            if self.groups:
                delays.append((_chunk_time(f) - sent_end[g]) * 1000)
            bid = batch_of.get(os.path.basename(f))
            if bid in starts:
                waits.append((starts[bid] - _chunk_time(f)) * 1000)
        self.put("receivers.lines_landed", cum, "count")
        self.put("receivers.chunks", len(self.files_window), "count")
        self.put("receivers.land_delay_p50_ms", S.median(delays) if delays else 0.0, "ms")
        self.put("streaming.ingest.queue_wait_p50_ms", S.median(waits) if waits else 0.0, "ms")
        spans = [s for s in self.tracer.spans if s.name.startswith("operators.compaction.")]
        for kind in ("compact_rollup", "compact_replacing"):
            self.put(f"operators.compaction.{kind}_s",
                     sum(s.duration for s in spans if s.name.endswith(kind)), "s")
        self.put("operators.compaction.bytes_rewritten", sum(s.attrs["bytes"] for s in spans), "B")
        late = [grp[1] - grp[0] for grp in self.groups]
        self.put("loadgen.late_max_s", max(late, default=0.0), "s")
        self.put("loadgen.sent_lines", group_cum[-1] if group_cum else 0, "count")
        self.put("loadgen.requests", len(self.requests), "count")
        return self.layer
