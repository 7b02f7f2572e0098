"""The CDC workloads, and the Canal-JSON queue path that traced runs
measure layer by layer. Each drives the program only through its public
functions; every output is checked in ``oracle``.

Sizes are fixed here, not derived from the host, so two runs with the
same seed and run length attempt the same work.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time

import inputs
import oracle

# backfill: plain-TCP replay of a pre-built binlog
BACKFILL_ROWS = 16_000
# wan_backfill: the same replay over the zstd-compressed protocol
WAN_ROWS = 4_000
# live_tail: open-loop appends, then a backlog burst
LIVE_RATE = 64.0            # frames per second during the fixed-rate phase
LIVE_WARM_FRAMES = 64       # served before the clock starts (warm-up)
LIVE_BURST_FRAMES = 480     # appended at once after the phase
LIVE_PHASE_SHARE = 0.6      # share of --seconds spent in the fixed-rate phase
LIVE_EVENTS_PER_BATCH = 800  # the burst drains in about three micro-batches
# queue path (traced runs only): TPC-H-shaped orders changes, Canal JSON
# feed, queue sink
MQ_ORDERS = 3_000
MQ_FEED_FILES = 6
MQ_EVENTS_PER_TRIGGER = 20_000  # CdcPipeline -> 2 feed files per micro-batch

TABLE_SCHEMA = ("seq long, i long, t_long long, t_dec string, "
                "t_varchar string, t_datetime timestamp_ntz")


def _round_up(n: int, k: int) -> int:
    return -(-n // k) * k


def _fresh_table(spark, path: str):
    from ru_cdc_spark.operators.acid_table import AcidTable

    shutil.rmtree(path, ignore_errors=True)
    table = AcidTable(spark, path, pk="i", seq_col="seq")
    table.create(spark.createDataFrame([], TABLE_SCHEMA))
    return table


def _end_pos(progress: dict) -> int:
    """Binlog position a micro-batch's progress report ends at."""
    if not progress.get("sources"):
        return 0
    end = progress["sources"][0].get("endOffset")
    if isinstance(end, str):
        end = json.loads(end)
    return int((end or {}).get("pos") or 0)


def _last_commit_files(table) -> int:
    """Files removed plus files added by the table's latest commit."""
    return len(table.history()[-1]["actions"])


class Ctx:
    """What a workload needs from the run: the Spark session, a private
    work directory, the seed, the Spark parallelism and the tracer."""

    def __init__(self, spark, work: str, seed: int, cpus: int, tracer) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.cpus = cpus
        self.tracer = tracer


# ---------------------------------------------------------------------------
# backfill / wan_backfill
# ---------------------------------------------------------------------------

class Backfill:
    """Replay the whole binlog with ``socket_cdc_changes`` (at most
    ``cpus`` slice connections) and merge it into a fresh ACID table."""

    compress: str | None = None
    n_rows = BACKFILL_ROWS

    def __init__(self, ctx: Ctx, n_rows: int | None = None) -> None:
        self.ctx = ctx
        if n_rows is not None:
            self.n_rows = n_rows
        n_frames = self.n_rows // inputs.ROWS_PER_FRAME
        self.spec = {"n_rows": self.n_rows,
                     "frames": inputs.frame_order(ctx.seed, n_frames)}
        self.fx = None
        self.table = None

    def attach(self, fx) -> None:
        self.fx = fx
        self.srv = fx.wait_ready()

    @property
    def rows_per_op(self) -> int:
        return inputs.change_rows(self.n_rows)

    def _args(self):
        s = self.srv
        return ("127.0.0.1", s["port"], s["user"], s["password"])

    def prepare(self, k: int) -> None:
        self.table = _fresh_table(self.ctx.spark,
                                  os.path.join(self.ctx.work, f"t{k % 2}"))

    def op(self, k: int) -> int:
        from ru_cdc_spark.sources.mysql_socket_source import socket_cdc_changes

        changes = socket_cdc_changes(self.ctx.spark, *self._args(),
                                     n_slices=self.ctx.cpus,
                                     compress=self.compress)
        self.table.merge_versioned(changes)
        return self.rows_per_op

    def check(self, k: int) -> list[str]:
        return oracle.snapshot_problems(oracle.live_rows(self.table),
                                        self.n_rows)

    def traced(self, k: int) -> dict:
        """One replay split into materialized calls: layout, dump (with
        frame reassembly), decode, merge. Returns the op's counts."""
        from ru_cdc_spark.sources.binlog_frames import decode_cdc_frames
        from ru_cdc_spark.sources.mysql_socket_source import (
            fetch_binlog_layout,
            socket_cdc_frames,
        )

        tr, spark = self.ctx.tracer, self.ctx.spark
        self.prepare(k)
        with tr.span("op", workload=type(self).__name__):
            with tr.span("mysql_socket_source.layout"):
                fetch_binlog_layout(*self._args(), compress=self.compress)
            w0 = self.fx.sent()
            with tr.span("mysql_socket_source.dump") as c:
                frames = socket_cdc_frames(
                    spark, *self._args(), n_slices=self.ctx.cpus,
                    compress=self.compress).localCheckpoint(eager=True)
            c["bytes"] = self.fx.sent() - w0
            with tr.span("binlog_frames.decode") as c:
                decoded = decode_cdc_frames(
                    frames.select("frame")).localCheckpoint(eager=True)
            c["rows"] = decoded.count()
            with tr.span("acid_table.merge"):
                self.table.merge_versioned(decoded)
        return {"files_rewritten": _last_commit_files(self.table),
                "active_files": len(self.table.active_files())}

    def connect_probe(self, n: int = 5) -> None:
        from ru_cdc_spark.sources.mysql_client import MySQLConnection

        for _ in range(n):
            with self.ctx.tracer.span("mysql_client.connect"):
                MySQLConnection.connect(*self._args(),
                                        compress=self.compress).close()


class WanBackfill(Backfill):
    compress = "zstd"
    n_rows = WAN_ROWS


# ---------------------------------------------------------------------------
# live_tail
# ---------------------------------------------------------------------------

class LiveTail:
    """Open loop: the fixture's generator appends frames at LIVE_RATE,
    then a burst; a ``binlog_socket`` stream decodes each micro-batch and
    merges it into an ACID table."""

    def __init__(self, ctx: Ctx, seconds: float, rate: float = LIVE_RATE,
                 burst: int = LIVE_BURST_FRAMES,
                 warm: int = LIVE_WARM_FRAMES) -> None:
        self.ctx = ctx
        self.rate = rate
        win = inputs.PERMUTE_WINDOW
        n_phase = _round_up(max(1, int(rate * seconds * LIVE_PHASE_SHARE)), win)
        warm, burst = _round_up(warm, win), _round_up(burst, win)
        order = inputs.frame_order(ctx.seed, warm + n_phase + burst)
        self.warm = order[:warm]
        self.phase = order[warm:warm + n_phase]
        self.burst = order[warm + n_phase:]
        self.n_rows = len(order) * inputs.ROWS_PER_FRAME
        # the fixture serves the first half of the warm-up frames; start()
        # appends the rest, so warm-up runs at least two micro-batches
        self.spec = {"n_rows": self.n_rows,
                     "frames": self.warm[:len(self.warm) // 2]}
        self.commits: dict[int, tuple[float, int]] = {}
        self.batch_start: dict[int, float] = {}
        self.query = None
        self.table = None
        # traced mode splits every other micro-batch into timed
        # materialized calls; the untraced ones give trace.overhead_s
        self.traced_mode = False
        self.group = "perfbench-live-warmup"

    def attach(self, fx) -> None:
        self.fx = fx
        self.srv = fx.wait_ready()

    def _apply(self, bdf, bid: int) -> None:
        from ru_cdc_spark.sources.binlog_frames import decode_cdc_frames

        spark, tr = self.ctx.spark, self.ctx.tracer
        self.table_ready.wait()
        if self.table is None:
            raise RuntimeError("live_tail table was not created")
        spark.sparkContext.setJobGroup(self.group, self.group)
        traced = self.traced_mode and bid % 2 == 1
        t0 = self.batch_start[bid] = time.monotonic()
        if traced:
            bdf = bdf.localCheckpoint(eager=True)
            tr.add("mysql_socket_source.dump", t0, time.monotonic(), batch=bid)
        t1 = time.monotonic()
        decoded = decode_cdc_frames(bdf).localCheckpoint(eager=True)
        n = decoded.count()
        t2 = time.monotonic()
        self.table.merge_versioned(decoded, txn=f"live:{bid}")
        t3 = time.monotonic()
        if traced:
            tr.add("binlog_frames.decode", t1, t2, batch=bid, rows=n)
            tr.add("acid_table.merge", t2, t3, batch=bid, rows=n,
                   files_rewritten=_last_commit_files(self.table))
        self.commits[bid] = (t3, n)

    def start(self, timeout: float = 120.0) -> None:
        """Create the table, start the stream and wait until the warm-up
        frames are committed."""
        from ru_cdc_spark.sources.mysql_socket_source import (
            register_binlog_socket_source,
        )

        spark, s = self.ctx.spark, self.srv
        self.table_ready = threading.Event()
        register_binlog_socket_source(spark)
        stream = (spark.readStream.format("binlog_socket")
                  .option("host", "127.0.0.1").option("port", s["port"])
                  .option("user", s["user"]).option("password", s["password"])
                  .option("events_per_batch", LIVE_EVENTS_PER_BATCH).load())
        self.query = (stream.writeStream.foreachBatch(self._apply)
                      .option("checkpointLocation",
                              os.path.join(self.ctx.work, "live_ck"))
                      .trigger(processingTime="0 seconds").start())
        # the table is created while the stream source starts up; the
        # first micro-batch waits for it
        try:
            self.table = _fresh_table(spark, os.path.join(self.ctx.work, "live"))
        finally:
            self.table_ready.set()
        self._wait_committed(s["end_pos"], timeout)
        self.fx.tail([(f, 0.0) for f in self.warm[len(self.warm) // 2:]],
                     lead_s=0.0)
        self._wait_committed(self.fx.tail_log(timeout)[-1][3], timeout)

    def _committed_pos(self) -> int:
        p = self.query.lastProgress
        return _end_pos(json.loads(p.json)) if p is not None else 0

    def _wait_committed(self, pos: int, timeout: float) -> None:
        deadline = time.monotonic() + timeout
        while self._committed_pos() < pos:
            if self.query.exception() is not None:
                raise self.query.exception()
            if not self.query.isActive:
                raise RuntimeError("live_tail query stopped")
            if time.monotonic() > deadline:
                raise TimeoutError(f"stream did not commit position {pos}")
            time.sleep(0.01)

    def run(self, timeout: float = 120.0) -> dict:
        """The timed phase and burst. Returns per-frame freshness, the
        drain figures and the per-batch stream progress."""
        self.group = "perfbench-live"
        n_phase = len(self.phase)
        schedule = [(f, i / self.rate) for i, f in enumerate(self.phase)]
        schedule += [(f, n_phase / self.rate) for f in self.burst]
        cpu0, w0 = self.fx.cpu(), self.fx.sent()
        self.t_phase = self.fx.tail(schedule, lead_s=0.05)
        log = self.fx.tail_log(timeout)
        self._wait_committed(log[-1][3], timeout)
        cpu, sent = self.fx.cpu() - cpu0, self.fx.sent() - w0
        self.query.stop()
        warm_last = max(b for b in self.commits
                        if self.commits[b][0] <= self.t_phase)
        progress = {p["batchId"]: p for p in
                    (json.loads(x.json) for x in self.query.recentProgress)
                    if p["numInputRows"] > 0}
        ends = [(_end_pos(progress[b]), b) for b in sorted(progress)]
        phase_set = set(self.phase)

        def batch_of(pos: int) -> int:
            return next(b for e, b in ends if e >= pos)

        fresh, phase_batches = [], set()
        for fid, due, _appended, end_pos in log:
            if fid in phase_set:
                b = batch_of(end_pos)
                phase_batches.add(b)
                fresh.append(self.commits[b][0] - due)
        # catch-up rate: rows of the batches carrying the burst over the
        # span from the first one's start to the last one's commit
        burst_batches = sorted({batch_of(p) for f, _d, _a, p in log
                                if f not in phase_set})
        drain_s = (self.commits[burst_batches[-1]][0]
                   - self.batch_start[burst_batches[0]])
        drain_rows = sum(self.commits[b][1] for b in burst_batches)
        # backlog just before each phase commit: server head minus the
        # previous batch's end position
        backlog, prev_end = [], self.srv["end_pos"]
        for e, b in ends:
            t = self.commits[b][0]
            head = max((p for _f, _d, a, p in log if a <= t), default=prev_end)
            if b in phase_batches:
                backlog.append(max(0, head - prev_end))
            prev_end = e
        batches = []
        for b in sorted(phase_batches):
            ms = progress[b]["durationMs"]
            batches.append({
                "traced": self.traced_mode and b % 2 == 1,
                "latest_offset_s": ms.get("latestOffset", 0) / 1e3,
                "add_batch_s": ms.get("addBatch", 0) / 1e3,
                "wal_commit_s": (ms.get("walCommit", 0)
                                 + ms.get("commitOffsets", 0)) / 1e3})
        return {
            "freshness_s": fresh,
            "drain_s": drain_s,
            "drain_rows": drain_rows,
            "burst_batches": len(burst_batches),
            "late_s": max(a - d for _f, d, a, _p in log),
            "rows_committed": sum(n for _t, n in self.commits.values()),
            "phase_batches": batches,
            "run_batches": sum(1 for b in progress if b > warm_last),
            "backlog_bytes_max": max(backlog, default=0),
            "fixture_cpu_s": cpu,
            "fixture_bytes": sent,
        }

    def check(self, result: dict) -> list[str]:
        problems = oracle.snapshot_problems(oracle.live_rows(self.table),
                                            self.n_rows)
        return problems + oracle.delivery_problems(
            result["rows_committed"], inputs.change_rows(self.n_rows))

    def stop(self) -> None:
        if self.query is not None and self.query.isActive:
            self.query.stop()


# ---------------------------------------------------------------------------
# the Canal-JSON queue path (measured in traced runs)
# ---------------------------------------------------------------------------

class MqFanout:
    """Build a Canal-JSON feed with ``build_envelope`` per shard, then
    drain it through ``CdcPipeline.routed`` -> ``sink_rows`` -> the
    ``list_queue`` sink with a fresh checkpoint."""

    def __init__(self, ctx: Ctx, n_orders: int = MQ_ORDERS) -> None:
        self.ctx = ctx
        self.n_orders = n_orders
        self.orders_dir = os.path.join(ctx.work, "orders")
        self.feed = os.path.join(ctx.work, "feed")
        self.rules = inputs.routing_rules()
        self.rows_per_op = inputs.change_rows(n_orders)

    def _envelopes(self):
        """Canal JSON payloads of every shard: ``build_envelope`` per
        (database, table) over that shard's slice of the change stream."""
        from pyspark.sql import functions as F

        from ru_cdc_spark.operators.envelope import build_envelope, envelope_to_json
        from ru_cdc_spark.sources.cdc_fixture import ORDERS_MYSQL_TYPES, ORDERS_PK

        out = None
        for db, table, lo, hi in self.shards:
            part = self.changes.where((F.col("id") >= 3 * lo)
                                      & (F.col("id") < 3 * hi))
            js = envelope_to_json(build_envelope(
                part, db, table, ORDERS_PK, ORDERS_MYSQL_TYPES))
            out = js if out is None else out.unionByName(js)
        return out.select("payload")

    def setup(self) -> None:
        from ru_cdc_spark.sources.cdc_fixture import derive_order_changes

        self.shards = inputs.write_orders(self.ctx.seed, self.n_orders,
                                          self.orders_dir)
        self.want = oracle.expected_topics(
            os.path.join(self.orders_dir, "orders.parquet"))
        self.changes = derive_order_changes(
            self.ctx.spark, self.orders_dir).localCheckpoint(eager=True)
        self._envelopes().repartition(MQ_FEED_FILES).write.text(self.feed)

    def _pipeline(self):
        from ru_cdc_spark.config import PipelineConfig
        from ru_cdc_spark.streaming.pipeline import CdcPipeline

        return CdcPipeline(self.ctx.spark, PipelineConfig(
            source_path=self.feed, instances=self.rules,
            max_events_per_trigger=MQ_EVENTS_PER_TRIGGER))

    def _qdir(self, k: int) -> str:
        return os.path.join(self.ctx.work, f"queue{k % 2}")

    def prepare(self, k: int) -> None:
        from ru_cdc_spark.sources.queue_sink import register_queue_sink

        register_queue_sink(self.ctx.spark)
        for d in (self._qdir(k), self._qdir(k) + "_ck"):
            shutil.rmtree(d, ignore_errors=True)

    def op(self, k: int) -> int:
        p = self._pipeline()
        rows = p.sink_rows(p.routed(p.read_stream()))
        q = (rows.writeStream.format("list_queue")
             .option("path", self._qdir(k)).option("value_col", "value")
             .option("checkpointLocation", self._qdir(k) + "_ck")
             .trigger(availableNow=True).start())
        self.last_query = q
        q.awaitTermination(150)
        if q.exception() is not None:
            raise q.exception()
        if q.isActive:
            q.stop()
            raise TimeoutError("mq_fanout drain did not finish")
        return self.rows_per_op

    def queue_ids(self, k: int) -> dict[str, list[int]]:
        from ru_cdc_spark.sources.queue_sink import read_queue

        return {t: oracle.queue_ids(read_queue(self._qdir(k), t))
                for t in oracle.TOPICS}

    def check(self, k: int) -> list[str]:
        return oracle.topic_problems(self.queue_ids(k), self.want)

    def commit_times(self, k: int) -> list[float]:
        """Per batch: manifest write time minus the newest published file
        of that batch (files are staged by the tasks and moved, which
        keeps their write time, by the driver-side commit)."""
        out = []
        qdir = self._qdir(k)
        for name in os.listdir(qdir):
            if not name.startswith("manifest-"):
                continue
            path = os.path.join(qdir, name)
            with open(path) as fh:
                pubs = json.load(fh)["published"]
            if pubs:
                staged = max(os.stat(os.path.join(
                    qdir, p["topic"], os.path.basename(p["file"]))).st_mtime
                    for p in pubs)
                out.append(os.stat(path).st_mtime - staged)
        return out

    def traced(self, k: int) -> dict:
        tr, spark = self.ctx.tracer, self.ctx.spark
        self.prepare(k)
        with tr.span("queue_op"):
            with tr.span("envelope.build"):
                self._envelopes().write.format("noop").mode("overwrite").save()
            with tr.span("pipeline.route"):
                p = self._pipeline()
                raw = spark.read.text(self.feed).withColumnRenamed("value", "payload")
                p.sink_rows(p.routed(raw)).write.format("noop") \
                    .mode("overwrite").save()
            with tr.span("pipeline.drain"):
                self.op(k)
        published = sum(len(v) for v in self.queue_ids(k).values())
        progress = [json.loads(x.json) for x in self.last_query.recentProgress]
        progress = [p for p in progress if p["numInputRows"] > 0]

        def dur(key):
            return [p["durationMs"].get(key, 0) / 1e3 for p in progress]

        return {
            "fanout": published / self.rows_per_op,
            "commit_s": self.commit_times(k),
            "latest_offset_s": dur("latestOffset"),
            "add_batch_s": dur("addBatch"),
            "wal_commit_s": [a + b for a, b in
                             zip(dur("walCommit"), dur("commitOffsets"))],
            "batches": len(progress),
        }
