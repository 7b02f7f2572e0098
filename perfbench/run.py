"""CDC benchmark: one command, three workloads, every metric by name.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 8 --trace 0

Run from the root of a source checkout. The last line of standard output
is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics of BENCHMARK.json with ``--trace 0``,
its per-layer metrics with ``--trace 1``). The line before it is a detail
object (per-operation times, load average, job floor, faults). Spans of
a traced run are written to ``.perfbench_out/``. See README.md.
"""

from __future__ import annotations

import argparse
import collections
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

T_START = time.monotonic()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("backfill", "wan_backfill", "live_tail")
WARMUP_OPS = 1      # untimed operations before the clock (closed-loop workloads)
MIN_OPS = 4         # a run times at least this many operations
DRIVER_MEM = "1g"   # Spark driver heap; the session default (48g) exceeds the host


def _env(work: str, nproc: int) -> None:
    """Point every temporary file into the work directory, let Python
    workers import the program, size the driver heap and cap native
    thread pools at nproc."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["RU_CDC_DRIVER_MEM"] = DRIVER_MEM
    for var in ("OMP_NUM_THREADS", "OMP_THREAD_LIMIT"):
        os.environ[var] = str(nproc)
    os.environ["PYARROW_IGNORE_TIMEZONE"] = "1"


def _spark(work: str, cpus: int):
    from ru_cdc_spark.session import get_spark

    return get_spark("perfbench", cpus=cpus, extra_conf={
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
    })


def _jvm_pid(spark) -> int:
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/cmdline", "rb") as fh:
        if b"java" in fh.read():
            return pid
    from tracing import children

    for kid in children().get(pid, []):
        with open(f"/proc/{kid}/cmdline", "rb") as fh:
            if b"java" in fh.read():
                return kid
    return pid


def _job_floor(spark, n: int = 3) -> float:
    """Median wall of a no-op Spark job: the per-job floor on this host."""
    walls = []
    for _ in range(n):
        t0 = time.monotonic()
        spark.range(1000).selectExpr("sum(id)").collect()
        walls.append(time.monotonic() - t0)
    return statistics.median(walls)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _p90(xs):
    """90th percentile, only when 10 samples lie beyond it."""
    return statistics.quantiles(xs, n=10)[-1] if len(xs) >= 100 else None


class Run:
    def __init__(self, args) -> None:
        from tracing import Tracer

        self.args = args
        self.nproc = len(os.sched_getaffinity(0))
        self.cpus = max(1, self.nproc - 1)  # one core left to the fixture
        self.work = os.path.join(ROOT, ".perfbench_work",
                                 f"{args.workload}-{args.seed}-{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.work)
        _env(self.work, self.nproc)
        self.tracer = Tracer()
        self.fixtures: list = []
        self.errors: collections.Counter = collections.Counter()
        self.problems: list[str] = []
        self.detail: dict = {"workload": args.workload, "seed": args.seed,
                             "seconds": args.seconds, "nproc": self.nproc,
                             "spark_cores": self.cpus}
        self.layers: dict = {}
        self.layer_source: dict = {}
        self.spark = None
        self.rss = None

    # -- plumbing ----------------------------------------------------------

    def fixture(self, spec: dict):
        import fixture

        fx = fixture.FixtureProcess(spec)
        self.fixtures.append(fx)
        return fx

    def start_spark(self) -> None:
        from tracing import RssSampler

        self.mark("spark_start")
        self.spark = _spark(self.work, self.cpus)
        self.mark("spark_ready")
        self.rss = RssSampler(_jvm_pid(self.spark))
        self.ctx.spark = self.spark

    def job_floor(self) -> None:
        """Measured once the session is warm, just before the clock."""
        floor = _job_floor(self.spark)
        self.detail["job_floor_s"] = floor
        self.layer("session.job_floor_s", floor, "setup")

    def mark(self, step: str) -> None:
        """Set-up timeline for the detail output (seconds since start)."""
        self.detail.setdefault("setup_steps", {})[step] = \
            time.monotonic() - T_START

    def fault(self, where: str, exc: BaseException) -> None:
        self.errors[f"{where}:{type(exc).__name__}"] += 1
        traceback.print_exception(exc, file=sys.stderr)

    def layer(self, name: str, value, source: str) -> None:
        """Record a per-layer value unless the workload's own path gave it."""
        if name not in self.layers:
            self.layers[name] = value
            self.layer_source[name] = source

    def traced(self, fn) -> None:
        """Run one traced pass; a fault is recorded and the run goes on
        (the layers it would have given read 0)."""
        try:
            fn()
        except Exception as exc:
            self.fault("trace", exc)

    def group(self, name: str) -> None:
        self.spark.sparkContext.setJobGroup(name, name)

    def spark_layers(self, groups: list[str], source: str) -> None:
        from tracing import spark_group_metrics

        per = [spark_group_metrics(self.spark, g) for g in groups]
        for key in ("jobs", "stages", "tasks", "task_cpu_s", "task_run_s",
                    "shuffle_write_bytes", "spill_bytes"):
            self.layer(f"spark.{key}", _median([p[key] for p in per]), source)
        # GC pauses are sparse: most operations have none, so the median
        # would read 0; the mean per operation keeps them
        self.layer("spark.gc_s", sum(p["gc_s"] for p in per) / max(1, len(per)),
                   source)

    def close(self) -> None:
        """Stop Spark, the JVM and the fixture processes, and wait for each."""
        if self.spark is not None:
            from tracing import descendants, wait_gone

            proc = self.spark.sparkContext._gateway.proc
            workers = descendants(proc.pid)  # Python daemon and workers
            try:
                self.spark.stop()
            except Exception as exc:  # the result is already measured
                self.fault("teardown", exc)
            # the gateway JVM exits when its stdin closes
            proc.stdin.close()
            try:
                proc.wait(60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
            wait_gone(workers, 30)
        if self.rss is not None:
            self.rss.stop()
        for fx in self.fixtures:
            fx.close()
        shutil.rmtree(self.work, ignore_errors=True)

    # -- closed loop ---------------------------------------------------------

    def closed_loop(self, wl, fx) -> dict:
        """Warm up, then time whole operations for --seconds."""
        for k in range(WARMUP_OPS):
            wl.prepare(k)
            self.mark(f"warmup{k}_start")
            try:
                wl.op(k)
            except Exception as exc:
                self.fault("warmup", exc)
                continue
            self.mark(f"warmup{k}_op_done")
            self.problems += wl.check(k)
        self.job_floor()
        self.detail["setup_s"] = time.monotonic() - T_START
        walls, rates, cpu, groups = [], [], [], []
        attempted = failed = 0
        timed = 0.0
        k = WARMUP_OPS
        while timed < self.args.seconds or attempted < MIN_OPS:
            wl.prepare(k)
            group = f"perfbench-op-{k}"
            self.group(group)
            c0 = fx.cpu() if fx is not None else 0.0
            attempted += 1
            t0 = time.monotonic()
            try:
                rows = wl.op(k)
            except Exception as exc:
                failed += 1
                timed += time.monotonic() - t0
                self.fault("op", exc)
                k += 1
                continue
            wall = time.monotonic() - t0
            timed += wall
            walls.append(wall)
            rates.append(rows / wall)
            if fx is not None:
                cpu.append(fx.cpu() - c0)
            groups.append(group)
            self.problems += wl.check(k)
            k += 1
        self.detail.update(op_wall_s=walls, op_rows=wl.rows_per_op,
                           op_wall_p90_s=_p90(walls))
        if cpu:
            self.detail["fixture_cpu_s_per_op"] = cpu
            self.layer("fixture.cpu_s", _median(cpu), "ops")
        self.spark_layers(groups, "ops")
        return {"attempted": attempted, "failed": failed,
                "latency_p50_s": _median(walls), "rows_per_s": _median(rates)}

    # -- traced pieces -------------------------------------------------------

    def trace_binlog(self, wl, source: str) -> None:
        """Layer metrics of one traced replay (backfill-shaped)."""
        tr = self.tracer
        wl.connect_probe()
        counts = wl.traced(0)
        dump = tr.durations("mysql_socket_source.dump")
        nbytes = tr.counts("mysql_socket_source.dump", "bytes")
        dec = tr.durations("binlog_frames.decode")
        rows = tr.counts("binlog_frames.decode", "rows")
        self.layer("mysql_client.connect_s",
                   _median(tr.durations("mysql_client.connect")), source)
        self.layer("mysql_socket_source.layout_s",
                   _median(tr.durations("mysql_socket_source.layout")), source)
        self.layer("mysql_socket_source.dump_s", _median(dump), source)
        self.layer("mysql_socket_source.bytes_dumped", _median(nbytes), source)
        self.layer("mysql_socket_source.dump_mb_per_s",
                   _median(nbytes) / _median(dump) / 1e6, source)
        self.layer("binlog_frames.decode_s", _median(dec), source)
        self.layer("binlog_frames.decode_rows_per_s",
                   _median(rows) / _median(dec), source)
        self.layer("acid_table.merge_s",
                   _median(tr.durations("acid_table.merge")), source)
        self.layer("acid_table.files_rewritten", counts["files_rewritten"],
                   source)
        self.layer("acid_table.active_files", counts["active_files"], source)

    def trace_live(self, wl, result: dict, source: str) -> None:
        from ru_cdc_spark.sources.mysql_socket_source import fetch_binlog_layout
        from ru_cdc_spark.sources.mysql_client import MySQLConnection

        tr = self.tracer
        s = wl.srv
        args = ("127.0.0.1", s["port"], s["user"], s["password"])
        for _ in range(5):
            with tr.span("mysql_client.connect"):
                MySQLConnection.connect(*args).close()
        for _ in range(3):  # every trigger of a growing log re-lists the file
            with tr.span("mysql_socket_source.layout"):
                fetch_binlog_layout(*args, s["file"])
        # stream costs from the untraced micro-batches
        plain = [b for b in result["phase_batches"] if not b["traced"]]
        for key in ("latest_offset_s", "add_batch_s", "wal_commit_s"):
            self.layer(f"streaming.{key}", _median([b[key] for b in plain]),
                       source)
        self.layer("streaming.batches", len(result["phase_batches"]), source)
        self.layer("streaming.backlog_bytes_max", result["backlog_bytes_max"],
                   source)
        self.layer("generator.late_s", result["late_s"], source)
        self.layer("fixture.cpu_s", result["fixture_cpu_s"], source)
        dump = tr.durations("mysql_socket_source.dump")
        dec = tr.durations("binlog_frames.decode")
        rows = tr.counts("binlog_frames.decode", "rows")
        per_batch = result["fixture_bytes"] / max(1, result["run_batches"])
        self.layer("mysql_client.connect_s",
                   _median(tr.durations("mysql_client.connect")), source)
        self.layer("mysql_socket_source.layout_s",
                   _median(tr.durations("mysql_socket_source.layout")), source)
        self.layer("mysql_socket_source.dump_s", _median(dump), source)
        self.layer("mysql_socket_source.bytes_dumped", per_batch, source)
        self.layer("mysql_socket_source.dump_mb_per_s",
                   per_batch / max(_median(dump), 1e-9) / 1e6, source)
        self.layer("binlog_frames.decode_s", _median(dec), source)
        self.layer("binlog_frames.decode_rows_per_s",
                   sum(rows) / max(sum(dec), 1e-9), source)
        self.layer("acid_table.merge_s",
                   _median(tr.durations("acid_table.merge")), source)
        self.layer("acid_table.files_rewritten",
                   _median(tr.counts("acid_table.merge", "files_rewritten")),
                   source)
        self.layer("acid_table.active_files", len(wl.table.active_files()),
                   source)

    def trace_mq(self, wl, source: str) -> None:
        tr = self.tracer
        res = wl.traced(0)
        self.layer("envelope.build_s", _median(tr.durations("envelope.build")),
                   source)
        self.layer("pipeline.route_s", _median(tr.durations("pipeline.route")),
                   source)
        self.layer("pipeline.fanout", res["fanout"], source)
        self.layer("queue_sink.commit_s", _median(res["commit_s"]), source)
        self.layer("streaming.latest_offset_s", _median(res["latest_offset_s"]),
                   source)
        self.layer("streaming.add_batch_s", _median(res["add_batch_s"]), source)
        self.layer("streaming.wal_commit_s", _median(res["wal_commit_s"]), source)
        self.layer("streaming.batches", res["batches"], source)
        self.problems += wl.check(0)

    def probe_live(self) -> None:
        """Stream and binlog layers at probe scale (a short live tail on a
        fixture of its own, then a traced replay of the grown log)."""
        import workloads as w

        live = w.LiveTail(self.ctx, seconds=2.0, rate=40.0, burst=32, warm=32)
        fx = self.fixture(live.spec)
        live.attach(fx)
        live.traced_mode = True
        live.start()
        result = live.run()
        self.problems += live.check(result)
        self.trace_live(live, result, "probe:live_tail")
        back = w.Backfill(self.ctx, n_rows=live.n_rows)
        back.attach(fx)
        self.trace_binlog(back, "probe:backfill")

    def probe_mq(self) -> None:
        import workloads as w

        ctx = w.Ctx(self.spark, os.path.join(self.work, "probe_mq"),
                    self.args.seed, self.cpus, self.tracer)
        os.makedirs(ctx.work)
        mq = w.MqFanout(ctx)
        mq.setup()
        self.trace_mq(mq, "probe:mq_fanout")

    # -- workloads ---------------------------------------------------------

    def backfill(self, cls) -> dict:
        wl = cls(self.ctx)
        fx = self.fixture(wl.spec)  # builds while the JVM starts
        self.start_spark()
        wl.attach(fx)
        self.mark("fixture_ready")
        out = self.closed_loop(wl, fx)
        if self.args.trace:
            self.traced(lambda: self.trace_binlog(wl, "workload"))
            self.layer("trace.overhead_s",
                       _median(self.tracer.durations("op"))
                       - out["latency_p50_s"], "workload")
            self.traced(self.probe_live)
            self.traced(self.probe_mq)
        return out

    def live_tail(self) -> dict:
        import workloads as w

        wl = w.LiveTail(self.ctx, seconds=self.args.seconds)
        fx = self.fixture(wl.spec)
        self.start_spark()
        wl.attach(fx)
        wl.traced_mode = bool(self.args.trace)
        attempted = len(wl.phase) + len(wl.burst)
        failed = {"attempted": attempted, "failed": attempted,
                  "latency_p50_s": 0.0, "rows_per_s": 0.0}
        try:
            wl.start()
        except Exception as exc:  # e.g. the stream source's worker connect-back
            self.fault("live_tail_start", exc)
            wl.stop()
            self.detail["setup_s"] = time.monotonic() - T_START
            return failed
        self.job_floor()
        self.detail["setup_s"] = time.monotonic() - T_START
        try:
            result = wl.run()
        except Exception as exc:
            self.fault("live_tail", exc)
            wl.stop()
            return failed
        self.problems += wl.check(result)
        fresh = result["freshness_s"]
        self.detail.update(freshness_p90_s=_p90(fresh), drain_s=result["drain_s"],
                           drain_rows=result["drain_rows"],
                           burst_batches=result["burst_batches"],
                           phase_batch_s=[b["add_batch_s"]
                                          for b in result["phase_batches"]],
                           generator_late_s=result["late_s"],
                           backlog_bytes_max=result["backlog_bytes_max"],
                           fixture_cpu_s=result["fixture_cpu_s"])
        self.spark_layers([wl.group], "workload")
        if self.args.trace:
            self.traced(lambda: self.trace_live(wl, result, "workload"))
            # each traced micro-batch against the untraced one before it
            b = result["phase_batches"]
            pairs = [b[i + 1]["add_batch_s"] - b[i]["add_batch_s"]
                     for i in range(len(b) - 1)
                     if b[i + 1]["traced"] and not b[i]["traced"]]
            self.layer("trace.overhead_s", _median(pairs), "workload")
            self.traced(self.probe_mq)
        return {"attempted": attempted, "failed": 0,
                "latency_p50_s": _median(fresh),
                "rows_per_s": result["drain_rows"] / result["drain_s"]}

    def execute(self) -> dict:
        import workloads as w

        self.ctx = w.Ctx(None, self.work, self.args.seed, self.cpus, self.tracer)
        name = self.args.workload
        if name == "backfill":
            return self.backfill(w.Backfill)
        if name == "wan_backfill":
            return self.backfill(w.WanBackfill)
        return self.live_tail()


def _metric_specs() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "ru_cdc_spark")):
        print(f"no program source under {ROOT}", file=sys.stderr)
        return 2
    specs = _metric_specs()
    sys.path.insert(0, ROOT)
    run = Run(args)
    try:
        out = run.execute()
        if run.rss is not None:
            out["peak_rss_mb"] = run.rss.stop() / 1e6
            run.detail["peak_procs"] = run.rss.peak_procs
            run.rss = None
    finally:
        t0 = time.monotonic()
        run.close()
        run.detail["teardown_s"] = time.monotonic() - t0
    d = run.detail
    d.update(loadavg=os.getloadavg(), errors=dict(run.errors),
             problems=run.problems[:20], layer_source=run.layer_source)
    if args.trace:
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json")
        with open(path, "w") as fh:
            json.dump({"spans": run.tracer.spans, "layers": run.layers,
                       "detail": d}, fh)
        d["spans_file"] = os.path.relpath(path, ROOT)
        names = specs["per_layer"]
        values = run.layers
    else:
        names = specs["end_to_end"]
        values = {"setup_s": d.get("setup_s", 0.0),
                  "rows_per_s": out["rows_per_s"],
                  "latency_p50_s": out["latency_p50_s"],
                  "peak_rss_mb": out.get("peak_rss_mb", 0.0)}
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)),
                           "unit": m["unit"]} for m in names}
    print(json.dumps(d, default=str))
    print(json.dumps({"correct": not run.problems,
                      "attempted": int(out["attempted"]),
                      "failed": int(out["failed"]),
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
