"""The fixture process: the in-repo MySQL fixture server plus the
live_tail generator, in a process of their own.

The server is pure Python; inside the benchmark's own process it would
share one interpreter lock with the Spark driver's Python side. Here it
gets its own interpreter, and its CPU time is reported separately
(``fixture.cpu_s``). All load the program sees comes from this process.

The parent talks to it with one JSON line per request over the child's
stdin/stdout: ``FixtureProcess(spec)`` builds the binlog and starts serving;
``tail(...)`` starts the open-loop generator; ``cpu()`` and ``sent()``
report this process's CPU seconds and the bytes its server has sent.
"""

from __future__ import annotations

import json
import os
import select
import subprocess
import sys
import threading
import time


class _CountingSocket:
    """Socket proxy that counts the bytes the server sends: wire bytes,
    after compression when the connection negotiated it. ``sendall``
    counts what the kernel accepted, so a reader that hangs up mid-dump
    is not billed for the rest of the buffer."""

    def __init__(self, sock, counter) -> None:
        self._sock = sock
        self._counter = counter

    def sendall(self, data, *args):
        view = memoryview(data)
        while len(view):
            n = self._sock.send(view, *args)
            self._counter(n)
            view = view[n:]

    def __getattr__(self, name):
        return getattr(self._sock, name)


def _build_server(spec: dict):
    from ru_cdc_spark.sources.binlog_frames import cdc_frame_bytes
    from ru_cdc_spark.sources.binlog_wire import (
        CHECKSUM_NONE,
        encode_format_description,
    )
    from ru_cdc_spark.sources.mysql_fixture_server import (
        MySQLFixtureServer,
        VirtualBinlog,
    )

    class CountingServer(MySQLFixtureServer):
        sent = 0
        _sent_lock = threading.Lock()

        def _count(self, n: int) -> None:
            with self._sent_lock:
                self.sent += n

        def _serve_conn(self, conn) -> None:
            super()._serve_conn(_CountingSocket(conn, self._count))

    vb = VirtualBinlog()
    vb.append(encode_format_description(CHECKSUM_NONE))
    for fid in spec["frames"]:
        vb.append_blob(cdc_frame_bytes(fid, spec["n_rows"]))
    return CountingServer(binlog=vb).start()


def _generate(srv, n_rows: int, schedule: list[tuple[int, float]],
              t0: float, log: list) -> None:
    """Append frame ``fid`` at ``t0 + due`` (monotonic clock). Entries
    sharing one due time are appended under one lock scope. Logs
    (fid, due_abs, appended_abs, end_pos) per frame."""
    from ru_cdc_spark.sources.binlog_frames import cdc_frame_bytes

    i = 0
    while i < len(schedule):
        due = schedule[i][1]
        j = i
        while j < len(schedule) and schedule[j][1] == due:
            j += 1
        blobs = [(fid, cdc_frame_bytes(fid, n_rows)) for fid, _ in schedule[i:j]]
        delay = t0 + due - time.monotonic()
        if delay > 0:
            time.sleep(delay)
        with srv.mutation() as binlog:
            for fid, blob in blobs:
                binlog.append_blob(blob)
                log.append((fid, t0 + due, time.monotonic(), binlog.end_pos))
        i = j


def serve(stdin, stdout) -> None:
    """Child side: read the spec, build and start the server, then answer
    one JSON line per command until ``stop`` or end of input."""
    spec = json.loads(stdin.readline())
    srv = _build_server(spec)

    def reply(obj) -> None:
        stdout.write(json.dumps(obj) + "\n")
        stdout.flush()

    reply({"port": srv.port, "user": srv.user, "password": srv.password,
           "end_pos": srv.binlog.end_pos, "file": srv.binlog.filename})
    gen: threading.Thread | None = None
    log: list = []
    try:
        for line in stdin:
            msg = json.loads(line)
            cmd, arg = msg["cmd"], msg.get("arg")
            if cmd == "stop":
                break
            if cmd == "cpu":
                reply(time.process_time())
            elif cmd == "sent":
                reply(srv.sent)
            elif cmd == "tail":
                log = []
                t0 = time.monotonic() + arg["lead_s"]
                gen = threading.Thread(
                    target=_generate,
                    args=(srv, spec["n_rows"], arg["schedule"], t0, log),
                    daemon=True)
                gen.start()
                reply(t0)
            elif cmd == "tail_log":
                if gen is not None:
                    gen.join()
                reply(log)
            else:
                reply({"error": f"unknown fixture command {cmd!r}"})
    finally:
        srv.stop()


class FixtureProcess:
    """Parent-side handle; ``close`` stops the child and waits for it."""

    def __init__(self, spec: dict) -> None:
        self._proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
        self._send(spec)
        self.info: dict | None = None

    def _send(self, obj) -> None:
        self._proc.stdin.write(json.dumps(obj) + "\n")
        self._proc.stdin.flush()

    def _recv(self, timeout: float):
        ready, _, _ = select.select([self._proc.stdout], [], [], timeout)
        line = self._proc.stdout.readline() if ready else ""
        if not line:
            raise TimeoutError("fixture process did not answer")
        out = json.loads(line)
        if isinstance(out, dict) and "error" in out:
            raise ValueError(out["error"])
        return out

    def wait_ready(self, timeout: float = 120.0) -> dict:
        if self.info is None:
            self.info = self._recv(timeout)
        return self.info

    def _call(self, cmd: str, arg=None, timeout: float = 120.0):
        self.wait_ready()
        self._send({"cmd": cmd, "arg": arg})
        return self._recv(timeout)

    def cpu(self) -> float:
        return self._call("cpu")

    def sent(self) -> int:
        """Bytes the server has sent on all connections so far."""
        return self._call("sent")

    def tail(self, schedule: list[tuple[int, float]], lead_s: float) -> float:
        """Start the generator; returns its t0 on the shared monotonic
        clock (due times are t0 + offset)."""
        return self._call("tail", {"schedule": schedule, "lead_s": lead_s})

    def tail_log(self, timeout: float = 120.0) -> list:
        return self._call("tail_log", timeout=timeout)

    def close(self) -> None:
        if self._proc.poll() is None:
            try:
                self._send({"cmd": "stop"})
                self._proc.stdin.close()
            except (BrokenPipeError, OSError):
                pass
            try:
                self._proc.wait(10)
            except subprocess.TimeoutExpired:
                self._proc.kill()
                self._proc.wait()
        self._proc.stdout.close()



if __name__ == "__main__":
    serve(sys.stdin, sys.stdout)
