"""Cluster lifecycle tooling — the ``bin/mapreduce`` analog (reference
``bin/mapreduce:14-103``, SURVEY.md §2.a op #18).

The reference script spawns 1 manager (port 6000) + 2 workers as OS
processes, logs under ``var/log/``, stops them by netcat-ing a ``shutdown``
message, and checks liveness with ``pgrep``.  The Spark-native analog keeps
the same four verbs and the same wire idea, collapsed onto Spark's process
model:

- ``start``  — spawn ONE detached manager process hosting the SparkSession
  and a FIFO :class:`~map_reduce485_spark.mapreduce.job.JobQueue`;
  Spark's executors are the workers (local[N] threads here; on a real
  cluster the same manager runs under ``spark-submit`` and YARN/k8s owns
  worker lifecycle — reference ops #12-#16 are Spark built-ins either way).
  Logs land in ``var/log/manager.log``, pid in ``var/run/manager.pid``.
- ``stop``   — send ``{"message_type": "shutdown"}`` over TCP (the
  reference's netcat move, ``bin/mapreduce:43``) and wait for exit.
- ``status`` — liveness via pidfile + a live TCP ping that also returns
  per-job states (richer than the reference's ``pgrep``).
- ``restart``— stop then start.

Control protocol: one newline-terminated JSON dict per connection,
discriminated by ``message_type`` — the shape of the reference's wire API
(``submit.py:70-85``, SURVEY.md §1.4) with a reply (the reference submit is
fire-and-forget; returning the assigned job_id makes ``status`` usable).

``submit``/``job-status``/``wait`` verbs round out the client side so the
whole reference workflow — start cluster, submit word count, poll, stop —
runs through this one CLI (see ``tests/test_cluster.py``).
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import socket
import socketserver
import subprocess
import sys
import threading
import time
from pathlib import Path

DEFAULT_PORT = 6000  # the reference manager port (bin/mapreduce:24)
DEFAULT_VAR = "var"  # pidfile + logs live here, like the reference's var/log


# ---------------------------------------------------------------------------
# wire helpers
# ---------------------------------------------------------------------------


def send_message(port: int, msg: dict, host: str = "127.0.0.1", timeout: float = 30.0) -> dict:
    """One request/reply round-trip: newline-terminated JSON both ways."""
    with socket.create_connection((host, port), timeout=timeout) as s:
        s.sendall((json.dumps(msg) + "\n").encode("utf-8"))
        line = s.makefile("r", encoding="utf-8").readline()
    return json.loads(line) if line else {}


# ---------------------------------------------------------------------------
# manager process (the `serve` verb — what `start` spawns)
# ---------------------------------------------------------------------------


_JOB_FIELDS = ("input_directory", "output_directory", "mapper_executable", "reducer_executable")


def dispatch(queue, line: bytes | str) -> dict:
    """The manager's reply to one request line.  Bad input — not JSON, not
    an object, a missing field, an unknown job — gets ``{"error": ...}``
    instead of an exception, so the client always hears back."""
    try:
        msg = json.loads(line)
    except ValueError:
        return {"error": "invalid json"}
    if not isinstance(msg, dict):
        return {"error": "request must be a JSON object"}
    mt = msg.get("message_type")
    if mt == "new_manager_job":
        from map_reduce485_spark.mapreduce.job import JobRequest

        missing = [k for k in _JOB_FIELDS if k not in msg]
        if missing:
            return {"error": f"new_manager_job missing {', '.join(missing)}"}
        try:
            n_map, n_red = int(msg.get("num_mappers", 2)), int(msg.get("num_reducers", 2))
        except (TypeError, ValueError):
            return {"error": "num_mappers and num_reducers must be integers"}
        request = JobRequest(
            **{k: msg[k] for k in _JOB_FIELDS}, num_mappers=n_map, num_reducers=n_red
        )
        return {"job_id": queue.submit(request)}
    if mt == "job_status":
        try:
            jid = int(msg["job_id"])
        except (KeyError, TypeError, ValueError):
            jid = None
        if jid not in queue.snapshot():
            return {"error": f"unknown job_id {msg.get('job_id')!r}"}
        return {"job_id": jid, "status": queue.status(jid), "error": queue.error(jid)}
    if mt == "status":
        return {"alive": True, "jobs": queue.snapshot()}
    if mt == "shutdown":
        return {"ok": True}
    return {"error": f"unknown message_type {mt!r}"}


def serve(port: int, cpus: int) -> None:
    from map_reduce485_spark.mapreduce.job import JobQueue
    from map_reduce485_spark.session import get_spark

    spark = get_spark("mr485-manager", cpus=cpus)
    queue = JobQueue(spark)

    class Handler(socketserver.StreamRequestHandler):
        def handle(self) -> None:
            line = self.rfile.readline()
            if not line:
                return
            reply = dispatch(queue, line)
            self.wfile.write((json.dumps(reply) + "\n").encode("utf-8"))
            if reply.get("ok"):  # only a shutdown request is answered "ok"
                # shutdown() must come from outside the serve_forever thread;
                # handler threads qualify, but do it async so the reply flushes
                threading.Thread(target=self.server.shutdown, daemon=True).start()

    class Server(socketserver.ThreadingTCPServer):
        allow_reuse_address = True
        daemon_threads = True

    with Server(("127.0.0.1", port), Handler) as server:
        print(f"manager ready on port {port}", flush=True)
        server.serve_forever()
    queue.shutdown()
    spark.stop()


# ---------------------------------------------------------------------------
# lifecycle verbs (client side)
# ---------------------------------------------------------------------------


def _pidfile(var: str) -> Path:
    return Path(var) / "run" / "manager.pid"


def _read_pid(var: str) -> int | None:
    try:
        return int(_pidfile(var).read_text().strip())
    except (FileNotFoundError, ValueError):
        return None


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
        return True
    except (ProcessLookupError, PermissionError):
        return False


def _ping(port: int, timeout: float = 5.0) -> dict | None:
    try:
        return send_message(port, {"message_type": "status"}, timeout=timeout)
    except OSError:
        return None


def start(port: int, cpus: int, var: str, wait_ready: float = 120.0) -> int:
    pid = _read_pid(var)
    if pid is not None and _pid_alive(pid):
        print(f"manager already running (pid {pid})")
        return 1
    logdir = Path(var) / "log"
    logdir.mkdir(parents=True, exist_ok=True)
    _pidfile(var).parent.mkdir(parents=True, exist_ok=True)
    log = open(logdir / "manager.log", "ab")
    proc = subprocess.Popen(
        [
            sys.executable,
            "-m",
            "map_reduce485_spark.mapreduce.cluster",
            "serve",
            "--port",
            str(port),
            "--cpus",
            str(cpus),
        ],
        stdout=log,
        stderr=log,
        start_new_session=True,  # survives the CLI exiting, like nohup &
    )
    _pidfile(var).write_text(str(proc.pid))
    deadline = time.monotonic() + wait_ready
    while time.monotonic() < deadline:
        if proc.poll() is not None:
            print(f"manager died during startup; see {logdir / 'manager.log'}")
            return 1
        if _ping(port) is not None:
            print(f"manager started (pid {proc.pid}, port {port})")
            return 0
        time.sleep(0.25)
    print("manager did not become ready in time")
    return 1


def stop(port: int, var: str, wait_exit: float = 60.0) -> int:
    pid = _read_pid(var)
    try:
        send_message(port, {"message_type": "shutdown"}, timeout=10.0)
    except OSError:
        if pid is None or not _pid_alive(pid):
            print("manager not running")
            return 1
        os.kill(pid, signal.SIGTERM)  # unreachable port but live pid
    if pid is not None:
        deadline = time.monotonic() + wait_exit
        while time.monotonic() < deadline and _pid_alive(pid):
            time.sleep(0.25)
        if _pid_alive(pid):
            print(f"manager (pid {pid}) did not exit; sending SIGKILL")
            os.kill(pid, signal.SIGKILL)
    _pidfile(var).unlink(missing_ok=True)
    print("manager stopped")
    return 0


def status(port: int, var: str) -> int:
    pid = _read_pid(var)
    alive = pid is not None and _pid_alive(pid)
    ping = _ping(port)
    if ping is not None:
        print(f"manager running (pid {pid}, port {port}); jobs: {ping.get('jobs', {})}")
        return 0
    print(f"manager not responding (pidfile: {pid}, pid alive: {alive})")
    return 1


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="mapreduce-cluster", description=__doc__.splitlines()[0])
    p.add_argument("verb", choices=["start", "stop", "status", "restart", "serve", "submit", "wait"])
    p.add_argument("--port", type=int, default=DEFAULT_PORT)
    p.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    p.add_argument("--var", default=DEFAULT_VAR, help="state dir (pidfile, logs)")
    # submit/wait options; --input/--mapper/--reducer are required by submit
    p.add_argument("--input", "-i")
    p.add_argument("--output", "-o", default="output")
    p.add_argument("--mapper", "-m")
    p.add_argument("--reducer", "-r")
    p.add_argument("--nmappers", type=int, default=2)
    p.add_argument("--nreducers", type=int, default=2)
    p.add_argument("--job-id", type=int, default=None)
    p.add_argument("--timeout", type=float, default=300.0)
    args = p.parse_args(argv)

    if args.verb == "serve":
        serve(args.port, args.cpus)
        return 0
    if args.verb == "start":
        return start(args.port, args.cpus, args.var)
    if args.verb == "stop":
        return stop(args.port, args.var)
    if args.verb == "status":
        return status(args.port, args.var)
    if args.verb == "restart":
        rc = stop(args.port, args.var)
        return start(args.port, args.cpus, args.var) if rc in (0, 1) else rc
    if args.verb == "submit":
        missing = [f"--{k}" for k in ("input", "mapper", "reducer") if getattr(args, k) is None]
        if missing:
            p.error(f"submit requires {', '.join(missing)}")
        reply = send_message(
            args.port,
            {
                "message_type": "new_manager_job",
                "input_directory": args.input,
                "output_directory": args.output,
                "mapper_executable": args.mapper,
                "reducer_executable": args.reducer,
                "num_mappers": args.nmappers,
                "num_reducers": args.nreducers,
            },
        )
        print(json.dumps(reply))
        return 0 if "job_id" in reply else 1
    if args.verb == "wait":
        deadline = time.monotonic() + args.timeout
        while time.monotonic() < deadline:
            reply = send_message(
                args.port, {"message_type": "job_status", "job_id": args.job_id}
            )
            if reply.get("status") in ("succeeded", "failed"):
                print(json.dumps(reply))
                return 0 if reply["status"] == "succeeded" else 1
            if "status" not in reply and reply.get("error"):  # a rejected request
                print(json.dumps(reply))
                return 1
            time.sleep(0.25)
        print(json.dumps({"job_id": args.job_id, "status": "timeout"}))
        return 1
    return 2


if __name__ == "__main__":
    sys.exit(main())
