"""Lifecycle CLI smoke (SURVEY.md §2.a op #18): start → submit → status →
wait → stop, end to end through the `bin/mapreduce` analog, against a real
manager subprocess hosting its own SparkSession."""

from __future__ import annotations

import socket
import subprocess
import sys
from pathlib import Path

import pytest

from map_reduce485_spark.mapreduce import cluster, submit
from map_reduce485_spark.mapreduce.cluster import send_message, start, status, stop


def _free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def test_cluster_lifecycle_end_to_end(tmp_path):
    port = _free_port()
    var = str(tmp_path / "var")

    in_dir = tmp_path / "input"
    in_dir.mkdir()
    (in_dir / "a.txt").write_text("apple banana apple\ncherry\n")
    (in_dir / "b.txt").write_text("banana apple\n")
    mapper = tmp_path / "wc_map.sh"
    mapper.write_text("#!/bin/sh\ntr ' ' '\\n' | awk 'NF {print $0 \"\\t1\"}'\n")
    reducer = tmp_path / "wc_reduce.sh"
    reducer.write_text(
        "#!/bin/sh\nawk -F'\\t' '{c[$1]+=$2} END {for (k in c) print k \"\\t\" c[k]}'\n"
    )
    out_dir = tmp_path / "out"

    assert start(port, cpus=4, var=var) == 0
    try:
        assert status(port, var) == 0

        reply = send_message(
            port,
            {
                "message_type": "new_manager_job",
                "input_directory": str(in_dir),
                "output_directory": str(out_dir),
                "mapper_executable": f"sh {mapper}",
                "reducer_executable": f"sh {reducer}",
                "num_mappers": 2,
                "num_reducers": 2,
            },
        )
        job_id = reply["job_id"]

        rc = subprocess.run(
            [
                sys.executable,
                "-m",
                "map_reduce485_spark.mapreduce.cluster",
                "wait",
                "--port",
                str(port),
                "--job-id",
                str(job_id),
                "--timeout",
                "180",
            ],
            capture_output=True,
            text=True,
        )
        assert rc.returncode == 0, rc.stdout + rc.stderr

        counts: dict[str, int] = {}
        for part in Path(out_dir).glob("part-*"):
            for line in part.read_text().splitlines():
                w, c = line.split("\t")
                counts[w] = counts.get(w, 0) + int(c)
        assert counts == {"apple": 3, "banana": 2, "cherry": 1}

        st = send_message(port, {"message_type": "job_status", "job_id": job_id})
        assert st["status"] == "succeeded"
    finally:
        assert stop(port, var) == 0
    assert status(port, var) == 1  # really gone


@pytest.mark.parametrize(
    "main, argv", [(submit.main, []), (cluster.main, ["submit"])], ids=["submit", "cluster"]
)
def test_submit_requires_input_mapper_reducer(main, argv, capsys):
    """No defaults point at missing files: argument parsing rejects the call
    before any Spark session or manager connection."""
    with pytest.raises(SystemExit) as exc:
        main(argv)
    assert exc.value.code == 2
    err = capsys.readouterr().err
    for flag in ("--input", "--mapper", "--reducer"):
        assert flag in err
    assert "--output" not in err.splitlines()[-1]


def test_dispatch_answers_bad_requests():
    """Bad input gets an error reply instead of a dropped connection."""
    from map_reduce485_spark.mapreduce.job import JobQueue

    queue = JobQueue(None)  # no submissions, so no Spark session is needed
    try:
        for line in [
            b"not json",
            b"[1, 2]",
            b'{"message_type": "job_status", "job_id": 99}',
            b'{"message_type": "job_status"}',
            b'{"message_type": "new_manager_job", "input_directory": "in"}',
            b'{"message_type": "no_such_verb"}',
        ]:
            reply = cluster.dispatch(queue, line)
            assert list(reply) == ["error"], (line, reply)
        assert queue.snapshot() == {}
        assert cluster.dispatch(queue, b'{"message_type": "status"}') == {
            "alive": True,
            "jobs": {},
        }
    finally:
        queue.shutdown()


def test_wait_exits_on_error_reply(monkeypatch, capsys):
    """`wait` reports a rejected request at once instead of polling until
    --timeout."""
    calls = []

    def fake_send(port, msg, **kw):
        calls.append(msg)
        return {"error": "unknown job_id 99"}

    monkeypatch.setattr(cluster, "send_message", fake_send)
    assert cluster.main(["wait", "--job-id", "99", "--timeout", "2"]) == 1
    assert len(calls) == 1
    out = capsys.readouterr().out
    assert "unknown job_id 99" in out and "timeout" not in out
