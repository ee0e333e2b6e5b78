"""Tests of the benchmark's own parts.

    python3 -m pytest perfbench/ -q
"""

from __future__ import annotations

import os
import subprocess
import sys
from collections import Counter

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import corpus, proctree, run  # noqa: E402
from perfbench.workloads import WordCountWorkload, check_job_output, wc_map  # noqa: E402

BURN = "import time\nt = time.process_time()\nwhile time.process_time() - t < {s}: pass\n"


def test_tree_cpu_counts_a_reaped_child():
    before = proctree.usage()
    subprocess.run([sys.executable, "-c", BURN.format(s=0.5)], check=True)
    spent = proctree.usage().cpu_s - before.cpu_s
    assert 0.45 <= spent < 1.5


def test_tree_sees_a_live_child_and_its_cpu():
    child = subprocess.Popen(
        [sys.executable, "-c", BURN.format(s=0.3) + "print('ready', flush=True)\ninput()\n"],
        stdin=subprocess.PIPE,
        stdout=subprocess.PIPE,
        text=True,
    )
    try:
        assert child.stdout.readline().strip() == "ready"
        procs = {p.pid: p for p in proctree.snapshot()}
        assert child.pid in procs
        assert procs[child.pid].cpu_s >= 0.25
        assert procs[child.pid].peak_rss_mb > 0
        assert not proctree.is_python_worker(procs[child.pid])
    finally:
        child.communicate("\n", timeout=30)
    assert child.returncode == 0


def test_tail_is_the_highest_percentile_with_ten_beyond():
    xs = [float(i) for i in range(1, 31)]
    assert run.tail(xs) == (20.0, pytest.approx(100 * 20 / 30))
    assert run.tail([3.0, 1.0, 2.0]) == (3.0, 100.0)


def test_corpus_is_seeded_and_has_the_fixture_traits(tmp_path):
    a = corpus.wordcount_corpus(str(tmp_path / "a"), 7, 0.02)
    b = corpus.wordcount_corpus(str(tmp_path / "b"), 7, 0.02)
    c = corpus.wordcount_corpus(str(tmp_path / "c"), 8, 0.02)

    def files(cp):
        return {n: open(os.path.join(cp.input_dir, n), "rb").read() for n in sorted(os.listdir(cp.input_dir))}

    assert files(a) == files(b) != files(c)
    assert len(files(a)) == corpus.N_FILES
    text = b"".join(files(a).values()).decode("utf-8")
    lines = text.split("\n")
    assert "" in lines and any("\t" in line for line in lines)
    assert any(not w.isascii() for w in text.split())
    predicted = Counter(w for line in lines for w in line.split())
    assert a.expected_lines() == Counter(f"{w}\t{n}" for w, n in predicted.items())


def _write_parts(out, parts):
    out.mkdir()
    for i, lines in enumerate(parts):
        (out / f"part-{i:05d}").write_text("".join(line + "\n" for line in lines), encoding="utf-8")


def test_job_output_check_finds_each_kind_of_error(tmp_path):
    # md5(key) % 2: "e" -> 0; "a", "b" -> 1
    expected = Counter(["a\t1", "b\t1", "e\t1"])
    _write_parts(tmp_path / "good", [["e\t1"], ["a\t1", "b\t1"]])
    assert check_job_output(str(tmp_path / "good"), 2, expected) == []

    _write_parts(tmp_path / "unsorted", [["e\t1"], ["b\t1", "a\t1"]])
    assert any("not sorted" in p for p in check_job_output(str(tmp_path / "unsorted"), 2, expected))

    _write_parts(tmp_path / "misplaced", [["a\t1", "e\t1"], ["b\t1"]])
    assert any("belong in other parts" in p for p in check_job_output(str(tmp_path / "misplaced"), 2, expected))

    _write_parts(tmp_path / "short", [["e\t1"]])
    problems = check_job_output(str(tmp_path / "short"), 2, expected)
    assert any("part files" in p for p in problems) and any("missing" in p for p in problems)


@pytest.fixture(scope="module")
def spark():
    conf = run.pin_environment()
    from map_reduce485_spark import get_spark

    s = get_spark("perfbench-tests", cpus=2, shuffle_partitions=2, extra_conf=conf)
    yield s
    s.stop()


def test_wrong_reducer_counts_as_failed_not_fatal(spark, tmp_path):
    def off_by_one(key, values):
        yield f"{key}\t{sum(int(v) for v in values) + 1}"

    good = WordCountWorkload(0.02, 3, str(tmp_path), 2)
    bad = WordCountWorkload(0.02, 3, str(tmp_path), 2, reducer=off_by_one)
    results = {}
    for name, workload in (("good", good), ("bad", bad)):
        workload.prepare()
        r = run.Run(workload, spark, None)
        r.op("wordcount", traced=False)
        results[name] = r
    assert (results["good"].attempted, results["good"].failed) == (1, 0)
    assert (results["bad"].attempted, results["bad"].failed) == (1, 1)
    assert results["bad"].end_to_end()["total_s"] > 0


def test_traced_job_counts_records(spark, tmp_path):
    from perfbench.layers import Tracer

    workload = WordCountWorkload(0.02, 4, str(tmp_path), 2)
    workload.prepare()
    r = run.Run(workload, spark, Tracer(spark))
    r.op("wordcount", traced=True)
    assert r.failed == 0
    rec = r.records["wordcount"][0]
    lines = [
        line
        for n in sorted(os.listdir(workload.corpus.input_dir))
        for line in corpus.read_lines(os.path.join(workload.corpus.input_dir, n))
    ]
    assert rec["mapreduce.map_in_records"] == len(lines) == workload.corpus.input_lines
    assert rec["mapreduce.map_out_records"] == sum(len(line.split()) for line in lines)
    assert rec["mapreduce.reduce_groups"] == rec["mapreduce.out_records"] == len(workload.expected)
    assert rec["operators.stages"] == 2 and rec["mapreduce.shuffle_mb"] > 0
    assert rec["mapreduce.map_stage_s"] > 0 and rec["mapreduce.reduce_stage_s"] > 0


def test_wordcount_mapper_splits_on_all_whitespace():
    assert wc_map("a\tb  c") == ["a\t1", "b\t1", "c\t1"]
