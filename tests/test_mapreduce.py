"""Layer A golden tests: the reference's canonical jobs (SURVEY.md §5)
run through MapReduceJob — word count, grep, distinct, inverted index,
identity-sort, reduce-side join — and the batched shuffle's map-side
placement, reduce-side spilling sort and job shape."""

from __future__ import annotations

import hashlib
import itertools
import uuid
from collections import Counter
from pathlib import Path

import pytest

from map_reduce485_spark.mapreduce import JobRequest, MapReduceJob, md5_partition
from map_reduce485_spark.mapreduce.job import extract_key
from tests.conftest import run_python


@pytest.fixture()
def text_input(tmp_path: Path) -> Path:
    ind = tmp_path / "input"
    ind.mkdir()
    (ind / "a.txt").write_text("the quick brown fox\nthe lazy dog\n\nthe end\n")
    (ind / "b.txt").write_text("quick quick fox\nüber fox\n")
    (ind / "c.txt").write_text("tab\there stays\n")
    return ind


def read_parts(out: Path) -> list[tuple[int, list[str]]]:
    parts = sorted(p for p in out.iterdir() if p.name.startswith("part-"))
    return [(i, p.read_text().splitlines()) for i, p in enumerate(parts)]


def make_wc():
    """Nested defs → cloudpickle serializes by value (module-level test
    functions aren't importable on Spark's Python workers)."""

    def wc_map(line: str):
        for w in line.split():
            yield f"{w}\t1"

    def wc_reduce(key: str, values):
        yield f"{key}\t{sum(int(v) for v in values)}"

    return wc_map, wc_reduce


EXPECTED_WC = {
    "the": 3,
    "quick": 3,
    "brown": 1,
    "fox": 3,
    "lazy": 1,
    "dog": 1,
    "end": 1,
    "über": 1,
    "tab\there": 1,  # str.split() splits on the tab: 'tab', 'here'... see below
}


def test_wordcount_callable(spark, text_input, tmp_path):
    out = tmp_path / "out"
    wc_map, wc_reduce = make_wc()
    MapReduceJob(spark, JobRequest(str(text_input), str(out), wc_map, wc_reduce, 2, 2)).run()
    got: dict[str, int] = {}
    for _, lines in read_parts(out):
        for line in lines:
            k, v = line.split("\t", 1)
            got[k] = got.get(k, 0) + int(v)
    # python str.split() splits the embedded tab into two words
    assert got["the"] == 3 and got["quick"] == 3 and got["fox"] == 3
    assert got["über"] == 1 and got["tab"] == 1 and got["here"] == 1
    assert sum(got.values()) == 17


def test_wordcount_executable(spark, text_input, tmp_path):
    """Bit-faithful executable contract via RDD.pipe (reference
    worker/__main__.py:105-110)."""
    mapper = tmp_path / "map.sh"
    mapper.write_text("#!/bin/sh\ntr ' \\t' '\\n\\n' | awk 'NF {print $0 \"\\t1\"}'\n")
    reducer = tmp_path / "red.sh"
    reducer.write_text(
        "#!/bin/sh\nawk -F'\\t' '{c[$1]+=$2} END {for (k in c) print k \"\\t\" c[k]}'\n"
    )
    out = tmp_path / "out"
    MapReduceJob(
        spark,
        JobRequest(str(text_input), str(out), f"sh {mapper}", f"sh {reducer}", 2, 3),
    ).run()
    got: dict[str, int] = {}
    for _, lines in read_parts(out):
        for line in lines:
            k, v = line.split("\t", 1)
            got[k] = got.get(k, 0) + int(v)
    assert got["the"] == 3 and got["fox"] == 3 and got["über"] == 1
    assert sum(got.values()) == 17


def test_md5_placement_and_sorted_runs(spark, text_input, tmp_path):
    """Reference parity: key→partition by md5 (worker/__main__.py:117-121);
    reduce input sorted by whole line (worker/__main__.py:161,201) — with an
    identity reducer the output preserves that order per part file."""
    out = tmp_path / "out"
    num_r = 3
    wc_map, _ = make_wc()

    def identity_reduce(key, values):
        for v in values:
            yield f"{key}\t{v}" if v else key

    MapReduceJob(
        spark, JobRequest(str(text_input), str(out), wc_map, identity_reduce, 2, num_r)
    ).run()
    for pid, lines in read_parts(out):
        assert lines == sorted(lines), f"part {pid} not whole-line sorted"
        for line in lines:
            assert md5_partition(extract_key(line), num_r) == pid


def test_identity_sort_single_reducer(spark, text_input, tmp_path):
    """1 reducer ⇒ globally sorted output (reference global-sort idiom,
    SURVEY.md §2.b)."""
    out = tmp_path / "out"
    MapReduceJob(
        spark,
        JobRequest(str(text_input), str(out), lambda l: [l] if l else [], "cat", 2, 1),
    ).run()
    parts = read_parts(out)
    assert len(parts) == 1
    lines = parts[0][1]
    assert lines == sorted(lines)
    assert len(lines) == 6  # non-empty input lines


def test_grep_job(spark, text_input, tmp_path):
    out = tmp_path / "out"
    MapReduceJob(
        spark,
        JobRequest(
            str(text_input),
            str(out),
            lambda l: [l] if "fox" in l else [],
            "cat",
            2,
            1,
        ),
    ).run()
    lines = read_parts(out)[0][1]
    assert len(lines) == 3 and all("fox" in l for l in lines)


def test_inverted_index_job(spark, tmp_path):
    ind = tmp_path / "input"
    ind.mkdir()
    (ind / "d0.txt").write_text("apple banana\n")
    (ind / "d1.txt").write_text("banana cherry\n")

    def ii_map_factory():
        # emulate per-file doc ids via content marker
        def m(line):
            doc = "d0" if "apple" in line else "d1"
            for w in line.split():
                yield f"{w}\t{doc}"

        return m

    def ii_reduce(key, values):
        yield f"{key}\t{','.join(sorted(set(values)))}"

    out = tmp_path / "out"
    MapReduceJob(spark, JobRequest(str(ind), str(out), ii_map_factory(), ii_reduce, 1, 1)).run()
    got = dict(l.split("\t", 1) for l in read_parts(out)[0][1])
    assert got == {"apple": "d0", "banana": "d0,d1", "cherry": "d1"}


def test_reduce_side_join(spark, tmp_path):
    """Reduce-side equi-join (SURVEY.md §2.b): tagged records, key-grouped
    merge in the reducer."""
    ind = tmp_path / "input"
    ind.mkdir()
    (ind / "users.txt").write_text("U\t1\talice\nU\t2\tbob\n")
    (ind / "orders.txt").write_text("O\t1\tbook\nO\t1\tpen\nO\t2\tmug\n")

    def jmap(line):
        tag, key, val = line.split("\t")
        yield f"{key}\t{tag}:{val}"

    def jreduce(key, values):
        vals = list(values)
        users = [v[2:] for v in vals if v.startswith("U:")]
        orders = [v[2:] for v in vals if v.startswith("O:")]
        for u in users:
            for o in orders:
                yield f"{key}\t{u}\t{o}"

    out = tmp_path / "out"
    MapReduceJob(spark, JobRequest(str(ind), str(out), jmap, jreduce, 2, 2)).run()
    rows = sorted(l for _, lines in read_parts(out) for l in lines)
    assert rows == ["1\talice\tbook", "1\talice\tpen", "2\tbob\tmug"]


def test_overwrite_semantics(spark, text_input, tmp_path):
    """Output dir cleared per job (reference manager/__main__.py:95-101)."""
    out = tmp_path / "out"
    out.mkdir()
    (out / "stale.txt").write_text("leftover\n")
    wc_map, wc_reduce = make_wc()
    MapReduceJob(spark, JobRequest(str(text_input), str(out), wc_map, wc_reduce, 1, 1)).run()
    assert not (out / "stale.txt").exists()
    assert any(p.name.startswith("part-") for p in out.iterdir())


def test_overwrite_file_uri_twice(spark, text_input, tmp_path):
    """Round-5 verdict item 6: the overwrite path goes through the Hadoop
    FileSystem API, so the SAME job run twice against a ``file:``-URI
    output (the non-local-pathlib shape a cluster output dir has) succeeds
    — the second run clears the first run's part files instead of failing
    on an existing directory."""
    out_uri = f"file://{tmp_path}/out_uri"
    wc_map, wc_reduce = make_wc()
    req = JobRequest(str(text_input), out_uri, wc_map, wc_reduce, 1, 1)
    MapReduceJob(spark, req).run()
    first = sorted((tmp_path / "out_uri").glob("part-*"))
    assert first
    MapReduceJob(spark, req).run()
    rows = sorted(
        l
        for p in (tmp_path / "out_uri").glob("part-*")
        for l in p.read_text().splitlines()
    )
    assert {tuple(r.split("\t", 1)) for r in rows} >= {("the", "3"), ("fox", "3")}


def test_delete_output_dir_fs_api(spark, tmp_path):
    """Unit test of the Hadoop-FS delete branch: deletes an existing dir
    (returns True) through a file: URI, and is a no-op returning False on a
    missing path."""
    from map_reduce485_spark.mapreduce.job import delete_output_dir

    d = tmp_path / "victim"
    (d / "nested").mkdir(parents=True)
    (d / "nested" / "x.txt").write_text("bye\n")
    assert delete_output_dir(spark, f"file://{d}") is True
    assert not d.exists()
    assert delete_output_dir(spark, f"file://{d}") is False
    # plain local path (no scheme) resolves through the same API
    e = tmp_path / "victim2"
    e.mkdir()
    assert delete_output_dir(spark, str(e)) is True
    assert not e.exists()


def test_job_queue_fifo_status(spark, text_input, tmp_path):
    """Multi-job FIFO queue with monotonic ids + status lifecycle (reference
    op #11, manager/__main__.py:89-104; fixes the one-job quirk at :217)."""
    from map_reduce485_spark.mapreduce import JobQueue, JobRequest

    wc_map, wc_reduce = make_wc()
    q = JobQueue(spark)
    out1, out2 = tmp_path / "o1", tmp_path / "o2"
    j1 = q.submit(JobRequest(str(text_input), str(out1), wc_map, wc_reduce, 1, 1))
    j2 = q.submit(JobRequest(str(text_input), str(out2), wc_map, wc_reduce, 1, 2))
    assert (j1, j2) == (0, 1)
    assert q.wait(j1) == "succeeded"
    assert q.wait(j2) == "succeeded"
    assert any(p.name.startswith("part-") for p in out1.iterdir())
    assert sum(p.name.startswith("part-") for p in out2.iterdir()) == 2

    # a failing job reports failed (+ error) and does not wedge the queue
    j3 = q.submit(JobRequest("/nonexistent-input-dir", str(tmp_path / "o3"), wc_map, wc_reduce, 1, 1))
    assert q.wait(j3) == "failed"
    assert q.error(j3)
    j4 = q.submit(JobRequest(str(text_input), str(tmp_path / "o4"), wc_map, wc_reduce, 1, 1))
    assert q.wait(j4) == "succeeded"
    q.shutdown()


def test_wordcount_gzip_input(spark, tmp_path):
    """Compressed text input works through the same job (the reference
    streams raw bytes only; gzip decode is a Spark-native upgrade)."""
    import gzip

    ind = tmp_path / "gzin"
    ind.mkdir()
    with gzip.open(ind / "a.txt.gz", "wt") as f:
        f.write("alpha beta\nalpha\n")
    wc_map, wc_reduce = make_wc()
    out = tmp_path / "gzout"
    MapReduceJob(spark, JobRequest(str(ind), str(out), wc_map, wc_reduce, 1, 1)).run()
    counts = {}
    for _, lines in read_parts(out):
        for line in lines:
            k, v = line.split("\t", 1)
            counts[k] = counts.get(k, 0) + int(v)
    assert counts == {"alpha": 2, "beta": 1}


def test_stateful_mapper_runs_per_partition_not_per_file(spark, tmp_path):
    """Pin the documented divergence from the reference (SURVEY.md §7.3,
    job.py:_apply_mapper): the reference spawns the mapper executable once
    per input FILE (worker/__main__.py:104-110); RDD.pipe spawns it once per
    PARTITION.  For the line-streaming contract (stateless per line) the
    two are equivalent; a mapper carrying cross-line state observes the
    difference.  This test uses such a mapper — awk counting its own input
    lines, emitting one record per invocation — and asserts (a) aggregate
    totals are invariant anyway, and (b) the invocation count equals the
    partition count of the input RDD, NOT the file count, which is the
    stated assumption."""
    ind = tmp_path / "input"
    ind.mkdir()
    # 2 files, num_mappers=4: Hadoop byte-range splitting makes >2 splits,
    # so per-partition invocations must exceed the reference's per-file count
    (ind / "a.txt").write_text("one\ntwo\nthree\nfour\nfive\nsix\nseven\neight\n")
    (ind / "b.txt").write_text("ichi\nni\nsan\nshi\ngo\nroku\n")
    n_lines = 14
    n_mappers = 4

    # one `invocations\t<line-count>` record per mapper process
    mapper = "awk '{n++} END {print \"invocations\\t\" n}'"
    reducer_sh = tmp_path / "sum_count.sh"
    reducer_sh.write_text(
        "#!/bin/sh\n"
        "awk -F'\\t' '{s[$1]+=$2; c[$1]++} END {for (k in s) print k \"\\t\" s[k] \"\\t\" c[k]}'\n"
    )
    out = tmp_path / "out"
    MapReduceJob(
        spark,
        JobRequest(str(ind), str(out), mapper, f"sh {reducer_sh}", n_mappers, 1),
    ).run()

    expected_partitions = spark.sparkContext.textFile(
        str(ind), minPartitions=n_mappers
    ).getNumPartitions()
    assert expected_partitions > 2  # the premise: more partitions than files

    rows = [line for _, lines in read_parts(out) for line in lines]
    assert len(rows) == 1
    key, total, n_invocations = rows[0].split("\t")
    assert key == "invocations"
    assert int(total) == n_lines  # aggregate invariant under granularity
    # per-partition, not per-file: 2 files but `expected_partitions` spawns
    assert int(n_invocations) == expected_partitions


# -- batched shuffle -----------------------------------------------------------

_PLACE_LINES = [
    "über\t1",
    "über\t2",
    "中文\tx",
    "🎉",  # tab-less: all key
    "",  # empty: key ""
    "\tvalue only",  # key ""
    "fox\t1\textra tab",
    "a b\t1",
] * 9 + [f"k{i}\t{i}" for i in range(40)]


@pytest.mark.parametrize("num_r", [1, 3, 1000])
def test_place_lines_buckets_by_md5_within_caps(monkeypatch, num_r):
    """The map-side generator, without Spark: every batch for reducer p
    holds only lines whose key md5-places in p, no line is lost or added,
    a flush never buffers more than BATCH_LINES lines, and the memo never
    holds more than MEMO_KEYS keys."""
    from map_reduce485_spark.mapreduce import job

    monkeypatch.setattr(job, "BATCH_LINES", 7)
    monkeypatch.setattr(job, "MEMO_KEYS", 5)
    gen = job.place_lines(iter(_PLACE_LINES), num_r)
    got: Counter = Counter()
    for part, batch in gen:
        local = gen.gi_frame.f_locals
        assert sum(map(len, local["buckets"].values())) <= 7
        assert len(local["memo"]) <= 5
        assert 0 <= part < num_r and batch
        assert all(md5_partition(extract_key(line), num_r) == part for line in batch)
        got.update(batch)
    assert got == Counter(_PLACE_LINES)


def test_place_lines_hashes_each_key_once(monkeypatch):
    """Under the memo cap, a task hashes each distinct key exactly once."""
    from map_reduce485_spark.mapreduce import job

    calls: list[str] = []

    def counted(key, n):
        calls.append(key)
        return md5_partition(key, n)

    monkeypatch.setattr(job, "md5_partition", counted)
    batches = list(job.place_lines(_PLACE_LINES, 3))
    assert sorted(calls) == sorted({extract_key(line) for line in _PLACE_LINES})
    assert sum(len(b) for _, b in batches) == len(_PLACE_LINES)


def test_sort_lines_spills_and_merges_in_order(monkeypatch, tmp_path):
    """The reduce-side sort, without Spark: once the worker's memory passes
    the budget, sorted runs go to disk and the merge still yields every
    line in codepoint order."""
    from pyspark import shuffle

    from map_reduce485_spark.mapreduce.job import sort_lines

    monkeypatch.setenv("SPARK_LOCAL_DIRS", str(tmp_path))
    rss = itertools.count(100, 10)  # MiB, growing on every poll
    monkeypatch.setattr(shuffle, "get_used_memory", lambda: next(rss))
    monkeypatch.setattr(shuffle, "DiskBytesSpilled", 0)
    lines = [line for i in range(3000) for line in (f"w{(i * 7919) % 211}\t{i % 7}", "über", "")]
    batches = [lines[i : i + 500] for i in range(0, len(lines), 500)]
    assert list(sort_lines(batches, 1)) == sorted(lines)
    assert shuffle.DiskBytesSpilled > 0


def _stop_on(word: str):
    """A word-count mapper and reducer that raise StopIteration from plain
    (non-generator) functions when they meet ``word``."""

    def stop_map(line):
        if word in line.split():
            raise StopIteration
        return [f"{w}\t1" for w in line.split()]

    def stop_reduce(key, values):
        if key == word:
            raise StopIteration
        return [f"{key}\t{sum(int(v) for v in values)}"]

    return stop_map, stop_reduce


@pytest.mark.parametrize("side", ["mapper", "reducer"])
def test_stop_iteration_fails_job(spark, text_input, tmp_path, side):
    """A StopIteration escaping the user's mapper or reducer fails the job
    rather than silently truncating the rest of the partition."""
    stop_map, stop_reduce = _stop_on("lazy")
    wc_map, wc_reduce = make_wc()
    mapper, reducer = (stop_map, wc_reduce) if side == "mapper" else (wc_map, stop_reduce)
    out = tmp_path / "out"
    with pytest.raises(Exception, match="StopIteration"):
        MapReduceJob(spark, JobRequest(str(text_input), str(out), mapper, reducer, 2, 1)).run()
    assert not (out / "_SUCCESS").exists()


def test_wordcount_is_one_job_of_two_stages(spark, text_input, tmp_path):
    """Layer A runs one map stage and one reduce stage: no extra shuffle
    and no eager job."""
    sc = spark.sparkContext
    group = f"mr-shape-{uuid.uuid4().hex}"
    wc_map, wc_reduce = make_wc()
    sc.setJobGroup(group, group)
    try:
        MapReduceJob(spark, JobRequest(str(text_input), str(tmp_path / "out"), wc_map, wc_reduce, 2, 3)).run()
    finally:
        sc._jsc.clearJobGroup()
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) == 1
    assert len(sc.statusTracker().getJobInfo(jobs[0]).stageIds) == 2


def test_reduce_side_sort_spills_with_same_output(spark, tmp_path):
    """With ``spark.python.worker.memory`` far below a reduce partition's
    lines, the reduce-side sort spills sorted runs to disk and merges them;
    the part files are byte-identical to an in-memory run."""
    ind = tmp_path / "input"
    ind.mkdir()
    words = [f"w{(i * 7919) % 6007}" if i % 11 else f"ü{i % 97}" for i in range(150_000)]
    for f in range(2):
        half = words[f::2]
        (ind / f"{f}.txt").write_text("\n".join(" ".join(half[i : i + 10]) for i in range(0, len(half), 10)) + "\n")
    wc_map, wc_reduce = make_wc()
    normal = tmp_path / "normal"
    MapReduceJob(spark, JobRequest(str(ind), str(normal), wc_map, wc_reduce, 2, 2)).run()

    spilled = tmp_path / "spilled"
    code = f"""
from pyspark.sql import SparkSession
from map_reduce485_spark.mapreduce import JobRequest, MapReduceJob

def wc_map(line):
    return [w + "\\t1" for w in line.split()]

def wc_reduce(key, values):
    yield f"{{key}}\\t{{sum(int(v) for v in values)}}"

# a fresh worker per task: a reused one's RSS already holds the memory
# freed by its earlier tasks, which the sort would fill without growing
spark = (SparkSession.builder.master("local[2]")
         .config("spark.python.worker.memory", "1m")
         .config("spark.python.worker.reuse", "false")
         .config("spark.ui.enabled", "false").getOrCreate())
sc = spark.sparkContext
sc.setJobGroup("spill", "spill")
MapReduceJob(spark, JobRequest({str(ind)!r}, {str(spilled)!r}, wc_map, wc_reduce, 2, 2)).run()
sc._jsc.sc().listenerBus().waitUntilEmpty()
[job] = sc.statusTracker().getJobIdsForGroup("spill")
reduce_stage = max(sc.statusTracker().getJobInfo(job).stageIds)
print("SPILL", sc._jsc.sc().statusStore().lastStageAttempt(reduce_stage).diskBytesSpilled())
"""
    [spill] = [line for line in run_python(code) if line.startswith("SPILL ")]
    assert int(spill.split()[1]) > 0
    names = sorted(p.name for p in normal.iterdir() if p.name.startswith("part-"))
    assert names == ["part-00000", "part-00001"]
    assert sorted(p.name for p in spilled.iterdir() if p.name.startswith("part-")) == names
    for name in names:
        assert (spilled / name).read_bytes() == (normal / name).read_bytes()
