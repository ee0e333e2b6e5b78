"""MapReduce-compatible job execution on Spark RDDs (Layer A).

Reproduces the reference framework's user-facing semantic contract
(sohammehendale/map_reduce485; citations are file:line into the reference's
map_reduce/mapreduce/ package):

- Data model: line-oriented UTF-8 text; a record's key is the text before the
  first tab, the rest is the value (``worker/__main__.py:115``).
- Map: an arbitrary executable gets input lines on stdin and emits zero or
  more ``key\\tvalue`` lines on stdout (``worker/__main__.py:104-114``).
- Shuffle: map tasks bucket lines per reducer by ``md5(key) % num_reducers``
  (``worker/__main__.py:117-121``); each reduce partition sorts its lines by
  Unicode codepoint over the whole ``key\\tvalue`` line and merges the sorted
  runs (``:157-163`` + k-way merge at ``:201``), so equal keys are
  contiguous and values are secondarily sorted.
- Reduce: the reducer executable is spawned once per reduce partition and
  receives the partition's fully merged, sorted stream on stdin
  (``worker/__main__.py:193-202``).
- Output: ``num_reducers`` text files ``part-NNNNN`` in the output directory,
  which is cleared on submission (``worker/__main__.py:204-208``,
  ``manager/__main__.py:95-101``).

Everything else the reference implements — task scheduling, the map/reduce
stage barrier, shuffle transport over a shared filesystem, heartbeats, task
re-execution on worker death (``manager/__main__.py:212-438``) — is Spark's
DAG scheduler, sort-based shuffle, and task-retry machinery, and needs no
engine code.  No combiner is used on the executable path, matching the
reference's no-map-side-aggregation behavior.

Scale note: at 100 TB the executable path is still fully distributed —
``RDD.pipe`` spawns the executable once per partition on the executor, data
streams through the process without driver involvement, map tasks buffer at
most ``BATCH_LINES`` lines, and the reduce-side ``ExternalSorter`` spills
sorted runs past ``spark.python.worker.memory``, unlike the reference's
in-memory ``list.sort()`` (``worker/__main__.py:158``).
"""

from __future__ import annotations

import hashlib
from collections import defaultdict
from collections.abc import Callable, Iterable, Iterator
from dataclasses import dataclass
from itertools import chain, groupby, islice
from operator import itemgetter, methodcaller

from pyspark.shuffle import ExternalSorter
from pyspark.sql import SparkSession

BATCH_LINES = 4096  # map-output lines one task buffers across all buckets
MEMO_KEYS = 65536  # distinct keys whose placement one map task remembers


def delete_output_dir(spark: SparkSession, path: str) -> bool:
    """Recursively delete ``path`` through the Hadoop FileSystem API.

    Resolves the filesystem FROM the path URI (``file:``, ``hdfs://``,
    ``s3a://`` all work), mirroring the reference's clear-on-submission
    contract (``manager/__main__.py:95-101``) without the local-disk
    assumption a ``shutil.rmtree`` would bake in.  Returns True when
    something was deleted, False when the path did not exist.
    """
    jvm = spark._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(hconf)
    if fs.exists(jpath):
        # Hadoop signals a failed delete by RETURNING false (no exception);
        # swallowing it would only surface later as a confusing
        # saveAsTextFile dir-exists error, so fail here with the path.
        if not fs.delete(jpath, True):
            raise IOError(f"Hadoop FileSystem failed to delete {path}")
        return True
    return False


def md5_partition(key: str, num_partitions: int) -> int:
    """Reference-faithful shuffle placement: ``md5(key) % R``.

    Matches ``worker/__main__.py:117-121`` so that which part-file a key lands
    in is byte-identical to the reference (Spark's own Murmur3 default would
    preserve semantics but not placement).
    """
    return int.from_bytes(hashlib.md5(key.encode("utf-8")).digest(), "big") % num_partitions


def extract_key(line: str) -> str:
    """Key = text before the first tab; a tab-less line is all key
    (``worker/__main__.py:115``)."""
    return line.split("\t", 1)[0]


def place_lines(lines: Iterable[str], num_r: int) -> Iterator[tuple[int, list[str]]]:
    """Map-side shuffle write (``worker/__main__.py:117-121``): one
    ``(reducer_id, [lines])`` batch per bucket every ``BATCH_LINES`` lines; a
    key is hashed once per task while the ``MEMO_KEYS``-capped memo holds it."""
    memo: dict[str, int] = {}
    it = iter(lines)
    while chunk := list(islice(it, BATCH_LINES)):
        buckets: defaultdict[int, list[str]] = defaultdict(list)
        for line in chunk:
            key = line.partition("\t")[0]
            part = memo.get(key)
            if part is None:
                if len(memo) == MEMO_KEYS:
                    memo.clear()
                part = memo[key] = md5_partition(key, num_r)
            buckets[part].append(line)
        yield from buckets.items()


def sort_lines(batches: Iterable[list[str]], memory_mb: float) -> Iterable[str]:
    """Reduce-side sort: the batches' lines in codepoint order, spilling past ``memory_mb``."""
    return ExternalSorter(memory_mb).sorted(chain.from_iterable(batches))


@dataclass
class JobRequest:
    """Mirror of the reference job descriptor (``submit.py:70-78``)."""

    input_directory: str
    output_directory: str
    mapper_executable: str | Callable[[str], Iterable[str]]
    reducer_executable: str | Callable[[str, Iterable[str]], Iterable[str]]
    num_mappers: int = 2
    num_reducers: int = 2

    def __post_init__(self) -> None:
        # checked before run() clears the output dir: with no tasks the job
        # would delete the old output and write only _SUCCESS
        if self.num_mappers < 1 or self.num_reducers < 1:
            raise ValueError(
                f"num_mappers and num_reducers must be at least 1, got "
                f"{self.num_mappers} and {self.num_reducers}"
            )


class MapReduceJob:
    """Run one MapReduce job with reference semantics on Spark.

    ``mapper``/``reducer`` may each be:

    - a shell command string → bit-faithful executable contract via
      ``RDD.pipe`` (stdin/stdout line streaming, like the subprocess pipes at
      ``worker/__main__.py:105-110`` and ``:194-202``);
    - a Python callable → the idiomatic fast path.  Mapper callable:
      ``line -> iterable of output lines`` (flatMap semantics).  Reducer
      callable: ``(key, sorted_values_iterator) -> iterable of output lines``
      with equal keys contiguous, exactly the grouping contract the sorted
      merge guarantees the reference's reducer.
    """

    def __init__(self, spark: SparkSession, request: JobRequest):
        self.spark = spark
        self.request = request

    def run(self) -> None:
        req = self.request
        sc = self.spark.sparkContext
        # Overwrite semantics: output dir cleared on submission
        # (manager/__main__.py:95-101).  Goes through the Hadoop FileSystem
        # API so the same code path overwrites local, file:-URI, HDFS, or
        # s3a: outputs — on a real cluster the output dir is never on the
        # driver's local disk, so a pathlib/shutil delete would be wrong.
        delete_output_dir(self.spark, req.output_directory)

        lines = sc.textFile(req.input_directory, minPartitions=req.num_mappers)

        mapped = self._apply_mapper(lines)

        num_r = req.num_reducers
        # Shuffle in batches (reference :117-121, :157-163, merge at :201):
        # map tasks ship R line batches per flush, not one pickled pair per
        # line; reduce tasks sort plain strings, whose codepoint order over
        # `key\tvalue` is the (key, value) secondary sort, and spill past 90%
        # of spark.python.worker.memory, as PySpark's own sorted shuffle does.
        memory_mb = mapped._memory_limit() * 0.9
        shuffled = (
            mapped.mapPartitions(lambda it: place_lines(it, num_r))
            .partitionBy(num_r, lambda part: part)
            .values()
            .mapPartitions(lambda batches: sort_lines(batches, memory_mb))
        )

        reduced = self._apply_reducer(shuffled)

        reduced.saveAsTextFile(req.output_directory)

    # -- mapper / reducer application -------------------------------------

    def _apply_mapper(self, lines):
        mapper = self.request.mapper_executable
        if callable(mapper):
            # flatMap fails the task on a mapper StopIteration, not truncating it
            return lines.flatMap(mapper)
        # Executable contract: spawned once per partition vs once per input
        # file in the reference (worker/__main__.py:104-110) — equivalent for
        # the stateless line-streaming contract the framework defines.
        return lines.pipe(mapper)

    def _apply_reducer(self, sorted_lines):
        reducer = self.request.reducer_executable
        if not callable(reducer):
            # One reducer process per reduce partition, fed the sorted merged
            # stream (worker/__main__.py:193-202).
            return sorted_lines.pipe(reducer)

        def reduce_partition(it: Iterator[str]) -> Iterator[str]:
            # one split per line; a tab-less line is all key, value ""
            for key, group in groupby(map(methodcaller("partition", "\t"), it), itemgetter(0)):
                yield from reducer(key, map(itemgetter(2), group))

        return sorted_lines.mapPartitions(reduce_partition, preservesPartitioning=True)


def run_job(spark: SparkSession, request: JobRequest) -> None:
    """FIFO-submission entry point (reference ``submit.py`` analog).

    The reference manager queues jobs FIFO and runs one at a time
    (``manager/__main__.py:89-104``, ``:212-424``); Spark's default FIFO
    scheduler gives the same behavior for sequential submissions.
    """
    MapReduceJob(spark, request).run()


class JobQueue:
    """FIFO multi-job manager (reference op #11, ``manager/__main__.py:89-104``).

    ``submit`` assigns a monotonically increasing ``job_id`` (reference
    ``:93-94``) and enqueues; a single background thread executes jobs in
    submission order, one at a time (the reference's ``run_job`` thread,
    ``:212-424``).  ``status`` exposes the lifecycle the reference only keeps
    in manager state: ``pending → running → succeeded | failed``.  This also
    fixes the reference's one-job-per-manager quirk (``manager_ready`` never
    reset, ``:217``): the queue drains indefinitely.
    """

    def __init__(self, spark: SparkSession):
        import queue
        import threading

        self.spark = spark
        self._next_id = 0
        self._status: dict[int, str] = {}
        self._errors: dict[int, str] = {}
        self._lock = threading.Lock()
        self._queue: "queue.Queue[tuple[int, JobRequest] | None]" = queue.Queue()
        self._worker = threading.Thread(target=self._drain, daemon=True)
        self._worker.start()

    def submit(self, request: JobRequest) -> int:
        with self._lock:
            job_id = self._next_id
            self._next_id += 1
            self._status[job_id] = "pending"
        self._queue.put((job_id, request))
        return job_id

    def status(self, job_id: int) -> str:
        with self._lock:
            return self._status[job_id]

    def error(self, job_id: int) -> str | None:
        with self._lock:
            return self._errors.get(job_id)

    def snapshot(self) -> dict[int, str]:
        """All job states at once (the manager `status` verb's payload)."""
        with self._lock:
            return dict(self._status)

    def wait(self, job_id: int, timeout: float = 300.0) -> str:
        """Block until the job leaves the queue/running states."""
        import time

        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            st = self.status(job_id)
            if st in ("succeeded", "failed"):
                return st
            time.sleep(0.05)
        raise TimeoutError(f"job {job_id} still {self.status(job_id)!r}")

    def shutdown(self, timeout: float = 60.0) -> None:
        """Drain remaining jobs, then stop the executor thread (reference
        ``shutdown`` fan-out, ``manager/__main__.py:68-87``)."""
        self._queue.put(None)
        self._worker.join(timeout)

    def _drain(self) -> None:
        while True:
            item = self._queue.get()
            if item is None:
                return
            job_id, request = item
            with self._lock:
                self._status[job_id] = "running"
            try:
                MapReduceJob(self.spark, request).run()
                with self._lock:
                    self._status[job_id] = "succeeded"
            except Exception as exc:  # job failure must not kill the queue
                with self._lock:
                    self._status[job_id] = "failed"
                    self._errors[job_id] = repr(exc)
