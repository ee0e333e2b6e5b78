"""The benchmark's workloads: a MapReduce word count and the headline queries.

A workload prepares its inputs before set-up, warms a fresh session up as
part of set-up, and then yields passes of named operations.  ``execute`` is
the timed part of an operation; ``check`` and ``finish`` run untimed after
it.  With a tracer, ``execute`` also fills the operation's layer record.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import time
from collections import Counter

from perfbench import corpus, layers

HERE = os.path.dirname(os.path.abspath(__file__))
SF_DIR = os.path.join(HERE, "data", "sf0.01")
DIGESTS = os.path.join(HERE, "digests.json")

WARMUP_MB = 0.05
PLACEMENT_SAMPLE = 100_000


# -- word count ------------------------------------------------------------------


def wc_map(line: str) -> list[str]:
    return [f"{w}\t1" for w in line.split()]


def wc_reduce(key: str, values):
    yield f"{key}\t{sum(int(v) for v in values)}"


COUNTERS = (
    "mapreduce.map_in_records",
    "mapreduce.map_out_records",
    "mapreduce.reduce_groups",
    "mapreduce.out_records",
)


def _counting(mapper, reducer, acc):
    """Mapper and reducer that also count records into accumulators, in
    the order of ``COUNTERS``."""
    n_in, n_out, groups, out = acc

    def counted_map(line):
        lines = mapper(line)
        n_in.add(1)
        n_out.add(len(lines))
        return lines

    def counted_reduce(key, values):
        groups.add(1)
        for line in reducer(key, values):
            out.add(1)
            yield line

    return counted_map, counted_reduce


# -- Layer-A output checks -----------------------------------------------------


def _reference_partition(key: str, r: int) -> int:
    # written out here, not imported, so a placement bug cannot check itself
    return int(hashlib.md5(key.encode("utf-8")).hexdigest(), 16) % r


def check_job_output(out_dir: str, reducers: int, expected: Counter) -> list[str]:
    """Problems with a MapReduce job's output; empty when it is correct.

    The output must be ``reducers`` part files, each sorted by whole line,
    each key in part ``md5(key) % reducers``, and together exactly the
    predicted multiset of lines."""
    names = sorted(n for n in os.listdir(out_dir) if n.startswith("part-"))
    problems = []
    if names != [f"part-{i:05d}" for i in range(reducers)]:
        problems.append(f"expected {reducers} part files, found {names}")
    got: Counter = Counter()
    for name in names:
        part = int(name[5:])
        lines = corpus.read_lines(os.path.join(out_dir, name))
        if lines != sorted(lines):
            problems.append(f"{name} is not sorted by whole line")
        misplaced = sum(_reference_partition(line.split("\t", 1)[0], reducers) != part for line in lines)
        if misplaced:
            problems.append(f"{name} holds {misplaced} keys that belong in other parts")
        got.update(lines)
    if got != expected:
        problems.append(f"output differs: {sum((got - expected).values())} unexpected, {sum((expected - got).values())} missing lines")
    return problems


class WordCountWorkload:
    """One word-count job per operation over a seeded corpus, with Python
    callables for mapper and reducer and R = cores."""

    name = "wordcount"

    def __init__(self, mb: float, seed: int, work_dir: str, cores: int, reducer=None):
        self.mb, self.seed, self.cores = mb, seed, cores
        self.work_dir = work_dir
        self.out_dir = os.path.join(work_dir, "out", self.name)
        self.reducer = reducer or wc_reduce  # tests substitute a wrong one
        self.input_bytes = 0

    def prepare(self) -> None:
        cache = os.path.join(self.work_dir, "inputs")
        self.corpus = corpus.wordcount_corpus(cache, self.seed, self.mb)
        self.warm_corpus = corpus.wordcount_corpus(cache, self.seed, WARMUP_MB)
        self.expected = self.corpus.expected_lines()
        self.input_bytes = self.corpus.input_bytes

    def warmup(self, spark) -> None:
        self._run(spark, self.warm_corpus, None)

    def ops(self, rng: random.Random) -> list[str]:
        return [self.name]

    def execute(self, spark, name: str, record: dict | None, tracer) -> None:
        self._run(spark, self.corpus, record)

    def check(self, name: str) -> list[str]:
        return check_job_output(self.out_dir, self.cores, self.expected)

    def finish(self, spark, record: dict | None) -> None:
        """Split the job's stage records into map and reduce sides (the map
        stage is the one that writes shuffle) and read the counters."""
        if record is None:
            return
        stages = record["_stages"]
        maps = [s for s in stages if s["shuffle_write_mb"] > 0]
        reduces = [s for s in stages if s["shuffle_write_mb"] == 0]
        record["mapreduce.map_stage_s"] = sum(s["wall_s"] for s in maps)
        record["mapreduce.reduce_stage_s"] = sum(s["wall_s"] for s in reduces)
        record["mapreduce.shuffle_mb"] = sum(s["shuffle_write_mb"] for s in maps)
        record["mapreduce.output_mb"] = sum(s["output_mb"] for s in reduces)
        record["mapreduce.spill_mb"] = sum(s["spill_mb"] for s in stages)
        record["mapreduce.py_cpu_s"] = record["operators.py_cpu_s"]
        for key, acc in zip(COUNTERS, record.pop("_acc")):
            record[key] = acc.value

    def run_record(self, spark) -> dict[str, float]:
        """Per-run layer numbers: placement cost per map-output record,
        timed in the driver over the corpus's own map output."""
        from map_reduce485_spark.mapreduce.job import extract_key, md5_partition

        records: list[str] = []
        for name in sorted(os.listdir(self.corpus.input_dir)):
            for line in corpus.read_lines(os.path.join(self.corpus.input_dir, name)):
                records.extend(wc_map(line))
            if len(records) >= PLACEMENT_SAMPLE:
                break
        records = records[:PLACEMENT_SAMPLE]
        r = self.cores
        t0 = time.perf_counter()
        for line in records:
            md5_partition(extract_key(line), r)
        dt = time.perf_counter() - t0
        return {"mapreduce.placement_us_per_record": dt / len(records) * 1e6}

    def _run(self, spark, data: corpus.Corpus, record: dict | None) -> None:
        from map_reduce485_spark.mapreduce.job import JobRequest, run_job

        mapper, reducer = wc_map, self.reducer
        if record is not None:
            acc = [spark.sparkContext.accumulator(0) for _ in COUNTERS]
            record["_acc"] = acc
            mapper, reducer = _counting(mapper, reducer, acc)
        run_job(spark, JobRequest(data.input_dir, self.out_dir, mapper, reducer, self.cores, self.cores))


# -- headline queries ----------------------------------------------------------


def result_digest(columns: list[str], rows) -> str:
    """Order-insensitive digest of a result: columns sorted by name, every
    value stringified, rows sorted."""
    cols = sorted(columns)
    idx = [columns.index(c) for c in cols]
    lines = sorted("\x1f".join(str(row[i]) for i in idx) for row in rows)
    return hashlib.sha256("\n".join(["\x1f".join(cols), *lines]).encode("utf-8")).hexdigest()


class QueryWorkload:
    """The registry's ``bench=True`` queries at sf0.01, one query per
    operation, each preceded by an untimed release of scoped caches."""

    input_bytes = 0

    def prepare(self) -> None:
        from map_reduce485_spark.queries import bench_queries

        self.specs = bench_queries()
        with open(DIGESTS) as f:
            self.digests = json.load(f)
        self.input_bytes = sum(os.path.getsize(os.path.join(SF_DIR, n)) for n in os.listdir(SF_DIR))

    def warmup(self, spark) -> None:
        from map_reduce485_spark.catalog import load_table
        from map_reduce485_spark.queries._util import release_scoped_caches

        load_table(spark, SF_DIR, "region").collect()
        release_scoped_caches()

    def ops(self, rng: random.Random) -> list[str]:
        names = sorted(self.specs)
        rng.shuffle(names)
        return names

    def execute(self, spark, name: str, record: dict | None, tracer) -> None:
        fn = self.specs[name].fn
        if record is None:
            df = fn(spark, SF_DIR)
        else:
            jobs0 = tracer.jobs()
            t0 = time.perf_counter()
            df = fn(spark, SF_DIR)
            record["queries.build_s"] = time.perf_counter() - t0
            record["queries.build_jobs"] = tracer.jobs() - jobs0
            record.update(layers.plan_phases(df))
        self._result = (df.columns, df.collect())

    def check(self, name: str) -> list[str]:
        want = self.digests.get(name)
        got = result_digest(*self._result)
        self._result = None
        if want is None:
            return [f"no oracle-verified digest for {name}"]
        return [] if got == want else [f"{name}: result digest {got[:12]} != oracle-verified {want[:12]}"]

    def finish(self, spark, record: dict | None) -> None:
        from map_reduce485_spark.queries._util import release_scoped_caches

        if record is None:
            release_scoped_caches()
            return
        record["util.storage_mb"] = layers.storage_mb(spark)
        t0 = time.perf_counter()
        release_scoped_caches()
        record["util.release_s"] = time.perf_counter() - t0
        record["util.persisted_after_release"] = layers.persisted_rdds(spark)

    def run_record(self, spark) -> dict[str, float]:
        return {}
