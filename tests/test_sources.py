"""Source/sink round-trips and partitioned-writer pruning behavior."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import tempfile
import time
from pathlib import Path

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from map_reduce485_spark.catalog import load_table
from map_reduce485_spark.sources import (
    read_csv,
    read_json,
    read_text_dir,
    write_partitioned_parquet,
    write_text_parts,
)
from tests.conftest import SF_SMOKE


def test_text_roundtrip(spark, tmp_path):
    ind = tmp_path / "in"
    ind.mkdir()
    (ind / "a.txt").write_text("one\ntwo\n")
    (ind / "b.txt").write_text("three\n")
    df = read_text_dir(spark, str(ind))
    assert {r.value for r in df.collect()} == {"one", "two", "three"}
    out = tmp_path / "out"
    write_text_parts(df, str(out))
    back = read_text_dir(spark, str(out))
    assert {r.value for r in back.collect()} == {"one", "two", "three"}


def test_csv_json_explicit_schema(spark, tmp_path):
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("score", T.DoubleType()),
        ]
    )
    csv = tmp_path / "data.csv"
    csv.write_text("id,name,score\n1,alice,0.5\n2,bob,1.5\n")
    df = read_csv(spark, str(csv), schema)
    assert df.schema == schema
    assert df.count() == 2 and df.filter(F.col("score") > 1).count() == 1

    js = tmp_path / "data.jsonl"
    js.write_text('{"id": 3, "name": "eve", "score": 2.0}\n{"id": 4, "name": "mal"}\n')
    dj = read_json(spark, str(js), schema)
    rows = {r.id: (r.name, r.score) for r in dj.collect()}
    assert rows == {3: ("eve", 2.0), 4: ("mal", None)}


def test_partitioned_parquet_prunes_directories(spark, tmp_path):
    docs = load_table(spark, SF_SMOKE, "documents")
    out = tmp_path / "docs_by_lang"
    write_partitioned_parquet(docs, str(out), partition_by=["lang"], sort_within=["doc_id"])
    # directory-per-lang layout
    langs = {p.name.split("=")[1] for p in out.iterdir() if p.name.startswith("lang=")}
    assert "en" in langs and len(langs) >= 4
    # a lang predicate scans only the matching directory (partition pruning)
    back = spark.read.parquet(str(out)).filter(F.col("lang") == "en")
    from map_reduce485_spark.plans import explain_str

    assert back.count() == docs.filter(F.col("lang") == "en").count()
    assert "lang=en" in explain_str(back) or "PartitionFilters" in explain_str(back)


def test_sql_entry_point(spark):
    """catalog.sql: plain SQL over registered views == DataFrame plan."""
    from map_reduce485_spark.catalog import sql
    from tests.conftest import SF_SMOKE

    df = sql(
        spark,
        SF_SMOKE,
        """
        SELECT r_name, COUNT(*) AS n_nations
        FROM region JOIN nation ON n_regionkey = r_regionkey
        GROUP BY r_name
        """,
    )
    rows = {r.r_name: r.n_nations for r in df.collect()}
    assert sum(rows.values()) == 25 and len(rows) == 5


def test_schema_evolution_merge(spark, tmp_path):
    """Parquet schema evolution: files written before a column existed read
    back with the merged schema (nulls for the missing column), and
    unionByName aligns frames across schema versions."""
    from pyspark.sql import functions as F

    v1 = spark.range(3).select(F.col("id"), F.lit("a").alias("c1"))
    v2 = spark.range(3, 6).select(F.col("id"), F.lit("b").alias("c1"), F.lit(1).alias("c2"))
    v1.write.parquet(str(tmp_path / "t" / "v1"))
    v2.write.parquet(str(tmp_path / "t" / "v2"))

    merged = spark.read.option("mergeSchema", "true").parquet(str(tmp_path / "t" / "*"))
    assert set(merged.columns) == {"id", "c1", "c2"}
    assert merged.count() == 6
    assert merged.filter(F.col("c2").isNull()).count() == 3

    aligned = v1.unionByName(v2, allowMissingColumns=True)
    assert set(aligned.columns) == {"id", "c1", "c2"} and aligned.count() == 6


def test_dynamic_partition_overwrite(spark, tmp_path):
    """Incremental ETL re-runs must replace only the partitions present in
    the new batch (dynamic mode), not truncate the whole table — the
    idempotent-backfill primitive."""
    from pyspark.sql import functions as F

    target = str(tmp_path / "events_by_day")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        full = spark.range(100).select(
            F.col("id"), (F.col("id") % 4).alias("day")
        )
        full.write.partitionBy("day").mode("overwrite").parquet(target)
        assert spark.read.parquet(target).count() == 100

        # re-run only day=1 with corrected data (half the rows)
        patch = full.filter((F.col("day") == 1) & (F.col("id") < 50))
        patch.write.partitionBy("day").mode("overwrite").parquet(target)

        got = spark.read.parquet(target)
        assert got.filter(F.col("day") == 1).count() == patch.count()
        # other partitions untouched
        assert got.filter(F.col("day") != 1).count() == 75
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")


def test_orc_roundtrip(spark, tmp_path):
    """ORC read/write works out of the box (second columnar format)."""
    from pyspark.sql import functions as F

    p = str(tmp_path / "orc_t")
    spark.range(10).select(F.col("id"), (F.col("id") * 2).alias("v")).write.orc(p)
    back = spark.read.orc(p)
    assert back.count() == 10 and set(back.columns) == {"id", "v"}


def test_read_json_permissive_corrupt_records(spark, tmp_path):
    """Malformed JSON lines must land in the PERMISSIVE corrupt-record
    column, not fail the job — at 100 TB a single bad line must never kill
    a pipeline.  Good rows parse normally alongside."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from map_reduce485_spark.sources.io import read_json

    p = tmp_path / "j"
    p.mkdir()
    (p / "part-0.json").write_text(
        '{"k": 1, "v": "ok"}\n'
        "{this is not json}\n"
        '{"k": 2, "v": "also ok"}\n'
        '{"k": "not-an-int", "v": "half ok"}\n'
    )
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("v", T.StringType()),
            T.StructField("_corrupt_record", T.StringType()),
        ]
    )
    df = read_json(spark, str(p), schema).cache()
    good = df.filter(F.col("_corrupt_record").isNull())
    bad = df.filter(F.col("_corrupt_record").isNotNull())
    assert {(r.k, r.v) for r in good.collect()} == {(1, "ok"), (2, "also ok")}
    # the unparseable line and the type-mismatched line are both quarantined
    assert bad.count() == 2
    df.unpersist()


def _land_nation(spark, sf_dir):
    from map_reduce485_spark.queries._util import land_parquet

    path = Path(land_parquet(load_table(spark, sf_dir, "nation"), sf_dir, "nation"))
    return path, [spark.read.parquet(str(path)).count()]


def _versions(spark, sf_dir):
    from map_reduce485_spark.queries.source_formats import _versions_base

    base = _versions_base(spark, sf_dir)
    rows = [spark.read.parquet(str(base / v)).count() for v in ("v1", "v2")]
    return base, [*rows, (base / "_latest").read_text()]


def _check_rebuilds_broken_leftover(spark, build):
    """A published dir that exists WITHOUT _SUCCESS (a crash leftover) is
    cleared and rebuilt at the same path, never returned as it is.  Returns
    what `build` read from the dir."""
    path, rows = build(spark, SF_SMOKE)
    try:
        assert (path / "_SUCCESS").exists()
        assert build(spark, SF_SMOKE) == (path, rows)  # idempotent, same dir

        (path / "_SUCCESS").unlink()  # the crash: same dir, content, no marker
        assert build(spark, SF_SMOKE) == (path, rows)
        assert (path / "_SUCCESS").exists()
    finally:
        shutil.rmtree(path, ignore_errors=True)  # leave no cross-test state
    return rows


def test_land_parquet_recovers_broken_leftover(spark):
    _check_rebuilds_broken_leftover(spark, _land_nation)


def test_versions_base_rebuilds_after_broken_leftover(spark):
    assert _check_rebuilds_broken_leftover(spark, _versions)[-1] == "v2"


@pytest.fixture
def tempdir(tmp_path, monkeypatch):
    """Point the process temp dir, hence every published dir, at tmp_path."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    return tmp_path


def test_published_dir_builds_once(tempdir):
    from map_reduce485_spark.queries._util import published_dir

    calls = []

    def build(tmp):
        calls.append(tmp)
        Path(tmp).mkdir()
        Path(tmp, "data").write_text("x")

    first = published_dir("pd_once", build)
    assert published_dir("pd_once", build) == first == str(tempdir / "pd_once")
    assert len(calls) == 1
    assert [p.name for p in tempdir.iterdir()] == ["pd_once"]  # no tmp sibling left
    assert sorted(p.name for p in Path(first).iterdir()) == ["_SUCCESS", "data"]


def test_published_dir_failed_build_leaves_nothing(tempdir):
    from map_reduce485_spark.queries._util import published_dir

    def build(tmp):
        Path(tmp).mkdir()
        Path(tmp, "half").write_text("x")
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError, match="build failed"):
        published_dir("pd_fail", build)
    assert list(tempdir.iterdir()) == []


_RACER = """
import os, sys, time
from pathlib import Path
sys.path.insert(0, sys.argv[1])
from map_reduce485_spark.queries._util import published_dir

sync = Path(sys.argv[2])
(sync / f"ready_{os.getpid()}").touch()
while not (sync / "go").exists():
    time.sleep(0.01)

def build(tmp):
    (sync / f"built_{os.getpid()}").touch()
    Path(tmp).mkdir()
    time.sleep(0.5)  # both racers are inside build at once
    Path(tmp, "owner").write_text(str(os.getpid()))

print(published_dir("pd_race", build))
"""


def test_published_dir_race_between_processes(tmp_path):
    """Two processes building the same fresh name at once both return the
    one complete dir: the rename loser keeps the winner's copy."""
    sync, tmp = tmp_path / "sync", tmp_path / "tmp"
    sync.mkdir()
    tmp.mkdir()
    repo = str(Path(__file__).resolve().parent.parent)
    env = {**os.environ, "TMPDIR": str(tmp)}
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", _RACER, repo, str(sync)],
            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, env=env,
        )
        for _ in range(2)
    ]
    try:
        deadline = time.monotonic() + 60
        while len(list(sync.glob("ready_*"))) < 2 and time.monotonic() < deadline:
            time.sleep(0.05)
        (sync / "go").touch()
        outs = [p.communicate(timeout=60) for p in procs]
    finally:
        for p in procs:
            p.kill()
    for p, (out, err) in zip(procs, outs):
        assert p.returncode == 0, err[-2000:]
    final = tmp / "pd_race"
    assert [out.strip() for out, _ in outs] == [str(final)] * 2
    assert len(list(sync.glob("built_*"))) == 2  # a real race: both built
    assert (final / "_SUCCESS").exists()
    assert (final / "owner").read_text() in {str(p.pid) for p in procs}
    assert [p.name for p in tmp.iterdir()] == ["pd_race"]


def test_layout_dirs_follow_source_rewrite(spark, tempdir, monkeypatch):
    """The layout dirs of zorder_multidim_filter, partition_pruned_scan and
    compact_small_files are named after their source data: rewriting the
    source table in place gives a fresh dir, never a replay of the old
    rows.  Every dir lands under the test's own temp dir."""
    import pyarrow.parquet as pq

    from map_reduce485_spark.catalog import TABLES
    from map_reduce485_spark.queries import REGISTRY, _load_all
    from map_reduce485_spark.queries._util import release_scoped_caches
    from tools.verify_local import check_query, open_oracle

    monkeypatch.setenv("SPARK_GRAFT_CACHE_TABLES", "0")  # no cached old rows
    _load_all()
    sources = {
        "zorder_multidim_filter": "lineitem",
        "partition_pruned_scan": "events",
        "compact_small_files": "orders",
    }
    sf = tempdir / "sf"
    sf.mkdir()
    for t in TABLES:
        shutil.copyfile(f"{SF_SMOKE}/{t}.parquet", sf / f"{t}.parquet")

    def check_all():
        con = open_oracle(str(sf))
        for name in sources:
            status, detail = check_query(spark, con, REGISTRY[name], str(sf))
            release_scoped_caches()
            assert status == "PASS", f"{name}: {detail}"

    check_all()
    for table in sources.values():
        t = pq.read_table(sf / f"{table}.parquet")
        pq.write_table(t.take(list(range(0, t.num_rows, 2))), sf / f"{table}.parquet")
    check_all()


def test_python_datasource_partition_boundaries(spark):
    """The custom Python source's row multiset must be independent of the
    partition count (a split-edge bug would lose/duplicate boundary ids)."""
    from map_reduce485_spark.sources.pyds import register

    register(spark)

    def ids(parts: int) -> list[int]:
        df = (
            spark.read.format("mr485_synthetic")
            .option("n", 1000)
            .option("partitions", parts)
            .load()
        )
        return sorted(r.id for r in df.collect())

    expected = list(range(1000))
    assert ids(1) == expected
    assert ids(7) == expected   # n not divisible by parts: uneven splits
    assert ids(32) == expected
