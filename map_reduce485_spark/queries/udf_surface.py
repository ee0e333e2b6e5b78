"""UDF surface (SURVEY.md §2.b last row): the engine's user-defined
function story, mirrored onto the reference's executable contract.

- `pandas_udf` scalar — Arrow-vectorized per-row transform (the mapper
  analog for numeric logic that genuinely needs Python).
- `applyInPandas` grouped map — the reducer analog: whole group in, frame
  out, exactly the sorted-group contract the reference guarantees its
  reducer executable (worker/__main__.py:193-202), minus the sort (Spark
  hash-groups; order inside the group is made explicit where it matters).
- The bit-faithful executable path (`RDD.pipe`) lives in Layer A and is
  surfaced to the correctness gate by `mapreduce_wordcount_pipe` below.

All three UDFs here compute deterministic integer/decimal arithmetic so
the DuckDB oracle can replay them exactly.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from map_reduce485_spark.queries import query
from map_reduce485_spark.queries._util import T, scratch_dir_scoped


def _make_value_cents():
    """Built lazily: pandas_udf type resolution needs an active session,
    and the registry imports happen before one exists."""

    @pandas_udf("bigint")
    def value_cents(v: pd.Series) -> pd.Series:
        # vectorized: dollars → integer cents (exact; Arrow batch in/out)
        return (v * 100).round().astype("int64")

    return value_cents


@query(
    "pandas_udf_scalar",
    """
    SELECT event_id, CAST(round(value * 100) AS BIGINT) AS value_cents,
           event_type
    FROM events WHERE event_id < 2000
    """,
    tags=("udf",),
)
def pandas_udf_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar Pandas UDF: Arrow-batched, ~10-100× over row-at-a-time Python
    (the only acceptable Python-UDF form on a 100 TB hot path)."""
    (events,) = T(spark, sf_dir, "events")
    value_cents = _make_value_cents()
    return events.filter(F.col("event_id") < 2000).select(
        "event_id", value_cents("value").alias("value_cents"), "event_type"
    )


def _user_stats(pdf: pd.DataFrame) -> pd.DataFrame:
    """Grouped-map: per-user event stats with deterministic integer math."""
    cents = (pdf["value"] * 100).round().astype("int64")
    return pd.DataFrame(
        {
            "user_id": [pdf["user_id"].iloc[0]],
            "n_events": [len(pdf)],
            "total_cents": [int(cents.sum())],
            "max_cents": [int(cents.max())],
        }
    )


@query(
    "apply_in_pandas_grouped",
    """
    SELECT user_id, COUNT(*) AS n_events,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents,
           MAX(CAST(round(value * 100) AS BIGINT)) AS max_cents
    FROM events GROUP BY user_id
    """,
    tags=("udf",),
)
def apply_in_pandas_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map `applyInPandas` — the reference reducer analog: one
    pandas frame per key (vs one sorted stdin stream per key in the
    reference), emitted as arbitrary rows.  Shuffle on user_id, then
    embarrassingly parallel Python per group."""
    (events,) = T(spark, sf_dir, "events")
    return events.groupBy("user_id").applyInPandas(
        _user_stats,
        schema="user_id bigint, n_events bigint, total_cents bigint, max_cents bigint",
    )


_WC_ORACLE = """
SELECT word, COUNT(*) AS count
FROM (SELECT UNNEST(string_split(text, ' ')) AS word FROM documents)
WHERE word <> ''
GROUP BY word
"""


@query("mapreduce_wordcount_pipe", _WC_ORACLE, tags=("udf", "layer-a"))
def mapreduce_wordcount_pipe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference parity, end to end, inside the correctness gate: word
    count over `documents` executed through Layer A's FULL MapReduce path —
    text-directory input, **shell executable** mapper/reducer via RDD.pipe,
    md5-partitioned whole-line-sorted shuffle, part-file output — then the
    part files are read back and checked against the SQL oracle.  This is
    the reference's own canonical job (submit.py:40-49) running under its
    exact contract, producing identical counts to the DataFrame wordcount.
    """
    from pathlib import Path

    from map_reduce485_spark.mapreduce import JobRequest, MapReduceJob

    (docs,) = T(spark, sf_dir, "documents")
    work = Path(scratch_dir_scoped("mr485_wc_"))
    in_dir = work / "input"
    # land the corpus as line-oriented text (the reference's only format)
    docs.select("text").write.mode("overwrite").text(str(in_dir))

    mapper = work / "wc_map.sh"
    mapper.write_text("#!/bin/sh\ntr ' ' '\\n' | awk 'NF {print $0 \"\\t1\"}'\n")
    reducer = work / "wc_reduce.sh"
    reducer.write_text(
        "#!/bin/sh\nawk -F'\\t' '{c[$1]+=$2} END {for (k in c) print k \"\\t\" c[k]}'\n"
    )

    out_dir = work / "out"
    MapReduceJob(
        spark,
        JobRequest(str(in_dir), str(out_dir), f"sh {mapper}", f"sh {reducer}", 4, 4),
    ).run()

    lines = spark.read.text(str(out_dir))
    return lines.select(
        F.split_part("value", F.lit("\t"), F.lit(1)).alias("word"),
        F.split_part("value", F.lit("\t"), F.lit(2)).cast("bigint").alias("count"),
    )


_UDTF_ORACLE = """
WITH words AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
  FROM documents
)
SELECT doc_id, i - 1 AS chunk_no,
       LEAST(10, len(w) - (i - 1) * 10) AS n_words,
       w[(i - 1) * 10 + 1] AS first_word
FROM words, UNNEST(generate_series(1, CAST(ceil(len(w) / 10.0) AS BIGINT))) AS u(i)
WHERE len(w) > 0
"""


@query("udtf_word_chunks", _UDTF_ORACLE, tags=("udf",))
def udtf_word_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native Python UDTF (Spark 4 `@udtf`) driven through a SQL LATERAL
    join — one input row fans out to one row per 10-word chunk.

    This completes the UDF surface mapped from the reference's executable
    contract (SURVEY.md §2.b last row): the mapper analog exists as
    `RDD.pipe` (bit-faithful), `mapInPandas` (Arrow batches), and now the
    first-class table-function form with `LATERAL` correlation — the
    declarative replacement for a mapper that emits multiple records per
    input.  Arrow-batched (`useArrow`); the oracle replays the chunking
    relationally."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="chunk_no int, n_words int, first_word string", useArrow=True)
    class WordChunks:
        def eval(self, text: str):
            words = [w for w in (text or "").split(" ") if w]
            for i in range(0, len(words), 10):
                chunk = words[i : i + 10]
                yield i // 10, len(chunk), chunk[0]

    from map_reduce485_spark.catalog import register_views

    spark.udtf.register("word_chunks", WordChunks)
    register_views(spark, sf_dir)
    return spark.sql(
        "SELECT d.doc_id, f.chunk_no, f.n_words, f.first_word "
        "FROM documents d, LATERAL word_chunks(d.text) f"
    )


_ARROW_ORACLE = """
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
       CAST(SUM(n_upper) AS BIGINT) AS total_upper
FROM (
  SELECT lang, octet_length(encode(text)) AS n_bytes,
         length(regexp_replace(text, '[^A-Z]', '', 'g')) AS n_upper
  FROM documents
)
GROUP BY lang
"""


@query("map_in_arrow_surface", _ARROW_ORACLE, tags=("udf",))
def map_in_arrow_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`mapInArrow` — the lowest-overhead Python boundary: raw pyarrow
    RecordBatches in and out, no pandas materialization at all (one rung
    below `mapInPandas` on the same Arrow transport; for string-heavy
    batches it skips the object-array conversion that dominates pandas
    marshalling).  The batch math runs in pyarrow's C++ compute kernels
    (binary_length, count per codepoint class via extract+length), so the
    per-row Python cost is zero — the right tool when a transform needs a
    Python LIBRARY but not per-row Python.  Completes the boundary
    ladder: pipe → UDTF → pandas_udf → applyInPandas/mapInPandas →
    mapInArrow.  Exact integer outputs; the oracle replays them
    relationally."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def arrow_features(batches):
        for batch in batches:
            t = pa.table(
                {
                    "lang": batch.column("lang"),
                    "n_bytes": pc.binary_length(
                        pc.cast(batch.column("text"), pa.binary())
                    ),
                    "n_upper": pc.utf8_length(
                        pc.replace_substring_regex(batch.column("text"), "[^A-Z]", "")
                    ),
                }
            )
            for out in t.to_batches():
                yield out

    from map_reduce485_spark.queries._util import T

    (docs,) = T(spark, sf_dir, "documents")
    feats = docs.select("lang", "text").mapInArrow(
        arrow_features, schema="lang string, n_bytes int, n_upper int"
    )
    return feats.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_bytes").alias("total_bytes"),
        F.sum("n_upper").alias("total_upper"),
    )
