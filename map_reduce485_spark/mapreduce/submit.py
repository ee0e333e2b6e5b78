"""Job-submission CLI — the `mapreduce-submit` analog (reference
submit.py:20-98), with the same six job parameters.  Host/port options are
absent: there is no hand-rolled manager to dial — the "cluster" is the
SparkSession (local[] here; spark-submit to YARN/k8s in production, which
is the reference's `bin/mapreduce` lifecycle tooling collapsed into
Spark's own, SURVEY.md §2.a ops #17/#18).

Usage:
    python -m map_reduce485_spark.mapreduce.submit \
        --input DIR --output DIR --mapper CMD --reducer CMD \
        [--nmappers 2] [--nreducers 2]
"""

from __future__ import annotations

import argparse

from map_reduce485_spark.mapreduce.job import JobRequest, run_job
from map_reduce485_spark.session import get_spark


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(description="Submit a MapReduce job (Layer A).")
    # --output and the task counts keep reference submit.py:30-58's
    # defaults; its input/mapper/reducer defaults name files this repo lacks
    p.add_argument("--input", "-i", required=True)
    p.add_argument("--output", "-o", default="output")
    p.add_argument("--mapper", "-m", required=True)
    p.add_argument("--reducer", "-r", required=True)
    p.add_argument("--nmappers", type=int, default=2)
    p.add_argument("--nreducers", type=int, default=2)
    args = p.parse_args(argv)
    try:
        request = JobRequest(
            input_directory=args.input,
            output_directory=args.output,
            mapper_executable=args.mapper,
            reducer_executable=args.reducer,
            num_mappers=args.nmappers,
            num_reducers=args.nreducers,
        )
    except ValueError as exc:
        p.error(str(exc))

    run_job(get_spark("mapreduce-submit"), request)
    print(f"job complete: {args.output}")


if __name__ == "__main__":
    main()
