"""Physical-plan inspection utilities.

The engine's performance discipline: after an operator is correct, read its
plan and confirm the properties that matter at 100 TB — filters pushed to
the scan, columns pruned, small sides broadcast, whole-stage codegen
covering the hot path.  `tests/test_plans.py` pins these properties so a
regression (e.g. a refactor that breaks pushdown) fails CI, not the
cluster bill.
"""

from map_reduce485_spark.plans.inspect import (
    codegen_operator_count,
    explain_str,
    has_broadcast_join,
    plan_shape,
    pushed_filters,
    read_schema_columns,
    wholestage_codegen_ids,
)

__all__ = [
    "explain_str",
    "pushed_filters",
    "read_schema_columns",
    "has_broadcast_join",
    "wholestage_codegen_ids",
    "codegen_operator_count",
    "plan_shape",
]
