"""Physical-plan introspection & assertions."""

from sparklyclean_spark.plans.audit import (
    count_exchanges,
    explain_formatted,
    explain_str,
    has_broadcast_hash_join,
    has_nested_loop_join,
    has_pushed_filters,
    join_keys,
    python_eval_count,
    read_schema_columns,
    whole_stage_codegen_spans,
)

__all__ = [
    "count_exchanges",
    "explain_formatted",
    "explain_str",
    "has_broadcast_hash_join",
    "has_nested_loop_join",
    "has_pushed_filters",
    "join_keys",
    "python_eval_count",
    "read_schema_columns",
    "whole_stage_codegen_spans",
]
