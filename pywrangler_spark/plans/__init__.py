"""Physical-plan introspection via public APIs."""

from pywrangler_spark.plans.inspect import (
    codegen_stage_count,
    count_exchanges,
    count_sorts,
    explain_string,
    scan_info,
)

__all__ = [
    "explain_string",
    "count_exchanges",
    "count_sorts",
    "codegen_stage_count",
    "scan_info",
]
