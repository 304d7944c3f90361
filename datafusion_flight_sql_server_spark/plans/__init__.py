from datafusion_flight_sql_server_spark.plans.gate import SQLOptions, PlanVerificationError
from datafusion_flight_sql_server_spark.plans.params import (
    normalize_placeholders,
    record_batch_to_params,
    bind_sql,
)
from datafusion_flight_sql_server_spark.plans.schema import (
    arrow_schema_for_df,
    parameter_schema_for_sql,
    qualifier_metadata,
)

__all__ = [
    "SQLOptions",
    "PlanVerificationError",
    "normalize_placeholders",
    "record_batch_to_params",
    "bind_sql",
    "arrow_schema_for_df",
    "parameter_schema_for_sql",
    "qualifier_metadata",
]
