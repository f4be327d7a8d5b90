"""Schema subsystem: sampled inference, diff, additive evolution (D1-D4),
and by-name binding of CSV columns to the evolved table.

Reference parity (SURVEY.md §1.3, §2.A D1-D4; agent-schema/app.py):
the reference samples the first 100 rows of a CSV, infers a 5-type
schema, diffs it against the live catalog, and emits additive-only DDL
(create-if-missing, add-columns-only, case-insensitive, sanitized
identifiers). Here the same contract runs no Spark job: the sample is a
driver-side read of the file head, and the rest is metadata work over
Spark's catalog — the deterministic path IS the contract, with
``ddl_generator`` as the seam for the reference's LLM-mediated variant
(policy enforced on its output) and ``warehouse_ddl`` rendering the same
decisions in external-warehouse dialects (Postgres/MySQL/Derby over JDBC).
``bind_csv_columns`` then lands each file's columns on the evolved table
by name.
"""

from .infer import (
    FIVE_TYPE_VOCABULARY,
    bind_csv_columns,
    infer_csv_schema,
    read_csv_head,
    sanitize_identifier,
    sanitize_schema,
    to_five_type,
)
from .evolve import (
    diff_schemas,
    ensure_table,
    evolve_ddl,
    existing_columns,
    run_ddl,
    validate_generated_ddl,
    zone_from_path,
)
from .warehouse import (
    jdbc_existing_columns,
    run_jdbc_ddl,
    sql_type,
    warehouse_ddl,
)

__all__ = [
    "FIVE_TYPE_VOCABULARY",
    "bind_csv_columns",
    "infer_csv_schema",
    "read_csv_head",
    "sanitize_identifier",
    "sanitize_schema",
    "to_five_type",
    "diff_schemas",
    "ensure_table",
    "evolve_ddl",
    "existing_columns",
    "run_ddl",
    "validate_generated_ddl",
    "zone_from_path",
    "jdbc_existing_columns",
    "run_jdbc_ddl",
    "sql_type",
    "warehouse_ddl",
]
