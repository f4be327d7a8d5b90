"""D2-D4: catalog introspection, schema diff + additive evolution, DDL run.

Reference contract (agent-schema/app.py):
  D2  ``get_existing_columns`` reads information_schema (app.py:61-73)
      -> here: ``spark.catalog.listColumns`` over the Spark catalog.
  D3  evolution policy (app.py:95-124, fallback :204-218):
      create schema if missing (:109); infer zone raw/staging/analytics
      from the file path when none given (:93, :111); create table if
      absent (:112); ADD missing columns only -- never drop or rename
      (:113); ignore case-only differences (:107); sanitize identifiers
      (:110).
  D4  execute DDL statement-by-statement, split on ';' (app.py:226-231).

Everything here is driver-side metadata work: the only file I/O is
``infer_csv_schema`` reading the file head (header plus 100 rows) on the
driver, with no Spark job. At 100 TB the catalog calls are identical —
schema evolution never touches data files (Parquet tables
resolve added columns as NULL on old files, the same additive semantics
the reference gets from ``ALTER TABLE ADD COLUMN``).
"""

from __future__ import annotations

import re
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from .infer import infer_csv_schema, sanitize_identifier

_ZONES = ("raw", "staging", "analytics")

# An external DDL generator (the reference's LLM-mediated path,
# agent-schema/app.py:78-153 generate_gemini_sql): given (inferred
# schema, qualified table, existing columns) it returns DDL text —
# possibly several ';'-separated statements.
DdlGenerator = Callable[[T.StructType, str, dict[str, str]], str]


def zone_from_path(path: str) -> str:
    """Infer a warehouse zone from the file path (app.py:93, :111):
    any path segment naming a zone wins; default ``raw``."""
    lowered = path.lower().replace("\\", "/")
    segments = set(lowered.strip("/").split("/"))
    for zone in _ZONES:
        if zone in segments:
            return zone
    return "raw"


def existing_columns(spark: SparkSession, qualified_table: str) -> dict[str, str]:
    """D2: ``{lowercase_column_name: spark_ddl_type}`` for a catalog table,
    empty dict when the table (or its database) does not exist.

    Mirrors the reference's dialect-portable information_schema read
    (app.py:61-73) via the Spark catalog. The table's resolved schema is
    read instead of ``catalog.listColumns``, which PySpark iterates with
    ``toLocalIterator`` — one Spark job per partition of the listing."""
    if not spark.catalog.tableExists(qualified_table):
        return {}
    return {
        f.name.lower(): f.dataType.simpleString()
        for f in spark.table(qualified_table).schema.fields
    }


def diff_schemas(
    existing: dict[str, str], inferred: T.StructType
) -> list[T.StructField]:
    """D3 core: fields in ``inferred`` missing from ``existing``,
    compared case-insensitively (app.py:107). Never reports drops or
    renames — evolution is additive-only (app.py:113)."""
    have = {name.lower() for name in existing}
    return [f for f in inferred.fields if f.name.lower() not in have]


@dataclass
class EvolutionPlan:
    """The DDL the evolve step decided on, plus what it saw."""

    zone: str
    table: str
    statements: list[str] = field(default_factory=list)
    added_columns: list[str] = field(default_factory=list)
    created_table: bool = False
    # True when an external DdlGenerator's output passed policy and
    # replaced the deterministic statements — so the plan always reports
    # what actually ran, not what would have run.
    generator_used: bool = False

    @property
    def qualified(self) -> str:
        return f"{self.zone}.{self.table}"


def evolve_ddl(
    spark: SparkSession,
    inferred: T.StructType,
    table: str,
    zone: str | None = None,
    source_path: str = "",
    location: str | None = None,
) -> EvolutionPlan:
    """D3: generate additive-only DDL to make ``zone.table`` carry the
    inferred schema. Pure metadata decision — nothing is executed.

    ``table`` may be qualified (``analytics.trips``); an explicit ``zone``
    or the path-derived zone is used otherwise (app.py:90-93)."""
    if "." in table:
        zone, table = table.split(".", 1)
    if not zone:
        zone = zone_from_path(source_path)
    zone = sanitize_identifier(zone).lower()
    table = sanitize_identifier(table).lower()
    plan = EvolutionPlan(zone=zone, table=table)

    plan.statements.append(f"CREATE DATABASE IF NOT EXISTS {zone}")

    current = existing_columns(spark, f"{zone}.{table}")
    cols_ddl = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in inferred.fields)
    if not current:
        loc = f" LOCATION '{location}'" if location else ""
        plan.statements.append(
            f"CREATE TABLE IF NOT EXISTS {zone}.{table} ({cols_ddl}) USING PARQUET{loc}"
        )
        plan.created_table = True
        plan.added_columns = [f.name for f in inferred.fields]
        return plan

    missing = diff_schemas(current, inferred)
    if missing:
        add_ddl = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in missing)
        plan.statements.append(f"ALTER TABLE {zone}.{table} ADD COLUMNS ({add_ddl})")
        plan.added_columns = [f.name for f in missing]
    return plan


# Statements the evolution policy permits from an external generator:
# create-zone, create-table (for the target), additive column adds. The
# reference trusts its LLM output after a syntax check (app.py:155-165);
# here policy is ENFORCED structurally — a generated statement that
# renames, drops, or targets another table is rejected and evolution
# falls back to the deterministic plan (the reference's own DISABLE_LLM
# fallback contract, app.py:19, :204-218).
_ALLOWED_DDL = [
    re.compile(r"^create\s+(database|schema)\s+(if\s+not\s+exists\s+)?(?P<zone>[a-z_][a-z0-9_]*)$"),
    re.compile(
        r"^create\s+table\s+(if\s+not\s+exists\s+)?(?P<tbl>[a-z_][a-z0-9_.]*)\s*\(.+\)"
        r"(\s+using\s+[a-z]+)?(\s+location\s+'[^']*')?$"
    ),
    re.compile(r"^alter\s+table\s+(?P<tbl>[a-z_][a-z0-9_.]*)\s+add\s+columns?\s*\(.+\)$"),
]
_FORBIDDEN = re.compile(r"\b(drop|rename|truncate|delete|update|insert|replace)\b")


def validate_generated_ddl(
    ddl: str, qualified: str, location: str | None = None
) -> list[str] | None:
    """Check generator output against the additive-only policy. Returns
    the cleaned statement list, or None when ANY statement violates
    policy (whole-output rejection — a partially-applied evolution is
    worse than the deterministic fallback).

    Beyond statement-shape checks, two pinning rules close the holes a
    shape-only allowlist leaves open for untrusted generator output:
    * CREATE DATABASE/SCHEMA may only name the evolution target's zone —
      not arbitrary databases.
    * A LOCATION clause must equal the caller-supplied ``location``
      exactly; with no caller location, any LOCATION is rejected (a
      generated path could point the table at another table's data)."""
    statements = [s.strip() for s in ddl.split(";") if s.strip()]
    if not statements:
        return None
    zone = qualified.split(".", 1)[0].lower()
    out: list[str] = []
    for stmt in statements:
        flat = re.sub(r"\s+", " ", stmt).strip().lower()
        if _FORBIDDEN.search(flat):
            return None
        m = next((p.match(flat) for p in _ALLOWED_DDL if p.match(flat)), None)
        if m is None:
            return None
        target = m.groupdict().get("tbl")
        if target is not None and target != qualified.lower():
            return None  # touches a table other than the evolution target
        db = m.groupdict().get("zone")
        if db is not None and db != zone:
            return None  # creates a database unrelated to the target zone
        # LOCATION pinning: compare against the ORIGINAL statement text
        # (paths are case-sensitive; `flat` is lowercased).
        loc_m = re.search(r"location\s+'([^']*)'", stmt, re.IGNORECASE)
        if loc_m is not None and (location is None or loc_m.group(1) != location):
            return None
        out.append(stmt)
    return out


def _ddl_column_names(statements: list[str]) -> list[str]:
    """Column names declared by validated CREATE TABLE / ADD COLUMNS
    statements: first token of each top-level comma-separated item in the
    outermost paren group. Depth-aware over BOTH parentheses and angle
    brackets so neither decimal(10,2) nor nested complex types
    (struct<x:int,y:int>, map<string,int>) split mid-type."""
    names: list[str] = []
    for stmt in statements:
        start = stmt.find("(")
        if start < 0:
            continue
        depth, angle, item, items = 0, 0, "", []
        for ch in stmt[start:]:
            if ch == "(":
                depth += 1
                if depth == 1:
                    continue
            elif ch == ")":
                depth -= 1
                if depth == 0:
                    items.append(item)
                    break
            elif ch == "<":
                angle += 1
            elif ch == ">":
                angle -= 1
            if ch == "," and depth == 1 and angle == 0:
                items.append(item)
                item = ""
            else:
                item += ch
        names.extend(tok.split()[0] for tok in items if tok.strip())
    return names


def run_ddl(spark: SparkSession, ddl: str | list[str]) -> int:
    """D4: execute DDL statement-by-statement (app.py:226-231 splits on
    ';'); returns the number of statements run."""
    statements = ddl if isinstance(ddl, list) else ddl.split(";")
    n = 0
    for stmt in statements:
        stmt = stmt.strip()
        if stmt:
            spark.sql(stmt)
            n += 1
    return n


def ensure_table(
    spark: SparkSession,
    path: str,
    table: str,
    zone: str | None = None,
    sample_rows: int = 100,
    location: str | None = None,
    ddl_generator: DdlGenerator | None = None,
) -> EvolutionPlan:
    """§3.3 entry point: sample -> infer -> diff -> additive DDL -> execute.

    The Spark collapse of the reference's POST /nifi_table_create
    (agent-schema/app.py:167-243): one driver-side call, no services.

    ``ddl_generator`` is the seam for the reference's LLM-mediated DDL
    path (app.py:78-153): when given, it proposes the DDL and
    ``validate_generated_ddl`` enforces the evolution policy (additive
    only, sanitized, targets this table). Invalid output falls back to
    the deterministic plan — mirroring the reference's behavior when the
    LLM is disabled or errors (app.py:19, :204-218)."""
    inferred = infer_csv_schema(spark, path, sample_rows=sample_rows)
    plan = evolve_ddl(
        spark, inferred, table, zone=zone, source_path=path, location=location
    )
    if ddl_generator is not None:
        current = existing_columns(spark, plan.qualified)
        generated = validate_generated_ddl(
            ddl_generator(inferred, plan.qualified, current),
            plan.qualified,
            location=location,
        )
        if generated is not None:
            plan.statements = [f"CREATE DATABASE IF NOT EXISTS {plan.zone}", *generated]
            # Re-derive what the plan reports from the statements that
            # will ACTUALLY run — the deterministic created_table /
            # added_columns no longer describe the generated DDL.
            plan.generator_used = True
            plan.created_table = any(
                re.match(r"(?i)\s*create\s+table\b", s) for s in generated
            )
            plan.added_columns = _ddl_column_names(generated)
    run_ddl(spark, plan.statements)
    return plan
