"""Schema subsystem tests (SURVEY.md §1.3, D1-D4): sampled inference,
5-type vocabulary, sanitation, zone inference, additive-only evolution."""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from agent_data_pipeline_spark.schema import (
    diff_schemas,
    ensure_table,
    evolve_ddl,
    existing_columns,
    infer_csv_schema,
    run_ddl,
    sanitize_identifier,
    to_five_type,
    zone_from_path,
)

CSV_V1 = (
    "trip_id,fare-amount,pickup time,is_shared,note\n"
    "1,12.5,2025-01-01 08:00:00,true,hello\n"
    "2,7.25,2025-01-01 09:30:00,false,world\n"
)
# v2 adds a column (additive evolution trigger) and changes nothing else.
CSV_V2 = (
    "trip_id,fare-amount,pickup time,is_shared,note,congestion_fee\n"
    "3,9.0,2025-01-02 10:00:00,true,again,2.5\n"
)


@pytest.fixture
def csv_v1(tmp_path):
    p = tmp_path / "raw" / "trips_v1.csv"
    p.parent.mkdir(parents=True, exist_ok=True)
    p.write_text(CSV_V1)
    return str(p)


@pytest.fixture
def csv_v2(tmp_path):
    p = tmp_path / "raw" / "trips_v2.csv"
    p.parent.mkdir(parents=True, exist_ok=True)
    p.write_text(CSV_V2)
    return str(p)


def test_sanitize_identifier():
    assert sanitize_identifier("fare-amount") == "fare_amount"
    assert sanitize_identifier("pickup time") == "pickup_time"
    assert sanitize_identifier("2col") == "_2col"
    assert sanitize_identifier("ok_name") == "ok_name"


def test_to_five_type_vocabulary():
    assert to_five_type(T.IntegerType()) == T.LongType()
    assert to_five_type(T.DecimalType(10, 2)) == T.DoubleType()
    assert to_five_type(T.DateType()) == T.TimestampType()
    assert to_five_type(T.BooleanType()) == T.BooleanType()
    assert to_five_type(T.ArrayType(T.IntegerType())) == T.StringType()


def test_zone_from_path():
    assert zone_from_path("/data/raw/trips.csv") == "raw"
    assert zone_from_path("/data/analytics/out.csv") == "analytics"
    assert zone_from_path("/data/staging/x.csv") == "staging"
    assert zone_from_path("/somewhere/else.csv") == "raw"


def test_infer_csv_schema_five_types(spark, csv_v1):
    schema = infer_csv_schema(spark, csv_v1)
    got = {f.name: f.dataType for f in schema.fields}
    assert got == {
        "trip_id": T.LongType(),
        "fare_amount": T.DoubleType(),
        "pickup_time": T.TimestampType(),
        "is_shared": T.BooleanType(),
        "note": T.StringType(),
    }


def test_infer_respects_sample_bound(spark, tmp_path):
    # rows past the sample window must not influence the inferred type:
    # first 100 rows are ints, row 101 is a string.
    p = tmp_path / "mixed.csv"
    lines = ["v"] + [str(i) for i in range(100)] + ["not-a-number"]
    p.write_text("\n".join(lines) + "\n")
    schema = infer_csv_schema(spark, str(p), sample_rows=100)
    assert schema.fields[0].dataType == T.LongType()


def test_diff_is_case_insensitive_and_additive():
    existing = {"trip_id": "bigint", "fare_amount": "double"}
    inferred = T.StructType(
        [
            T.StructField("TRIP_ID", T.LongType()),  # case-only diff: ignored
            T.StructField("fare_amount", T.DoubleType()),
            T.StructField("tip_amount", T.DoubleType()),  # genuinely new
        ]
    )
    missing = diff_schemas(existing, inferred)
    assert [f.name for f in missing] == ["tip_amount"]


def test_ensure_table_creates_then_evolves(spark, csv_v1, csv_v2):
    plan1 = ensure_table(spark, csv_v1, "trips_evolve_t")
    assert plan1.zone == "raw"  # inferred from the path segment
    assert plan1.created_table
    cols1 = existing_columns(spark, plan1.qualified)
    assert set(cols1) == {"trip_id", "fare_amount", "pickup_time", "is_shared", "note"}

    # re-running on the same file is a no-op (idempotent)
    plan_again = ensure_table(spark, csv_v1, "trips_evolve_t")
    assert not plan_again.created_table and plan_again.added_columns == []

    # v2 adds exactly one column; nothing dropped or renamed
    plan2 = ensure_table(spark, csv_v2, "trips_evolve_t")
    assert not plan2.created_table
    assert plan2.added_columns == ["congestion_fee"]
    cols2 = existing_columns(spark, plan2.qualified)
    assert set(cols2) == set(cols1) | {"congestion_fee"}
    spark.sql("DROP TABLE IF EXISTS raw.trips_evolve_t")


def test_evolve_ddl_statements_shape(spark, csv_v1):
    inferred = infer_csv_schema(spark, csv_v1)
    plan = evolve_ddl(spark, inferred, "analytics.trips_ddl_shape")
    assert plan.statements[0] == "CREATE DATABASE IF NOT EXISTS analytics"
    assert plan.statements[1].startswith(
        "CREATE TABLE IF NOT EXISTS analytics.trips_ddl_shape ("
    )
    # D4: executing then re-planning yields no ALTERs
    run_ddl(spark, plan.statements)
    plan2 = evolve_ddl(spark, inferred, "analytics.trips_ddl_shape")
    assert len(plan2.statements) == 1  # just the CREATE DATABASE IF NOT EXISTS
    spark.sql("DROP TABLE IF EXISTS analytics.trips_ddl_shape")


# --- LLM-DDL generator seam (reference app.py:78-153) ------------------------


def test_ddl_generator_valid_output_is_used(spark, csv_v1):
    """A policy-conforming generator's DDL must be what executes: the
    fake generator names the column differently than the deterministic
    path would (extra_col), and the created table must show it."""
    from agent_data_pipeline_spark.schema import ensure_table

    calls = {}

    def fake_llm(inferred, qualified, existing):
        calls["qualified"] = qualified
        calls["existing"] = dict(existing)
        cols = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in inferred.fields)
        return (
            f"CREATE TABLE IF NOT EXISTS {qualified} ({cols}, extra_col string) "
            f"USING PARQUET"
        )

    plan = ensure_table(spark, csv_v1, "gen_trips", zone="raw", ddl_generator=fake_llm)
    try:
        assert calls["qualified"] == "raw.gen_trips"
        assert calls["existing"] == {}
        cols = {c.name for c in spark.catalog.listColumns("raw.gen_trips")}
        assert "extra_col" in cols
        assert plan.statements[1].startswith("CREATE TABLE IF NOT EXISTS raw.gen_trips")
    finally:
        spark.sql("DROP TABLE IF EXISTS raw.gen_trips")


@pytest.mark.parametrize(
    "bad_ddl",
    [
        "DROP TABLE raw.gen_trips2",                                  # destructive
        "CREATE TABLE other.table2 (a string)",                       # wrong target
        "ALTER TABLE raw.gen_trips2 RENAME COLUMN a TO b",            # rename
        "CREATE TABLE raw.gen_trips2 (a string); DELETE FROM raw.x",  # one bad spoils all
        "utter nonsense not sql",
        "",
    ],
)
def test_ddl_generator_policy_violations_fall_back(spark, csv_v1, bad_ddl):
    """Generator output violating the additive-only policy is rejected
    WHOLE and evolution falls back to the deterministic plan — the table
    still gets created correctly (reference fallback, app.py:204-218)."""
    from agent_data_pipeline_spark.schema import ensure_table

    plan = ensure_table(
        spark, csv_v1, "gen_trips2", zone="raw", ddl_generator=lambda *a: bad_ddl
    )
    try:
        assert plan.created_table
        cols = {c.name for c in spark.catalog.listColumns("raw.gen_trips2")}
        assert "trip_id" in cols and "fare_amount" in cols
        assert "extra_col" not in cols
    finally:
        spark.sql("DROP TABLE IF EXISTS raw.gen_trips2")


def test_validate_generated_ddl_unit():
    from agent_data_pipeline_spark.schema import validate_generated_ddl

    ok = validate_generated_ddl(
        "CREATE DATABASE IF NOT EXISTS raw;\n"
        "CREATE TABLE raw.t (a string, b bigint) USING PARQUET;\n"
        "ALTER TABLE raw.t ADD COLUMNS (c double)",
        "raw.t",
    )
    assert ok is not None and len(ok) == 3
    assert validate_generated_ddl("TRUNCATE TABLE raw.t", "raw.t") is None
    assert validate_generated_ddl("ALTER TABLE raw.OTHER ADD COLUMNS (c double)", "raw.t") is None


def test_validate_generated_ddl_pins_location_and_zone():
    """Generated DDL must not point the table at an arbitrary path or
    create databases unrelated to the evolution target."""
    from agent_data_pipeline_spark.schema import validate_generated_ddl

    # LOCATION with no caller-supplied location: rejected
    assert validate_generated_ddl(
        "CREATE TABLE raw.t (a string) USING PARQUET LOCATION '/etc/other_table'",
        "raw.t",
    ) is None
    # LOCATION differing from the caller's: rejected
    assert validate_generated_ddl(
        "CREATE TABLE raw.t (a string) USING PARQUET LOCATION '/stolen/path'",
        "raw.t",
        location="/warehouse/raw/t",
    ) is None
    # LOCATION equal to the caller's: accepted
    ok = validate_generated_ddl(
        "CREATE TABLE raw.t (a string) USING PARQUET LOCATION '/warehouse/raw/t'",
        "raw.t",
        location="/warehouse/raw/t",
    )
    assert ok is not None and len(ok) == 1
    # CREATE DATABASE naming a zone other than the target's: rejected
    assert validate_generated_ddl(
        "CREATE DATABASE IF NOT EXISTS sidechannel; CREATE TABLE raw.t (a string)",
        "raw.t",
    ) is None
    assert validate_generated_ddl("CREATE SCHEMA IF NOT EXISTS raw", "raw.t") is not None


def test_ddl_column_names_handle_nested_complex_types():
    """Commas inside angle brackets (struct<x:int,y:int>, map<string,int>)
    must not split the column list mid-type — only top-level commas
    delimit columns."""
    from agent_data_pipeline_spark.schema.evolve import _ddl_column_names

    names = _ddl_column_names(
        [
            "CREATE TABLE t (a struct<x:int,y:int>, b map<string,int>, "
            "c decimal(10,2), d array<struct<k:string,v:decimal(10,2)>>, e string)"
        ]
    )
    assert names == ["a", "b", "c", "d", "e"]


def test_ddl_generator_plan_reports_generated_statements(spark, csv_v1):
    """When generator DDL is accepted the returned plan must describe the
    statements that actually ran: generator_used set, added_columns taken
    from the generated column list (incl. extra_col)."""
    from agent_data_pipeline_spark.schema import ensure_table

    def fake_llm(inferred, qualified, existing):
        cols = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in inferred.fields)
        return f"CREATE TABLE IF NOT EXISTS {qualified} ({cols}, extra_col string) USING PARQUET"

    plan = ensure_table(spark, csv_v1, "gen_trips3", zone="raw", ddl_generator=fake_llm)
    try:
        assert plan.generator_used
        assert plan.created_table
        assert "extra_col" in plan.added_columns
        assert "trip_id" in plan.added_columns
    finally:
        spark.sql("DROP TABLE IF EXISTS raw.gen_trips3")


def test_ddl_generator_rejected_plan_not_marked_generated(spark, csv_v1):
    from agent_data_pipeline_spark.schema import ensure_table

    plan = ensure_table(
        spark, csv_v1, "gen_trips4", zone="raw",
        ddl_generator=lambda *a: "DROP TABLE raw.gen_trips4",
    )
    try:
        assert not plan.generator_used
        assert plan.created_table  # deterministic fallback ran
    finally:
        spark.sql("DROP TABLE IF EXISTS raw.gen_trips4")


# --- External-warehouse DDL dialects (reference app.py:204-218) --------------


def _inferred():
    return T.StructType(
        [
            T.StructField("trip_id", T.LongType()),
            T.StructField("fare_amount", T.DoubleType()),
            T.StructField("pickup_time", T.TimestampType()),
            T.StructField("is_shared", T.BooleanType()),
            T.StructField("note", T.StringType()),
        ]
    )


def test_warehouse_ddl_postgres_snapshot():
    from agent_data_pipeline_spark.schema import warehouse_ddl

    stmts = warehouse_ddl(_inferred(), "trips", "analytics", "postgres")
    assert stmts == [
        "CREATE SCHEMA IF NOT EXISTS analytics",
        "CREATE TABLE IF NOT EXISTS analytics.trips (trip_id BIGINT, "
        "fare_amount DOUBLE PRECISION, pickup_time TIMESTAMP, "
        "is_shared BOOLEAN, note TEXT)",
    ]
    # additive evolution: only the missing column, one ALTER per column
    evo = warehouse_ddl(
        _inferred(), "trips", "analytics", "postgres",
        existing={"trip_id": "bigint", "fare_amount": "double precision",
                  "pickup_time": "timestamp", "is_shared": "boolean"},
    )
    assert evo[-1] == "ALTER TABLE analytics.trips ADD COLUMN note TEXT"


def test_warehouse_ddl_mysql_snapshot():
    """MySQL dialect: CREATE DATABASE + USE + unqualified table — the
    reference's MySQL branch shape (app.py:206-212)."""
    from agent_data_pipeline_spark.schema import warehouse_ddl

    stmts = warehouse_ddl(_inferred(), "trips", "analytics", "mysql")
    assert stmts[0] == "CREATE DATABASE IF NOT EXISTS analytics"
    assert stmts[1] == "USE analytics"
    assert stmts[2] == (
        "CREATE TABLE IF NOT EXISTS trips (trip_id BIGINT, fare_amount DOUBLE, "
        "pickup_time DATETIME(6), is_shared TINYINT(1), note TEXT)"
    )
    evo = warehouse_ddl(
        _inferred(), "trips", "analytics", "mysql", existing={"trip_id": "bigint"}
    )
    assert evo[-1].startswith("ALTER TABLE trips ADD COLUMN fare_amount DOUBLE")


def test_warehouse_ddl_executes_on_derby(spark, tmp_path):
    """End-to-end against a REAL external warehouse (embedded Derby, the
    same stand-in the JDBC sink tests use): create schema+table via
    JDBC DDL, introspect columns back via DatabaseMetaData, evolve
    additively, re-run idempotently (already-exists tolerated)."""
    from agent_data_pipeline_spark.schema import (
        jdbc_existing_columns,
        run_jdbc_ddl,
        warehouse_ddl,
    )

    url = f"jdbc:derby:{tmp_path}/extwh;create=true"
    drv = "org.apache.derby.jdbc.EmbeddedDriver"

    stmts = warehouse_ddl(_inferred(), "trips", "analytics", "derby")
    assert run_jdbc_ddl(spark, url, stmts, driver=drv) == len(stmts)

    cols = jdbc_existing_columns(spark, url, "trips", zone="analytics", driver=drv)
    assert set(cols) == {"trip_id", "fare_amount", "pickup_time", "is_shared", "note"}

    # additive evolution: a new column appears in the live metadata
    evo = warehouse_ddl(
        T.StructType([*_inferred().fields, T.StructField("congestion_fee", T.DoubleType())]),
        "trips", "analytics", "derby", existing=cols,
    )
    alters = [s for s in evo if s.startswith("ALTER")]
    assert alters == ["ALTER TABLE analytics.trips ADD COLUMN congestion_fee DOUBLE"]
    run_jdbc_ddl(spark, url, alters, driver=drv)
    assert "congestion_fee" in jdbc_existing_columns(
        spark, url, "trips", zone="analytics", driver=drv
    )

    # idempotent re-run: CREATE SCHEMA/TABLE already exist -> tolerated
    assert run_jdbc_ddl(spark, url, stmts, driver=drv) == len(stmts)


# --- Driver-side inference pinned to Spark's CSV inference -------------------


def _spark_inferred(spark, path, sample_rows=100):
    """The Spark-job inference ``infer_csv_schema`` replaced: read the head
    as text, then Spark's own CSV inference over those lines."""
    from agent_data_pipeline_spark.schema import sanitize_schema

    head = [r.value for r in spark.read.text(path).limit(sample_rows + 1).collect()]
    return sanitize_schema(
        spark.read.option("header", "true")
        .option("inferSchema", "true")
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
        .csv(spark.sparkContext.parallelize(head, 1))
        .schema
    )


# The perfbench taxi header (perfbench/gen.py TAXI_V2) with cells shaped
# like the generator's: second-resolution timestamps, two-decimal money,
# integer codes and an empty fee cell inside the sample.
TAXI_CSV = (
    "tpep_pickup_datetime,tpep_dropoff_datetime,passenger_count,trip_distance,"
    "payment_type,fare_amount,tip_amount,total_amount,PULocationID,DOLocationID,"
    "cbd_congestion_fee,Airport Fee\n"
    "2025-01-03 10:00:00,2025-01-03 10:10:00,1,1.00,1,5.00,0.00,6.00,12,200,0.75,0.00\n"
    "2025-01-04 22:15:09,2025-01-04 22:19:09,0,2.35,2,9.00,0.00,10.75,265,1,,1.75\n"
    "2025-01-31 23:59:59,2025-02-01 00:30:01,6,20.00,4,60.00,10.00,71.00,7,7,0.00,0.00\n"
)

# Every planted edge cell Spark's inference treats specially, one column
# each, two rows per column.
EDGE_CSV = (
    "empty_mid,all_empty,quoted_comma,quoted_num,plus,nan,padded,padded_dec,"
    "date_only,date_and_ts,int_and_dec,bool_mixed_case,suffix_d,hex_float,huge_int,"
    "ts_bad_second\n"
    '1,,"a, b","1,000",+5,NaN, 12,7.5 ,2025-01-01,2025-01-01,1,TRUE,1.5d,0x1p3,'
    "99999999999999999999999,2025-01-01 08:00:60\n"
    ',,"c, d","2,000",+6,1.5,13 , 8.25,2025-12-31,2025-01-01 08:00:00,2.5,false,2,-0x.8P1,'
    "1,2025-01-01 08:00:00\n"
)


def _write(tmp_path, name, text):
    p = tmp_path / name
    if name.endswith(".gz"):
        import gzip

        with gzip.open(p, "wt") as fh:
            fh.write(text)
    else:
        p.write_text(text)
    return str(p)


@pytest.mark.parametrize(
    "name,text",
    [
        ("v1.csv", CSV_V1),
        ("v2.csv", CSV_V2),
        ("taxi.csv", TAXI_CSV),
        ("edges.csv", EDGE_CSV),
        ("edges.csv.gz", EDGE_CSV),
        ("header_quirks.csv", "a,A,,b c,b-c\n1,x,2025-01-01 00:00:00,true,\n"),
    ],
)
def test_driver_inference_matches_spark_inference(spark, tmp_path, name, text):
    """``infer_csv_schema`` reads the head on the driver and types cells in
    Python; it must land on the schema Spark's CSV inference gave, field
    for field (names, order, 5-type vocabulary). The deliberate
    divergences are listed in ``test_driver_inference_divergences``."""
    path = _write(tmp_path, name, text)
    assert infer_csv_schema(spark, path) == _spark_inferred(spark, path)


def test_driver_inference_edge_types(spark, tmp_path):
    """What the planted edge cells type as (and so what the parity test
    above pins both engines to)."""
    got = {
        f.name: f.dataType.simpleString()
        for f in infer_csv_schema(spark, _write(tmp_path, "e.csv", EDGE_CSV)).fields
    }
    assert got == {
        "empty_mid": "bigint",  # an empty cell is NULL, not a type
        "all_empty": "string",
        "quoted_comma": "string",
        "quoted_num": "string",  # "1,000" is not a number to Spark
        "plus": "bigint",
        "nan": "double",
        "padded": "double",  # Java's double parser trims, its long parser does not
        "padded_dec": "double",
        "date_only": "timestamp",  # DATE collapses to TIMESTAMP
        "date_and_ts": "string",
        "int_and_dec": "double",
        "bool_mixed_case": "boolean",
        "suffix_d": "double",  # Double.parseDouble takes a d/f suffix
        "hex_float": "double",  # ... and hex floats
        "huge_int": "double",  # past 64 bits: decimal -> DOUBLE
        "ts_bad_second": "string",
    }


def test_driver_inference_divergences(spark, tmp_path):
    """Deliberate divergences from the Spark-job inference:

    1. The sample is ``sample_rows`` NON-BLANK data rows. The old text
       read took ``sample_rows + 1`` physical lines, so blank lines in the
       head shrank its sample; the reference's ``pd.read_csv(nrows=100)``
       skips blank lines too.
    2. A quoted field spanning lines is one record to Python's ``csv``
       module; the old inference parsed every line on its own.
    Case 1 is planted: a blank line pushes row 100 out of the old window."""
    lines = ["v", ""] + [str(i) for i in range(99)] + ["not-a-number"]
    path = _write(tmp_path, "blank.csv", "\n".join(lines) + "\n")
    assert _spark_inferred(spark, path).fields[0].dataType == T.LongType()
    assert infer_csv_schema(spark, path).fields[0].dataType == T.StringType()


def test_read_csv_head_resolves_directories_globs_and_codecs(spark, tmp_path):
    """Every path ``spark.read.text`` took still works: a directory or
    glob resolves to its first visible file in name order (hidden ``_`` /
    ``.`` files skipped, subdirectories searched), and compressed files
    are decoded by their extension."""
    from agent_data_pipeline_spark.schema import read_csv_head

    d = tmp_path / "drop"
    (d / "sub").mkdir(parents=True)
    (d / "_SUCCESS").write_text("")
    (d / ".b.csv.crc").write_text("junk")
    (d / "b.csv").write_text("b_col\n2\n")
    (d / "c.csv").write_text("c_col\n3\n")
    (d / "sub" / "a.csv").write_text("sub_col\n1\n")
    _write(d, "a.csv.gz", "a_col,x\n1,2\n3,4\n")

    assert read_csv_head(spark, str(d), 5) == (["a_col", "x"], [["1", "2"], ["3", "4"]])
    assert read_csv_head(spark, str(d / "[bc].csv")) == (["b_col"], [])
    assert read_csv_head(spark, str(d / "sub")) == (["sub_col"], [])
    (d / "empty.csv").write_text("")
    assert read_csv_head(spark, str(d / "empty.csv")) == ([], [])
    with pytest.raises(FileNotFoundError):
        read_csv_head(spark, str(tmp_path / "missing" / "*.csv"))


# --- By-name ingest (reordered and widened headers) --------------------------

BASE_CSV = "trip_id,fare,tip\n1,10.0,2.0\n2,20.0,3.0\n"


def _ingested(spark, tmp_path, table, *files):
    from agent_data_pipeline_spark.pipelines import ingest_csv

    raw = tmp_path / "raw"
    raw.mkdir(exist_ok=True)
    for name, text in files:
        (raw / name).write_text(text)
        plan = ingest_csv(spark, str(raw / name), table, zone="raw")
    rows = spark.table(plan.qualified).collect()
    spark.sql(f"DROP TABLE IF EXISTS {plan.qualified}")
    return {r["trip_id"]: r.asDict() for r in rows}


def test_ingest_binds_reordered_header_by_name(spark, tmp_path):
    """A file whose header lists the table's columns in another order
    lands each value in its named column; positional binding put
    trip_id=NULL, fare=<tip> here."""
    got = _ingested(
        spark, tmp_path, "byname_reorder",
        ("a.csv", BASE_CSV),
        ("b.csv", "tip,trip_id,fare\n0.5,3,30.0\n"),
    )
    assert got[3] == {"trip_id": 3, "fare": 30.0, "tip": 0.5}
    assert got[1] == {"trip_id": 1, "fare": 10.0, "tip": 2.0}


def test_ingest_binds_middle_insert_by_name(spark, tmp_path):
    """A new column inserted mid-header is appended to the table by
    evolution; its values must land in it, and the columns after it must
    not shift. Rows from the older file read the new column as NULL."""
    got = _ingested(
        spark, tmp_path, "byname_insert",
        ("a.csv", BASE_CSV),
        ("b.csv", "trip_id,Extra Fee,fare,tip\n3,1.75,30.0,0.5\n"),
    )
    assert got[3] == {"trip_id": 3, "fare": 30.0, "tip": 0.5, "Extra_Fee": 1.75}
    assert got[1]["Extra_Fee"] is None and got[1]["fare"] == 10.0


def test_bind_csv_columns_rejects_unknown_and_ambiguous_headers(spark, tmp_path):
    from agent_data_pipeline_spark.schema import bind_csv_columns

    table = T.StructType.fromDDL("trip_id long, fare double, Airport_Fee double")
    ok = tmp_path / "ok.csv"
    ok.write_text("Airport Fee,TRIP_ID\n1.75,1\n")
    read, cols = bind_csv_columns(spark, str(ok), table)
    assert read.simpleString() == "struct<Airport Fee:double,TRIP_ID:bigint>"
    landed = (
        spark.read.option("header", "true")
        .option("enforceSchema", "false")
        .schema(read)
        .csv(str(ok))
        .select(*cols)
    )
    assert landed.schema.fieldNames() == ["trip_id", "fare", "Airport_Fee"]
    assert [tuple(r) for r in landed.collect()] == [(1, None, 1.75)]

    unknown = tmp_path / "unknown.csv"
    unknown.write_text("trip_id,surprise\n1,2\n")
    with pytest.raises(ValueError, match="surprise"):
        bind_csv_columns(spark, str(unknown), table)
    twice = tmp_path / "twice.csv"
    twice.write_text("trip_id,Airport Fee,airport-fee\n1,2,3\n")
    with pytest.raises(ValueError, match="airport_fee"):
        bind_csv_columns(spark, str(twice), table)
