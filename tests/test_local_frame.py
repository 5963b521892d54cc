"""Driver-built rows as JVM local relations, and known-schema table reads.

``session.local_frame`` must give exactly what
``spark.createDataFrame(rows, schema)`` gives for every schema the
package passes, without a Python RDD under the plan; ``load_table``
must infer a table's schema once per version of its files and serve a
rewritten file fresh.
"""

from __future__ import annotations

import ast
import datetime
import os
import pathlib

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from overseer_spark.core import DEPENDENCIES_SCHEMA, JOBS_SCHEMA, job_graph
from overseer_spark.operators import ann_index as AI
from overseer_spark.operators import scheduling as S
from overseer_spark.queries import fixtures as FX
from overseer_spark.session import local_frame
from overseer_spark.sources import tables
from overseer_spark.store.sparklog import LOG_SCHEMA
from tests.conftest import SF_CORRECTNESS

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "overseer_spark"
NAMED_SCHEMAS = {
    "JOBS_SCHEMA": JOBS_SCHEMA,
    "DEPENDENCIES_SCHEMA": DEPENDENCIES_SCHEMA,
    "LOG_SCHEMA": LOG_SCHEMA,
}
# values for the names the package's f-string schemas interpolate
FSTRING_NAMES = {"id_col": "vec_id", "vec_col": "embedding"}
COMPONENT_TYPES = ("string", "bigint")


def _calls(name):
    """(path, Call) for every call of ``name`` (a plain name or an
    attribute) in the package."""
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            fn = node.func
            called = fn.attr if isinstance(fn, ast.Attribute) else getattr(fn, "id", None)
            if called == name:
                yield path, node, tree


def _schema_arg(call):
    if len(call.args) >= 3:
        return call.args[2]
    return next(k.value for k in call.keywords if k.arg == "schema")


def _package_schemas():
    """Every schema the package hands to local_frame: DDL constants,
    f-string DDLs (their interpolated names filled in) and the store
    schemas."""
    out = {}
    for path, call, _ in _calls("local_frame"):
        arg = _schema_arg(call)
        if isinstance(arg, ast.Constant):
            out[arg.value] = arg.value
        elif isinstance(arg, ast.Name):
            out[arg.id] = NAMED_SCHEMAS[arg.id]
        elif isinstance(arg, ast.JoinedStr):
            for t in COMPONENT_TYPES:
                names = dict(FSTRING_NAMES, schema_t=t)
                ddl = "".join(
                    v.value if isinstance(v, ast.Constant) else names[v.value.id]
                    for v in arg.values
                )
                out[ddl] = ddl
        else:
            raise AssertionError(f"{path}:{call.lineno}: unrecognized schema argument")
    return out


def _value(dtype, variant):
    if isinstance(dtype, T.StringType):
        return ("x", "", "ünï")[variant]
    if isinstance(dtype, (T.LongType, T.IntegerType)):
        return (7, 0, -3)[variant]
    if isinstance(dtype, T.DoubleType):
        return (1.25, -0.0, 1e300)[variant]
    if isinstance(dtype, T.BooleanType):
        return (True, False, True)[variant]
    if isinstance(dtype, T.TimestampType):
        return (
            datetime.datetime(2024, 1, 2, 3, 4, 5, 678901),
            datetime.datetime(1970, 1, 1),
            datetime.datetime(2038, 6, 30, 23, 59, 59, 1),
        )[variant]
    if isinstance(dtype, T.ArrayType):
        return ([1.0, -2.5], [], [None, 0.5])[variant]
    raise AssertionError(f"no sample value for {dtype}")


def _sample_rows(schema):
    rows = [tuple(_value(f.dataType, v) for f in schema.fields) for v in range(3)]
    rows.append(
        tuple(None if f.nullable else _value(f.dataType, 0) for f in schema.fields)
    )
    return rows


def test_package_schemas_are_all_found():
    found = _package_schemas()
    assert {"JOBS_SCHEMA", "DEPENDENCIES_SCHEMA", "LOG_SCHEMA"} <= set(found)
    assert "vec_id long" in found and "id string, level long" in found
    assert len(found) >= 25


@pytest.mark.parametrize("key", sorted(_package_schemas()))
def test_local_frame_matches_create_dataframe(spark, key):
    schema = _package_schemas()[key]
    struct = T.StructType.fromDDL(schema) if isinstance(schema, str) else schema
    for rows in (_sample_rows(struct), []):
        want = spark.createDataFrame(rows, schema)
        got = local_frame(spark, rows, schema)
        assert got.schema == want.schema
        assert got._jdf.schema().json() == want._jdf.schema().json()
        assert got.collect() == want.collect()


def test_local_frame_takes_dicts_by_name(spark):
    rows = [{"dep_id": "a", "job_id": "b"}, {"job_id": "c", "dep_id": "d"}]
    got = local_frame(spark, rows, DEPENDENCIES_SCHEMA)
    assert got.collect() == spark.createDataFrame(rows, DEPENDENCIES_SCHEMA).collect()


# --- no Python RDD under any driver-built frame


def _assert_local_relation(df):
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "LogicalRDD" not in analyzed, analyzed


def test_local_frame_plan_is_a_local_relation(spark):
    df = local_frame(spark, [("a", 1)], "id string, level long")
    assert df._jdf.queryExecution().optimizedPlan().toString().startswith(
        "LocalRelation"
    )


@pytest.mark.parametrize(
    "leg",
    ["closure", "topo_levels", "pagerank", "detect_cycles", "critical_path"],
)
def test_scheduling_local_legs_are_local_relations(spark, leg):
    # "auto" takes the driver-side leg for a graph this small
    jobs, deps = FX.jobs_df(spark), FX.deps_df(spark)
    df = {
        "closure": lambda: S.transitive_dependents(deps, [FX.CLOSURE_SEED]),
        "topo_levels": lambda: S.topo_levels(jobs, deps),
        "pagerank": lambda: S.pagerank(jobs, deps),
        "detect_cycles": lambda: S.detect_cycles(jobs, deps),
        "critical_path": lambda: S.critical_path(
            jobs.withColumn("weight", F.lit(1)), deps
        ),
    }[leg]()
    _assert_local_relation(df)
    assert df.count() > 0 or leg == "detect_cycles"


def test_delete_id_frame_is_a_local_relation(spark, tmp_path, monkeypatch):
    made = []

    def spy(*args, **kwargs):
        made.append(local_frame(*args, **kwargs))
        return made[-1]

    monkeypatch.setattr(AI, "local_frame", spy)
    path = str(tmp_path / "index")
    AI.delete_from_ivf_index(spark, path, [3, 1, 2])
    assert len(made) == 1
    _assert_local_relation(made[0])
    back = spark.read.parquet(f"{path}/tombstones")
    assert sorted(r[0] for r in back.collect()) == [1, 2, 3]


def test_manifest_frames_are_local_relations(spark, tmp_path):
    from overseer_spark.store.manifest import ManifestCASStore

    store = ManifestCASStore(spark, str(tmp_path))
    store.install()
    store.transact_graph(job_graph({"t1": [], "t2": ["t1"]}))
    jobs, deps = store.jobs_df(), store.deps_df()
    _assert_local_relation(jobs)
    _assert_local_relation(deps)
    assert jobs.count() == 2 and deps.count() == 1
    assert jobs.schema == JOBS_SCHEMA and deps.schema == DEPENDENCIES_SCHEMA


def test_create_dataframe_is_called_only_in_local_frame():
    for path, call, tree in _calls("createDataFrame"):
        owner = [
            f.name
            for f in ast.walk(tree)
            if isinstance(f, ast.FunctionDef)
            and f.lineno <= call.lineno <= f.end_lineno
        ]
        assert path.name == "session.py" and owner == ["local_frame"], (
            f"{path}:{call.lineno}: build driver-side rows with "
            "session.local_frame"
        )


# --- known-schema table reads


def _memo_keys(path):
    return [k for k in tables._DIR_MEMO if k[1] == path]


def _jobs_run_by(spark, fn):
    sc = spark.sparkContext
    group = f"load-table-{id(fn)}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_rewritten_table_file_is_read_fresh(spark, tmp_path):
    d = str(tmp_path)
    path = os.path.join(d, "t.parquet")
    pq.write_table(pa.table({"a": pa.array([1, 2], pa.int32())}), path)
    assert tables.load_table(spark, d, "t").collect() == [(1,), (2,)]
    assert len(_memo_keys(path)) == 1
    # a memo hit runs no Spark job at all
    assert _jobs_run_by(spark, lambda: tables.load_table(spark, d, "t")) == []

    # an added column, same file name
    ints = pa.array([1, 2], pa.int32())
    pq.write_table(pa.table({"a": ints, "b": ["x", "y"]}), path)
    got = tables.load_table(spark, d, "t")
    assert got.columns == ["a", "b"]
    assert got.collect() == [(1, "x"), (2, "y")]

    # a changed type, same file name and column
    pq.write_table(pa.table({"a": ["p", "q"], "b": ["x", "y"]}), path)
    got = tables.load_table(spark, d, "t")
    assert got.schema["a"].dataType == T.StringType()
    assert got.collect() == [("p", "x"), ("q", "y")]


def test_partitioned_table_directory_is_read_with_memoized_schema(
    spark, tmp_path
):
    """A partitioned directory's memoized schema holds the partition
    column, and a rewrite of the leaf files is read fresh."""
    d = str(tmp_path)
    path = os.path.join(d, "p.parquet")
    spark.createDataFrame([(1, "a"), (2, "b")], "v int, k string").write.partitionBy(
        "k"
    ).parquet(path)
    got = tables.load_table(spark, d, "p")
    assert got.columns == ["v", "k"]
    assert sorted(got.collect()) == [(1, "a"), (2, "b")]
    assert len(_memo_keys(path)) == 1
    assert _jobs_run_by(spark, lambda: tables.load_table(spark, d, "p")) == []

    spark.createDataFrame([(3, "x", 5)], "v int, w string, k int").write.mode(
        "overwrite"
    ).partitionBy("k").parquet(path)
    got = tables.load_table(spark, d, "p")
    assert got.columns == ["v", "w", "k"]
    assert got.schema["k"].dataType == T.IntegerType()
    assert got.collect() == [(3, "x", 5)]


def _inferred(spark, sf_dir, name, monkeypatch):
    with monkeypatch.context() as m:
        m.setattr(tables, "read_parquet", lambda spark, p: spark.read.parquet(p))
        return tables.load_table(spark, sf_dir, name)


def _same_rows(a, b):
    assert a.schema == b.schema
    assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


@pytest.mark.parametrize("name", tables.TABLES)
def test_memo_hit_read_equals_inferred_read(spark, name, monkeypatch):
    tables.load_table(spark, SF_CORRECTNESS, name)  # warm the memo
    hit = tables.load_table(spark, SF_CORRECTNESS, name)
    assert _memo_keys(os.path.join(SF_CORRECTNESS, f"{name}.parquet"))
    _same_rows(hit, _inferred(spark, SF_CORRECTNESS, name, monkeypatch))


def test_memo_hit_read_of_nanosecond_events_equals_inferred_read(
    spark, tmp_path, monkeypatch
):
    src = pq.read_table(os.path.join(SF_CORRECTNESS, "events.parquet"))
    ts = src.schema.get_field_index("ts")
    nanos = src.set_column(
        ts, "ts", src.column("ts").cast(pa.timestamp("ns"))
    ).replace_schema_metadata(None)
    d = str(tmp_path)
    pq.write_table(nanos, os.path.join(d, "events.parquet"))
    tables.load_table(spark, d, "events")
    hit = tables.load_table(spark, d, "events")
    assert hit.schema["ts"].dataType == T.TimestampType()
    _same_rows(hit, _inferred(spark, d, "events", monkeypatch))
