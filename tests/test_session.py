"""Session helpers (gsearch_spark/session.py): the scan-parallelism
floor, and ``local_frame`` — the engine's one way to turn driver-side
rows into a DataFrame.

``local_frame`` must be a drop-in for ``spark.createDataFrame(<list>)``
(same schema, nullability included, and same rows) that plans as a JVM
``LocalTableScan`` instead of a pickled PythonRDD scan.  Two guards keep
it the only way: a source walk finds no other ``createDataFrame`` call
in the package, and a build, an add and a remove run with no stage whose
operation graph holds a ``PythonRDD`` node.  The same source walk keeps
the package's thread starts inside ``pipeline.chains``, another finds
every hashed ``PipelineConfig`` field read by the package, and a token
count keeps every function of the mutation modules short."""

from __future__ import annotations

import ast
import dataclasses
import io
import pathlib
import shutil
import tokenize

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F
from pyspark.sql.types import (LongType, StringType, StructField,
                               StructType)

import gsearch_spark
from gsearch_spark.config import PipelineConfig
from gsearch_spark.operators.pipeline import NearDupPipeline, incremental_add
from gsearch_spark.operators.remove import (DEAD_SCHEMA, REMAP_SCHEMA,
                                            TOMBSTONE_SCHEMA, remove_images)
from gsearch_spark.session import local_frame

I64_MAX = 2 ** 63 - 1
I64_MIN = -2 ** 63

# every schema the engine passes to local_frame, each with rows that
# cover its column types (None in string/boolean columns, int64
# extremes, doubles, array<int>)
SCHEMA_ROWS = [
    pytest.param("band_id int, band_hash bigint, n_salt int",
                 [(0, I64_MAX, 3), (7, I64_MIN, 2), (2, 0, 1)],
                 id="hot_buckets"),
    pytest.param("image_id string, cluster_id string",
                 [("b", "a"), ("a", "a"), ("c", None)], id="cc_roots"),
    pytest.param("stage string, part_id int, rows_in bigint, "
                 "rows_out bigint, ts double, te double, seconds double, "
                 "skipped boolean, config_hash string",
                 [("add_bands", -1, -1, 0, 1.5e9, 1.5e9 + 0.25, 0.25,
                   False, "h"),
                  ("clusters", 3, I64_MAX, I64_MIN, 0.0, -1.0, 1e-9,
                   None, None)], id="pipeline_state"),
    pytest.param("image_id string", [("x",), (None,), ("",)],
                 id="image_ids"),
    pytest.param("image_id string, cluster_id string, is_rep boolean, "
                 "rep_id string",
                 [("a", "a", True, "a"), ("b", None, None, "a"),
                  ("c", "a", False, None)], id="ep_info"),
    pytest.param("image_id string, label string",
                 [("a", "a"), ("é", "ü")], id="labels"),
    pytest.param("a string, b string", [("a", "b"), ("b", "c")],
                 id="label_edges"),
    pytest.param("cluster_id string", [("k",)], id="affected_clusters"),
    pytest.param("profile_id string, warr array<int>",
                 [("p0", [1, -2, 2 ** 31 - 1]), ("p1", []), ("p2", None),
                  ("p3", [None, 0])], id="profiles"),
    pytest.param(TOMBSTONE_SCHEMA, [("a", 0, 5), ("b", None, None)],
                 id="tombstones"),
    pytest.param(DEAD_SCHEMA, [("a", 2)], id="dead_groups"),
    pytest.param(REMAP_SCHEMA, [("a", "b", 1)], id="rep_remap"),
]


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("schema, rows", SCHEMA_ROWS)
@pytest.mark.parametrize("empty", [False, True], ids=["rows", "empty"])
def test_local_frame_matches_create_dataframe(spark, schema, rows, empty):
    rows = [] if empty else rows
    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    assert "LocalTableScan" in _plan(got)
    assert "ExistingRDD" not in _plan(got)


def test_local_frame_struct_schema_keeps_nullability(spark):
    """keyidx passes the probed key column's StructType; a NOT NULL
    field must stay NOT NULL, exactly as createDataFrame keeps it."""
    schema = StructType([StructField("k", LongType(), False),
                         StructField("s", StringType(), True)])
    rows = [(I64_MAX, None), (I64_MIN, "x")]
    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema == schema
    assert got.collect() == want.collect()
    assert "LocalTableScan" in _plan(got)


def test_local_frame_many_rows_is_one_local_relation(spark):
    """More rows than one Arrow batch (maxRecordsPerBatch) still plan as
    one LocalTableScan, and Row objects are accepted as input rows."""
    rows = [(f"i{n:05d}", n) for n in range(3000)]
    df = local_frame(spark, rows, "image_id string, n bigint")
    assert "LocalTableScan" in _plan(df)
    again = local_frame(spark, df.collect(), df.schema)
    assert (again.agg(F.count(F.lit(1)), F.sum("n")).collect()[0][:]
            == (3000, sum(range(3000))))


def _used_outside(names: "set[str]", owner_file: str,
                  owners: "set[str]") -> "list[str]":
    """Places (file:line) in the package that use any of ``names`` — as
    an attribute, a bare name or an import — outside the functions
    ``owners`` of the module file ``owner_file``."""
    root = pathlib.Path(gsearch_spark.__file__).parent
    offenders = []
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        allowed = set()
        for node in ast.walk(tree):
            if (isinstance(node, ast.FunctionDef) and node.name in owners
                    and path.name == owner_file):
                allowed |= {id(n) for n in ast.walk(node)}
        for node in ast.walk(tree):
            used = (node.attr if isinstance(node, ast.Attribute)
                    else node.id if isinstance(node, ast.Name)
                    else node.name if isinstance(node, ast.alias)
                    else None)
            if used in names and id(node) not in allowed:
                offenders.append(f"{path.relative_to(root)}:{node.lineno}")
    return offenders


def test_no_create_dataframe_outside_local_frame():
    """Source guard: inside the package, only local_frame may call
    createDataFrame (a list-built frame is a PythonRDD scan)."""
    offenders = _used_outside({"createDataFrame"}, "session.py",
                              {"local_frame"})
    assert not offenders, offenders


def test_threads_start_only_in_chains():
    """Source guard: ``pipeline.chains`` is the one way the package
    starts a Spark side chain (its scope joins every chain), so thread
    pools, threads and pyspark's thread wrapper appear only there and
    in ``_fanout``, the commit's FS-metadata rename pool (no Spark
    jobs)."""
    offenders = _used_outside(
        {"ThreadPoolExecutor", "Thread", "inheritable_thread_target"},
        "pipeline.py", {"chains", "_fanout"})
    assert not offenders, offenders


def test_renames_only_in_the_commit():
    """Source guard: the package has one commit protocol.  Outside
    fs.py, only the manifest commit's apply (``_apply_add_commit``) and
    the heal of a swap torn by the former two-rename protocol
    (``recover_table_swap``) rename or move files, so no second
    protocol can grow beside the manifest."""
    offenders = [o for o in _used_outside(
        {"rename", "move_children"}, "pipeline.py",
        {"_apply_add_commit", "recover_table_swap"})
        if not o.startswith("fs.py:")]
    assert not offenders, offenders


def test_stage_counts_come_from_the_materializing_action():
    """Source guard: a stage's row count is taken from the action that
    already materializes it, never from a count job of its own —
    ``NearDupPipeline._record`` takes a row count, not a DataFrame; no
    per-partition count (``spark_partition_id``) is left in the build
    and mutation paths; and ``pyspark.sql.Observation`` is built (and
    imported) only in the one counting helper, ``row_counter``."""
    root = pathlib.Path(gsearch_spark.__file__).parent / "operators"
    tree = ast.parse((root / "pipeline.py").read_text())
    record = next(node for cls in tree.body if isinstance(cls, ast.ClassDef)
                  and cls.name == "NearDupPipeline" for node in cls.body
                  if isinstance(node, ast.FunctionDef)
                  and node.name == "_record")
    rows = record.args.args[2]
    assert (rows.arg, ast.unparse(rows.annotation)) == ("rows", "int")
    for name in ("pipeline.py", "remove.py"):
        assert "spark_partition_id" not in (root / name).read_text(), name
    offenders = _used_outside({"Observation"}, "pipeline.py",
                              {"row_counter"})
    assert not offenders, offenders


def test_mutation_functions_stay_short():
    """Source guard: no function or method in operators/pipeline.py or
    operators/remove.py exceeds 100 source lines, counted by the rule the
    change log uses (blank, comment and docstring lines excluded) — the
    add and the remove stay drivers over phase functions."""
    skip = {tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE,
            tokenize.INDENT, tokenize.DEDENT, tokenize.ENDMARKER}
    root = pathlib.Path(gsearch_spark.__file__).parent / "operators"
    long = []
    for name in ("pipeline.py", "remove.py"):
        src = (root / name).read_text()
        tree = ast.parse(src)
        docs = {line for node in ast.walk(tree)
                if isinstance(node, (ast.Module, ast.ClassDef,
                                     ast.FunctionDef))
                and ast.get_docstring(node, clean=False) is not None
                for line in range(node.body[0].lineno,
                                  node.body[0].end_lineno + 1)}
        code = {line for tok in tokenize.generate_tokens(
                    io.StringIO(src).readline) if tok.type not in skip
                for line in range(tok.start[0], tok.end[0] + 1)} - docs
        long += [f"{name}:{node.name} {n}" for node in ast.walk(tree)
                 if isinstance(node, ast.FunctionDef)
                 for n in [sum(node.lineno <= line <= node.end_lineno
                               for line in code)] if n > 100]
    assert not long, long


# Hashed PipelineConfig fields no package code reads: each pins into the
# build's identity (parameters.json) a format or a semantic that the
# code implements without consulting the field.  Exact: a field leaves
# this map the moment code reads it.
IDENTITY_ONLY = {
    "sig_version": "signature/checkpoint-format version",
    "layout_version": "sidecar layout generation",
}
# Execution fields (config.EXECUTION_FIELDS, in no identity) no package
# code reads.  Exact, like IDENTITY_ONLY: every other execution field
# must still be read somewhere.
UNREAD_EXECUTION = {
    "shuffle_partitions": "callers size their session from it",
}


def test_every_config_field_is_read():
    """Source guard: a PipelineConfig field that no code outside
    config.py reads (as ``<obj>.<field>``) is a dead knob — it promises
    behaviour nothing implements, and a hashed one still refuses the
    stored build when changed.  The only unread fields are the exact
    maps above."""
    from gsearch_spark.config import EXECUTION_FIELDS
    assert set(UNREAD_EXECUTION) <= set(EXECUTION_FIELDS)
    assert not set(IDENTITY_ONLY) & set(EXECUTION_FIELDS)
    root = pathlib.Path(gsearch_spark.__file__).parent
    read = {node.attr
            for path in root.rglob("*.py") if path.name != "config.py"
            for node in ast.walk(ast.parse(path.read_text()))
            if isinstance(node, ast.Attribute)}
    unread = {f.name for f in dataclasses.fields(PipelineConfig)} - read
    expected = set(IDENTITY_ONLY) | set(UNREAD_EXECUTION)
    assert unread == expected, sorted(unread ^ expected)


def test_scan_floor_follows_default_parallelism(spark):
    assert (spark.conf.get("spark.sql.files.minPartitionNum")
            == str(spark.sparkContext.defaultParallelism))


def _python_rdd_stages(spark, group: str) -> "list[int]":
    """Stages of the jobs run under ``group`` whose operation graph
    holds a PythonRDD node (a pickled Python-RDD scan)."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    dot = sc._jvm.org.apache.spark.ui.scope.RDDOperationGraph.makeDotFile
    tracker = sc.statusTracker()
    checked, bad = 0, []
    for job in tracker.getJobIdsForGroup(group):
        for stage in tracker.getJobInfo(job).stageIds:
            try:
                graph = store.operationGraphForStage(stage)
            except Py4JJavaError:
                # past spark.ui.retainedStages the store evicts skipped
                # stages (they ran no tasks) first, newest or not
                continue
            checked += 1
            if 'label="PythonRDD [' in dot(graph):
                bad.append(stage)
    assert checked, f"no stage graphs recorded under {group}"
    return bad


def test_mutations_start_no_python_rdd_scans(spark, small_fixture_dir):
    """A build, an add and a remove over parquet inputs: no stage of
    theirs scans a pickled PythonRDD (every driver-side relation is a
    LocalTableScan)."""
    cfg = PipelineConfig()
    ckpt = "/tmp/gsearch_spark_ckpt_local_frame"
    images = spark.read.parquet(f"{small_fixture_dir}/images.parquet")
    ids = sorted(r[0] for r in images.select("image_id").collect())
    cut = ids[int(len(ids) * 0.8)]
    old = images.filter(F.col("image_id") < cut)
    new = images.filter(F.col("image_id") >= cut)
    rm = images.filter(F.col("image_id").isin(ids[:3] + ids[-2:])) \
        .select("image_id")
    shutil.rmtree(ckpt, ignore_errors=True)
    phases = [
        ("build", lambda: NearDupPipeline(spark, cfg, ckpt)
         .run(old, resume=False)),
        ("add", lambda: incremental_add(spark, cfg, ckpt, new, images)),
        ("remove", lambda: remove_images(spark, cfg, ckpt, rm)),
    ]
    sc = spark.sparkContext
    for name, phase in phases:
        group = f"local_frame_{name}"
        sc.setJobGroup(group, name)
        try:
            phase()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        # checked per phase: the status store keeps a bounded window of
        # stages
        assert _python_rdd_stages(spark, group) == [], name
