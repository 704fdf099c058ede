"""staging: marker I/O through the Hadoop FileSystem API (existence
checks and marker writes resolve whatever scheme backs the path —
file://, hdfs://, s3a:// — instead of the driver's local disk), and the
stage protocol that the package and the registry call instead of
spelling the reuse rule themselves."""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

from redshift_to_pendo_api_data_pipeline_spark.staging import (
    fs_exists,
    fs_touch,
    reusable,
    stage,
    stage_parquet,
)

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "redshift_to_pendo_api_data_pipeline_spark"


def test_fs_touch_then_exists(spark, tmp_path):
    p = str(tmp_path / "marker")
    assert fs_exists(spark, p) is False
    fs_touch(spark, p, "committed\n")
    assert fs_exists(spark, p) is True
    # the marker is a real file with the content we wrote
    with open(p) as fh:
        assert fh.read() == "committed\n"


def test_fs_touch_explicit_scheme(spark, tmp_path):
    """An explicit file:// URI goes through the same Hadoop resolution a
    lake scheme would — os.path would choke on the scheme prefix."""
    p = f"file://{tmp_path}/marker2"
    fs_touch(spark, p)
    assert fs_exists(spark, p) is True
    assert not fs_exists(spark, f"file://{tmp_path}/absent")


def test_stage_reuse_check_goes_through_hadoop_fs(spark, tmp_path, monkeypatch):
    """SPARK_GRAFT_STAGE_REUSE short-circuits on a _SUCCESS written under
    an explicit file:// scheme — proof the reuse probe is not os.path."""
    path = f"file://{tmp_path}/staged"
    df = spark.range(10)
    assert stage_parquet(df, path) is True
    monkeypatch.setenv("SPARK_GRAFT_STAGE_REUSE", "1")
    assert stage_parquet(df, path) is False
    # and a cold path still writes
    assert stage_parquet(df, f"file://{tmp_path}/staged2") is True


def _protocol_spellings(path: Path) -> list[str]:
    """Non-docstring string constants in ``path`` that spell the reuse
    knob or the completeness marker (f-string parts included)."""
    tree = ast.parse(path.read_text(), str(path))
    docstrings = {
        id(node.body[0].value)
        for node in ast.walk(tree)
        if isinstance(
            node,
            (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef),
        )
        and node.body
        and isinstance(node.body[0], ast.Expr)
        and isinstance(node.body[0].value, ast.Constant)
    }
    return [
        f"{path.name}:{node.lineno}"
        for node in ast.walk(tree)
        if isinstance(node, ast.Constant)
        and isinstance(node.value, str)
        and id(node) not in docstrings
        and ("SPARK_GRAFT_STAGE_REUSE" in node.value or "/_SUCCESS" in node.value)
    ]


@pytest.mark.filterwarnings("ignore::DeprecationWarning")
def test_reuse_rule_lives_only_in_staging():
    """Static, no Spark: outside staging.py neither the package nor the
    registry reads the reuse knob or spells the ``_SUCCESS`` marker —
    every site asks ``reusable``/``stage`` instead."""
    files = [
        p for p in sorted(PACKAGE.rglob("*.py")) if p.name != "staging.py"
    ] + [ROOT / "__spark_entry__.py"]
    hits = [h for p in files for h in _protocol_spellings(p)]
    assert hits == []


def _listing_calls(tree: ast.AST):
    """Calls to Hadoop's ``listFiles`` and to the ``glob`` module, under
    any import alias."""
    nodes = list(ast.walk(tree))
    mods = {
        a.asname or a.name
        for n in nodes if isinstance(n, ast.Import)
        for a in n.names if a.name == "glob"
    }
    funcs = {
        a.asname or a.name
        for n in nodes if isinstance(n, ast.ImportFrom) and n.module == "glob"
        for a in n.names
    }
    for node in nodes:
        if not isinstance(node, ast.Call):
            continue
        f = node.func
        if isinstance(f, ast.Attribute) and (
            f.attr == "listFiles"
            or (isinstance(f.value, ast.Name) and f.value.id in mods)
        ):
            yield node
        elif isinstance(f, ast.Name) and f.id in funcs:
            yield node


def test_leaf_listings_go_through_fs_list_files():
    """Static, no Spark: no package module calls Hadoop's ``listFiles``,
    which also resolves block locations per file, or the ``glob``
    module, which sees only the driver's local disk; leaf listings use
    ``staging.fs_list_files``."""
    hits = [
        f"{p.relative_to(PACKAGE)}:{node.lineno}"
        for p in sorted(PACKAGE.rglob("*.py"))
        for node in _listing_calls(ast.parse(p.read_text(), str(p)))
    ]
    assert hits == []


# (module, function) that alone may make each streaming call
_QUERY_OWNERS = {
    "applyInPandasWithState": ("streaming/stateful.py", "_per_key"),
    "trigger": ("streaming/incremental.py", "run_incremental_sync"),
}


def _query_calls(tree: ast.AST, owner=None):
    """(innermost enclosing function, line, method) of every
    ``applyInPandasWithState`` call and every ``.trigger(availableNow=...)``
    call under ``tree``."""
    for node in ast.iter_child_nodes(tree):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            yield from _query_calls(node, node.name)
            continue
        f = getattr(node, "func", None)
        if isinstance(f, ast.Attribute) and (
            f.attr == "applyInPandasWithState"
            or (f.attr == "trigger"
                and any(k.arg == "availableNow" for k in node.keywords))
        ):
            yield owner, f.end_lineno, f.attr
        yield from _query_calls(node, owner)


def test_stateful_and_available_now_queries_have_one_owner():
    """Static, no Spark: ``stateful._per_key`` is the only function that
    calls ``applyInPandasWithState``, and ``run_incremental_sync`` the
    only one that starts an availableNow query; every stateful operator
    and micro-batch driver goes through them."""
    hits = []
    for p in sorted(PACKAGE.rglob("*.py")):
        rel = p.relative_to(PACKAGE).as_posix()
        for fn, line, attr in _query_calls(ast.parse(p.read_text(), str(p))):
            if _QUERY_OWNERS[attr] != (rel, fn):
                hits.append(f"{rel}:{line}")
    assert hits == []


def _frame(spark):
    return spark.sql(
        """SELECT CAST(id AS SHORT) AS s,
                  CAST(id AS DECIMAL(18, 4)) AS d,
                  CAST('2024-01-01 00:00:00' AS TIMESTAMP_NTZ)
                    + make_interval(0, 0, 0, CAST(id AS INT)) AS ntz,
                  array(named_struct('a', id, 'b', CAST(id AS STRING))) AS arr,
                  CAST(id % 3 AS INT) AS part,
                  id AS n
           FROM range(12)"""
    )


def _jobs(spark, group: str, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("partition_by", [None, "part"])
def test_stage_reads_fresh_write_back_without_a_job(spark, tmp_path, partition_by):
    """A fresh ``stage`` runs exactly the write's jobs: the read-back
    takes the written frame's schema instead of a footer-inference job,
    and that schema equals the inferred one (nullability, nested types
    and partition-column order included)."""
    df = _frame(spark)
    tag = partition_by or "plain"
    _, write_jobs = _jobs(
        spark, f"write-{tag}",
        lambda: stage_parquet(df, f"{tmp_path}/w", partition_by),
    )
    staged, stage_jobs = _jobs(
        spark, f"stage-{tag}",
        lambda: stage(spark, f"{tmp_path}/s", lambda: df, partition_by),
    )
    assert write_jobs >= 1
    assert stage_jobs == write_jobs
    inferred = spark.read.parquet(f"{tmp_path}/s")
    assert staged.schema == inferred.schema
    assert sorted(staged.collect()) == sorted(inferred.collect())


def test_stage_reuse_skips_build(spark, tmp_path, monkeypatch):
    """Under SPARK_GRAFT_STAGE_REUSE=1 a complete copy stands in for the
    build: ``build`` is never called and the copy is read back."""
    path = f"{tmp_path}/staged"
    stage(spark, path, lambda: spark.range(5))
    monkeypatch.setenv("SPARK_GRAFT_STAGE_REUSE", "1")
    assert reusable(spark, path)
    assert not reusable(spark, path, f"{tmp_path}/absent")

    def _build():
        raise AssertionError("build called despite a reusable copy")

    assert stage(spark, path, _build).count() == 5
