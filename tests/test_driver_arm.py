"""The one size probe behind every driver arm: exactly ``cap`` rows are
collected, ``cap + 1`` rows send the caller to its distributed loop."""

from tree_sitter_codeviews_spark import driver_arm


def test_collect_if_small_boundary(spark):
    df = spark.range(5)
    pdf = driver_arm.collect_if_small(df, 5)
    assert sorted(pdf["id"].tolist()) == [0, 1, 2, 3, 4]
    assert driver_arm.collect_if_small(df, 4) is None


def test_distributed_arm_fixture_forces_none(spark, distributed_arm):
    with distributed_arm():
        assert driver_arm.collect_if_small(spark.range(1), 10) is None
    assert driver_arm.collect_if_small(spark.range(1), 10) is not None


def test_arrow_local_df_starts_no_job(spark, spark_jobs):
    """A driver-built frame is a local relation at every row count, so
    collecting it starts no Spark job, empty or not."""
    from tree_sitter_codeviews_spark.localdf import arrow_local_df

    schema = "a int, b string, c double, d boolean"
    rows = [(1, "x", 0.5, True), (2, None, None, None)]
    with spark_jobs() as ids:
        got = [arrow_local_df(spark, r, schema).collect() for r in ([], rows)]
    assert ids == []
    assert got == [[], [tuple(r) for r in rows]]
    assert arrow_local_df(spark, [], schema).schema.simpleString() == (
        "struct<a:int,b:string,c:double,d:boolean>")


# Every zero-argument ``.collect()``, ``.first()`` and ``.toPandas()`` in
# the package outside driver_arm, counted per (module, function). Each site
# states its size bound in a ``# bound:`` comment; an input with no bound
# goes through ``driver_arm.collect_if_small`` instead of joining this list.
DRIVER_COLLECTS = {
    ("operators/ann.py", "_pq_sample"): 1,
    ("operators/bpe.py", "bpe_apply"): 1,
    ("operators/bpe.py", "bpe_train"): 1,
    ("operators/cluster.py", "_fit"): 2,
    ("operators/curation.py", "apportion_budget"): 3,
    ("operators/curation.py", "pack_sequences"): 1,
    ("operators/linkgraph.py", "_teleport_rank"): 2,
}


def _driver_collects() -> list[tuple[str, str, bool]]:
    """(module, function, has a ``# bound:`` comment) per collect site: on
    a line of the enclosing statement up to the call, or in the comment
    block right above that statement."""
    import ast
    import pathlib

    pkg = pathlib.Path(driver_arm.__file__).parent
    sites = []
    for path in sorted(pkg.rglob("*.py")):
        if path.name == "driver_arm.py":
            continue
        lines = path.read_text().splitlines()

        def visit(node, func, stmt):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                func = node.name
            if isinstance(node, ast.stmt):
                stmt = node
            if (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
                    and node.func.attr in ("collect", "first", "toPandas")
                    and not node.args and not node.keywords):
                lo = stmt.lineno - 1
                while lo > 0 and lines[lo - 1].strip().startswith("#"):
                    lo -= 1
                text = lines[lo:node.end_lineno]
                sites.append((str(path.relative_to(pkg)), func,
                              any("# bound:" in t for t in text)))
            for child in ast.iter_child_nodes(node):
                visit(child, func, stmt)

        visit(ast.parse("\n".join(lines)), "<module>", None)
    return sites


def test_every_driver_collect_is_listed_and_states_its_bound():
    sites = _driver_collects()
    counts: dict = {}
    for module, func, _ in sites:
        counts[(module, func)] = counts.get((module, func), 0) + 1
    assert counts == DRIVER_COLLECTS
    assert [s for s in sites if not s[2]] == []
