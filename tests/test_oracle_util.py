"""The gate comparator must have teeth: deliberate mismatches of every kind
(value, row count, column name) must FAIL — a comparator that silently
passes wrong results would invalidate every green row."""

from __future__ import annotations

import pytest

from tests.oracle_util import assert_matches


def test_comparator_accepts_identity(spark, sf_tiny):
    df = spark.sql("SELECT 1 AS a, 'x' AS b")
    assert_matches(df, sf_tiny, "SELECT 1 AS a, 'x' AS b", "identity")


def test_comparator_rejects_value_drift(spark, sf_tiny):
    df = spark.sql("SELECT 1 AS a")
    with pytest.raises(AssertionError):
        assert_matches(df, sf_tiny, "SELECT 2 AS a", "value")


def test_comparator_rejects_row_count_drift(spark, sf_tiny):
    df = spark.sql("SELECT 1 AS a")
    with pytest.raises(AssertionError):
        assert_matches(df, sf_tiny, "SELECT 1 AS a UNION ALL SELECT 1", "rows")


def test_comparator_rejects_column_rename(spark, sf_tiny):
    df = spark.sql("SELECT 1 AS a")
    with pytest.raises(AssertionError):
        assert_matches(df, sf_tiny, "SELECT 1 AS b", "colname")


def test_comparator_rejects_int_vs_float_representation(spark, sf_tiny):
    """The r3 events_json_stats regression class: DuckDB sum(BIGINT) widens
    to HUGEINT -> float64 ("9707.0") while Spark keeps BIGINT ("9707").
    Values identical, driver hash diverges — the mirror must catch it."""
    df = spark.sql("SELECT CAST(9707 AS BIGINT) AS sum_k")
    with pytest.raises(AssertionError, match="int-vs-float"):
        # uncast HUGEINT sum: fetchdf() materializes it as float64
        assert_matches(
            df, sf_tiny,
            "SELECT sum(x) AS sum_k FROM (SELECT CAST(9707 AS BIGINT) AS x)",
            "hugeint",
        )


def test_comparator_rejects_sixth_decimal_drift(spark, sf_tiny):
    # rounding discipline: a 1e-6 value drift is NOT noise to the gate
    df = spark.sql("SELECT 0.123456 AS a")
    with pytest.raises(AssertionError):
        assert_matches(df, sf_tiny, "SELECT 0.123457 AS a", "ulp")


# The engine helpers the oracle may call: SQL text generated from constants
# (cell bit-interleave, segment determinants, the Hilbert CTE chain).
ORACLE_ENGINE_HELPERS = {
    "cells.morton_sql", "cells.x_from_cell_sql", "cells.y_from_cell_sql",
    "cells.geohash_char_sql", "geometry.seg_intersect_pred_sql",
    "geometry.seg_cross_exprs", "s2.hilbert_cte_chain_sql", "s2.S2_RES",
}


def test_oracle_shares_only_engine_constants():
    """Independence: the DuckDB oracle may use the engine's constants
    (UPPER_CASE names, anything in ``layers``) and the pinned SQL-text
    helpers above, never an engine operator, DataFrame builder or SQL
    builder — a bug in a shared builder would pass on both sides."""
    import ast
    import pathlib

    from tree_sitter_codeviews_spark import oracle

    pkg = "tree_sitter_codeviews_spark"
    tree = ast.parse(pathlib.Path(oracle.__file__).read_text())
    modules = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            assert not any(a.name.split(".")[0] == pkg for a in node.names), (
                f"oracle.py:{node.lineno} imports an engine module")
        if not isinstance(node, ast.ImportFrom):
            continue
        if node.level == 0 and (node.module or "").split(".")[0] != pkg:
            continue  # __future__ and third-party
        module = node.module or ""
        if node.level == 0:
            module = module[len(pkg) + 1:]
        if not module:
            modules |= {a.name for a in node.names}
        elif module != "layers":
            engine = [a.name for a in node.names if not a.name.lstrip("_").isupper()]
            assert not engine, f"oracle.py:{node.lineno} imports {engine} from {module}"
    assert modules <= {"cells", "geometry", "layers", "s2"}, modules
    used = {
        f"{n.value.id}.{n.attr}" for n in ast.walk(tree)
        if isinstance(n, ast.Attribute) and isinstance(n.value, ast.Name)
        and n.value.id in ("cells", "geometry", "s2")
    }
    assert used <= ORACLE_ENGINE_HELPERS, sorted(used - ORACLE_ENGINE_HELPERS)


def test_package_names_only_existing_oracle_fragments():
    """Every ``oracle._name`` the package's source mentions (docstrings
    included) is an attribute of ``oracle``: a renamed fragment leaves no
    dangling pointer for a reader to chase."""
    import pathlib
    import re

    from tree_sitter_codeviews_spark import oracle

    pkg = pathlib.Path(oracle.__file__).parent
    refs = {
        m for f in pkg.rglob("*.py")
        for m in re.findall(r"\boracle\.(_\w+)", f.read_text())
    }
    assert refs
    assert not sorted(r for r in refs if not hasattr(oracle, r))


def _repeated_block_lines(path, window=5, min_chars=60) -> int:
    """Lines that sit in a window of ``window`` consecutive non-blank,
    non-comment lines (whitespace-collapsed, at least ``min_chars``
    characters together) that occurs at least twice in the file."""
    import re
    from collections import defaultdict

    lines = [
        (no, re.sub(r"\s+", " ", text.strip()))
        for no, text in enumerate(path.read_text().splitlines())
        if text.strip() and not text.strip().startswith("#")
    ]
    starts = defaultdict(list)
    for k in range(len(lines) - window + 1):
        win = tuple(t for _, t in lines[k:k + window])
        if sum(map(len, win)) >= min_chars:
            starts[win].append(k)
    hit = {
        lines[j][0] for ks in starts.values() if len(ks) > 1
        for k in ks for j in range(k, k + window)
    }
    return len(hit)


def test_queries_and_oracle_write_each_block_once():
    """Each recurring composition in the engine's query surface and in its
    DuckDB oracle is one helper, not a pasted block."""
    import pathlib

    from tree_sitter_codeviews_spark import oracle, queries

    for mod in (queries, oracle):
        path = pathlib.Path(mod.__file__)
        assert _repeated_block_lines(path) == 0, path.name


def test_text_family_writes_ngram_build_and_md5_hash_once():
    """The package has one word-n-gram build, ``dedup.tokens_df`` (the only
    ``arrays_zip`` call), no window ``lead``/``lag`` chain over ``tok``,
    and one 28-bit md5-uniform hash, ``dedup.md5_uniform`` (the only
    ``substring(md5(..), 1, 7)``). The oracle's SQL text is not a call."""
    import ast
    import pathlib

    from tree_sitter_codeviews_spark import queries

    pkg = pathlib.Path(queries.__file__).parent

    def called(node) -> str | None:
        f = node.func
        return f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)

    def is_tok(arg) -> bool:
        if isinstance(arg, ast.Call) and called(arg) == "col" and arg.args:
            arg = arg.args[0]
        return isinstance(arg, ast.Constant) and arg.value == "tok"

    def is_md5_prefix(node) -> bool:
        a = node.args
        return (len(a) == 3 and isinstance(a[0], ast.Call) and called(a[0]) == "md5"
                and [getattr(x, "value", None) for x in a[1:]] == [1, 7])

    sites: dict[str, list[str]] = {"arrays_zip": [], "tok window": [], "md5 prefix": []}
    for path in sorted(pkg.rglob("*.py")):
        module = path.relative_to(pkg).as_posix()

        def visit(node, func):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                func = node.name
            if isinstance(node, ast.Call):
                name = called(node)
                if name == "arrays_zip":
                    sites["arrays_zip"].append(f"{module}:{func}")
                if name in ("lead", "lag") and node.args and is_tok(node.args[0]):
                    sites["tok window"].append(f"{module}:{func}")
                if name == "substring" and is_md5_prefix(node):
                    sites["md5 prefix"].append(f"{module}:{func}")
            for child in ast.iter_child_nodes(node):
                visit(child, func)

        visit(ast.parse(path.read_text(), str(path)), None)
    assert sites == {
        "arrays_zip": ["operators/dedup.py:tokens_df"],
        "tok window": [],
        "md5 prefix": ["operators/dedup.py:md5_uniform"],
    }


# Package definitions that no non-test code uses, each with its reason.
UNCALLED_ALLOWED = {
    "sources/sinks.py:graph_to_dot": "exports the reference CLI's DOT output format",
    "sources/sinks.py:graph_to_json": "exports the reference CLI's JSON output format",
}


def test_every_package_definition_has_a_non_test_user():
    """Every top-level function, class and assignment in the package is
    named by some non-test ``.py`` file of the repository (the package,
    ``jobs/``, ``tools/``, ``perfbench/``, the entry points): as a ``Name``
    or an ``Attribute`` node, f-string expressions included, or as an
    imported alias. A definition only tests use belongs in
    ``tests/reference_impl.py``; one nothing uses is deleted."""
    import ast
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent
    pkg = root / "tree_sitter_codeviews_spark"
    used: set[str] = set()
    defined: list[tuple[str, str]] = []
    for f in root.rglob("*.py"):
        parts = f.relative_to(root).parts
        if parts[0] == "tests" or any(p.startswith(".") for p in parts):
            continue
        tree = ast.parse(f.read_text(), str(f))
        for n in ast.walk(tree):
            if isinstance(n, ast.Name):
                used.add(n.id)
            elif isinstance(n, ast.Attribute):
                used.add(n.attr)
            elif isinstance(n, ast.alias):
                used.add(n.name.rsplit(".", 1)[-1])
        if f.is_relative_to(pkg):
            for n in tree.body:
                if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                    names = [n.name]
                elif isinstance(n, ast.Assign):
                    names = [t.id for t in n.targets if isinstance(t, ast.Name)]
                elif isinstance(n, ast.AnnAssign) and isinstance(n.target, ast.Name):
                    names = [n.target.id]
                else:
                    names = []
                defined += [(f"{f.relative_to(pkg).as_posix()}:{name}", name)
                            for name in names]
    unused = sorted(
        key for key, name in defined
        if name not in used and not name.startswith("__")
    )
    assert unused == sorted(UNCALLED_ALLOWED), unused
