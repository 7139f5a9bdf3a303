"""Layering rules for the package.

- No module uses another module's private (underscore) names: every
  relative ``from … import _name``, and every ``module._name`` through
  a relative ``from … import module``, must appear in ``ALLOWED``
  below, which is empty and may only stay so.
- Spark Connect and JVM handles stay in ``execution.py``: no file
  under ``operators/`` or ``queries/`` mentions ``is_remote``,
  ``sparkContext`` or ``_jdf``, and ``is_remote`` appears nowhere
  else in the package.
- One atomic publish: ``os.replace`` and ``os.fsync`` are called from
  exactly one function in the package, so every file that must land
  whole (manifests, ledgers) is written by the same code.
- One quantizer kernel: the exact-decimal squared-distance lambda is
  written in exactly one function, and no hand-rolled
  ``"array(" + ", ".join(`` literal renderer exists outside
  ``functions/determinism.py`` (``sql_array`` is the one renderer).
- One exact re-rank: the rounded exact-cosine division and the
  per-query top-k window are each written in exactly one function
  (``similarity.exact_topk`` and ``similarity.topk_per_query``).
- One staged table: the HUB, the rollup, the admitted corpus and
  compaction read their table only through ``writer.read_table``, which
  uses the schema the last rewrite recorded while it still describes
  the table, and replace it only through ``writer.rewrite_table``: no
  parquet read (``….read.parquet`` or ``….read.schema(…).parquet``) in
  those modules outside the two, whose other read resolves the record,
  and no ``staging_dir``/``commit_swap`` call outside ``staging.py``
  but in ``rewrite_table``.
- One bucket-pair generator: the chunked C(m,2) explode and the
  inner ``sequence(i + 1, …)`` loop of any combinations explode are
  written only in ``dedup.bucket_pairs``, and no module outside
  ``operators/dedup.py`` names the pair-generation internals
  (``PAIR_BUCKET_CAP``, ``chunked_members``, ``chunk_pairs_sql``).
- One range-offset scan: the ``__pid`` partition-id tag is written
  only in ``indexing.range_partition_aggregate``, whose checkpoint
  before the per-partition collect every offset-collect operator
  needs.
- One percentile bracket: the Python-side rank bracket
  ``pos = p·(n−1)`` is written in one function of ``percentiles.py``.
- Tools and tests check the checkout they run from: none names the
  checkout's absolute path, and each tool puts its own checkout first
  on ``sys.path``.
"""

from __future__ import annotations

import ast
import re
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

CHECKOUT = Path(__file__).resolve().parents[1]
PACKAGE = CHECKOUT / "metadata_ingestion_poc_spark"

# importing module (dotted, relative to the package) -> private names
ALLOWED: dict[str, set[str]] = {}


def _modules():
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE)
        yield rel, path.read_text()


def _private_imports() -> set[tuple[str, str]]:
    pairs = set()
    for rel, text in _modules():
        module = ".".join(rel.with_suffix("").parts)
        tree = ast.parse(text)
        aliases = set()
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom) and node.level > 0:
                for alias in node.names:
                    if alias.name.startswith("_"):
                        pairs.add((module, alias.name))
                    aliases.add(alias.asname or alias.name)
        pairs.update(
            (module, node.attr)
            for node in ast.walk(tree)
            if isinstance(node, ast.Attribute)
            and isinstance(node.value, ast.Name)
            and node.value.id in aliases
            and node.attr.startswith("_")
            and not node.attr.startswith("__")
        )
    return pairs


def test_private_imports_only_shrink():
    allowed = {(m, n) for m, names in ALLOWED.items() for n in names}
    new = sorted(_private_imports() - allowed)
    assert not new, f"private cross-module imports not in ALLOWED: {new}"


def test_connect_and_jvm_handles_stay_in_execution():
    found = []
    for rel, text in _modules():
        if rel.parts[0] in ("operators", "queries"):
            found += [
                (str(rel), word)
                for word in ("is_remote", "sparkContext", "_jdf")
                if word in text
            ]
        elif "is_remote" in text and rel != Path("execution.py"):
            found.append((str(rel), "is_remote"))
    assert not found, f"execution handles outside execution.py: {found}"


def _os_call_sites(names: set[str]) -> set[tuple[str, str]]:
    """(module, enclosing function) of every ``os.<name>(...)`` call."""
    sites = set()

    def visit(node, rel, scope):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            scope = f"{scope}.{node.name}" if scope else node.name
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and isinstance(node.func.value, ast.Name)
            and node.func.value.id == "os"
            and node.func.attr in names
        ):
            sites.add((rel, scope or "<module>"))
        for child in ast.iter_child_nodes(node):
            visit(child, rel, scope)

    for rel, text in _modules():
        visit(ast.parse(text), str(rel), "")
    return sites


def test_one_atomic_publish():
    sites = _os_call_sites({"replace", "fsync"})
    assert len(sites) == 1, (
        f"os.replace/os.fsync called from more than one function "
        f"(route them through the one publish): {sorted(sites)}"
    )


def _reads_parquet(call: ast.Call) -> bool:
    """True for ``<x>.read.parquet(...)`` and ``<x>.read.<…>(…).parquet(...)``."""
    if not (isinstance(call.func, ast.Attribute) and call.func.attr == "parquet"):
        return False
    node = call.func.value
    while isinstance(node, (ast.Call, ast.Attribute)):
        if isinstance(node, ast.Attribute) and node.attr == "read":
            return True
        node = node.func if isinstance(node, ast.Call) else node.value
    return False


STAGED_TABLE_MODULES = (
    "writer.py",
    "operators/rollup.py",
    "operators/maintenance.py",
    "streaming/admission.py",
)


def _call_sites(rel: str, hit) -> set[str]:
    """Enclosing functions of every call in `rel` for which `hit` holds."""
    tree = ast.parse((PACKAGE / rel).read_text())
    return {
        fn.name
        for fn in ast.walk(tree)
        if isinstance(fn, ast.FunctionDef)
        for node in ast.walk(fn)
        if isinstance(node, ast.Call) and hit(node)
    }


def _calls(name: str):
    def hit(call: ast.Call) -> bool:
        func = call.func
        return (isinstance(func, ast.Name) and func.id == name) or (
            isinstance(func, ast.Attribute) and func.attr == name
        )

    return hit


def test_staged_tables_have_one_reader_and_one_rewrite():
    readers = {
        (rel, fn) for rel in STAGED_TABLE_MODULES for fn in _call_sites(rel, _reads_parquet)
    }
    # rewrite_table's one read resolves the schema it records
    assert readers == {("writer.py", "read_table"), ("writer.py", "rewrite_table")}, (
        f"a staged table is read outside writer.read_table: {sorted(readers)}"
    )
    swaps = {
        (str(rel), fn)
        for rel, _ in _modules()
        if rel != Path("staging.py")
        for name in ("staging_dir", "commit_swap")
        for fn in _call_sites(str(rel), _calls(name))
    }
    assert swaps == {("writer.py", "rewrite_table")}, (
        f"a table is swapped outside writer.rewrite_table: {sorted(swaps)}"
    )


D2_LAMBDA = "round((cast(x as double) - y) * (cast(x as double) - y), 6)"


SIMPLE_STATEMENTS = (
    ast.Expr, ast.Assign, ast.AnnAssign, ast.AugAssign, ast.Return
)


def _functions_with_text(needle: str) -> set[tuple[str, str]]:
    """(module, innermost enclosing function) of every string constant
    or f-string part that contains ``needle``, and of every simple
    statement whose source, normalized by ``ast.unparse`` (one line,
    single quotes), contains it."""
    sites = set()
    words = re.findall(r"\w+", needle)

    def visit(node, rel, scope, code):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            scope = f"{scope}.{node.name}" if scope else node.name
        if (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and needle in node.value
        ) or (
            code
            and isinstance(node, SIMPLE_STATEMENTS)
            and needle in ast.unparse(node)
        ):
            sites.add((rel, scope or "<module>"))
        for child in ast.iter_child_nodes(node):
            visit(child, rel, scope, code)

    for rel, text in _modules():
        # unparse only files that hold every word of the needle
        code = all(w in text for w in words)
        visit(ast.parse(text), str(rel), "", code)
    return sites


def test_one_exact_decimal_distance():
    sites = _functions_with_text(D2_LAMBDA)
    assert len(sites) == 1, (
        f"the exact-decimal d2 lambda is written in more than one "
        f"function (build it with clustering.d2_expr): {sorted(sites)}"
    )


ARRAY_RENDERER = re.compile(r"""(["'])array\(\1\s*\+\s*(["']), \2\.join\(""")


def test_one_array_literal_renderer():
    found = [
        (str(rel), text.count("\n", 0, m.start()) + 1)
        for rel, text in _modules()
        if rel != Path("functions/determinism.py")
        for m in ARRAY_RENDERER.finditer(text)
    ]
    assert not found, (
        f"hand-rolled array literal renderers (use "
        f"determinism.sql_array): {found}"
    )


# q252's RRF ranks an UNROUNDED cosine through a shared
# ``Window.partitionBy("query_id")``; neither needle matches it.
ROUNDED_COSINE = "round(dot("
QUERY_TOPK_WINDOW = "Window.partitionBy('query_id').orderBy("


@pytest.mark.parametrize(
    "needle, what",
    [
        (ROUNDED_COSINE, "rounded exact-cosine division (use exact_topk)"),
        (QUERY_TOPK_WINDOW, "per-query top-k window (use topk_per_query)"),
    ],
    ids=["cosine", "window"],
)
def test_one_exact_rerank(needle, what):
    sites = _functions_with_text(needle)
    assert len(sites) == 1, (
        f"the {what} is written in more than one function: {sorted(sites)}"
    )


# The chunk fan-out of the C(m,2) explode in ``dedup.bucket_pairs``,
# and the inner loop of any C(m,2) explode, in SQL or Column form.
CHUNK_EXPLODE = "named_struct('ci', ci, 'cj', cj)"
PAIR_LOOP = "sequence(i + 1, "
PAIR_INTERNALS = re.compile(r"\b(PAIR_BUCKET_CAP|chunked_members|chunk_pairs_sql)\b")


def test_one_bucket_pair_generator():
    for needle in (CHUNK_EXPLODE, PAIR_LOOP):
        sites = _functions_with_text(needle)
        assert sites == {("operators/dedup.py", "bucket_pairs")}, (
            f"a pair explode ({needle!r}) is written outside "
            f"dedup.bucket_pairs: {sorted(sites)}"
        )
    named = sorted(
        str(rel)
        for rel, text in _modules()
        if rel != Path("operators/dedup.py") and PAIR_INTERNALS.search(text)
    )
    assert not named, (
        f"modules naming pair-generation internals (call "
        f"dedup.bucket_pairs): {named}"
    )


PID_TAG = "'__pid', F.spark_partition_id()"


def test_one_range_offset_scan():
    sites = _functions_with_text(PID_TAG)
    assert sites == {("operators/indexing.py", "range_partition_aggregate")}, (
        f"partitions are tagged for an offset collect outside "
        f"indexing.range_partition_aggregate: {sorted(sites)}"
    )


# ``pos = p·(n−1)`` as the descent, the global lookup and the
# driver-side finish each wrote it.
PERCENTILE_BRACKETS = ("pos = p * (", "pos = float(p) * (")


def test_one_percentile_bracket():
    sites = {
        site
        for needle in PERCENTILE_BRACKETS
        for site in _functions_with_text(needle)
        if site[0] == "operators/percentiles.py"
    }
    assert sites == {("operators/percentiles.py", "_bracket")}, (
        f"the percentile rank bracket is written outside "
        f"percentiles._bracket: {sorted(sites)}"
    )


def test_no_absolute_checkout_path():
    needle = re.compile(re.escape(str(CHECKOUT)) + r"(?![\w.-])")
    files = [
        *(CHECKOUT / "tools").rglob("*.py"),
        *(CHECKOUT / "tests").rglob("*.py"),
        CHECKOUT / "bench.py",
    ]
    hits = sorted(
        str(p.relative_to(CHECKOUT)) for p in files if needle.search(p.read_text())
    )
    assert not hits, (
        f"{hits} name this checkout's absolute path; derive it from "
        "__file__ so a copied checkout checks its own code"
    )


def test_tools_import_the_checkout_they_run_from(tmp_path):
    """Each tool loaded from a copied checkout imports the copy's
    package and driver entry, even when started from another tree."""
    skip = shutil.ignore_patterns("__pycache__")
    for name in ("metadata_ingestion_poc_spark", "tools"):
        shutil.copytree(CHECKOUT / name, tmp_path / name, ignore=skip)
    shutil.copy(CHECKOUT / "__spark_entry__.py", tmp_path)
    # sys.path as when the tool runs as a script: its own directory
    # first, then the tree the probe starts from
    probe = (
        "import importlib, importlib.util, sys\n"
        "sys.path.insert(0, sys.argv[1])\n"
        "importlib.import_module(sys.argv[2])\n"
        "import metadata_ingestion_poc_spark\n"
        "print(metadata_ingestion_poc_spark.__file__)\n"
        "print(importlib.util.find_spec('__spark_entry__').origin)\n"
    )
    for tool in sorted((tmp_path / "tools").glob("*.py")):
        got = subprocess.run(
            [sys.executable, "-c", probe, str(tool.parent), tool.stem],
            cwd=CHECKOUT,
            capture_output=True,
            text=True,
            check=True,
        ).stdout.split()
        assert len(got) == 2, (tool.name, got)
        for path in got:
            assert Path(path).is_relative_to(tmp_path), (tool.name, path)
