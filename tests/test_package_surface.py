"""Package-surface guards: every module under ``bbcrawl_spark`` must be
reachable, through static imports, from the crawl loop, its CLI or its
inputs, and every public function or class must be named by code outside
the tests. A module or helper only tests reach is dead weight in the
``--py-files`` zip; delete it instead of keeping it "for later"."""

from __future__ import annotations

import ast
import importlib.util
import pkgutil
from pathlib import Path

import pytest

import bbcrawl_spark

PKG = "bbcrawl_spark"

#: the crawl loop, its CLI, its spec, and its input paths
ROOTS = (
    "plans.round",
    "__main__",
    "oracle",
    "sources.boardsite",
    "plans.session",
)


def _modules() -> dict[str, Path]:
    mods = {PKG: Path(bbcrawl_spark.__file__)}
    for info in pkgutil.walk_packages(bbcrawl_spark.__path__, PKG + "."):
        mods[info.name] = Path(importlib.util.find_spec(info.name).origin)
    return mods


def _imports(name: str, path: Path, mods: dict[str, Path]) -> set[str]:
    """Package modules ``name`` imports anywhere in its body (function-local
    imports included), plus the parent packages each import initializes."""
    is_pkg = path.name == "__init__.py"
    here = name if is_pkg else name.rpartition(".")[0]
    out: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            out.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                base = here.split(".")
                base = base[: len(base) - (node.level - 1)]
                mod = ".".join(base + ([node.module] if node.module else []))
            else:
                mod = node.module or ""
            out.add(mod)
            # ``from pkg import sub`` imports the submodule ``pkg.sub``
            out.update(f"{mod}.{a.name}" for a in node.names)
    reached = set()
    for m in out:
        while m:
            if m in mods:
                reached.add(m)
            m = m.rpartition(".")[0]
    return reached


def test_every_module_reachable_from_roots():
    mods = _modules()
    roots = [f"{PKG}.{r}" for r in ROOTS]
    assert set(roots) <= set(mods), sorted(set(roots) - set(mods))
    seen: set[str] = set()
    todo = list(roots)
    while todo:
        m = todo.pop()
        if m in seen:
            continue
        seen.add(m)
        todo.extend(_imports(m, mods[m], mods) - seen)
        parent = m.rpartition(".")[0]
        if parent:
            todo.append(parent)
    unreachable = sorted(set(mods) - seen)
    assert not unreachable, (
        f"modules not imported by the crawl loop, CLI or inputs: {unreachable}"
    )


#: pure-Python references the tests compare the engine's Spark twins against
REFERENCE_TWINS = {
    "extract_vb_attachments", "extract_srcs", "complete_headername",
    "file_crawler_name",
}


def _public_definitions(mods: dict[str, Path]) -> list[tuple[str, str]]:
    """(module, name) of each public top-level function and class."""
    return [
        (mod, node.name)
        for mod, path in mods.items()
        for node in ast.parse(path.read_text(), str(path)).body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
        and not node.name.startswith("_")
    ]


def _names(paths) -> set[str]:
    """Every AST ``Name`` id and ``Attribute`` attr in ``paths``."""
    named: set[str] = set()
    for path in paths:
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.Name):
                named.add(node.id)
            elif isinstance(node, ast.Attribute):
                named.add(node.attr)
    return named


def _unnamed(mods: dict[str, Path], users) -> list[str]:
    """Public definitions of ``mods`` that neither ``mods`` nor ``users``
    name, bar the reference twins."""
    named = _names([*mods.values(), *users])
    return sorted(
        f"{mod}.{n}" for mod, n in _public_definitions(mods)
        if n not in named and n not in REFERENCE_TWINS
    )


def test_every_public_definition_named_outside_tests():
    """Each public top-level function and class of the package is named (an
    AST ``Name`` or ``Attribute``) in the package, ``__spark_entry__.py``,
    ``scripts/`` or ``crawlbench/``."""
    repo = Path(bbcrawl_spark.__file__).parent.parent
    users = [
        repo / "__spark_entry__.py",
        *(repo / "scripts").rglob("*.py"), *(repo / "crawlbench").rglob("*.py"),
    ]
    unnamed = _unnamed(_modules(), users)
    assert not unnamed, f"public definitions only tests name: {unnamed}"


def test_unnamed_guard_flags_a_test_only_helper(tmp_path):
    """The guard sees through a helper that only its own module defines,
    and counts a call, an attribute access or a reference twin as a use."""
    lib = tmp_path / "lib.py"
    lib.write_text(
        "def used(): pass\n"
        "def via_attr(): pass\n"
        "def orphan(): pass\n"
        "def _private(): pass\n"
        "def file_crawler_name(): pass\n"
        "class Orphaned: pass\n"
    )
    user = tmp_path / "user.py"
    user.write_text("import lib\nused()\nlib.via_attr()\n")
    assert _unnamed({"lib": lib}, [user]) == ["lib.Orphaned", "lib.orphan"]


@pytest.mark.parametrize("twin", sorted(REFERENCE_TWINS))
def test_reference_twin_is_compared_by_a_test(twin):
    """An allow-listed twin is a package definition that some test still
    names; one no test compares against is a test-only helper to delete."""
    assert twin in {n for _, n in _public_definitions(_modules())}
    assert twin in _names(Path(__file__).parent.glob("test_*.py"))


def test_crawl_config_fields_pinned():
    """Adding or removing a crawl option must show up as a diff here."""
    from dataclasses import fields

    from bbcrawl_spark.plans.round import CrawlConfig

    assert [f.name for f in fields(CrawlConfig)] == [
        "pages_path", "warehouse_root", "seeds", "budget",
        "crawl_delay_round_seconds", "max_rounds", "follow_links",
        "salt_partitions", "bloom_partitions",
        "excludes", "robots", "user_agent", "crawler",
        "headernames", "allow_redirect", "tags", "attrs", "compact_every",
        "expire_keep_rounds",
    ]


def test_gate_and_ranker_parameters_pinned():
    """Adding or removing a knob of the robots gate or the politeness
    ranker must show up as a diff here."""
    from inspect import signature

    from bbcrawl_spark.operators import politeness, robots

    def params(fn):
        return list(signature(fn).parameters)

    assert params(politeness.rank_fetch_slots) == [
        "frontier", "budget", "order_cols", "salt_partitions", "key_col",
        "host_budgets",
    ]
    assert params(robots.robots_gate) == ["frontier", "rules", "url_col"]
    assert params(robots.robots_table) == ["spark", "robots_txts", "user_agent"]


def test_warehouse_and_dedup_parameters_pinned():
    """Adding or removing a knob of the warehouse's write path or of the
    public seen-set dedup functions must show up as a diff here."""
    from inspect import signature

    from bbcrawl_spark.operators import dedup
    from bbcrawl_spark.sources.warehouse import Warehouse

    def params(fn):
        return list(signature(fn).parameters)

    assert params(Warehouse.write) == ["self", "table", "df", "meta"]
    assert params(Warehouse.append) == [
        "self", "table", "df", "meta", "parent_snapshot",
    ]
    assert params(Warehouse.compact) == ["self", "table", "snapshot_id", "meta"]
    assert params(dedup.BloomSpec) == ["path", "num_partitions"]
    assert params(dedup.build_partitioned_bloom) == [
        "seen", "path", "num_partitions",
    ]
    assert params(dedup.update_partitioned_bloom) == [
        "seen_new", "prev_dir", "new_dir", "num_partitions", "seen_full",
    ]
    # with nothing to extend the update builds from the full seen table, so
    # a caller can never leave it out
    seen_full = signature(dedup.update_partitioned_bloom).parameters["seen_full"]
    assert seen_full.default is seen_full.empty
    assert params(dedup.bloom_maybe_seen) == ["df", "spec"]
    assert params(dedup.dedup_against_seen) == [
        "candidates", "seen", "bloom", "cache",
    ]


def test_round_uses_only_public_dedup_names():
    """The crawl loop reaches the Bloom state only through ``dedup``'s
    public functions; its manifests and blob paths stay inside dedup."""
    path = Path(bbcrawl_spark.__file__).parent / "plans" / "round.py"
    private = sorted(
        node.attr
        for node in ast.walk(ast.parse(path.read_text(), str(path)))
        if isinstance(node, ast.Attribute)
        and isinstance(node.value, ast.Name)
        and node.value.id == "dedup"
        and node.attr.startswith("_")
    )
    assert not private, private


def test_extraction_udf_surface_pinned():
    """The fused extraction UDF takes no knob the loop does not set and
    emits only the link field the loop reads (``l.abs_url``)."""
    from inspect import signature

    from bbcrawl_spark.functions import udfs

    assert list(signature(udfs.make_extract_fused_udf).parameters) == [
        "crawler", "headernames", "tags", "attrs", "want_links",
    ]
    assert udfs.LINK_SCHEMA.elementType.fieldNames() == ["abs_url"]


def test_pagers_import_no_pyspark():
    """Pagers are the driver-side seed sequences; the module stays pure
    Python."""
    path = Path(bbcrawl_spark.__file__).parent / "pagers.py"
    mods = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            mods.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom) and not node.level:
            mods.add(node.module or "")
    assert not {m for m in mods if m.split(".")[0] == "pyspark"}, mods
