"""Every package module must be reachable from an entry point.

An AST import walk starts at the programs the repo runs — the
application (``app.py``), the query registry, the driver contract
(``__spark_entry__.py``), ``bench.py``, ``perfbench/*.py`` and
``scripts/*.py`` — and follows every ``import`` / ``from ... import``
statement (function-local ones too) into ``flink_application_spark``.
A module reached only by tests is code with no user: it fails here
until it is either wired into an entry point or deleted, the same way
``test_rows_only_allowlist`` pins the rows-only count.

The second test goes one level down: every top-level ``def``/``class``
of a reached module must be used — imported, called or read as an
attribute — by the code of a reached module or an entry point. The
match is by name, so a use of a same-named function elsewhere counts;
query functions handed to ``registry.register`` by their decorator are
used by the registry. Both walks are static and run no Spark.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "flink_application_spark"

ENTRY_POINTS = [
    ROOT / PACKAGE / "app.py",
    ROOT / PACKAGE / "plans" / "registry.py",
    ROOT / "__spark_entry__.py",
    ROOT / "bench.py",
    *sorted((ROOT / "perfbench").glob("*.py")),
    *sorted((ROOT / "scripts").glob("*.py")),
]

# Unreached on purpose, each with its reason.
UNREACHED = {
    "sources.generator": "ports the reference Generator job (COVERAGE S7/S9)",
    "sql_script": "ports the reference SQL view-chain idiom (COVERAGE §3.1)",
}

# Top-level names in reached modules that only tests use, on purpose,
# each with its reason.
TEST_ONLY = {
    "oracle.compare": "the oracle-parity check tests/test_oracle_parity.py runs on every registered query",
    "operators.export.write_training_shards": "writes the shard layout `with_epoch_shards` computes; a query returns a DataFrame, so none can write files",
    "operators.export.read_shard": "reads one shard back in sample order, the read side of `write_training_shards`",
    "operators.kmeans_exact.kmeans_fit_exact_profile": "uncached form of the registered emb_kmeans_fit_exact_profile, for inputs the per-sf memo does not hold",
    "operators.nndescent_exact.nn_descent_exact_profile": "uncached form of the registered NN-Descent profile, for inputs the per-sf memo does not hold",
    "operators.minhash.size_lsh_for_recall": "the sizing rule the registered LSH (k, bands) default is checked against",
    "plans.bloom_queries.size_bloom_for_fpr": "the sizing rule for the Bloom audit's (m, k), checked against its measured FPR",
    "operators.similarity.label_noise_audit": "retriever-agnostic form the ANN twin's exact-vs-probe tests compare with",
    "operators.similarity.contrastive_triplets": "retriever-agnostic form the ANN twin's exact-vs-probe tests compare with",
    "plans.vectorize_queries.hashing_trick_embedding": "the per-row reference the registered DataFrame form is compared with",
    "sources.csv_decode.encode_csv_value": "the encoder the CSV decode round-trip test inverts",
    "operators.skew.salted_join": "the hot-key join salting AQE's partition split cannot do for one key; tested equal to the plain join",
}


def _module_files() -> dict[str, Path]:
    """Dotted name (``plans.cdr``, ``streaming`` for a package) -> file."""
    out = {}
    for path in (ROOT / PACKAGE).rglob("*.py"):
        parts = path.relative_to(ROOT).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        out[".".join(parts)] = path
    return out


def _imported(path: Path, name: str, is_package: bool) -> set[str]:
    """Every dotted name one file imports, with each parent package."""
    names = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                anchor = name.split(".")
                anchor = anchor[: len(anchor) - node.level + is_package]
                base = ".".join(anchor + ([base] if base else []))
            names.add(base)
            names.update(f"{base}.{a.name}" for a in node.names)
    with_parents = set()
    for n in names:
        parts = n.split(".")
        with_parents.update(".".join(parts[:i]) for i in range(1, len(parts) + 1))
    return with_parents


def _reached(files: dict[str, Path]) -> set[str]:
    seen: set[str] = set()
    todo = [(p, "__entry__", False) for p in ENTRY_POINTS]
    while todo:
        path, name, is_package = todo.pop()
        for dotted in _imported(path, name, is_package):
            if dotted in files and dotted not in seen:
                seen.add(dotted)
                todo.append((files[dotted], dotted, files[dotted].name == "__init__.py"))
    return seen


def test_every_package_module_is_reached_from_an_entry_point():
    files = _module_files()
    unreached = {n.removeprefix(PACKAGE + ".") for n in set(files) - _reached(files)}
    assert unreached == set(UNREACHED), sorted(unreached ^ set(UNREACHED))


def _used_names(paths) -> set[str]:
    """Every name the files import, load or read as an attribute."""
    names = set()
    for path in paths:
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.Name):
                names.add(node.id)
            elif isinstance(node, ast.Attribute):
                names.add(node.attr)
            elif isinstance(node, ast.alias):
                names.add(node.name.rpartition(".")[2])
    return names


def _registered(node: ast.AST) -> bool:
    return any(
        isinstance(d, ast.Call) and getattr(d.func, "id", None) == "register"
        for d in node.decorator_list
    )


def test_every_top_level_name_in_a_reached_module_is_used():
    files = _module_files()
    reached = _reached(files)
    used = _used_names([*ENTRY_POINTS, *(files[n] for n in reached)])
    unused = set()
    for dotted in reached:
        for node in ast.parse(files[dotted].read_text()).body:
            if (
                isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
                and node.name not in used
                and not _registered(node)
            ):
                unused.add(f"{dotted.removeprefix(PACKAGE + '.')}.{node.name}")
    assert unused == set(TEST_ONLY), sorted(unused ^ set(TEST_ONLY))
