"""Every top-level def in the package must be reached from a product
root, and every module-level assignment must be read by someone.

A def is reached when its name is used as an identifier (a name, an
attribute, an imported alias or an identifier-shaped string such as a
bench row name; comments and docstrings do not count) in a root or in
another reached def. The roots are the module-level code of every
package module (this includes each ``register(...)`` in
``queries.py``), the entry points and root paths below, the
allow-list and the deferred list. A def that only tests or probes call is dead product
surface: delete it together with the tests that exist only for it.

A module-level assignment (a constant, an oracle SQL string) is read
when its name is loaded anywhere in the package or in one of the
``READERS`` below. Tests count as readers: the oracle SQL of a kept
operator that is not registered is the reference its tests compare
against. Pure ``ast``; no Spark.
"""

from __future__ import annotations

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "fledge_south_csvplayback_spark"

# Entry points outside the package (files or directories): every
# identifier in them is a root.
ENTRY_POINTS = {
    "bench.py": "bench CLI",
    "__spark_entry__.py": "driver contract",
    "perfbench": "the benchmark harness (its tests are not roots)",
}
# Package paths whose every def is a root.
ROOT_PATHS = {
    f"{PACKAGE}/streaming/": "index-lifecycle stack; ROADMAP item 4",
    f"{PACKAGE}/operators/compaction.py": "index-lifecycle stack; ROADMAP item 4",
}

# name -> reason. Only explicit roots belong here.
ALLOW = {
    "main": "etl CLI entry point",
    "find_csv_files": "reference-mapped (SURVEY §2, COVERAGE S1)",
    "find_csv_file": "reference-mapped (SURVEY §2, COVERAGE S1)",
    "write_csv_append": "reference-mapped (SURVEY §2, COVERAGE S10)",
    "all_null_columns": "reference-mapped (SURVEY §2, COVERAGE A2)",
    "replay": "reference-mapped (SURVEY §2, COVERAGE S9/ST7)",
    "throughput": "reference-mapped (SURVEY §2, COVERAGE A4)",
    "csv_metadata_datapoint": "folds into a registered suite (ROADMAP item 3)",
    "append_bm25_index": "BM25 index family (ROADMAP item 4)",
    "compact_bm25_index": "BM25 index family (ROADMAP item 4)",
    "quality_filter": "reference implementation in test_corpus_ingest",
    "image_neardup_pairs": "reference implementation in test_media_ingest",
    "quality_model_score": (
        "reference implementation in "
        "test_neardup_keep_best_elects_argmax_score"
    ),
    "corpus_neardup_apply": (
        "reference implementation in "
        "test_neardup_keep_best_elects_argmax_score"
    ),
    "bpe_train": (
        "reference implementation in "
        "test_chunk_documents_bpe_counts_match_tokenizer_and_reconstruct"
    ),
    "text_bpe_tokenize": (
        "reference implementation in "
        "test_chunk_documents_bpe_counts_match_tokenizer_and_reconstruct"
    ),
}

# name -> reason. Unreached defs whose retirement is deferred: each one
# leaves together with its tests in a later change (ROADMAP item 7).
# The list may only shrink.
_DEFERRED_CURATION = "curation sampling retired with its tests (ROADMAP item 7)"
_DEFERRED_EVENTS = "events pivot retired with its tests (ROADMAP item 7)"
DEFERRED = {
    **dict.fromkeys(
        """_split_label corpus_mixture_weights corpus_sample
        corpus_sample_by_source corpus_sample_stratified
        corpus_split""".split(),
        _DEFERRED_CURATION,
    ),
    **dict.fromkeys(
        ["events_type_pivot", "events_type_unpivot"], _DEFERRED_EVENTS
    ),
}

# Files and directories (tests included) whose code may read a package
# module's names, besides the package itself.
READERS = ("bench.py", "__spark_entry__.py", "perfbench", "tests", "probes")
# name -> reason. Module-level names kept although nothing reads them.
UNREAD_ALLOW = {
    "CSV_METADATA_SQL": "oracle of csv_metadata_datapoint (ROADMAP item 3)",
}


def _identifiers(nodes, stores: bool = True) -> set[str]:
    """Identifiers used in ``nodes``; with ``stores=False`` a plain name
    counts only where it is loaded (an assignment target is not a
    read)."""
    out: set[str] = set()
    for node in nodes:
        for n in ast.walk(node):
            if isinstance(n, ast.Name):
                if stores or isinstance(n.ctx, ast.Load):
                    out.add(n.id)
            elif isinstance(n, ast.Attribute):
                out.add(n.attr)
            elif isinstance(n, ast.alias):
                out.add(n.name.rsplit(".", 1)[-1])
            elif (
                isinstance(n, ast.Constant)
                and isinstance(n.value, str)
                and n.value.isidentifier()
            ):
                # a bench row or registered query named by string
                out.add(n.value)
    return out


def _parse(rel: str) -> ast.Module:
    with open(os.path.join(REPO, rel), encoding="utf-8") as f:
        return ast.parse(f.read(), filename=rel)


def _py_files(rel: str, skip: tuple[str, ...] = ("tests",)) -> list[str]:
    """``rel`` itself if it is a file, else the .py files under it
    outside the ``skip`` directories."""
    if rel.endswith(".py"):
        return [rel]
    out = []
    for root, dirs, files in os.walk(os.path.join(REPO, rel)):
        dirs[:] = [d for d in dirs if d not in (*skip, "__pycache__")]
        out += [
            os.path.relpath(os.path.join(root, f), REPO)
            for f in files
            if f.endswith(".py")
        ]
    return sorted(out)


_DEF = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def unreached_defs() -> list[str]:
    """``module:def (N lines)`` for every package def no root reaches."""
    defs: dict[str, list[tuple[str, ast.AST]]] = {}
    seeds: set[str] = set(ALLOW) | set(DEFERRED)
    for rel in _py_files(PACKAGE):
        whole = any(rel.startswith(p) for p in ROOT_PATHS)
        for stmt in _parse(rel).body:
            if isinstance(stmt, _DEF) and not whole:
                defs.setdefault(stmt.name, []).append((rel, stmt))
                # decorators run at import time
                seeds |= _identifiers(stmt.decorator_list)
            else:
                seeds |= _identifiers([stmt])
    for entry in ENTRY_POINTS:
        for rel in _py_files(entry):
            seeds |= _identifiers([_parse(rel)])

    reached: set[str] = set()
    todo = list(seeds)
    while todo:
        name = todo.pop()
        if name in reached:
            continue
        reached.add(name)
        for _rel, node in defs.get(name, ()):
            todo += _identifiers([node]) - reached
    return sorted(
        f"{rel}:{name} ({node.end_lineno - node.lineno + 1} lines)"
        for name, sites in defs.items()
        if name not in reached
        for rel, node in sites
    )


def test_every_product_def_is_reached():
    defined = {
        stmt.name
        for rel in _py_files(PACKAGE)
        for stmt in _parse(rel).body
        if isinstance(stmt, _DEF)
    }
    # a deferred entry leaves the list when its def is retired
    stale = sorted(set(DEFERRED) - defined)
    assert not stale, f"deferred defs no longer in the package: {stale}"
    dead = unreached_defs()
    assert not dead, (
        f"{len(dead)} package defs are reached by no query, bench row, "
        "CLI or allow-listed root:\n  " + "\n  ".join(dead)
    )


def unread_module_names() -> list[str]:
    """``module:NAME`` for every module-level assignment in the package
    that no package module and no reader loads."""
    bound: list[tuple[str, str]] = []
    reads: set[str] = set()
    for rel in _py_files(PACKAGE):
        tree = _parse(rel)
        reads |= _identifiers([tree], stores=False)
        for stmt in tree.body:
            targets = (
                stmt.targets if isinstance(stmt, ast.Assign)
                else [stmt.target] if isinstance(stmt, ast.AnnAssign)
                else []
            )
            bound += [
                (rel, n.id)
                for t in targets
                for n in ast.walk(t)
                if isinstance(n, ast.Name)
            ]
    this = os.path.relpath(os.path.abspath(__file__), REPO)
    for entry in READERS:
        for rel in _py_files(entry, skip=()):
            if rel != this:  # the allow-lists above are not reads
                reads |= _identifiers([_parse(rel)], stores=False)
    return sorted(
        f"{rel}:{name}"
        for rel, name in bound
        if name not in reads
        and name not in UNREAD_ALLOW
        and not name.startswith("__")
    )


def test_every_module_name_is_read():
    unread = unread_module_names()
    assert not unread, (
        f"{len(unread)} module-level names are read by no package "
        "module, entry point, test or probe:\n  " + "\n  ".join(unread)
    )
