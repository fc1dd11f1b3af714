"""Every package def has a root, and every package import is used.

A node is a top-level ``def``/``class``, or a name bound by a top-level
assignment, in a package module other than an ``__init__.py``.  The roots are
``__spark_entry__.py``, ``bench.py``, every file under ``jobs/``, ``tools/``
and ``erbench/`` (its tests excepted), the package's module-level statements
that are neither nodes nor imports (``__init__.py`` bodies included), and the
allowlist below.  A reference is an ``ast.Name`` id, an ``ast.Attribute``
attr, or a string constant that is exactly an identifier (erbench's
``TARGETS``, ``getattr`` lookups); docstrings do not count.  The closure is
taken by name, so a name match counts as a call: the guard over-approximates
reachability and never calls live code dead.

A node no root reaches is either deleted or put on ``ALLOWLIST`` with a
one-line reason that cites a COVERAGE.md row or a reference file."""

import ast
import re
from collections import defaultdict
from pathlib import Path

import berkeley_entity_spark

PKG = Path(berkeley_entity_spark.__file__).parent
ROOT = PKG.parent

# (module relative to the package, name) -> why it stays without a root:
# the reference surface it reproduces, as a COVERAGE.md row or a reference
# file.  An entry is a root, so its private helpers need no entry.
ALLOWLIST = {
    ("evaluate", "mention_detection_prf"): "COVERAGE A6/J4: mention-detection P/R/F1 over span alignment",
    ("evaluate", "grouped_accuracy"): "COVERAGE A8: grouped accuracy counters",
    ("evaluate", "bootstrap_significance"): "COVERAGE M12: paired bootstrap (BootstrapDriver.scala)",
    ("evaluate", "per_doc_pairwise_stats"): "COVERAGE M12: the bootstrap's per-document statistics",
    ("evaluate", "ceafe_metrics"): "COVERAGE round-4 item 4: CEAFe + CoNLL average",
    ("ml.train", "kfold_prune_models"): "COVERAGE M10: k-fold coarse pruning models",
    ("ml.train", "score_with_fold_models"): "COVERAGE M10: fold-aware scoring",
    ("operators.scoring", "feature_report"): "COVERAGE A11: feature-template counts",
    ("operators.entity", "entity_refine"): "COVERAGE M7b: DocumentInferencerRahman entity-level pass",
    ("operators.entity", "refine_components"): "COVERAGE M7b: DocumentInferencerRahman entity-level pass",
    ("operators.joint", "surface_query_candidates"): "COVERAGE M8: JointDocFactorGraphOnto query candidates",
    ("sources.brown", "read_brown_clusters"): "COVERAGE S5: Brown-cluster scan",
    ("sources.brown", "with_brown_prefixes"): "COVERAGE S5: Brown-cluster prefix features",
    ("sources.word2vec", "read_word2vec_bin"): "COVERAGE S7: word2vec binary reader",
    ("sources.word2vec", "write_word2vec_bin"): "COVERAGE S7: word2vec binary writer",
    ("sources.ngrams", "collect_query_counts"): "COVERAGE round-4 item 10: QueryCountCollector.scala",
    ("sources.wikidump", "read_dump"): "COVERAGE S6: Wikipedia DB crunch input",
    ("operators.wiki", "infobox_heads"): "COVERAGE S6: Wikipedia category DB infobox heads",
    ("operators.semclass", "semclass_for_words"): "COVERAGE SO5: WordNet semantic-class cascade",
    ("operators.semclass", "bounded_hypernym_closure"): "COVERAGE SO5: bounded hypernym closure",
    ("synth", "generate_wordnet"): "COVERAGE SO5: synthetic WordNet relation tables",
    ("operators.xdistrib", "add_distrib_scores"): "COVERAGE round-4 item 11: CorefComputerDistrib pair scores",
    ("sinks.conll", "ner_bits"): "COVERAGE S9: ConllDocWriter.scala:153-169 NER bits",
    ("operators.pronouns", "is_pronoun_lc"): "COVERAGE P12: PronounDictionary.isPronLc",
    ("operators.pronouns", "canonicalize"): "COVERAGE P12: PronounDictionary canonicalization map",
    ("preprocess.normalize", "extract_text"): "COVERAGE S2: html -> text extractor",
    ("synth", "ENTITY_CAPACITY"): "COVERAGE S1: injective-name capacity of the synth corpus",
}


def _module(path: Path) -> str:
    return ".".join(path.relative_to(PKG).with_suffix("").parts)


def _docstrings(tree: ast.AST) -> set[int]:
    ids = set()
    for node in ast.walk(tree):
        if isinstance(
            node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
        ):
            body = node.body
            if (
                body
                and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)
            ):
                ids.add(id(body[0].value))
    return ids


def _refs(node: ast.AST, docstrings: set[int]) -> set[str]:
    names = set()
    for sub in ast.walk(node):
        if isinstance(sub, ast.Name):
            names.add(sub.id)
        elif isinstance(sub, ast.Attribute):
            names.add(sub.attr)
        elif (
            isinstance(sub, ast.Constant)
            and isinstance(sub.value, str)
            and sub.value.isidentifier()
            and id(sub) not in docstrings
        ):
            names.add(sub.value)
    return names


def _bound(stmt: ast.stmt) -> list[str]:
    """Names a top-level statement binds as a node ([] for anything else)."""
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [stmt.name]
    if isinstance(stmt, ast.Assign):
        targets = stmt.targets
    elif isinstance(stmt, (ast.AnnAssign, ast.AugAssign)):
        targets = [stmt.target]
    else:
        return []
    return [
        t.id for target in targets for t in ast.walk(target) if isinstance(t, ast.Name)
    ]


def _parse(path: Path) -> ast.Module:
    return ast.parse(path.read_text(), str(path))


def _graph():
    """(nodes, edges, root refs): nodes maps (module, name) to its line span,
    edges maps a name to the names its nodes reference."""
    nodes = {}
    edges = defaultdict(set)
    roots = set()
    for path in sorted(PKG.rglob("*.py")):
        tree = _parse(path)
        docs = _docstrings(tree)
        if path.name == "__init__.py":
            roots |= _refs(tree, docs)
            continue
        module = _module(path)
        for stmt in tree.body:
            bound = _bound(stmt)
            if not bound:
                if not isinstance(stmt, (ast.Import, ast.ImportFrom)):
                    roots |= _refs(stmt, docs)
                continue
            refs = _refs(stmt, docs)
            for name in bound:
                nodes[(module, name)] = (stmt.lineno, stmt.end_lineno)
                edges[name] |= refs - {name}
    entry_files = [ROOT / "__spark_entry__.py", ROOT / "bench.py"]
    for d in ("jobs", "tools", "erbench"):
        entry_files += [
            p
            for p in sorted((ROOT / d).rglob("*.py"))
            if "tests" not in p.relative_to(ROOT).parts
        ]
    for path in entry_files:
        tree = _parse(path)
        roots |= _refs(tree, _docstrings(tree))
    return nodes, edges, roots


def _closure(edges, start: set[str]) -> set[str]:
    seen, todo = set(), list(start)
    while todo:
        name = todo.pop()
        if name in seen:
            continue
        seen.add(name)
        todo.extend(edges.get(name, ()))
    return seen


def unreached():
    """Sorted (module, name, first line, last line) of every node no root or
    allowlist entry reaches."""
    nodes, edges, roots = _graph()
    reached = _closure(edges, roots | {name for _, name in ALLOWLIST})
    return sorted(
        (module, name, *span)
        for (module, name), span in nodes.items()
        if name not in reached
    )


def stale():
    """Allowlist entries naming no node, or a node the roots reach without
    the allowlist."""
    nodes, edges, roots = _graph()
    reached = _closure(edges, roots)
    return sorted(
        key for key in ALLOWLIST if key not in nodes or key[1] in reached
    )


def _annotation_names(tree: ast.Module) -> set[str]:
    """Names used inside string annotations."""
    annotations = []
    for node in ast.walk(tree):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            a = node.args
            args = a.posonlyargs + a.args + a.kwonlyargs + [a.vararg, a.kwarg]
            annotations += [x.annotation for x in args if x is not None]
            annotations.append(node.returns)
        elif isinstance(node, ast.AnnAssign):
            annotations.append(node.annotation)
    names = set()
    for ann in annotations:
        for sub in ast.walk(ann) if ann is not None else ():
            if isinstance(sub, ast.Constant) and isinstance(sub.value, str):
                try:
                    expr = ast.parse(sub.value, mode="eval")
                except SyntaxError:
                    continue
                names |= {n.id for n in ast.walk(expr) if isinstance(n, ast.Name)}
    return names


def _imported(node: ast.AST) -> set[str]:
    """Names the import statements anywhere under `node` bind."""
    return {
        alias.asname or alias.name.split(".")[0]
        for sub in ast.walk(node)
        if isinstance(sub, (ast.Import, ast.ImportFrom))
        for alias in sub.names
    }


def _loaded(node: ast.AST, shadowed: frozenset = frozenset()) -> set[str]:
    """Names used under `node`, leaving out a use inside a function that
    imports the same name itself (that use is of the local import)."""
    names = set()
    for child in ast.iter_child_nodes(node):
        if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
            names |= _loaded(child, shadowed | _imported(child))
        elif isinstance(child, ast.Name) and child.id not in shadowed:
            names.add(child.id)
        else:
            names |= _loaded(child, shadowed)
    return names


def unused_imports():
    """(module, name, line) of every top-level import a package module (not
    an ``__init__.py``) binds and never uses."""
    unused = []
    for path in sorted(PKG.rglob("*.py")):
        if path.name == "__init__.py":
            continue
        tree = _parse(path)
        used = _loaded(tree) | _annotation_names(tree)
        for stmt in tree.body:
            if isinstance(stmt, ast.ImportFrom) and stmt.module == "__future__":
                continue
            if not isinstance(stmt, (ast.Import, ast.ImportFrom)):
                continue
            for alias in stmt.names:
                bound = alias.asname or alias.name.split(".")[0]
                if bound not in used:
                    unused.append((_module(path), bound, stmt.lineno))
    return unused


def test_every_package_def_has_a_root():
    dead = unreached()
    assert not dead, (
        "package defs no entry point reaches (delete them, or allowlist them "
        "with a reason citing a COVERAGE row or a reference file):\n  "
        + "\n  ".join(f"{m}.{n} (lines {a}-{b})" for m, n, a, b in dead)
    )


def test_allowlist_is_not_stale():
    bad = stale()
    assert not bad, (
        "allowlist entries naming no node, or a node a root reaches anyway:\n  "
        + "\n  ".join(f"{m}.{n}" for m, n in bad)
    )


def test_allowlist_reasons_cite_a_row_or_a_file():
    vague = [
        key
        for key, reason in ALLOWLIST.items()
        if "\n" in reason or not re.search(r"COVERAGE \S+|\w+\.scala", reason)
    ]
    assert not vague, (
        f"allowlist reasons must be one line citing a COVERAGE row or a "
        f"reference file: {vague}"
    )


def test_every_package_import_is_used():
    unused = unused_imports()
    assert not unused, "unused top-level imports in package modules:\n  " + (
        "\n  ".join(f"{m}: {n} (line {line})" for m, n, line in unused)
    )
