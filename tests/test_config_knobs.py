"""No dead configuration: every PipelineConfig field is read somewhere in the
package outside config.py and set by some PipelineConfig(...) call outside
the tests, every defaulted parameter of a module-level package function is
passed by at least one call in the repo, and no such parameter gets the same
literal from every call."""

import ast
import dataclasses
from collections import defaultdict
from pathlib import Path

import berkeley_entity_spark
from berkeley_entity_spark.config import PipelineConfig

PKG = Path(berkeley_entity_spark.__file__).parent
ROOT = PKG.parent


def _attributes_read() -> set[str]:
    read = set()
    for path in PKG.rglob("*.py"):
        if path == PKG / "config.py":
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.Attribute) and isinstance(node.ctx, ast.Load):
                read.add(node.attr)
    return read


def test_every_pipeline_config_field_is_read():
    fields = {f.name for f in dataclasses.fields(PipelineConfig)}
    unread = sorted(fields - _attributes_read())
    assert not unread, f"PipelineConfig fields no package code reads: {unread}"


def test_every_pipeline_config_field_is_set_outside_tests():
    """A field only tests set is a knob no deployment turns: its default is
    the one value the pipeline runs with."""
    fields = [f.name for f in dataclasses.fields(PipelineConfig)]
    set_ = set()
    for path in ROOT.rglob("*.py"):
        parts = path.relative_to(ROOT).parts
        if "tests" in parts or any(p.startswith(".") for p in parts):
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.Call) and (
                getattr(node.func, "id", None) == "PipelineConfig"
                or getattr(node.func, "attr", None) == "PipelineConfig"
            ):
                set_.update(fields[: len(node.args)])
                set_.update(k.arg for k in node.keywords)
    unset = [f for f in fields if f not in set_]
    assert not unset, (
        f"PipelineConfig fields no call outside tests/ sets: {unset}"
    )


def _defaulted_params(tree: ast.Module):
    """(function, parameter, position or None) for every defaulted parameter
    of the module's top-level functions; keyword-only ones have no
    position."""
    for fn in tree.body:
        if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        a = fn.args
        positional = a.posonlyargs + a.args
        first = len(positional) - len(a.defaults)
        for i, arg in enumerate(positional[first:], first):
            yield fn.name, arg.arg, i
        for arg, default in zip(a.kwonlyargs, a.kw_defaults):
            if default is not None:
                yield fn.name, arg.arg, None


def _calls_by_name():
    """name -> (keywords passed, most positional args, passes *args/**kwargs)
    over every call in the repo, matched by bare or attribute name."""
    keywords = defaultdict(set)
    n_positional = defaultdict(int)
    starred = set()
    for path in ROOT.rglob("*.py"):
        if any(p.startswith(".") for p in path.relative_to(ROOT).parts):
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            if name is None:
                continue
            if any(isinstance(a, ast.Starred) for a in node.args) or any(
                k.arg is None for k in node.keywords
            ):
                starred.add(name)
            n_positional[name] = max(n_positional[name], len(node.args))
            keywords[name].update(k.arg for k in node.keywords if k.arg)
    return keywords, n_positional, starred


def test_every_option_has_a_caller():
    keywords, n_positional, starred = _calls_by_name()
    unused = []
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        for fn, param, pos in _defaulted_params(tree):
            passed = (
                fn in starred
                or param in keywords[fn]
                or (pos is not None and n_positional[fn] > pos)
            )
            if not passed:
                unused.append(f"{path.relative_to(ROOT)}::{fn}({param}=)")
    assert not unused, (
        "defaulted parameters no call in the repo passes (make each a literal "
        "or a module constant, or drop the branch it selects):\n  "
        + "\n  ".join(unused)
    )


def _calls_by_function_name():
    """name -> every call node in the repo, matched by bare or attribute
    name."""
    calls = defaultdict(list)
    for path in ROOT.rglob("*.py"):
        if any(p.startswith(".") for p in path.relative_to(ROOT).parts):
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.Call):
                f = node.func
                name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
                if name is not None:
                    calls[name].append(node)
    return calls


def _literal(node):
    """('lit', repr) for a literal expression, else a value unique to the
    node (so a computed argument never counts as 'the same value')."""
    try:
        return ("lit", repr(ast.literal_eval(node)))
    except ValueError:
        return ("expr", id(node))


def test_no_parameter_gets_one_literal_from_every_call():
    calls = _calls_by_function_name()
    same = []
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        for fn in tree.body:
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            sites = calls.get(fn.name, [])
            if not sites or any(
                any(isinstance(a, ast.Starred) for a in c.args)
                or any(k.arg is None for k in c.keywords)
                for c in sites
            ):
                continue
            a = fn.args
            positional = a.posonlyargs + a.args
            defaults = [None] * (len(positional) - len(a.defaults)) + a.defaults
            params = [(p.arg, i, d) for i, (p, d) in enumerate(zip(positional, defaults))]
            params += [(p.arg, None, d) for p, d in zip(a.kwonlyargs, a.kw_defaults)]
            for name, pos, default in params:
                values = set()
                for c in sites:
                    kw = {k.arg: k.value for k in c.keywords}
                    if name in kw:
                        values.add(_literal(kw[name]))
                    elif pos is not None and pos < len(c.args):
                        values.add(_literal(c.args[pos]))
                    elif default is not None:
                        values.add(_literal(default))
                    else:
                        values.add(("expr", id(c)))
                (kind, value), *rest = values
                if kind == "lit" and not rest:
                    same.append(f"{path.relative_to(ROOT)}::{fn.name}({name}={value})")
    assert not same, (
        "parameters every call in the repo gives the same literal (make each "
        "a literal or a module constant):\n  " + "\n  ".join(same)
    )
