"""YAML node options bind to operators without restating their defaults.

A pipeline node passes an operator only the options its config sets, so
the operator's signature default is the one default for YAML and Python
callers alike.  These checks read ``plans/pipeline.py`` and the operator
signatures; none starts Spark."""

from __future__ import annotations

import ast
import importlib
import inspect

from metalpipe_spark.plans import pipeline
from metalpipe_spark.plans.pipeline import NODE_CLASSES, OperatorNode, _kwargs
from metalpipe_spark.udf_registry import load_function

# The YAML defaults that differ from the operator's on purpose, as
# (node class, operator parameter); each carries its reason in pipeline.py.
OVERRIDES = {
    ("CSVToDictionaryList", "infer_schema"),
    ("Join", "broadcast_dim"),
    ("NearDupDedup", "bands"),
    ("TrainBackoffLM", "n"),
}
_CONVERSIONS = {"int": int, "float": float, "str": str, "tuple": tuple, "list": list}
_NO_DEFAULT = object()


def _opts_get(node: ast.expr):
    """``(key, yaml default)`` when ``node`` is ``opts.get("key"[, d])``,
    optionally wrapped in one type conversion such as ``int(...)``."""
    conv = None
    if (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Name)
        and node.func.id in _CONVERSIONS
        and len(node.args) == 1
    ):
        conv, node = _CONVERSIONS[node.func.id], node.args[0]
    if not (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "get"
        and isinstance(node.func.value, ast.Name)
        and node.func.value.id == "opts"
    ):
        return None
    if len(node.args) < 2:
        default = None
    else:
        try:
            code = compile(ast.Expression(node.args[1]), "<default>", "eval")
            default = eval(code, {"__builtins__": {}})
        except NameError:  # a default built from the node's own values
            return node.args[0].value, _NO_DEFAULT
    return node.args[0].value, conv(default) if conv else default


def _yaml_defaults(path: str):
    """Every ``opts.get`` default that feeds an operator parameter with a
    signature default: ``(node class, operator, param, yaml, signature)``."""
    with open(path) as fh:
        tree = ast.parse(fh.read())
    imports = {}
    for stmt in tree.body:
        if isinstance(stmt, ast.ImportFrom) and stmt.module.startswith("metalpipe_spark"):
            imports.update({a.asname or a.name: (stmt.module, a.name) for a in stmt.names})
    found = []
    for fn in tree.body:
        if not isinstance(fn, ast.FunctionDef):
            continue
        classes = [
            d.args[0].value
            for d in fn.decorator_list
            if isinstance(d, ast.Call) and getattr(d.func, "id", None) == "node_class"
        ]
        if not classes:
            continue
        local = dict(imports)
        for n in ast.walk(fn):
            if isinstance(n, ast.ImportFrom):
                local.update({a.asname or a.name: (n.module, a.name) for a in n.names})
        for call in ast.walk(fn):
            if not (isinstance(call, ast.Call) and getattr(call.func, "id", None) in local):
                continue
            module, name = local[call.func.id]
            params = inspect.signature(getattr(importlib.import_module(module), name)).parameters
            names = list(params)
            args = [(names[i], a) for i, a in enumerate(call.args) if i < len(names)]
            args += [(k.arg, k.value) for k in call.keywords if k.arg is not None]
            for param, value in args:
                got = _opts_get(value)
                sig_default = params[param].default
                if got is None or got[1] is _NO_DEFAULT or sig_default is inspect.Parameter.empty:
                    continue
                found.append((classes[0], name, param, got[1], sig_default))
    return found


def _same(a, b) -> bool:
    return type(a) is type(b) and a == b


def test_no_yaml_default_restates_the_operator_default():
    """No ``opts.get(key, d)`` feeds an operator parameter whose
    signature default is ``d``: the node leaves the key out instead
    (``_kwargs``).  The only YAML-side defaults left are the overrides."""
    found = _yaml_defaults(pipeline.__file__)
    restated = [f for f in found if _same(f[3], f[4])]
    assert restated == []
    assert {(f[0], f[2]) for f in found} == OVERRIDES


def test_operator_node_keys_are_operator_parameters():
    """Every registration resolves, and each key it binds (or rename
    target) is a keyword parameter of its operator, so a typo fails
    here rather than at a user's compile."""
    nodes = [b for b in NODE_CLASSES.values() if isinstance(b, OperatorNode)]
    assert nodes
    for node in nodes:
        _, *params = inspect.signature(load_function(node.path)).parameters
        bound = [*node.required, *node.optional, *node.renamed]
        assert set(bound) <= set(params), (node.cls, sorted(set(bound) - set(params)))
        assert len(set(bound)) == len(bound), node.cls


def test_kwargs_passes_only_the_options_a_config_sets():
    opts = {"text_column": "body", "k": 5, "seed": None}
    assert _kwargs(opts, "k", "seed", "hash", text_col="text_column", id_col="id_column") == {
        "k": 5,
        "seed": None,
        "text_col": "body",
    }
