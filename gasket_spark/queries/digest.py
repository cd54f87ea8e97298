"""Per-query code digests — the freshness half of the verification order.

A driver green certifies a query only while the query's code digest
equals the digest recorded with that green (``VERIFIED.json``, written
by ``tools/windowcheck.py record``). The digest covers the query's
normalised oracle SQL plus the bytecode of everything reachable from
the query function BY NAME:

* every ``gasket_spark`` function and class (UDF/UDTF wrappers are
  unwrapped to ``.func``, a module-level instance stands for its
  class): ``co_code``, ``co_names``, nested code objects and the
  non-code ``co_consts`` minus the docstring slot, plus defaults and
  closure cells;
* every module-level data constant, as a canonical repr (sets and
  dicts sorted, so the digest is independent of ``PYTHONHASHSEED``).
  A dict, list or set the package's own bytecode mutates in place
  (``N[k] = v``, ``del N[k]``, ``N.clear()``) is runtime state — a
  cache — not data, and is left out, so a digest does not depend on
  what the process has run.

Names resolve against the union of every ``gasket_spark`` module's
namespace — every submodule is imported first, so a helper imported
lazily inside a function body still resolves. Docstrings, comments and
line numbers are not hashed: a doc-only edit fronts nothing.

Stdlib-only on purpose: ``tools/windowcheck.py record`` loads this file
by path against an older tree's ``gasket_spark`` to digest the code a
past driver run verified.
"""

from __future__ import annotations

import dis
import hashlib
import importlib
import pkgutil
import re
import sys
import types

_COMPREHENSIONS = {"<listcomp>", "<setcomp>", "<dictcomp>", "<genexpr>"}
_ADDRESS = re.compile(r" at 0x[0-9a-fA-F]+")
_LOADS = {"LOAD_GLOBAL", "LOAD_NAME", "LOAD_DEREF", "LOAD_ATTR"}
_MUTATORS = {"append", "extend", "insert", "remove", "pop", "popitem",
             "clear", "update", "setdefault", "add", "discard", "sort",
             "reverse"}
# after ``LOAD N; LOAD k``: N[k] = v, del N[k], and N[k] += v (COPY)
_SUBSCR_WRITES = {"STORE_SUBSCR", "DELETE_SUBSCR", "COPY"}


def _canon(v: object) -> str | None:
    """Canonical repr of a data value; None when ``v`` is not data (its
    repr names an object identity, or it holds code)."""
    if isinstance(v, (types.FunctionType, type, types.ModuleType)):
        return None
    if isinstance(v, (tuple, list, set, frozenset)):
        parts = [_canon(x) for x in v]
        if None in parts:
            return None
        if isinstance(v, (set, frozenset)):
            parts.sort()
        return f"{type(v).__name__}({','.join(parts)})"
    if isinstance(v, dict):
        items = [(_canon(k), _canon(x)) for k, x in v.items()]
        if any(k is None or x is None for k, x in items):
            return None
        return "dict(" + ",".join(f"{k}:{x}" for k, x in sorted(items)) + ")"
    r = repr(v)
    return None if _ADDRESS.search(r) else r


def _unwrap(obj: object) -> object:
    """UDF/UDTF wrappers carry the user function (or class) as .func."""
    func = getattr(obj, "func", None)
    if isinstance(func, (types.FunctionType, type)):
        return func
    return obj


def _own(obj: object) -> bool:
    return isinstance(obj, (types.FunctionType, type)) and getattr(
        obj, "__module__", "").split(".")[0] == "gasket_spark"


def _code_piece(code: types.CodeType, out: list[str],
                names: list[str]) -> None:
    # a function's first const is its docstring slot (or None)
    consts = code.co_consts
    skip = bool(consts) and code.co_name not in _COMPREHENSIONS \
        and isinstance(consts[0], str)
    out.append(code.co_code.hex())
    out.append(repr(code.co_names))
    names.extend(code.co_names)
    for c in consts[1:] if skip else consts:
        if isinstance(c, types.CodeType):
            _code_piece(c, out, names)
        else:
            out.append(_canon(c) or type(c).__name__)


def _object_piece(obj: object) -> tuple[str, list[str], list[object]]:
    """(hash text, names referenced, objects referenced directly) of
    one own function or class."""
    out: list[str] = []
    names: list[str] = []
    refs: list[object] = []
    if isinstance(obj, type):
        out.append("class " + ",".join(
            f"{b.__module__}.{b.__qualname__}" for b in obj.__bases__))
        refs.extend(obj.__bases__)
        for k, v in sorted(vars(obj).items()):
            if k.startswith("__") and k.endswith("__") and \
                    not isinstance(v, types.FunctionType):
                continue
            if isinstance(v, (staticmethod, classmethod)):
                v = v.__func__
            if isinstance(v, property):
                out.append(f"property {k}")
                refs.extend(f for f in (v.fget, v.fset, v.fdel) if f)
            elif isinstance(v, (types.FunctionType, type)):
                out.append(f"member {k}")
                refs.append(v)
            else:
                out.append(f"{k}={_canon(v)}")
        return "\n".join(out), names, refs
    _code_piece(obj.__code__, out, names)
    out.append(_canon(obj.__defaults__) or "")
    out.append(_canon(obj.__kwdefaults__) or "")
    for cell in obj.__closure__ or ():
        try:
            v = cell.cell_contents
        except ValueError:  # empty cell
            continue
        v = _unwrap(v)
        if _own(v):
            refs.append(v)
        else:
            out.append(_canon(v) or type(v).__name__)
    return "\n".join(out), names, refs


def _mutated(code: types.CodeType, names: set[str],
             out: set[str]) -> None:
    """Add to ``out`` each of ``names`` that ``code`` (or a code object
    nested in it) stores or deletes a subscript of (a simple key:
    ``N[k] = v``, ``N[k] += v``, ``del N[k]``) or calls an in-place
    method on (``N.clear()``). A form this misses leaves a cache
    hashed: extra queries front, none hides."""
    if names.intersection(code.co_names):
        ins = list(dis.get_instructions(code))
        for a, b, c in zip(ins, ins[1:], ins[2:]):
            if a.opname not in _LOADS or a.argval not in names:
                continue
            if b.opname in ("LOAD_METHOD", "LOAD_ATTR") and \
                    b.argval in _MUTATORS or \
                    b.opname.startswith("LOAD_") and \
                    c.opname in _SUBSCR_WRITES:
                out.add(a.argval)
    for c in code.co_consts:
        if isinstance(c, types.CodeType):
            _mutated(c, names, out)


def _codes(obj: object) -> list[types.CodeType]:
    """The code objects of an own function, or of a class's members."""
    if isinstance(obj, types.FunctionType):
        return [obj.__code__]
    out = []
    for v in vars(obj).values():
        if isinstance(v, (staticmethod, classmethod)):
            v = v.__func__
        if isinstance(v, property):
            out += [f.__code__ for f in (v.fget, v.fset, v.fdel) if f]
        elif isinstance(v, (types.FunctionType, type)):
            out += _codes(v)
    return out


def _udf_traits(obj: object) -> str:
    # instance attributes only: a UDTF's returnType property parses its
    # DDL string through a live SparkContext
    attrs = vars(obj)
    traits = [attrs.get(a, attrs.get("_" + a))
              for a in ("returnType", "evalType", "deterministic")]
    return _canon(tuple(repr(t) for t in traits)) or ""


def _load_package() -> list[types.ModuleType]:
    import gasket_spark

    for info in pkgutil.walk_packages(gasket_spark.__path__,
                                      "gasket_spark."):
        importlib.import_module(info.name)
    return [m for n, m in sorted(sys.modules.items())
            if (n == "gasket_spark" or n.startswith("gasket_spark."))
            and isinstance(m, types.ModuleType)]


def query_digests() -> dict[str, str]:
    """Digest per registered query, over the tree ``gasket_spark`` is
    imported from (see the module docstring for what is hashed)."""
    modules = _load_package()
    registry = sys.modules["gasket_spark.queries"]

    # name -> [(key, object)] over every module namespace
    index: dict[str, list[tuple[str, object]]] = {}
    codes: dict[int, types.CodeType] = {}
    mutable: set[str] = set()
    for mod in modules:
        for name, raw in vars(mod).items():
            if name.startswith("__") or isinstance(raw, types.ModuleType):
                continue
            obj = _unwrap(raw)
            if not _own(obj) and _own(type(raw)):
                obj = type(raw)  # a module-level instance: its class
            if _own(obj):
                key = f"{obj.__module__}.{obj.__qualname__}"
                if obj is not raw and obj is not type(raw):
                    key += " " + _udf_traits(raw)
                codes.update((id(c), c) for c in _codes(obj))
            elif _canon(raw) is not None:
                key = f"{mod.__name__}:{name}={_canon(raw)}"
                obj = None
                if isinstance(raw, (dict, list, set)):
                    mutable.add(name)
            else:
                continue
            index.setdefault(name, []).append((key, obj))
    state: set[str] = set()
    for code in codes.values():
        _mutated(code, mutable, state)
    for name in state:
        index[name] = [(k, o) for k, o in index[name] if o is not None]

    # key -> (piece hash, neighbour keys), filled lazily
    graph: dict[str, tuple[str, list[str]]] = {}

    def fill(key: str, obj: object) -> None:
        todo = [(key, obj)]
        while todo:
            key, obj = todo.pop()
            if key in graph:
                continue
            if obj is None:  # data constant: the key holds its value
                graph[key] = (hashlib.sha256(key.encode()).hexdigest(), [])
                continue
            text, names, refs = _object_piece(obj)
            nbrs = [(k, o) for n in dict.fromkeys(names)
                    for k, o in index.get(n, ())]
            nbrs += [(f"{r.__module__}.{r.__qualname__}", r)
                     for r in map(_unwrap, refs) if _own(r)]
            graph[key] = (hashlib.sha256(f"{key}\n{text}".encode())
                          .hexdigest(), [k for k, _ in nbrs])
            todo.extend(nbrs)

    digests: dict[str, str] = {}
    for qname, fn in registry.QUERIES.items():
        root = f"{fn.__module__}.{fn.__qualname__}"
        fill(root, fn)
        seen, stack = {root}, [root]
        while stack:
            for k in graph[stack.pop()][1]:
                if k not in seen:
                    seen.add(k)
                    stack.append(k)
        h = hashlib.sha256(
            f"{qname}\n{registry.ORACLES.get(qname, '')}".encode())
        for k in sorted(seen):
            h.update(graph[k][0].encode())
        digests[qname] = h.hexdigest()[:16]
    return digests
