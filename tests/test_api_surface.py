"""Every optional parameter of the engine is set by a caller.

An option that no caller sets selects a code path that nothing runs,
so it is deleted together with that path. The callers are the engine
package itself, ``__spark_entry__.py`` and ``perfbench/``; tests do not
count. A source scan parses every engine function that has a
default-valued parameter and asserts that some call site passes that
parameter (by keyword, by position, or through ``*args``/``**kwargs``),
or that the parameter stands in ``KEEP`` with its reason.

Calls are matched by module where the scan can see it: ``read_csv``
is also a pandas and a DuckDB name, and ``pd.read_csv(path, sep=";")``
sets nothing on the engine's ``read_csv``. A plain-name call resolves
through the caller's imports (re-exports from a package ``__init__``
included) or its own module's definitions, ``mod.f`` through the
import of ``mod``, and ``self.f`` to the enclosing class. A
call through a value the scan cannot type (a module perfbench imports
by name at run time, an object's method) matches the engine definition
of that name only when the name is unambiguous: defined once in the
engine and not a name of any library module the callers import.
"""

from __future__ import annotations

import ast
import importlib
import pathlib

ROOT = pathlib.Path(__file__).resolve().parents[1]
PKG = "etl_sales_pandas_sqlserver_spark"

#: reasons an option may stay although no caller sets it
REASONS = ("deployment", "safety bound", "test fake", "reference path",
           "test-needed")

#: (module, function, parameter) -> "<one of REASONS>: why"
KEEP = {
    (f"{PKG}.session", "get_spark", "master"):
        "deployment: the cluster master URL; local[N] when unset",
    (f"{PKG}.sources.sinks", "jdbc_url", "host"):
        "deployment: the SQL Server host",
    (f"{PKG}.sources.sinks", "jdbc_url", "port"):
        "deployment: the SQL Server port",
    (f"{PKG}.sources.sinks", "jdbc_url", "integrated_security"):
        "deployment: Windows authentication, as the reference connects",
    (f"{PKG}.plans.pipeline", "run_sales_pipeline", "jdbc"):
        "deployment: the reference's SQL Server load step",
    (f"{PKG}.plans.pipeline", "run_sales_pipeline", "logfile"):
        "deployment: the reference's file log",
    (f"{PKG}.functions.dedup", "cluster_components", "max_rounds"):
        "safety bound: the loud non-convergence error fires past it",
    (f"{PKG}.functions.multimodal", "decode_image", "fake"):
        "test fake: the stub decoder the batching tests drive",
    (f"{PKG}.operators.numeric", "normalize_currency", "float_parity"):
        "reference path: the float golden the tests compare against",
    (f"{PKG}.sources.csv_folder", "read_csv", "date_col"):
        "reference path: the reference's read_csv + coercing to_datetime "
        "(etl_utils.py:71-106), SURVEY 3.2's read_csv(spark, path, "
        "date_col=None)",
    (f"{PKG}.sources.formats", "read_xml", "schema"):
        "test-needed: the malformed-row case reads with an explicit "
        "schema that carries the corrupt-record column",
}


def _sources(*parts):
    out = []
    for part in parts:
        path = ROOT / part
        if path.is_file():
            out.append(path)
        else:
            out.extend(p for p in sorted(path.rglob("*.py"))
                       if "tests" not in p.relative_to(ROOT).parts)
    return out


def _module_of(path):
    rel = path.relative_to(ROOT).with_suffix("")
    parts = list(rel.parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


class _File:
    def __init__(self, path):
        self.path = path
        self.module = _module_of(path)
        self.is_pkg = path.name == "__init__.py"
        self.tree = ast.parse(path.read_text(), str(path))
        # local name -> ("module", mod) | ("attr", mod, name)
        self.names = {}
        for node in ast.walk(self.tree):
            if isinstance(node, ast.Import):
                for a in node.names:
                    if a.asname:
                        self.names[a.asname] = ("module", a.name)
                    else:
                        head = a.name.split(".")[0]
                        self.names[head] = ("module", head)
            elif isinstance(node, ast.ImportFrom):
                base = self._from_base(node)
                for a in node.names:
                    self.names[a.asname or a.name] = ("attr", base, a.name)

    def _from_base(self, node):
        if not node.level:
            return node.module
        parts = self.module.split(".")
        if not self.is_pkg:
            parts = parts[:-1]
        parts = parts[:len(parts) - (node.level - 1)]
        return ".".join(parts + ([node.module] if node.module else []))


def _definitions(files):
    """(module, qualname) -> (FunctionDef, is_method): module-level
    functions and the methods of module-level classes (the engine has
    no static or class methods)."""
    defs = {}
    for f in files:
        for node in f.tree.body:
            if isinstance(node, ast.FunctionDef):
                defs[(f.module, node.name)] = (node, False)
            elif isinstance(node, ast.ClassDef):
                for item in node.body:
                    if isinstance(item, ast.FunctionDef):
                        defs[(f.module, f"{node.name}.{item.name}")] = (
                            item, True)
    return defs


def _optional_params(fn):
    args = fn.args
    positional = args.posonlyargs + args.args
    out = [(a.arg, i) for i, a in enumerate(positional)
           if i >= len(positional) - len(args.defaults)]
    out += [(a.arg, None) for a, d in zip(args.kwonlyargs, args.kw_defaults)
            if d is not None]
    return out


class _Resolver:
    def __init__(self, files, defs):
        self.by_module = {f.module: f for f in files}
        self.defs = defs
        self.by_name = {}
        for key, (_, bound) in defs.items():
            name = key[1].split(".")[-1]
            self.by_name.setdefault(name, []).append((key, int(bound)))
        self.foreign = _foreign_names(files)

    def attr(self, mod, name, seen=()):
        """Resolve ``name`` imported from ``mod`` to a definition key,
        following re-exports; a module yields ("module", name)."""
        if f"{mod}.{name}" in self.by_module:
            return ("module", f"{mod}.{name}")
        if (mod, name) in self.defs:
            return (mod, name)
        f = self.by_module.get(mod)
        if f is None or (mod, name) in seen:
            return None
        ref = f.names.get(name)
        if ref and ref[0] == "attr":
            return self.attr(ref[1], ref[2], seen + ((mod, name),))
        return None

    def callees(self, f, call, cls):
        """Definition keys a call can reach, each with the number of
        implicit leading positional arguments (1 for a bound ``self``)."""
        fn = call.func
        if isinstance(fn, ast.Name):
            ref = f.names.get(fn.id)
            if ref is None:
                key = (f.module, fn.id)
            elif ref[0] == "attr":
                key = self.attr(ref[1], ref[2])
            else:
                key = None
            return self._call_of(key)
        if not isinstance(fn, ast.Attribute):
            return []
        chain = [fn.attr]
        node = fn.value
        while isinstance(node, ast.Attribute):
            chain.append(node.attr)
            node = node.value
        if not isinstance(node, ast.Name):
            return self._by_name(fn.attr)
        chain.reverse()
        base, path = node.id, chain[:-1]
        if base == "self" and not path and cls:
            key = (f.module, f"{cls}.{fn.attr}")
            return [(key, 1)] if key in self.defs else []
        ref = f.names.get(base)
        if ref is None:
            if not path and (f.module, f"{base}.{fn.attr}") in self.defs:
                return [((f.module, f"{base}.{fn.attr}"), 0)]
            # a local variable: a dynamically imported module or an object
            return self._by_name(fn.attr)
        target = ("module", ref[1]) if ref[0] == "module" else self.attr(
            ref[1], ref[2])
        if target is None:
            return []
        if target[0] != "module":
            # from mod import Cls; Cls.f(...)
            key = (target[0], f"{target[1]}.{fn.attr}")
            return [(key, 0)] if not path and key in self.defs else []
        mod = ".".join([target[1], *path])
        if mod not in self.by_module:
            return []
        return self._call_of(self.attr(mod, fn.attr))

    def _call_of(self, key):
        if key is None or key[0] == "module":
            return []
        init = (key[0], f"{key[1]}.__init__")
        if init in self.defs:
            return [(init, 1)]
        return [(key, 0)] if key in self.defs else []

    def _by_name(self, name):
        """A call through an object the scan cannot type reaches the one
        engine definition of that name, unless the name is ambiguous:
        defined twice in the engine, or also a name of a library module
        a caller imports (``con.read_csv`` is DuckDB's)."""
        hits = self.by_name.get(name, [])
        if len(hits) != 1 or name in self.foreign:
            return []
        return hits


def _foreign_names(files):
    names = set()
    for f in files:
        for ref in f.names.values():
            mod = ref[1]
            if mod.split(".")[0] in (PKG, "perfbench", "__spark_entry__"):
                continue
            try:
                module = importlib.import_module(mod)
            except ImportError:
                continue
            names.update(dir(module))
            if ref[0] == "attr":
                names.update(dir(getattr(module, ref[2], None)))
    return names


def _calls(f):
    """Every call in a file, with the class it sits in (or None)."""
    out = []

    def visit(node, cls):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, ast.ClassDef):
                visit(child, child.name)
                continue
            if isinstance(child, ast.Call):
                out.append((child, cls))
            visit(child, cls)

    visit(f.tree, None)
    return out


def _sets(call, shift, name, index):
    if any(k.arg is None for k in call.keywords):
        return True
    if any(k.arg == name for k in call.keywords):
        return True
    if index is None:
        return False
    if any(isinstance(a, ast.Starred) for a in call.args):
        return True
    return len(call.args) + shift > index


def unset_options():
    engine = [_File(p) for p in _sources(PKG)]
    callers = engine + [_File(p) for p in
                        _sources("__spark_entry__.py", "perfbench")]
    defs = _definitions(engine)
    resolver = _Resolver(callers, defs)
    set_params = set()
    for f in callers:
        for call, cls in _calls(f):
            for key, shift in resolver.callees(f, call, cls):
                fn, _ = defs[key]
                for name, index in _optional_params(fn):
                    if _sets(call, shift, name, index):
                        set_params.add((*key, name))
    return sorted(
        (mod, qual, name)
        for (mod, qual), (fn, _) in defs.items()
        for name, _ in _optional_params(fn)
        if (mod, qual, name) not in set_params)


def test_every_engine_option_has_a_caller_or_a_kept_reason():
    unset = [opt for opt in unset_options() if opt not in KEEP]
    assert not unset, (
        "optional parameters that no engine, __spark_entry__ or "
        "perfbench call sets; delete them with the path they select, "
        "or keep one with its reason in KEEP:\n" + "\n".join(
            f"  {mod}.{qual}({name})" for mod, qual, name in unset))


def test_every_kept_option_exists_and_gives_its_reason():
    engine = [_File(p) for p in _sources(PKG)]
    defs = _definitions(engine)
    present = {(mod, qual, name) for (mod, qual), (fn, _) in defs.items()
               for name, _ in _optional_params(fn)}
    assert set(KEEP) <= present, sorted(set(KEEP) - present)
    for opt, reason in KEEP.items():
        kind, _, why = reason.partition(": ")
        assert kind in REASONS and why, (opt, reason)
