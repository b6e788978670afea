"""Every public top-level function and class in the package, and every
method of a public class, must be reached from a real entry point, not only
from its own test.

The scan is a static `ast` walk. Its roots are the `@query` registry
functions, module-level code of every package module (which takes in
`cli.main` through its `__main__` block and the `PIPELINES` table), the
`perfbench/` sources, `__spark_entry__.py` and the tools that
`tools/full_check.sh` runs. From the roots it follows each reference,
keyed by (module, name) so that `queries.pack_efficiency` calling
`PK.pack_efficiency` does not keep a dead `packing.pack_efficiency` alive
through the shared bare name. `tests/` is never a root.

Methods are matched by name, since the scan knows no types: a method is
reached when a reached definition or a root calls `.<name>(...)`, or
names `self.<name>` / `cls.<name>`. A bare `x.<name>` read does not
count: attribute names such as `query` are too common (perfbench reads
`urlsplit(url).query`). Only a reached method's body counts as a
reference; dunders count with their class. Spark calls the methods of an
`F.udtf` class itself, so those classes are roots.

Run `python tests/test_reachability.py` to print the unreached names.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = "sanef_election_dashboard_etl_spark"

# streaming/ is only used by its tests and tools/streaming_profile.py; it
# stays until ROADMAP item 7 settles it after item 3 (one driver refreshing
# all nine datasets), so it is scanned as a root, not checked.
ALLOWED = (f"{PKG}.streaming",)


def _mod_name(path: Path) -> str:
    parts = list(path.relative_to(ROOT).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


class _Module:
    def __init__(self, path: Path):
        self.name = _mod_name(path)
        self.is_pkg = path.name == "__init__.py"
        self.tree = ast.parse(path.read_text(), str(path))
        self.defs = {n.name: n for n in self.tree.body
                     if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef,
                                       ast.ClassDef))}
        # "Class.method" -> node, dunders left out (they go with the class)
        self.methods = {f"{c.name}.{f.name}": f
                        for c in self.defs.values()
                        if isinstance(c, ast.ClassDef)
                        for f in c.body if _is_method(f)}


def _is_method(node) -> bool:
    return (isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
            and not (node.name.startswith("__") and node.name.endswith("__")))


def _body(node) -> list[ast.AST]:
    """What a def references when it is reached: a class without the
    bodies of its methods (only the decorators and defaults those
    evaluate at class creation)."""
    if not isinstance(node, ast.ClassDef):
        return [node]
    out: list[ast.AST] = node.decorator_list + node.bases + node.keywords
    for stmt in node.body:
        if _is_method(stmt):
            out += stmt.decorator_list + stmt.args.defaults + [
                d for d in stmt.args.kw_defaults if d is not None]
        else:
            out.append(stmt)
    return out


def _attrs(nodes: list[ast.AST]) -> set[str]:
    """Method names the nodes call (`x.name(...)`) or take off
    `self` / `cls`."""
    out = set()
    for top in nodes:
        for n in ast.walk(top):
            if isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute):
                out.add(n.func.attr)
            elif (isinstance(n, ast.Attribute) and isinstance(n.value, ast.Name)
                  and n.value.id in ("self", "cls")):
                out.add(n.attr)
    return out


class Scan:
    def __init__(self, root_files: list[Path]):
        pkg_files = sorted((ROOT / PKG).rglob("*.py"))
        self.mods = {m.name: m for m in map(_Module, pkg_files + root_files)}
        self.roots = {_mod_name(p) for p in root_files}
        self.aliases = {name: self._imports(m, self._top_level(m))
                        for name, m in self.mods.items()}

    # -- imports -----------------------------------------------------------
    def _top_level(self, mod: _Module) -> list[ast.AST]:
        """Module-level code: every statement but the bodies of top-level
        defs, plus what a def evaluates at import (decorators, defaults,
        class bases)."""
        out: list[ast.AST] = []
        for stmt in mod.tree.body:
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef)):
                out += stmt.decorator_list + stmt.args.defaults + [
                    d for d in stmt.args.kw_defaults if d is not None]
            elif isinstance(stmt, ast.ClassDef):
                out += stmt.decorator_list + stmt.bases
            else:
                out.append(stmt)
        return out

    def _base(self, mod: _Module, node: ast.ImportFrom) -> str:
        if not node.level:
            return node.module or ""
        parts = mod.name.split(".")
        keep = len(parts) - node.level + (1 if mod.is_pkg else 0)
        base = ".".join(parts[:keep])
        return f"{base}.{node.module}" if node.module else base

    def _imports(self, mod: _Module, nodes: list[ast.AST]) -> dict:
        """name -> ("mod", dotted) or ("obj", dotted, attr)."""
        out: dict = {}
        for top in nodes:
            for n in ast.walk(top):
                if isinstance(n, ast.Import):
                    for a in n.names:
                        if a.asname:
                            out[a.asname] = ("mod", a.name)
                        else:
                            head = a.name.split(".")[0]
                            out[head] = ("mod", head)
                elif isinstance(n, ast.ImportFrom):
                    base = self._base(mod, n)
                    for a in n.names:
                        full = f"{base}.{a.name}"
                        out[a.asname or a.name] = (
                            ("mod", full) if full in self.mods
                            else ("obj", base, a.name))
        return out

    # -- resolution --------------------------------------------------------
    def _canon(self, mod: str, name: str, seen=()) -> tuple | None:
        """(module, name) of the top-level def a reference lands on,
        following re-exports; None outside the scanned files."""
        m = self.mods.get(mod)
        if m is None or (mod, name) in seen:
            return None
        if name in m.defs:
            return (mod, name)
        t = self.aliases[mod].get(name)
        if t and t[0] == "obj":
            return self._canon(t[1], t[2], seen + ((mod, name),))
        return None

    def _resolve(self, node, scope: dict, mod: str):
        if isinstance(node, ast.Name):
            if node.id in scope:
                return scope[node.id]
            if node.id in self.mods[mod].defs:
                return ("obj", mod, node.id)
        elif isinstance(node, ast.Attribute):
            t = self._resolve(node.value, scope, mod)
            if t and t[0] == "mod":
                full = f"{t[1]}.{node.attr}"
                return ("mod", full) if full in self.mods else (
                    "obj", t[1], node.attr)
        return None

    def _refs(self, mod: str, nodes: list[ast.AST], scope: dict) -> set:
        out = set()
        for top in nodes:
            for n in ast.walk(top):
                t = self._resolve(n, scope, mod)
                if t and t[0] == "obj":
                    c = self._canon(t[1], t[2])
                    if c:
                        out.add(c)
        return out

    # -- reachability ------------------------------------------------------
    def _is_root_def(self, mod: str, node) -> bool:
        if mod in self.roots or mod.startswith(ALLOWED):
            return True
        for d in getattr(node, "decorator_list", ()):
            f = d.func if isinstance(d, ast.Call) else d
            if isinstance(f, ast.Name) and f.id == "query":
                return True
            # Spark itself calls the methods of an F.udtf class
            if isinstance(f, ast.Attribute) and f.attr == "udtf":
                return True
        return False

    def edges(self) -> tuple[dict, set, dict, set]:
        """(module, name) -> the defs its body references, the roots,
        (module, name) -> the method names its body references, and the
        method names module-level code references. Methods are keyed
        (module, "Class.method")."""
        edges, roots, attrs, root_attrs = {}, set(), {}, set()
        for name, m in self.mods.items():
            top = self._top_level(m)
            roots |= self._refs(name, top, self.aliases[name])
            root_attrs |= _attrs(top)
            for dname, node in [*m.defs.items(), *m.methods.items()]:
                cls = m.defs[dname.split(".")[0]]
                scope = {**self.aliases[name], **self._imports(m, [node])}
                edges[(name, dname)] = self._refs(name, _body(node), scope)
                attrs[(name, dname)] = _attrs(_body(node))
                if self._is_root_def(name, cls):
                    roots.add((name, dname))
        return edges, roots, attrs, root_attrs

    def reached(self) -> set:
        edges, todo, attrs, names = self.edges()
        methods = {(name, meth) for name, m in self.mods.items()
                   for meth in m.methods}
        seen: set = set()
        while todo:
            while todo:
                key = todo.pop()
                if key not in seen:
                    seen.add(key)
                    todo |= edges[key] - seen
                    names |= attrs[key]
            todo = {k for k in methods - seen
                    if k[1].split(".")[1] in names}
        return seen

    def unreached_public(self) -> list[str]:
        seen = self.reached()
        return sorted(f"{name}.{d}" for name, m in self.mods.items()
                      if name.startswith(PKG) and not name.startswith(ALLOWED)
                      for d in [*m.defs, *m.methods]
                      if not d.startswith("_") and (name, d) not in seen)


def root_files() -> list[Path]:
    tools = re.findall(r"python3? (tools/\w+\.py)",
                       (ROOT / "tools" / "full_check.sh").read_text())
    return sorted({ROOT / t for t in tools} | {ROOT / "__spark_entry__.py"}
                  | set((ROOT / "perfbench").glob("*.py")))


def test_every_public_definition_is_reached_outside_tests():
    dead = Scan(root_files()).unreached_public()
    assert not dead, (
        "reached from no registry query, CLI, perfbench or full_check.sh "
        "tool (only tests/, if anything, use them): " + ", ".join(dead))


def test_scan_keys_references_by_module():
    """`queries.pack_efficiency` calls `PK.pack_efficiency`: the edge lands
    on the packing definition, not on the registry function's own name."""
    edges = Scan(root_files()).edges()[0]
    q = edges[(f"{PKG}.queries", "pack_efficiency")]
    assert (f"{PKG}.operators.packing", "pack_efficiency") in q
    assert (f"{PKG}.queries", "pack_efficiency") not in q


if __name__ == "__main__":
    print("\n".join(Scan(root_files()).unreached_public()) or "all reached")
