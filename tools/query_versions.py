"""Per-query version hashes — the driver-rotation staleness signal.

Each registry query's identity is the md5 of its CODE (the
``@register(...)`` decorator — which embeds the oracle SQL — plus the
function body) **and of the code of every package symbol it transitively
references** (helper functions in ``functions/`` / ``operators/`` /
``streaming/``, shared ``_*_SQL`` constants, sibling query-module
helpers, ``tables.py`` / ``session.py`` utilities), extracted by AST
so no import is needed. The dependency closure exists because the
segment-only hash had a documented blind spot (VERDICT r05 item 2): a
helper rewrite outside the decorated function didn't bump its
dependents' versions, so it could ride an old green row through the
driver's verification gate.

The manifest ``QUERY_VERSIONS.json`` records, per query::

    {"<name>": {"hash": "<md5>", "since_round": N}}

meaning: THIS version of the query has existed since round N. The
driver contract (``__spark_entry__``) counts a CORRECTNESS row as
verifying a query only if ``row_round >= since_round`` — so rewriting
a query, its oracle, OR any helper it uses automatically
re-front-loads it into the ~50-query verification window.

Dependency resolution, conservatively: a query's closure seeds from
the decorated function and expands through module-level and function-local
``import``/``from-import`` aliases. ``mod.attr`` on a module alias
pulls that one symbol; a bare module-alias reference (e.g. a module
object passed around) pulls the whole module digest; an unresolvable
attribute falls back to the whole module digest too — over-inclusion
can only cause an unnecessary re-verification, never a missed one.

"Code" is ``ast.unparse`` of the symbol's AST node with every
docstring removed (a body that held only a docstring becomes ``pass``);
comments never reach the AST. Editing a comment or a docstring therefore
bumps no version, while any change to a statement, an expression, a
decorator argument or a constant does. The whole-module fallback digest
is computed the same way.

``tests/test_docs.py`` asserts every registry query's current hash
matches the manifest; editing a query or a helper without
regenerating fails the suite. Regenerate with::

    python tools/query_versions.py          # bump changed/new entries

One-off adoption of the dep-inclusive formula (round 6) used
``--adopt``, which rewrites hashes while PRESERVING ``since_round``:
the formula change itself alters every hash without altering any
code, and voiding 134 green rows for a hashing-scheme change would
have reset the rotation guarantee the gate exists to provide. The
adoption baseline was computed at the pre-edit commit, so the same
round's real helper edits still bumped their dependents normally. The
move from hashing source text to hashing code was adopted the same way:
``--adopt`` ran right after the formula change and before any other edit.

``ast.unparse`` output can differ between Python minor versions (the
manifest was computed on 3.11). A Python upgrade that changes it alters
every hash without altering any code, so it needs the same one-off
``--adopt`` run, on an otherwise unedited tree.
"""

from __future__ import annotations

import ast
import copy
import hashlib
import json
import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = "acuvate_spark"
MANIFEST = REPO / "QUERY_VERSIONS.json"


# ---------------------------------------------------------------- parsing


class _Module:
    """AST-derived facts about one package module."""

    def __init__(self, name: str, source: str, is_pkg: bool = False):
        self.name = name
        self.is_pkg = is_pkg
        self.tree = ast.parse(source)
        self.digest = hashlib.md5(_code(self.tree).encode()).hexdigest()
        self.symbols: dict[str, str] = {}  # top-level name -> code (see _code)
        self.symbol_nodes: dict[str, ast.AST] = {}
        self.imports: dict[str, tuple] = {}  # alias -> descriptor (see _aliases)


def _module_name(py: Path, pkg_root: Path) -> str:
    rel = py.relative_to(pkg_root.parent).with_suffix("")
    parts = list(rel.parts)
    if parts[-1] == "__init__":
        parts = parts[:-1]
    return ".".join(parts)


def _code(node: ast.AST) -> str:
    """``ast.unparse`` of a copy of ``node`` with every docstring removed
    (a body that held only one becomes ``pass``). Comments never reach
    the AST, so neither comments nor docstrings change a hash."""
    node = copy.deepcopy(node)
    scopes = (ast.Module, ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
    for n in [n for n in ast.walk(node) if isinstance(n, scopes)]:
        if ast.get_docstring(n, clean=False) is not None:
            n.body = n.body[1:] or [ast.Pass()]
    return ast.unparse(node)


def _resolve_from(mod_name: str, level: int, target: str | None, is_pkg: bool = False) -> str:
    """Absolute module named by a ``from``-import found in mod_name.
    For a regular module, level 1 is its containing package (drop the
    module leaf); for a package ``__init__`` — whose dotted name IS
    the package — level 1 is the package itself, so one fewer
    component drops."""
    if level == 0:
        return target or ""
    drop = level - (1 if is_pkg else 0)
    base = mod_name.split(".")
    base = base[: len(base) - drop] if drop <= len(base) else []
    if target:
        base = base + target.split(".")
    return ".".join(base)


def _aliases(
    nodes, mod_name: str, module_names: set[str], is_pkg: bool = False
) -> dict[str, tuple]:
    """alias -> ('module', modname) | ('symbol', modname, symname) for
    package-internal imports among ``nodes``; external imports skipped."""
    out: dict[str, tuple] = {}
    for node in nodes:
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name.split(".")[0] != PKG:
                    continue
                if a.asname:
                    out[a.asname] = ("module", a.name)
                else:
                    # `import a.b.c` binds name `a` (the ROOT package) —
                    # binding it to the deepest module would let two such
                    # imports clobber each other and mis-resolve refs;
                    # the _RefVisitor walks the dotted chain from here
                    out[PKG] = ("module", PKG)
        elif isinstance(node, ast.ImportFrom):
            base = _resolve_from(mod_name, node.level, node.module, is_pkg)
            if not base or base.split(".")[0] != PKG:
                continue
            for a in node.names:
                sub = f"{base}.{a.name}"
                if sub in module_names:
                    out[a.asname or a.name] = ("module", sub)
                else:
                    out[a.asname or a.name] = ("symbol", base, a.name)
    return out


class _RefVisitor(ast.NodeVisitor):
    """Collect (module, symbol) / (module, None) refs from one symbol's
    AST, resolving through the given alias map."""

    def __init__(
        self,
        aliases: dict[str, tuple],
        own_module: str,
        own_symbols: set[str],
        module_names: set[str] = frozenset(),
    ):
        self.aliases = aliases
        self.own_module = own_module
        self.own_symbols = own_symbols
        self.module_names = module_names
        self.refs: set[tuple] = set()

    def visit_Attribute(self, node: ast.Attribute):
        # flatten the dotted chain rooted at a Name so `pkg.sub.mod.sym`
        # (root-bound by a plain `import pkg.sub.mod`) resolves to the
        # DEEPEST existing module + one symbol, with any trailing attrs
        # of the symbol itself ignored
        parts: list[str] = []
        cur: ast.expr = node
        while isinstance(cur, ast.Attribute):
            parts.append(cur.attr)
            cur = cur.value
        if isinstance(cur, ast.Name):
            desc = self.aliases.get(cur.id)
            if desc and desc[0] == "module":
                parts.reverse()
                mod = desc[1]
                i = 0
                while i < len(parts) and f"{mod}.{parts[i]}" in self.module_names:
                    mod = f"{mod}.{parts[i]}"
                    i += 1
                self.refs.add((mod, parts[i] if i < len(parts) else None))
                return  # don't also record the bare module Name
        self.generic_visit(node)

    def visit_Name(self, node: ast.Name):
        desc = self.aliases.get(node.id)
        if desc:
            if desc[0] == "module":
                self.refs.add((desc[1], None))  # whole-module fallback
            else:
                self.refs.add((desc[1], desc[2]))
        elif node.id in self.own_symbols:
            self.refs.add((self.own_module, node.id))


def _load_modules(repo_root: Path) -> dict[str, _Module]:
    pkg_root = repo_root / PKG
    mods: dict[str, _Module] = {}
    files = sorted(pkg_root.rglob("*.py"))
    names = {_module_name(p, pkg_root) for p in files}
    for py in files:
        m = _Module(_module_name(py, pkg_root), py.read_text(), is_pkg=py.name == "__init__.py")
        for node in m.tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                m.symbols[node.name] = _code(node)
                m.symbol_nodes[node.name] = node
            elif isinstance(node, (ast.Assign, ast.AnnAssign)):
                targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                for t in targets:
                    # walk covers plain Names AND tuple/list unpacking
                    # targets (`A, B = ...`), which must version too
                    for n in ast.walk(t):
                        if isinstance(n, ast.Name):
                            m.symbols[n.id] = _code(node)
                            m.symbol_nodes[n.id] = node
        m.imports = _aliases(m.tree.body, m.name, names, m.is_pkg)
        mods[m.name] = m
    return mods


def _symbol_refs(mods: dict[str, _Module], mod: str, sym: str) -> set[tuple]:
    m = mods[mod]
    node = m.symbol_nodes[sym]
    local = _aliases(list(ast.walk(node)), mod, set(mods), m.is_pkg)
    aliases = {**m.imports, **local}
    v = _RefVisitor(aliases, mod, set(m.symbols), set(mods))
    v.visit(node)
    v.refs.discard((mod, sym))
    return v.refs


def _closure(mods: dict[str, _Module], seed_refs: set[tuple]) -> dict[str, str]:
    """Transitive {dep_key: content} over symbol refs. Key
    'mod.sym' maps to the symbol's code; 'mod.*' (bare-module or
    unresolvable-attr fallback) maps to the whole-module digest."""
    out: dict[str, str] = {}
    todo = list(seed_refs)
    seen: set[tuple] = set()
    while todo:
        ref = todo.pop()
        if ref in seen:
            continue
        seen.add(ref)
        mod, sym = ref
        m = mods.get(mod)
        if m is None:
            continue  # resolved outside the package tree
        if sym is None or sym not in m.symbols:
            if f"{mod}.*" not in out:
                out[f"{mod}.*"] = m.digest
                # the fallback must be TRANSITIVE: the module digest
                # covers its own source but not the helpers IT imports,
                # so enqueue everything it imports (module-level and
                # function-local) — otherwise an edit to a helper of a
                # fallback module would ride through the gate unseen
                for desc in _aliases(
                    list(ast.walk(m.tree)), mod, set(mods), m.is_pkg
                ).values():
                    todo.append(
                        (desc[1], None) if desc[0] == "module" else (desc[1], desc[2])
                    )
            continue
        out[f"{mod}.{sym}"] = m.symbols[sym]
        todo.extend(_symbol_refs(mods, mod, sym))
    return out


# ---------------------------------------------------------------- hashing


def _register_name(dec: ast.expr) -> str | None:
    """The query name from an @register("name", ...) decorator."""
    if (
        isinstance(dec, ast.Call)
        and isinstance(dec.func, ast.Name)
        and dec.func.id == "register"
        and dec.args
        and isinstance(dec.args[0], ast.Constant)
        and isinstance(dec.args[0].value, str)
    ):
        return dec.args[0].value
    return None


def query_hashes(repo_root: Path = REPO) -> dict[str, str]:
    """name -> md5 over the decorator+function code plus the
    sorted transitive dependency contents."""
    mods = _load_modules(repo_root)
    out: dict[str, str] = {}
    for mod_name in sorted(mods):
        if not mod_name.startswith(f"{PKG}.queries"):
            continue
        m = mods[mod_name]
        for sym, node in m.symbol_nodes.items():
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            name = next(
                (n for n in map(_register_name, node.decorator_list) if n), None
            )
            if name is None:
                continue
            deps = _closure(mods, _symbol_refs(mods, mod_name, sym))
            h = hashlib.md5(m.symbols[sym].encode())
            for key in sorted(deps):
                h.update(f"\x00{key}\x01{deps[key]}".encode())
            out[name] = h.hexdigest()
    return out


def committed_rounds(repo: Path = REPO) -> list[int]:
    rounds = []
    for p in repo.glob("CORRECTNESS_r*.json"):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)", p.stem)
        if m:
            rounds.append(int(m.group(1)))
    return sorted(rounds)


def load_manifest(path: Path = MANIFEST) -> dict[str, dict]:
    try:
        return json.loads(path.read_text())
    except (OSError, json.JSONDecodeError):
        return {}


def regenerate(
    path: Path = MANIFEST, repo_root: Path = REPO, adopt: bool = False
) -> tuple[dict[str, dict], list[str]]:
    """Update the manifest: new/changed queries get since_round =
    next round (max committed CORRECTNESS round + 1); unchanged
    entries keep their recorded since_round; deleted queries drop.
    ``adopt=True`` preserves since_round even for changed hashes — for
    hash-FORMULA migrations only, never for code edits.
    Returns (manifest, names actually bumped by THIS run)."""
    current = query_hashes(repo_root)
    old = load_manifest(path)
    next_round = (committed_rounds()[-1] + 1) if committed_rounds() else 1
    out: dict[str, dict] = {}
    bumped: list[str] = []
    for name, h in sorted(current.items()):
        prev = old.get(name)
        if prev and prev.get("hash") == h:
            out[name] = prev
        elif prev and adopt:
            out[name] = {"hash": h, "since_round": prev["since_round"]}
        else:
            out[name] = {"hash": h, "since_round": next_round}
            bumped.append(name)
    path.write_text(json.dumps(out, indent=1) + "\n")
    return out, bumped


if __name__ == "__main__":
    adopt = "--adopt" in sys.argv[1:]
    roots = [a for a in sys.argv[1:] if not a.startswith("--")]
    root = Path(roots[0]).resolve() if roots else REPO
    manifest, bumped = regenerate(repo_root=root, adopt=adopt)
    print(f"{len(manifest)} queries in manifest; bumped by this run: {bumped or 'none'}")
