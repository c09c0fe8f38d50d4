"""Re-verification slate: the query keys whose code changed since their
latest green driver verdict, and the order of ``__spark_entry__.queries()``.

The driver verifies a ~50-key prefix of ``queries()`` each round and
records the verdicts in ``CORRECTNESS_rNN.json``. A key whose code or
oracle changed after its latest green verdict must re-verify before
that verdict can be trusted, so it goes ahead of the unchanged greens.

A key's fingerprint is the sha256 of the source of its callable, of
every package function or class the callable reaches (transitively,
through globals, closures, default values, ``module.attr`` access and
function-local ``from … import``), of the module-level statements that
bind each package constant it reads, and of its oracle SQL. File paths
and module names are left out, so moving code changes no fingerprint.
``tools/verify_snapshot.json`` holds each key's fingerprint at its
latest green verdict, and that verdict's round.

Usage::

    python tools/verify_slate.py              # JSON report of changed keys
    python tools/verify_slate.py --refresh    # re-derive the snapshot
    python tools/verify_slate.py --root DIR   # DIR's fingerprints, one JSON line

``--refresh`` reads git history only: for each round holding some key's
latest green verdict, it runs this script with ``--root`` on a ``git
archive`` of the commit that added that round's CORRECTNESS file (the
tree the driver verified). Running it twice writes the same bytes.
"""

from __future__ import annotations

import argparse
import ast
import contextlib
import copy
import glob
import hashlib
import importlib
import importlib.util
import inspect
import json
import os
import re
import subprocess
import sys
import tempfile
import textwrap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SNAPSHOT_PATH = os.path.join(REPO, "tools", "verify_snapshot.json")
PKG = "self_healing_data_pipeline_spark"

#: Driver verification budget per round, minus a rotation reserve so
#: the vintage queue keeps draining (budget 50, reserve 10).
SLATE_BUDGET = 40


def correctness_files() -> list[tuple[int, str]]:
    """``(round, path)`` of every ``CORRECTNESS_rNN.json``, by round."""
    out = []
    for path in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", os.path.basename(path))
        if m:
            out.append((int(m.group(1)), path))
    return sorted(out)


def latest_verdicts() -> dict[str, tuple[bool, int]]:
    """``key -> (green, round)`` of each key's latest driver verdict.
    Green means hash-verified, or rows-only by design (no oracle) with
    rows recorded. Keys never checked are absent."""
    latest: dict[str, tuple[bool, int]] = {}
    for rnd, path in correctness_files():
        try:
            with open(path) as f:
                data = json.load(f)
        except (OSError, ValueError):
            continue
        if not isinstance(data, dict):
            continue
        for key, v in data.items():
            if isinstance(v, dict):
                rows_only = (
                    v.get("err") == "no_oracle" and v.get("spark_rows") is not None
                )
                latest[key] = (bool(v.get("hash_match")) or rows_only, rnd)
    return latest


# ---------------------------------------------------------- fingerprints

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _index_defs(node: ast.AST, prefix: str, defs: dict[str, ast.AST]) -> None:
    """Record every def/class under ``node`` by its ``__qualname__``."""
    for child in ast.iter_child_nodes(node):
        if isinstance(child, _DEFS):
            defs[prefix + child.name] = child
            sep = "." if isinstance(child, ast.ClassDef) else ".<locals>."
            _index_defs(child, prefix + child.name + sep, defs)
        elif isinstance(child, (ast.stmt, ast.excepthandler)):
            _index_defs(child, prefix, defs)


def _bindings(stmts: list[ast.stmt]):
    """``(name, stmt)`` for each module-level binding, if/try bodies included."""
    for s in stmts:
        if isinstance(s, (ast.If, ast.Try)):
            handlers = [x for h in getattr(s, "handlers", []) for x in h.body]
            inner = s.body + s.orelse + getattr(s, "finalbody", [])
            yield from _bindings(inner + handlers)
        elif isinstance(s, ast.ImportFrom):
            yield from ((a.asname or a.name, s) for a in s.names)
        elif isinstance(s, _DEFS):
            yield s.name, s
        elif isinstance(s, (ast.Assign, ast.AnnAssign, ast.AugAssign)):
            targets = getattr(s, "targets", None) or [s.target]
            names = [n.id for t in targets for n in ast.walk(t)
                     if isinstance(n, ast.Name)]
            yield from ((name, s) for name in dict.fromkeys(names))


class Fingerprinter:
    """Resolved-code fingerprints over the loaded modules of ``package``.

    A node is a package function or class (its def, decorators included)
    or a ``(module, name)`` pair (the module-level statements binding a
    constant). Each module is parsed once; each node's text and direct
    dependencies are computed once.
    """

    def __init__(self, package: str = PKG):
        self.package = package
        self._modules: dict[str, tuple] = {}
        self._edges: dict[object, tuple[str, list]] = {}

    def fingerprint(self, fn, oracle: str) -> str:
        texts, seen, stack = set(), set(), [fn]
        while stack:
            node = stack.pop()
            if node not in seen:
                seen.add(node)
                if node not in self._edges:
                    make = self._constant if isinstance(node, tuple) else self._def_edge
                    self._edges[node] = make(node)
                text, deps = self._edges[node]
                texts.add(text)
                stack.extend(deps)
        h = hashlib.sha256()
        for text in sorted(texts - {""}):  # "" binds a name by import only
            h.update(text.encode() + b"\0")
        h.update(oracle.encode())
        return h.hexdigest()[:16]

    def _ours(self, mod_name) -> bool:
        return isinstance(mod_name, str) and (
            mod_name == self.package or mod_name.startswith(self.package + ".")
        )

    def _parsed(self, mod_name: str) -> tuple[list[str], dict, dict]:
        """``(lines, defs by qualname, top-level statements by bound name)``."""
        if mod_name not in self._modules:
            lines, defs, binds = [], {}, {}
            try:
                source = inspect.getsource(sys.modules[mod_name])
                tree = ast.parse(source)
            except (KeyError, OSError, TypeError, SyntaxError):
                tree = ast.Module(body=[], type_ignores=[])
            else:
                lines = source.splitlines(keepends=True)
            _index_defs(tree, "", defs)
            for name, stmt in _bindings(tree.body):
                binds.setdefault(name, []).append(stmt)
            self._modules[mod_name] = (lines, defs, binds)
        return self._modules[mod_name]

    def _def(self, obj) -> ast.AST | None:
        return self._parsed(obj.__module__)[1].get(obj.__qualname__)

    def _nodes(self, value, mod_name: str | None, name: str) -> list:
        """Nodes for ``name`` holding ``value`` in module ``mod_name``
        (None outside module scope): a package function or class, plus
        the statements binding the name when the value is not the plain
        def (a decorator's wrapper, a factory's closure, a lambda); the
        binding statements of a package constant."""
        if inspect.ismodule(value):
            return []
        wrapped = "__wrapped__" in (getattr(value, "__dict__", None) or {})
        value = inspect.unwrap(value) if wrapped else value
        bound = [(mod_name, name)] if self._ours(mod_name) else []
        if not (inspect.isfunction(value) or inspect.isclass(value)):
            return bound
        if not self._ours(value.__module__):
            return []
        if self._def(value) is None:
            return bound
        plain = not wrapped and not getattr(value, "__closure__", None)
        return [value] + ([] if plain else bound)

    def _text(self, mod_name: str, stmts: list) -> str:
        lines, parts = self._parsed(mod_name)[0], []
        for s in stmts:
            decorators = getattr(s, "decorator_list", [])
            first = min([s.lineno] + [d.lineno for d in decorators])
            parts.append(textwrap.dedent("".join(lines[first - 1 : s.end_lineno])))
        return "".join(parts)

    def _def_edge(self, obj) -> tuple[str, list]:
        tree, cells = self._def(obj), {}
        if inspect.isfunction(obj) and obj.__closure__:
            for n, cell in zip(obj.__code__.co_freevars, obj.__closure__):
                with contextlib.suppress(ValueError):  # an unfilled cell
                    cells[n] = (cell.cell_contents, None, n)
        # A plain def's decorators returned the function itself: they are
        # text, not reached code. (A wrapper adds the def's binding
        # statement, whose decorators do resolve.)
        bare = copy.copy(tree)
        bare.decorator_list = []
        deps = self._deps([bare], obj.__module__, cells)
        return self._text(obj.__module__, [tree]), deps

    def _constant(self, node: tuple[str, str]) -> tuple[str, list]:
        mod_name, name = node
        stmts = self._parsed(mod_name)[2].get(name, [])
        deps = []
        for stmt in stmts:
            if isinstance(stmt, ast.ImportFrom):  # follow it to the definition
                orig = next(a.name for a in stmt.names if (a.asname or a.name) == name)
                deps += self._nodes(*self._import_from(stmt, mod_name, orig))
            else:
                deps += self._deps([stmt], mod_name, {})
        stmts = [s for s in stmts if not isinstance(s, ast.ImportFrom)]
        return self._text(mod_name, stmts), deps

    def _import_from(self, stmt: ast.ImportFrom, mod_name: str, attr: str) -> tuple:
        """``(value, module, attr)`` that ``from … import attr`` in module
        ``mod_name`` binds; ``(None, None, attr)`` outside the package."""
        package = getattr(sys.modules[mod_name], "__package__", None) or ""
        with contextlib.suppress(ImportError, ValueError, AttributeError):
            dotted = "." * stmt.level + (stmt.module or "")
            src = importlib.util.resolve_name(dotted, package)
            if self._ours(src):
                mod = importlib.import_module(src)
                if not hasattr(mod, attr):  # a submodule not imported yet
                    importlib.import_module(f"{src}.{attr}")
                return getattr(mod, attr), src, attr
        return None, None, attr

    def _deps(self, trees: list[ast.AST], mod_name: str, local: dict) -> list:
        """Nodes reached from the name and ``module.attr`` loads in
        ``trees``; ``local`` (closure cells) and the ``from … import``
        statements inside ``trees`` shadow the module's globals."""
        local, loads = dict(local), []
        for n in (n for tree in trees for n in ast.walk(tree)):
            if isinstance(n, (ast.Name, ast.Attribute)) and isinstance(n.ctx, ast.Load):
                loads.append(n)
            elif isinstance(n, ast.ImportFrom):
                for a in n.names:
                    local[a.asname or a.name] = self._import_from(n, mod_name, a.name)
        module_vars = vars(sys.modules[mod_name])

        def resolve(expr):
            if isinstance(expr, ast.Name):
                if expr.id in local:
                    return local[expr.id]
                if expr.id in module_vars:
                    return module_vars[expr.id], mod_name, expr.id
            elif isinstance(expr, ast.Attribute):
                mod = (resolve(expr.value) or (None,))[0]
                if inspect.ismodule(mod) and self._ours(mod.__name__):
                    if hasattr(mod, expr.attr):
                        return getattr(mod, expr.attr), mod.__name__, expr.attr
            return None

        hits = (resolve(n) for n in loads)
        return [node for hit in hits if hit for node in self._nodes(*hit)]


def fingerprints(queries: dict, oracle: dict[str, str]) -> dict[str, str]:
    """``key -> fingerprint`` for every registered query."""
    fp = Fingerprinter()
    return {key: fp.fingerprint(fn, oracle.get(key, "")) for key, fn in queries.items()}


# ---------------------------------------------------------------- slate


def load_snapshot() -> dict:
    try:
        with open(SNAPSHOT_PATH) as f:
            snap = json.load(f)
    except (OSError, ValueError):
        return {}
    return snap if isinstance(snap, dict) else {}


def compute_slate(current: dict[str, str], snapshot: dict) -> list[str]:
    """Keys whose fingerprint differs from their snapshot's. Keys absent
    from the snapshot are not flagged: never-checked keys go ahead
    anyway."""
    keys = snapshot.get("keys", {})
    return [
        k for k, fp in current.items()
        if isinstance(keys.get(k), dict) and keys[k].get("fingerprint") != fp
    ]


def order_keys(keys: list[str], oracle: dict[str, str],
               verdicts: dict[str, tuple[bool, int]], changed: list[str]) -> list[str]:
    """The driver's verification order: failed, then never checked
    (oracle-backed first), then changed, then unchanged green. Changed
    and green keys each go oldest verdict first, so no verdict goes
    stale while the per-round budget re-checks recent ones."""
    changed = set(changed)
    green = [k for k in keys if verdicts.get(k, (False,))[0]]

    def vintage(ks):
        return sorted(ks, key=lambda k: verdicts[k][1])

    return [
        *(k for k in keys if k in verdicts and not verdicts[k][0]),
        *sorted((k for k in keys if k not in verdicts), key=lambda k: k not in oracle),
        *vintage(k for k in green if k in changed),
        *vintage(k for k in green if k not in changed),
    ]


def verification_order(
    queries: dict, oracle: dict[str, str]
) -> tuple[list[str], list[str]]:
    """``(order, changed keys)`` of the registered queries; with no
    readable snapshot, no key is changed."""
    snapshot = load_snapshot()
    changed = []
    if snapshot.get("keys"):
        changed = compute_slate(fingerprints(queries, oracle), snapshot)
    return order_keys(list(queries), oracle, latest_verdicts(), changed), changed


def _run(*cmd: str, **kw) -> subprocess.CompletedProcess:
    return subprocess.run(cmd, cwd=REPO, capture_output=True, check=True, **kw)


def refresh() -> dict:
    """Snapshot every key whose latest verdict is green at the tree its
    round verified; write and return the snapshot."""
    files, verdicts, keys = dict(correctness_files()), latest_verdicts(), {}
    for rnd in sorted({r for green, r in verdicts.values() if green}):
        name = os.path.basename(files[rnd])
        log = _run("git", "log", "--diff-filter=A", "--format=%H", "-1", "--", name)
        commit = log.stdout.decode().strip() or "HEAD"  # not committed yet
        with tempfile.TemporaryDirectory(prefix="verify_slate_") as tmp:
            archive = _run("git", "archive", commit, PKG).stdout
            subprocess.run(["tar", "-x", "-C", tmp], input=archive, check=True)
            script = os.path.abspath(__file__)
            out = _run(sys.executable, script, "--root", tmp, text=True)
        fps = json.loads(out.stdout.strip().splitlines()[-1])
        for key, (green, r) in verdicts.items():
            if green and r == rnd:
                keys[key] = {"fingerprint": fps.get(key), "round": rnd}
    snapshot = {"refreshed_round": max(files, default=0), "keys": keys}
    with open(SNAPSHOT_PATH, "w") as f:
        json.dump(snapshot, f, indent=1, sort_keys=True)
        f.write("\n")
    return snapshot


def _load_registry(root: str = REPO):
    sys.path.insert(0, root)
    from self_healing_data_pipeline_spark import registry

    registry.load_all()
    return registry


def main() -> int:
    ap = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter
    )
    ap.add_argument("--refresh", action="store_true")
    ap.add_argument("--root", type=os.path.abspath)
    args = ap.parse_args()
    if args.root:
        registry = _load_registry(args.root)
        fps = fingerprints(registry.QUERIES, registry.ORACLE)
        print(json.dumps(fps, sort_keys=True))
    elif args.refresh:
        snap = refresh()
        print(f"refreshed {len(snap['keys'])} keys (round {snap['refreshed_round']})")
    else:
        registry = _load_registry()
        _, changed = verification_order(registry.QUERIES, registry.ORACLE)
        print(json.dumps({"changed": sorted(changed), "count": len(changed),
                          "budget": SLATE_BUDGET}, indent=1))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
