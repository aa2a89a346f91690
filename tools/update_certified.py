"""Regenerate catalog.CERTIFIED from the driver's CORRECTNESS_r{N}.json files.

A query is certified in round N if the driver recorded rows_match, a null
err, AND a true hash_match (rows-only checks never certify). Prints the
replacement dict body; apply by pasting between the CERTIFIED braces in
``aml_feature_store_spark/catalog.py`` (keep any invalidation comments for
queries whose implementation changed since their last row — delete those
entries by hand).

Stale-row guard (r12, after the r11 gap where pagerank_bipartite's kernel
was rewritten AFTER the round's invalidation pass and its CERTIFIED row
survived unproved): the guard resolves every query's project-local import
closure (its registration module plus every aml_feature_store_spark
module that module transitively imports, minus catalog.py — the ledger
itself) and warns on stderr for each CERTIFIED query whose closure
intersects the files changed since the LATEST round snapshot commit
("round N: verdict/..."), i.e. the current round's engine changes. A
warned row means the driver's last green hash predates the current
kernel — either the change is provably value-neutral (say so in a
commit/test) or comment the row out so the 50-slot window re-proves it.
Run this before every round snapshot.

Usage: python tools/update_certified.py [repo_root]
"""

from __future__ import annotations

import ast
import glob
import json
import os
import re
import subprocess
import sys


def latest_certified(root: str) -> dict[str, int]:
    latest: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        rnd = int(os.path.basename(path).split("_r")[1].split(".")[0])
        with open(path) as f:
            rows = json.load(f)
        for name, row in rows.items():
            if (
                row.get("rows_match")
                and row.get("err") is None
                and row.get("hash_match") is True
            ):
                latest[name] = max(latest.get(name, 0), rnd)
    return latest


PKG = "aml_feature_store_spark"


def _module_file(mod: str, root: str) -> str | None:
    rel = mod.replace(".", os.sep)
    for cand in (rel + ".py", os.path.join(rel, "__init__.py")):
        if os.path.exists(os.path.join(root, cand)):
            return cand
    return None


def _local_imports(path: str, mod: str, root: str) -> set[str]:
    """Project-local modules imported by `path` (absolute or relative)."""
    try:
        with open(os.path.join(root, path)) as f:
            tree = ast.parse(f.read())
    except (OSError, SyntaxError):
        return set()
    out: set[str] = set()
    pkg_parts = mod.split(".")[:-1] if not path.endswith("__init__.py") else mod.split(".")
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name.startswith(PKG):
                    out.add(a.name)
        elif isinstance(node, ast.ImportFrom):
            if node.level:  # relative import
                base = pkg_parts[: len(pkg_parts) - node.level + 1]
                mod_base = ".".join(base + ([node.module] if node.module else []))
            else:
                mod_base = node.module or ""
            if not mod_base.startswith(PKG):
                continue
            out.add(mod_base)
            for a in node.names:  # `from pkg.operators import dedup`
                out.add(mod_base + "." + a.name)
    return out


def _import_closure(mod: str, root: str, seen: dict[str, set[str]]) -> set[str]:
    """All project files reachable from module `mod` (BFS over imports)."""
    files: set[str] = set()
    todo = [mod]
    visited: set[str] = set()
    while todo:
        m = todo.pop()
        if m in visited or m == PKG + ".catalog":
            continue  # the ledger imports every query module — not a kernel dep
        visited.add(m)
        f = _module_file(m, root)
        if f is None:
            continue
        files.add(f)
        if f not in seen:
            seen[f] = _local_imports(f, m, root)
        todo.extend(seen[f])
    return files


def _latest_round_commit(root: str) -> str | None:
    """SHA of the most recent "round N: ..." snapshot commit on HEAD."""
    try:
        out = subprocess.run(
            ["git", "-C", root, "log", "--format=%H %s"],
            capture_output=True, text=True, check=True,
        ).stdout
    except (OSError, subprocess.CalledProcessError):
        return None
    for line in out.splitlines():  # newest first
        sha, _, subj = line.partition(" ")
        if re.match(r"round \d+:", subj):
            return sha
    return None


def _changed_since(root: str, sha: str) -> set[str]:
    try:
        out = subprocess.run(
            ["git", "-C", root, "diff", "--name-only", sha, "HEAD", "--", PKG],
            capture_output=True, text=True, check=True,
        ).stdout
    except (OSError, subprocess.CalledProcessError):
        return set()
    return {l.strip() for l in out.splitlines() if l.strip()}


LEDGER = os.path.join(PKG, "catalog.py")  # bookkeeping, not a kernel


def _resolve_from(node: ast.ImportFrom, mod: str, is_pkg: bool) -> str:
    pkg_parts = mod.split(".") if is_pkg else mod.split(".")[:-1]
    if node.level:
        base = pkg_parts[: len(pkg_parts) - node.level + 1]
        return ".".join(base + ([node.module] if node.module else []))
    return node.module or ""


def _fn_modules(mod: str, fn_name: str, root: str) -> set[str]:
    """Project modules the named function (plus same-module helpers it
    references, transitively) actually uses — finer than the module's
    whole import list, since registration modules import many operator
    families but each query touches one or two."""
    path = _module_file(mod, root)
    if path is None:
        return set()
    try:
        with open(os.path.join(root, path)) as f:
            tree = ast.parse(f.read())
    except (OSError, SyntaxError):
        return set()
    is_pkg = path.endswith("__init__.py")
    alias: dict[str, str] = {}
    fns: dict[str, ast.AST] = {}
    for node in tree.body:
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name.startswith(PKG):
                    alias[(a.asname or a.name).split(".")[0]] = a.name
        elif isinstance(node, ast.ImportFrom):
            base = _resolve_from(node, mod, is_pkg)
            if base.startswith(PKG):
                for a in node.names:
                    # `from ..operators import dedup` binds a submodule;
                    # `from ..operators.dedup import f` binds a member —
                    # both map the bound name to a module path candidate
                    sub = base + "." + a.name
                    alias[a.asname or a.name] = (
                        sub if _module_file(sub, root) else base
                    )
        elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            fns[node.name] = node
    mods: set[str] = set()
    seen_fns: set[str] = set()
    todo = [fn_name]
    while todo:
        f = todo.pop()
        if f in seen_fns or f not in fns:
            continue
        seen_fns.add(f)
        for node in ast.walk(fns[f]):
            if isinstance(node, ast.Import):  # deferred in-function import
                for a in node.names:
                    if a.name.startswith(PKG):
                        mods.add(a.name)
            elif isinstance(node, ast.ImportFrom):
                base = _resolve_from(node, mod, is_pkg)
                if base.startswith(PKG):
                    mods.add(base)
                    for a in node.names:
                        sub = base + "." + a.name
                        if _module_file(sub, root):
                            mods.add(sub)
            elif isinstance(node, ast.Name):
                if node.id in alias:
                    mods.add(alias[node.id])
                elif node.id in fns:
                    todo.append(node.id)
    return mods


def stale_warnings(root: str, certified: dict[str, int]) -> list[str]:
    sys.path.insert(0, root)
    from aml_feature_store_spark import catalog

    catalog.queries()  # force registration
    sha = _latest_round_commit(root)
    changed = (_changed_since(root, sha) if sha else set()) - {LEDGER}
    if not changed:
        return []
    seen: dict[str, set[str]] = {}
    warns = []
    for name, rnd in sorted(certified.items()):
        q = catalog.QUERIES.get(name)
        if q is None or name not in catalog.CERTIFIED:
            continue  # unregistered, or already invalidated by hand
        files = {_module_file(q.fn.__module__, root)}
        for m in _fn_modules(q.fn.__module__, q.fn.__name__, root):
            files |= _import_closure(m, root, seen)
        hit = (files - {None, LEDGER}) & changed
        if hit:
            warns.append(
                f"STALE? {name} (r{rnd}): source changed since the last "
                f"round snapshot: {', '.join(sorted(hit))}"
            )
    return warns


if __name__ == "__main__":
    root = sys.argv[1] if len(sys.argv) > 1 else os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))
    )
    certified = latest_certified(root)
    by_round: dict[int, list[str]] = {}
    for name, rnd in certified.items():
        by_round.setdefault(rnd, []).append(name)
    for rnd in sorted(by_round):
        print(f"    # r{rnd}-certified")
        for name in sorted(by_round[rnd]):
            print(f'    "{name}": {rnd},')
    print(f"# total: {len(certified)} driver-certified queries", file=sys.stderr)
    for w in stale_warnings(root, certified):
        print(w, file=sys.stderr)
