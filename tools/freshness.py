"""Driver-row freshness guard (r8 verdict task 2).

The driver's correctness gate validates only the 50-query
`_DRIVER_WINDOW` per round, so a query whose implementation or oracle
changes AFTER its newest driver-green row silently runs "code
generations ahead" of its validation — exactly the gap that left 5
widened queries driver-stale in round 8. This tool turns the
window-rotation policy into a mechanical check:

* ``fingerprint(name)`` — sha256 over the query's oracle SQL, the
  registered callable's source, and the sources of every package
  function (plus the repr of every module-level constant) it
  TRANSITIVELY references inside ``defimap_data_pipelines_spark``.
  A change to a shared helper (``pearson_r_expr``, a widening in an
  operator, an expression-string constant) changes the fingerprint of
  every query that depends on it.
* ``tools/freshness_manifest.json`` — per query: the round of its
  newest driver-green row and the fingerprint of its implementation
  AT THAT ROUND (bootstrapped from git history; updated each round).
* The test (tests/test_freshness_guard.py) recomputes fingerprints at
  HEAD and goes red for any query whose fingerprint drifted from its
  manifest entry while NOT holding a `_DRIVER_WINDOW` slot — the
  local red the r8 verdict asked for.

Re-validation after a change that drifts fingerprints:

    PYTHONPATH=. python tools/freshness.py restamp <sf_dir> <round>

recomputes every fingerprint, runs the sweep's per-query step
(``tools/parity.check``) at ``sf_dir`` on each drifted oracle-backed
query (a query that raises is a mismatch), and stamps only the
ones that match their oracle. It prints every mismatch and exits 1 if
there is one.
"""

from __future__ import annotations

import ast
import hashlib
import importlib
import importlib.util
import inspect
import json
import sys
import types
from pathlib import Path

PKG = "defimap_data_pipelines_spark"
MANIFEST = Path(__file__).resolve().parent / "freshness_manifest.json"


def _module_of(obj) -> str | None:
    mod = getattr(obj, "__module__", None)
    return mod if isinstance(mod, str) and mod.startswith(PKG) else None


def _iter_refs(fn):
    """Yield (name, resolved object) for every name the function's
    source references that resolves inside the package — via its
    globals, or via ``from X import Y`` statements in its body."""
    try:
        src = inspect.getsource(fn)
    except (OSError, TypeError):
        return
    try:
        tree = ast.parse(inspect.cleandoc("\n" + src).lstrip())
    except SyntaxError:
        # indented method source — dedent via textwrap
        import textwrap

        tree = ast.parse(textwrap.dedent(src))
    # a decorated builder's wrapper carries the decorator module's
    # globals; its body's names resolve in the wrapped function's
    g = getattr(inspect.unwrap(fn), "__globals__", {})
    names: set[str] = set()
    attr_refs: set[tuple[str, str]] = set()  # (base name, attribute)
    local_imports: dict[str, object] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            names.add(node.id)
        elif isinstance(node, ast.Attribute) and isinstance(
            node.value, ast.Name
        ):
            # `ops.foo` style module-attribute access — resolve the
            # attribute so a change to foo flips dependents even when
            # it was never imported by name
            attr_refs.add((node.value.id, node.attr))
        elif isinstance(node, ast.ImportFrom) and node.module:
            mod_name = node.module
            if node.level:  # relative import inside the package
                pkg_parts = fn.__module__.split(".")[: -node.level]
                mod_name = ".".join(pkg_parts + [node.module])
            if not mod_name.startswith(PKG):
                continue
            try:
                m = importlib.import_module(mod_name)
            except Exception:
                continue
            for alias in node.names:
                try:
                    local_imports[alias.asname or alias.name] = getattr(
                        m, alias.name
                    )
                except AttributeError:
                    pass
        elif isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.startswith(PKG):
                    try:
                        local_imports[alias.asname or alias.name.split(".")[0]] = (
                            importlib.import_module(alias.name)
                        )
                    except Exception:
                        pass
    for n in sorted(names):
        if n in local_imports:
            yield n, local_imports[n]
        elif n in g:
            yield n, g[n]
    for n, obj in sorted(local_imports.items()):
        yield n, obj
    for base, attr in sorted(attr_refs):
        mod = local_imports.get(base, g.get(base))
        if isinstance(mod, types.ModuleType) and (
            mod.__name__ or ""
        ).startswith(PKG):
            try:
                yield f"{base}.{attr}", getattr(mod, attr)
            except AttributeError:
                pass


def _collect(fn, seen: set, parts: list) -> None:
    """DFS over package-internal references, appending a stable text
    representation of every reachable function/class source and
    module-level constant."""
    key = id(fn)
    if key in seen:
        return
    seen.add(key)
    for name, obj in _iter_refs(fn):
        if isinstance(obj, types.ModuleType):
            if (obj.__name__ or "").startswith(PKG):
                # referencing a whole module: include its constants'
                # names only (functions reached via attribute access
                # are rare in this codebase; imports are explicit)
                parts.append(f"mod:{obj.__name__}")
            continue
        if isinstance(obj, (types.FunctionType, type)):
            if _module_of(obj) is None:
                continue
            okey = id(obj)
            if okey in seen:
                continue
            try:
                src = inspect.getsource(obj)
            except (OSError, TypeError):
                continue
            parts.append(f"def:{obj.__module__}.{getattr(obj, '__qualname__', name)}\n{src}")
            _collect(obj, seen, parts)
        elif isinstance(obj, (str, int, float, bytes, tuple, frozenset)):
            # module-level constant (expression strings like
            # PARTIAL_R_EXPR are load-bearing shared text)
            mod = getattr(fn, "__module__", "")
            parts.append(f"const:{mod}.{name}={obj!r}")


def fingerprints() -> dict[str, str]:
    """name -> sha256 over oracle SQL + transitive implementation
    sources, for every registered query in the current tree."""
    q = importlib.import_module(f"{PKG}.plans.queries")
    out = {}
    for name, fn in q.QUERIES.items():
        parts: list[str] = [f"oracle:{q.ORACLE.get(name, '')}"]
        try:
            parts.append(f"query:{inspect.getsource(fn)}")
        except (OSError, TypeError):
            parts.append(f"query:<nosource:{name}>")
        _collect(fn, set(), parts)
        h = hashlib.sha256()
        for p in sorted(parts[2:]) + parts[:2]:
            h.update(p.encode())
        out[name] = h.hexdigest()
    return out


def load_manifest() -> dict:
    if MANIFEST.exists():
        return json.loads(MANIFEST.read_text())
    return {}


def restamp(sf_dir: str, round_no: int) -> tuple[list[str], list[str]]:
    """Re-validate every drifted oracle-backed query against its
    DuckDB oracle at ``sf_dir`` and stamp the matches with their
    current fingerprint. Returns (stamped, mismatched)."""
    spec = importlib.util.spec_from_file_location(
        "parity", Path(__file__).resolve().parent / "parity.py"
    )
    parity = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(parity)
    from defimap_data_pipelines_spark.session import get_spark

    fps = fingerprints()
    manifest = load_manifest()
    drifted = [
        n
        for n in parity.ORACLE
        if manifest.get(n, {}).get("fingerprint") != fps[n]
    ]
    spark = get_spark("parity")
    con = parity.duck_connect(sf_dir)
    stamped, mismatched = [], []
    for name in drifted:
        ok, _ = parity.check(name, spark, con, sf_dir)
        if ok:
            manifest[name] = {"round": round_no, "fingerprint": fps[name]}
            stamped.append(name)
        else:
            mismatched.append(name)
    MANIFEST.write_text(json.dumps(manifest, indent=1, sort_keys=True) + "\n")
    return stamped, mismatched


def main(argv: list[str]) -> int:
    if len(argv) >= 3 and argv[0] == "restamp":
        stamped, mismatched = restamp(argv[1], int(argv[2]))
        print(
            f"re-validated {len(stamped) + len(mismatched)} drifted queries; "
            f"stamped {len(stamped)} at round {argv[2]}"
        )
        if mismatched:
            print(f"NOT stamped (oracle mismatch): {mismatched}")
            return 1
        return 0
    if argv and argv[0] == "print":
        for k, v in sorted(fingerprints().items()):
            print(v, k)
        return 0
    print(__doc__)
    return 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
