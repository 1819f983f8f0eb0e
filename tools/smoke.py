"""Commit-time smoke check: the engine must at least IMPORT.

Round 7 was lost to a snapshot commit that was never executed — a
module-level NameError in one operator file made ``registry.queries()``
unrunnable, which zeroed the round's correctness sweep and crashed the
bench. This script is the cheapest possible guard (<3 s, no Spark
session): every package module imports, the registry loads, and the
key count matches SURVEY.md's "Inventory size" line — the one pin,
which tests/test_registry.py also checks against the registry.

Wired into ``.git/hooks/pre-commit`` (see tools/install_hooks.sh); also
runnable by hand:

    python tools/smoke.py
"""

from __future__ import annotations

import importlib
import os
import pkgutil
import re
import sys

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def expected_keys() -> int:
    """The registered-key count SURVEY.md declares."""
    with open(os.path.join(REPO_ROOT, "SURVEY.md")) as f:
        m = re.search(
            r"\*\*Inventory size: (\d+) registered query keys", f.read()
        )
    if m is None:
        raise SystemExit("SMOKE FAIL: SURVEY.md inventory line not found")
    return int(m.group(1))


def main() -> int:
    if REPO_ROOT not in sys.path:
        sys.path.insert(0, REPO_ROOT)
    failures: list[str] = []

    import algebraicdb_spark

    # onerror: without it walk_packages silently skips a subtree whose
    # package __init__ fails to import
    for mod in pkgutil.walk_packages(
        algebraicdb_spark.__path__,
        prefix="algebraicdb_spark.",
        onerror=lambda name: failures.append(f"package import failed: {name}"),
    ):
        try:
            importlib.import_module(mod.name)
        except Exception as exc:
            failures.append(f"import {mod.name}: {type(exc).__name__}: {exc}")

    if failures:
        print("SMOKE FAIL:\n  " + "\n  ".join(failures))
        return 1

    from algebraicdb_spark.plans import registry

    registry.load_all()
    n, expected = len(registry.queries()), expected_keys()
    if n != expected:
        print(f"SMOKE FAIL: registry has {n} keys, expected {expected}")
        return 1

    # The driver contract module itself must parse and expose the API.
    try:
        import __spark_entry__ as entry_mod
    except Exception as exc:
        print(f"SMOKE FAIL: import __spark_entry__: {type(exc).__name__}: {exc}")
        return 1
    for fn in ("entry", "queries", "oracle_sql"):
        if not callable(getattr(entry_mod, fn, None)):
            print(f"SMOKE FAIL: __spark_entry__.{fn} missing or not callable")
            return 1

    print(f"smoke ok: {n} keys, all modules import, entry contract present")
    return 0


if __name__ == "__main__":
    sys.exit(main())
