"""Consumer census: which declared queries call which public function
of one engine module.

Every module-level binding of MODULE's public functions is patched —
the module's own attributes (read by function-local imports) and
every already-imported module that bound one with ``from MODULE
import fn``. Each declared query is then BUILT (its function called;
no action on the returned frame, though eager pins and driver
collects inside the build still run) at sf0.001, and each patched
function records the query that called it. Only outermost calls
count: a public function that calls another public function of the
same module credits the caller alone, so the census lists entry
points, not the module's internal call graph.

Usage: python tools/consumers.py MODULE [--sf DIR] [query ...]
       python tools/consumers.py operators.similarity
MODULE is relative to the engine package (``operators.windows``) or
fully qualified. Prints one line per public function, ``fn: q.. q..``
(``-`` when no query calls it), then the union of consumers on one
line, ready to paste into a ``tools/compare_oracle.py`` command.
"""

from __future__ import annotations

import argparse
import functools
import importlib
import inspect
import os
import sys
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from nessus_client_etl_scripts_spark import pins
from nessus_client_etl_scripts_spark.session import get_spark

PACKAGE = "nessus_client_etl_scripts_spark"


def public_functions(mod) -> dict[str, object]:
    return {
        n: f
        for n, f in inspect.getmembers(mod, inspect.isfunction)
        if not n.startswith("_") and f.__module__ == mod.__name__
    }


def patch_bindings(fns: dict[str, object], record) -> list[tuple[object, str, object]]:
    """Replace every module-level binding of ``fns`` in sys.modules;
    returns (module, attribute, original) triples for restoring."""
    depth = [0]
    wrappers = {}
    for name, fn in fns.items():

        def make(name=name, fn=fn):
            @functools.wraps(fn)
            def wrapper(*a, **kw):
                if depth[0] == 0:
                    record(name)
                depth[0] += 1
                try:
                    return fn(*a, **kw)
                finally:
                    depth[0] -= 1

            return wrapper

        wrappers[id(fn)] = make()
    patched = []
    for mod in list(sys.modules.values()):
        if not getattr(mod, "__name__", "").startswith(PACKAGE):
            continue
        for attr, val in list(vars(mod).items()):
            w = wrappers.get(id(val))
            if w is not None:
                setattr(mod, attr, w)
                patched.append((mod, attr, val))
    return patched


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("module")
    ap.add_argument("--sf", help="sf dir (default: the driver smoke's sf0.001)")
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()
    modname = args.module
    if not modname.startswith(PACKAGE):
        modname = f"{PACKAGE}.{modname}"
    mod = importlib.import_module(modname)

    import __spark_entry__ as entrymod

    sf = args.sf or entrymod.SF0001
    qs = entrymod.queries()  # imports every plan module first
    fns = public_functions(mod)
    callers: dict[str, set[str]] = defaultdict(set)
    current = [""]
    patched = patch_bindings(fns, lambda fn: callers[fn].add(current[0]))

    spark = get_spark("consumers")
    failed = []
    try:
        for name in args.queries or sorted(qs):
            current[0] = name
            try:
                qs[name](spark, sf)
            except Exception as e:  # noqa: BLE001 — census, not a gate
                failed.append(f"{name}: {type(e).__name__}: {e}")
            finally:
                pins.drain()
    finally:
        for m, attr, orig in patched:
            setattr(m, attr, orig)

    def prefix(q: str) -> str:
        return q.split("_", 1)[0]

    for fn in sorted(fns):
        qs_ = sorted(callers.get(fn, ()), key=lambda q: int(prefix(q)[1:]))
        print(f"{fn}: {' '.join(prefix(q) for q in qs_) or '-'}")
    union = sorted(set().union(*callers.values()))
    print(f"consumers ({len(union)}): {' '.join(union)}")
    for line in failed:
        print(f"build failed — {line}", file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())
