"""Every name the engine's code reads is bound somewhere: a module-level
binding, a builtin or a module dunder. A name read from the module scope
that nothing binds is a NameError waiting for the branch that reaches it;
symtable finds it without running the code (stdlib only)."""

import builtins
import pathlib
import symtable

ROOT = pathlib.Path(__file__).resolve().parent.parent


def _sources():
    return sorted(ROOT.glob("sparkolumnar/**/*.py")) + sorted(
        ROOT.glob("*.py"))


def _unbound_globals(path):
    """(scope, name) for every name a scope of `path` reads from the
    module scope that no module-level statement binds."""
    top = symtable.symtable(path.read_text(), str(path), "exec")
    bound = {s.get_name() for s in top.get_symbols()
             if s.is_assigned() or s.is_imported() or s.is_namespace()}
    tables = [top]
    # `global x; x = ...` inside a function binds x at module level too
    for t in tables:
        tables.extend(t.get_children())
        bound |= {s.get_name() for s in t.get_symbols()
                  if s.is_declared_global() and s.is_assigned()}
    known = bound | set(dir(builtins))
    return [(t.get_name(), s.get_name()) for t in tables
            for s in t.get_symbols()
            if s.is_referenced()
            and (s.is_global() or t is top)
            and s.get_name() not in known
            and not (s.get_name().startswith("__")
                     and s.get_name().endswith("__"))]


def test_every_read_name_is_bound():
    hits = {str(p.relative_to(ROOT)): _unbound_globals(p)
            for p in _sources()}
    assert {p: h for p, h in hits.items() if h} == {}
