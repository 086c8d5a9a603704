"""A part file reaches a live part directory through one publish step:
under sparkolumnar/, `_sweep(` is called only by the staged-publish
helper (the per-part `publish` closure of direct._staged), and `.move(`
only by the task-side writer (direct._publish) and that closure. A task that swept or moved files
into the live table itself would make a failed job's finished parts
visible; ast finds such a call without running the code (stdlib only)."""

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
CALLERS = {"_sweep": {"_staged.publish"},
           "move": {"_publish", "_staged.publish"}}


def _calls(path):
    """(called name, dotted name of the innermost enclosing function,
    line) of every call in `path` of a name in CALLERS, as a bare name
    or an attribute."""
    out = []

    def visit(node, fn):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                visit(child, f"{fn}.{child.name}" if fn else child.name)
                continue
            if isinstance(child, ast.Call):
                f = child.func
                name = (f.id if isinstance(f, ast.Name)
                        else f.attr if isinstance(f, ast.Attribute)
                        else None)
                if name in CALLERS:
                    out.append((name, fn, child.lineno))
            visit(child, fn)

    visit(ast.parse(path.read_text(), str(path)), None)
    return out


def test_only_the_publish_step_sweeps_or_moves():
    calls = {str(p.relative_to(ROOT)): _calls(p)
             for p in sorted(ROOT.glob("sparkolumnar/**/*.py"))}
    stray = {p: [c for c in cs if c[1] not in CALLERS[c[0]]]
             for p, cs in calls.items()}
    assert {p: cs for p, cs in stray.items() if cs} == {}
    direct = {(name, fn) for name, fn, _ in
              calls["sparkolumnar/engine/direct.py"]}
    assert direct == {("_sweep", "_staged.publish"), ("move", "_publish"),
                      ("move", "_staged.publish")}
