"""The committed spark-submit artifact ships exactly the source tree.

dist/sparkolumnar.zip (built by `sh make_pyfiles.sh`) is what
`spark-submit --py-files` runs; a stale zip would run code the source no
longer has."""

import os
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _source_files():
    out = {}
    for d, dirs, files in os.walk(os.path.join(ROOT, "sparkolumnar")):
        dirs[:] = [x for x in dirs if x != "__pycache__"]
        for f in files:
            if f.endswith(".py"):
                p = os.path.join(d, f)
                with open(p, "rb") as fh:
                    out[os.path.relpath(p, ROOT).replace(os.sep, "/")] = \
                        fh.read()
    return out


def test_pyfiles_zip_matches_source():
    with zipfile.ZipFile(os.path.join(ROOT, "dist", "sparkolumnar.zip")) as z:
        shipped = {n: z.read(n) for n in z.namelist() if n.endswith(".py")}
    source = _source_files()
    assert sorted(shipped) == sorted(source), \
        "stale dist/sparkolumnar.zip: rebuild with `sh make_pyfiles.sh`"
    stale = [n for n in source if shipped[n] != source[n]]
    assert not stale, f"rebuild with `sh make_pyfiles.sh`; stale: {stale}"
