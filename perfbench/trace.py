"""In-memory span tracer, and the wrappers that put spans around the
engine's public functions in the process that replays the in-task
pipeline.

A span is (name, start, end, parent, op): `parent` is the index of the
enclosing span, `op` the operation id the tracer was set to when the span
opened. A span's self time is its duration minus the durations of its
direct children (spans nest: the tracer is single-threaded).
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
from collections import defaultdict


class Tracer:
    def __init__(self):
        self.spans = []
        self._stack = []
        self.op = None

    @contextlib.contextmanager
    def span(self, name, **attrs):
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "op": self.op, **attrs}
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def wrap(self, name, fn, attrs=None):
        """`fn` with a span around every call; attrs(*args) adds fields."""
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, **(attrs(*args) if attrs else {})):
                return fn(*args, **kwargs)
        return traced

    def self_seconds(self, name=None, where=None):
        """Summed self time of the spans called `name` (all if None) for
        which where(span) holds."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return sum(s["end"] - s["start"] - child[i]
                   for i, s in enumerate(self.spans)
                   if (name is None or s["name"] == name)
                   and (where is None or where(s)))

    def count(self, name, where=None):
        return sum(1 for s in self.spans if s["name"] == name
                   and (where is None or where(s)))

    def dump(self, path):
        with open(path, "w") as f:
            json.dump(self.spans, f)


@contextlib.contextmanager
def instrument(tracer: Tracer):
    """Span every selector, codec and checksum call the engine makes in
    this process. Each wrapper sits where the caller looks the name up:
    engine.encode imported select_encode and canonical_checksum by name,
    engine.decode imported canonical_checksum, and both reach codecs via
    the registry's instances."""
    from sparkolumnar.codecs import core
    from sparkolumnar.engine import decode, encode

    def arr_attrs(arr, *_):
        return {"domain": core.domain_of(arr.type), "bytes": arr.nbytes}

    saved = [(encode, "select_encode"), (encode, "canonical_checksum"),
             (decode, "canonical_checksum")]
    originals = [getattr(m, n) for m, n in saved]
    encode.select_encode = tracer.wrap("select_encode",
                                       encode.select_encode, arr_attrs)
    encode.canonical_checksum = tracer.wrap(
        "canonical_checksum", encode.canonical_checksum, arr_attrs)
    decode.canonical_checksum = tracer.wrap(
        "canonical_checksum", decode.canonical_checksum, arr_attrs)
    codecs = list(core._REGISTRY.values())
    for c in codecs:
        c.encode = tracer.wrap("Codec.encode", c.encode,
                               lambda arr, *_, _n=c.name: {"codec": _n})
        c.decode = tracer.wrap("Codec.decode", c.decode,
                               lambda *_, _n=c.name: {"codec": _n})
    try:
        yield tracer
    finally:
        for (m, n), fn in zip(saved, originals):
            setattr(m, n, fn)
        for c in codecs:
            del c.encode, c.decode
