"""Committed FSST payloads and the seeded inputs they encode.

The FSST encoder is retired (the selector never picked it over zstd or
dict), but blocks written with it must stay readable. Each file in
tests/data/fsst/<case>.fsst was written by that encoder from
inputs(<case>); the tests regenerate the inputs here and decode the
committed bytes, which pins the wire format the decoder keeps reading:

  varint n_symbols, then per symbol (1 byte len, bytes)
  varint n_strings, n_strings varints of *encoded* lengths
  encoded bytes
"""

import os

import numpy as np
import pyarrow as pa

from sparkolumnar.codecs.nputil import uvarint_decode

DATA_DIR = os.path.join(os.path.dirname(__file__), "data", "fsst")

_VOCAB = ["the", "quick", "brown", "fox", "jumps", "over", "lazy", "dog",
          "https://", "example.com", "content", "page", "search", "of",
          "and", "www.", "/index.html", "<div>", "</div>", "data"]


def _web_text(seed: int, n_docs: int, words: int):
    """Skewed draws from a small web vocabulary: the text FSST's symbol
    table was built for."""
    rng = np.random.default_rng(seed)
    ids = (rng.random((n_docs, words)) ** 3 * len(_VOCAB)).astype(int)
    return [" ".join(_VOCAB[i] for i in row) for row in ids]


def _random_words(seed: int, n_docs: int, words: int):
    """Uniform draws from 4000 random lowercase words: compresses only
    to about 0.7, so a few MB of it give a body over 1 MiB."""
    rng = np.random.default_rng(seed)
    letters = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", np.uint8)
    vocab = [letters[rng.integers(0, 26, rng.integers(2, 10))].tobytes()
             .decode() for _ in range(4000)]
    ids = rng.integers(0, len(vocab), (n_docs, words))
    return [" ".join(vocab[i] for i in row) for row in ids]


def _escape_heavy():
    """A 0xFF-free text prefix longer than the encoder's 32 KiB table
    sample, then strings full of 0xFF and control bytes: none of those
    bytes made it into the symbol table, so every one is escaped and the
    body carries long 0xFF runs (marker + literal 0xFF pairs) that cross
    string boundaries."""
    head = [s.encode() for s in _web_text(5, 300, 30)]
    tail = ([b"\xff" * k for k in range(10)]
            + [b"a\xff" * 5, b"\xff\xffa" * 3, b"\x00\x01\xff", b""]
            + [bytes([255, i % 32, 255]) * (i % 4) for i in range(40)])
    return head + tail


def _random_binary():
    rng = np.random.default_rng(123)
    return [rng.integers(0, 256, rng.integers(0, 300)).astype("u1").tobytes()
            for _ in range(400)]


CASES = {
    "web_text": (lambda: _web_text(11, 600, 40), pa.string()),
    "escape_heavy": (_escape_heavy, pa.binary()),
    "random_binary": (_random_binary, pa.binary()),
    "no_strings": (lambda: [], pa.string()),
    "all_empty": (lambda: [""] * 100, pa.string()),
    # body over 1 MiB: the decoder splits it into several chunks
    "big_text": (lambda: _random_words(17, 3600, 80), pa.string()),
}


def inputs(case: str) -> pa.Array:
    build, typ = CASES[case]
    return pa.array(build(), type=typ)


def path(case: str) -> str:
    return os.path.join(DATA_DIR, case + ".fsst")


def payload(case: str) -> bytes:
    with open(path(case), "rb") as f:
        return f.read()


def body_layout(p: bytes, n: int):
    """(byte offset of the body, encoded length of each string)."""
    buf = np.frombuffer(p, np.uint8)
    cnt, pos = uvarint_decode(buf, 1)
    for _ in range(int(cnt[0])):
        pos += 1 + int(buf[pos])
    _, used = uvarint_decode(buf[pos:], 1)
    pos += used
    enc_lens, used = uvarint_decode(buf[pos:], n)
    return pos + used, enc_lens.astype(np.int64)


def cut_after(p: bytes, n: int, stop: int) -> bytes:
    """The payload truncated right after string stop-1's encoded bytes."""
    base, enc_lens = body_layout(p, n)
    return p[:base + int(enc_lens[:stop].sum())]
