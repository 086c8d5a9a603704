"""Statistics-driven per-column codec auto-selection.

The reference picks a strategy per field at compile time
(columnar_derive/src/args.rs:101-129); our engine decides at runtime per
(column, partition-batch) from data statistics, recording the choice in the
block metadata so decode is self-describing (SURVEY.md §4.3).

Selection contract (the "never lose" rule): for every domain the candidate
set includes byte-identical implementations of every strategy the reference
could have chosen for that type, so min(candidates) <= reference size on
the same batch by construction. Extensions (dict/zstd/FOR/bit-pack) only
win on top.

Candidates are priced exactly — analytically where a byte-exact size
formula exists, otherwise by encoding — and the smallest payload wins.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Dict, Optional

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from ..codecs import get_codec
from ..codecs.core import (BIN, BOOL, DEC128, F64, INT, LIST, MAP, STR,
                           STRUCT, U64, domain_of)

# container domains route to exactly one composite codec (which recurses
# through this selector for its children)
_CONTAINER_CODEC = {LIST: "nested", STRUCT: "struct", MAP: "map",
                    DEC128: "dec128", U64: "u64"}
from ..codecs.nputil import CodecError, run_segments

# selector modes
BALANCED = "balanced"  # every candidate (dict gated on sampled distincts)
FAST = "fast"          # cheap codecs only: no zstd/dict on strings

# equal-size tie-break for string codecs: cheapest encode+decode wins.
# Unique-ish text ties rle with split EXACTLY (an all-literal AnyRle group
# is the same varints reordered plus one header), and the old alphabetical
# tie-break picked rle — whose binary encode is a full mask-interleave and
# whose decode walks literal groups in a Python loop — over split's
# near-memcpy. Size parity is unaffected: ties by definition cost nothing.
_STR_TIE_RANK = {"split": 0, "zstd": 1, "dict": 2, "rle": 3}


@dataclass
class Choice:
    codec: str
    payload: bytes
    tried: Dict[str, int]  # codec -> encoded size (for lineage/analyze)


def select_encode(arr: pa.Array, mode: str = BALANCED,
                  plan: Optional[str] = None,
                  override: Optional[str] = None) -> Choice:
    """Encode a null-free arrow column chunk with the best codec.

    plan: optional codec name from a job-level sample pass
    (engine/plan.py); on strings it pre-decides the expensive candidates
    (dict/zstd) while the cheap reference-format candidates always stay
    in the race for the size-parity guarantee.

    override: force a specific codec for this column — the runtime
    counterpart of the reference's per-field `strategy = "..."` attribute
    (columnar_derive/src/args.rs:53-76). Falls back to `plain` if the
    forced codec cannot encode this batch.
    """
    dom = domain_of(arr.type)
    n = len(arr)
    tried: Dict[str, int] = {}

    if override is not None:
        try:
            codec = get_codec(override)
            if dom not in codec.domains:
                raise CodecError(f"{override} does not support {dom}")
            payload = codec.encode(arr)
            return Choice(codec=override, payload=payload,
                          tried={override: len(payload)})
        except (CodecError, OverflowError, pa.ArrowInvalid):
            fallback = _CONTAINER_CODEC.get(dom, "plain")
            payload = get_codec(fallback).encode(arr)
            return Choice(codec=fallback, payload=payload,
                          tried={fallback: len(payload)})

    def run(name: str) -> Optional[bytes]:
        try:
            payload = get_codec(name).encode(arr)
        except (CodecError, OverflowError):
            return None
        tried[name] = len(payload)
        return payload

    payloads: Dict[str, bytes] = {}

    if dom in _CONTAINER_CODEC:
        cname = _CONTAINER_CODEC[dom]
        p = run(cname)
        if p is not None:
            payloads[cname] = p
    elif dom == BOOL:
        for name in ("bool_rle", "plain"):
            p = run(name)
            if p is not None:
                payloads[name] = p
    elif dom == INT:
        # exact analytic sizes for the whole candidate set (~2 passes),
        # then encode only the winner — sizes are byte-exact, so the
        # <=-reference guarantee is preserved while doing 1 encode instead
        # of 5 (tests pin the estimates against real encodes)
        from ..codecs.core import to_int64
        from ..codecs.rle_family import int_candidate_sizes
        sizes = int_candidate_sizes(to_int64(arr))
        tried.update(sizes)
        if "delta_rle" not in sizes:
            # extreme i128-delta batch: price delta_rle by encoding it
            p = run("delta_rle")
            if p is not None:
                payloads["delta_rle"] = p
        if sizes:
            best_name = min(sizes.items(), key=lambda kv: (kv[1], kv[0]))[0]
            p = run(best_name)
            if p is not None:
                payloads[best_name] = p
        if not payloads:
            payloads["plain"] = run("plain")
    elif dom in (STR, BIN):
        # split and rle are priced ANALYTICALLY (byte-exact, one cheap
        # pass each — tests pin the estimates against real encodes); the
        # actual encode only runs for whichever candidate wins, so the
        # reference strategy set {rle, generic} stays fully priced (size
        # parity) with zero wasted encode passes
        from ..codecs.plain import split_size
        s_size = split_size(arr)
        tried["split"] = s_size
        rle_size = None
        if n > 1:
            from ..codecs.rle_family import rle_size_binary
            rle_size = rle_size_binary(arr)
            tried["rle"] = rle_size
        if plan is not None:
            # the job plan already decided the expensive candidates
            if plan in ("dict", "zstd"):
                p = run(plan)
                if p is not None:
                    payloads[plan] = p
        else:
            if mode != FAST:
                # zstd is cheap enough to price EXACTLY on every batch
                # (~260 MB/s/core): the entropy-coding candidate
                p = run("zstd")
                if p is not None:
                    payloads["zstd"] = p
            if n > 0 and mode != FAST:
                # gate dict on a sampled distinct ratio (unique-ish columns
                # cannot win: dict stores every value once plus codes)
                k = min(n, 512)
                sample_distinct = pc.count_distinct(arr.slice(0, k)).as_py()
                if sample_distinct < 0.7 * k or n <= 2:
                    p = run("dict")
                    if p is not None:
                        payloads["dict"] = p
        # pick the winner across encoded payloads + analytic prices, then
        # encode the analytic winner only if it actually won
        cand = {k: len(v) for k, v in payloads.items() if v is not None}
        cand["split"] = s_size
        if rle_size is not None:
            cand["rle"] = rle_size
        best_name = min(cand.items(),
                        key=lambda kv: (kv[1], _STR_TIE_RANK.get(kv[0], 9),
                                        kv[0]))[0]
        if best_name not in payloads:
            p = run(best_name)
            if p is not None:
                payloads[best_name] = p
        if not any(v is not None for v in payloads.values()):
            payloads["split"] = run("split")
    else:  # floats
        payloads["plain"] = run("plain")
        p = run("byteplane")
        if p is not None:
            payloads["byteplane"] = p
        vals = arr.to_numpy(zero_copy_only=False)
        bits = vals.view(np.uint64 if dom == F64 else np.uint32)
        _, lens = run_segments(bits)
        if len(lens) < n:  # runs exist
            p = run("rle")
            if p is not None:
                payloads["rle"] = p

    payloads = {k: v for k, v in payloads.items() if v is not None}
    if not payloads:
        raise CodecError(f"no codec could encode column of type {arr.type}")
    best = min(payloads.items(), key=lambda kv: (len(kv[1]), kv[0]))
    return Choice(codec=best[0], payload=best[1], tried=tried)
