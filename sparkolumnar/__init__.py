"""sparkolumnar — a PySpark-native per-column lightweight-compression engine.

A from-scratch re-creation of the capabilities of loro-dev/columnar
(`serde_columnar`, Rust) on Spark: per-column codecs (RLE / DeltaRle /
BoolRle / DeltaOfDelta, byte-compatible with the reference wire format,
plus dictionary, bit-packing, frame-of-reference and chunked-zstd
extensions; FSST payloads of older tables stay decodable),
a statistics-driven codec auto-selector, and a distributed encode /
decode pipeline built on vectorized Arrow UDFs (`mapInArrow` /
`applyInPandas`) with per-partition lineage and exactly-once resume.

Reference behavior studied at /root/reference (loro-dev/columnar
v0.3.12); all code here is written from scratch against the public
Spark / Arrow / numpy APIs.
"""

__version__ = "0.1.0"


def _tune_allocator() -> None:
    """Keep large numpy buffers on the heap instead of per-allocation mmap.

    glibc services allocations above M_MMAP_THRESHOLD (default 128 KiB) with
    fresh mmap/munmap pairs, so every codec batch pays full page-fault cost
    for every intermediate array — measured ~40x slower than heap reuse in
    this environment. Raising the threshold (and the trim threshold, so the
    heap is not returned between batches) makes batch N>1 run at memory
    speed. Harmless no-op on non-glibc platforms.
    """
    try:
        import ctypes

        libc = ctypes.CDLL("libc.so.6", use_errno=True)
        libc.mallopt(-3, 1 << 30)  # M_MMAP_THRESHOLD
        libc.mallopt(-1, 1 << 30)  # M_TRIM_THRESHOLD
    except Exception:
        pass


_tune_allocator()
