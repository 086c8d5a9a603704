"""Distributed encode/decode engine."""

from .blocks import blocks_schema  # noqa: F401
from .decode import (decode_blocks, schema_of_blocks,  # noqa: F401
                     union_schema_of_blocks)
from .direct import (decode_files_direct, encode_files_direct,  # noqa: F401
                     write_snapshot)
from .encode import encode_table  # noqa: F401
from .maintenance import (compact_snapshot,  # noqa: F401
                          list_snapshots)
from .selector import BALANCED, FAST, select_encode  # noqa: F401
