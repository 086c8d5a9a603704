"""Codec registry. Importing this package registers all codecs."""

from .core import (Codec, codecs_for_domain, domain_of,  # noqa: F401
                   encodable_codecs, get_codec, register)
from .nputil import CodecError  # noqa: F401

from . import plain  # noqa: F401  (registers plain, split)
from . import rle_family  # noqa: F401  (registers rle, bool_rle, delta_rle, dod)
from . import bitpack  # noqa: F401  (registers for_bitpack, bitpack)
from . import dict_codec  # noqa: F401  (registers dict)
from . import fsst  # noqa: F401  (registers fsst, decode-only)
from . import nested  # noqa: F401  (registers nested)
from . import containers  # noqa: F401  (registers struct, map, dec128)
from . import byteplane  # noqa: F401  (registers byteplane)
from . import zstd_codec  # noqa: F401  (registers zstd)
