"""Numpy codec kernels: dict, RLE/bit-packed hybrid, FSST, bit-pack, FOR,
DELTA_BINARY_PACKED, PLAIN — plus the per-chunk auto-selector.  See
SURVEY.md §2.3.

One entry point per job: ``encode_column`` / ``decode_column`` (registry)
for int, bool, float, flba and int96 chunks; ``arrow_io.encode_str_column``
/ ``decode_str_column`` for strings.  Page framing and outer compression
are the page layer's (operators/generic_codec._encode_values)."""

from .bitstream import (  # noqa: F401
    decode_varint,
    encode_varint,
    pack_bits_lsb,
    unpack_bits_lsb,
    width_from_max_int,
)
from .dictionary import decode_dict, encode_dict  # noqa: F401
from .forpack import (  # noqa: F401
    decode_bitpack,
    decode_for,
    encode_bitpack,
    encode_for,
)
from .fsst import decode_fsst, encode_fsst  # noqa: F401
from .registry import (  # noqa: F401
    chunk_stats,
    decode_column,
    encode_column,
    params_from_json,
    params_to_json,
    select_codec,
)
from .rle import decode_hybrid, encode_hybrid  # noqa: F401
