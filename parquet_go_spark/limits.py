"""Governors: the allocation and structure caps every decoder of
untrusted bytes checks, in one module with no imports, so kernels, the
chunk container and the Parquet reader all read the same values
(``core.codecs`` re-exports them)."""

MAX_ROWS = 1 << 28  # rows in one PGSC chunk, values one delta_bp / for_bp stream declares
MAX_PAGE_VALUES = 1 << 27  # level positions in one Parquet page
MAX_RAW_PAGE = 1 << 30  # decompressed bytes of one page or dictionary page
MAX_CODEC_DICT = 1 << 20  # trained DEFLATE dictionary of a zdict chunk
MAX_PAGE_STATS_LEN = 1 << 12  # a PGSC page-stats bound: <= 64 chars (<= 260 UTF-8 bytes)
MAX_TYPE_LENGTH = 1 << 16  # FIXED_LEN_BYTE_ARRAY width
MAX_DICT_REGION = 1 << 26  # dictionary-page bytes one prune probe reads
MAX_NESTING = 64  # nested levels of one column: PGSL/PGSS chunks, Parquet schema groups
MAX_THRIFT_DEPTH = 100  # nested structs/collections of one thrift value (footers ~10 deep)
MAX_BLOOM_BYTES = 1 << 26  # one Parquet bloom filter's bitset
