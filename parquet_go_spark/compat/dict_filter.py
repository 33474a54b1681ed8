"""Dictionary-page filtering for real-Parquet scan planning — the
EXACT point-lookup prune tier (parquet-mr's DictionaryFilter, public
behavior): when a chunk's encoding_stats prove that every data page is
dictionary-encoded, the dictionary page IS the chunk's complete distinct
value set, so an equality/IN predicate whose members all miss the
dictionary provably excludes the chunk — no false-positive rate at all,
unlike a bloom filter, and it works on files whose writer stored no
bloom.

One bounded pread per probe (the dictionary page region, located from
``dictionary_page_offset``), never a data page. Conservative contract:
anything inconclusive — mixed encodings (a dict-overflow fallback to
PLAIN mid-chunk), missing encoding_stats, unsupported types, forged
headers — keeps the chunk.
"""

from __future__ import annotations

from ..core import codecs
from ..core.prune import point_excluded, value_set
from .parquet_reader import PHYSICAL_TYPES, _read_page

__all__ = ["all_data_pages_dict", "dict_probe_file", "dict_values_file", "decode_dict_page"]


def all_data_pages_dict(cmeta: dict) -> bool:
    """encoding_stats (ColumnMetaData field 13) prove every data page is
    dictionary-encoded. Absent stats or any non-dict data page ⇒ False
    (the dictionary would not cover the chunk's values)."""
    stats = cmeta.get(13)
    if not stats:
        return False
    saw_data = False
    for s in stats:
        if s.get(1) in (0, 3):  # DATA_PAGE / DATA_PAGE_V2
            saw_data = True
            if codecs.PARQUET_ENCODINGS.get(s.get(2)) != "rle_dict":
                return False
    return saw_data


def decode_dict_page(region: bytes, cmeta: dict):
    """Dictionary page bytes (header + payload at offset 0) -> decoded
    values: ndarray for fixed types, (lengths, data) for byte types."""
    info = {"type": cmeta[1], "type_length": 0, "max_rep": 0, "max_def": 0}
    with codecs.as_value_error("dictionary page"):
        _, page_type, _, values = _read_page(memoryview(region).cast("B"), 0, cmeta[4], info, None)
    if page_type != 2:
        raise ValueError("dictionary_page_offset points at a non-dictionary page")
    return values


def dict_values_file(path: str, cmeta: dict) -> set | None:
    """The chunk's complete distinct-value set (``core.prune.value_set``)
    from its dictionary page, or None when it cannot be proven complete
    or read. Reads only [dictionary_page_offset, data_page_offset) — one
    bounded pread."""
    if not all_data_pages_dict(cmeta):
        return None
    dict_off = cmeta.get(11)
    data_off = cmeta.get(9)
    if dict_off is None or data_off is None or not 0 <= dict_off < data_off:
        return None
    size = data_off - dict_off
    if size > codecs.MAX_DICT_REGION:
        return None
    if PHYSICAL_TYPES.get(cmeta[1]) in (None, "flba", "bool", "int96"):
        return None
    with open(path, "rb") as fh:
        fh.seek(dict_off)
        region = fh.read(size)
    try:
        return value_set(decode_dict_page(region, cmeta))
    except ValueError:
        return None


def dict_probe_file(path: str, cmeta: dict, values: tuple) -> bool:
    """True ⇒ the chunk MIGHT contain some of ``values``; False ⇒ every
    member provably absent (exact: the dictionary enumerates the chunk's
    distinct values)."""
    ptype = PHYSICAL_TYPES.get(cmeta[1])
    return not point_excluded(
        None, "in", tuple(values), ptype, dictionary=lambda: dict_values_file(path, cmeta)
    )
