"""Scalar function surface (SURVEY.md §2.8, F1–F16).

Each reference helper (src/egraph_util.erl) maps to a Spark built-in; these
wrappers pin the exact semantics (and give the registry one place to cite).
Everything is a JVM column expression — no Python execution at query time.

| ref (egraph_util.erl)                  | here                      |
|----------------------------------------|---------------------------|
| convert_to_integer/float/binary :388   | to_long/to_double/to_text |
| convert_to_lower :944                  | lower_text                |
| convert_first_char_to_lowercase :949   | first_char_lower          |
| bin_to_hex_binary :222                 | to_hex / from_hex         |
| generate_xxhash_binary :1605           | hash_id (xxhash64)        |
| convert_binary_to_datetime :1573       | parse_ts / parse_date     |
| convert_datetime_to_binary :1616       | format_ts                 |
| epochsec_to_date_time :569             | from_epoch / to_epoch     |
| minus_hours/minutes/months :1172       | minus_hours/minus_months  |
| get_day_granular_intervals :1210       | days_between / day_series |
| round/1 :1197                          | round_half_up             |
| nmget/nested get :1022                 | json_get                  |
| encode_json :1613                      | json_encode               |
| is_nil_or_empty :718                   | is_blank                  |
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def _c(c: str | Column) -> Column:
    return F.col(c) if isinstance(c, str) else c


# F1 — dynamic casts (util.erl:388-446)
def to_long(c):  # convert_to_integer
    return _c(c).try_cast("long")


def to_double(c):  # convert_to_float
    return _c(c).try_cast("double")


def to_text(c):  # convert_to_binary
    return _c(c).cast("string")


# F2 — case helpers (util.erl:944-955)
def lower_text(c):
    return F.lower(_c(c))


def first_char_lower(c):
    col = _c(c)
    return F.concat(F.lower(F.substring(col, 1, 1)), F.substring(col, 2, 2147483647))


# F3 — hex codecs (util.erl:222-261, 619-650)
def to_hex(c):
    """Lowercase hex of an integral column (printf-portable across engines)."""
    return F.format_string("%x", _c(c))


def from_hex(c):
    return F.conv(_c(c), 16, 10).cast("long")


# F4 — id hashing (util.erl:1605-1611)
def hash_id(c):
    return F.xxhash64(_c(c))


# F5 — datetime codecs, reference format Y-m-d H:i:s (util.erl:1573-1603)
REF_TS_FMT = "yyyy-MM-dd HH:mm:ss"


def parse_ts(c):
    return F.to_timestamp(_c(c), REF_TS_FMT)


def parse_date(c):
    return F.to_date(_c(c), "yyyy-MM-dd")


def format_ts(c):
    return F.date_format(_c(c), REF_TS_FMT)


# F6 — epoch conversions (util.erl:569-585, 1056-1083)
def to_epoch(c):
    return F.unix_timestamp(_c(c))


def from_epoch(c):
    return F.from_unixtime(_c(c)).cast("timestamp")


# F7 — date arithmetic (util.erl:1172-1257)
def minus_hours(c, n: int):
    return _c(c) - F.expr(f"INTERVAL {n} HOURS")


def minus_months(c, n: int):
    return F.add_months(_c(c), -n)


def days_between(a, b):
    return F.datediff(_c(b), _c(a)).cast("long")


def day_series(a, b):
    """Inclusive day sequence (get_day_granular_intervals_between)."""
    return F.sequence(_c(a), _c(b), F.expr("INTERVAL 1 DAY"))


# F8 — round half-up (util.erl:1197-1200)
def round_half_up(c, scale: int = 0):
    return F.round(_c(c), scale)


# F9/F13 — JSON (util.erl:1022-1054, 1613)
def json_get(c, path: list[str]):
    from ..ingest import json_path_str

    return F.get_json_object(_c(c), json_path_str(path))


def json_encode(*cols):
    return F.to_json(F.struct(*[_c(c) for c in cols]))


# F11 — null/blank handling (util.erl:718-784)
def is_blank(c):
    col = _c(c)
    return col.isNull() | (F.length(F.trim(col)) == 0)


# ---------------------------------------------------------------------------
# F14 — custom UUID / custom id mint & parse (egraph_util.erl:470-562)
#
# The reference's omega-UUID packs, in order (16 bytes):
#   T3:32  T2:16          low/mid bits of the 60-bit micro-timestamp
#   0xF | T1:12           four 1-version bits then the top 12 ts bits
#   C4 C3 C2 C1           node-name CRC32, byte-reversed
#   S1                    scheduler id (low 8 bits)
#   D3 D2 D1              24 bits of user data, byte-reversed
# get_custom_id packs ((ts & 2^60-1) << 3) | (scheduler & 7) so ids sort by
# time.  Both are deterministic given their inputs, so they live in the
# analytic surface as pure column expressions (hex-string UUID form).
# ---------------------------------------------------------------------------

_TS60 = (1 << 60) - 1


def _rev_bytes_hex(c: Column, n_bytes: int) -> Column:
    """Hex of an unsigned integer's bytes in reversed (little-endian) order."""
    parts = [
        F.format_string("%02x", F.shiftright(c, 8 * i).bitwiseAND(F.lit(255)))
        for i in range(n_bytes)
    ]
    return F.concat(*parts)


def custom_uuid(ts_micro, node_crc32, scheduler_id, data24) -> Column:
    """Mint the reference's custom UUID as a 32-char lowercase hex string.

    ``ts_micro``/``node_crc32``/``scheduler_id``/``data24`` are integer
    columns (data24 = the 24-bit user namespace value D1·65536+D2·256+D3).
    """
    t = _c(ts_micro).bitwiseAND(F.lit(_TS60))
    t3 = t.bitwiseAND(F.lit((1 << 32) - 1))
    t2 = F.shiftright(t, 32).bitwiseAND(F.lit((1 << 16) - 1))
    ver_t1 = F.shiftright(t, 48).bitwiseAND(F.lit((1 << 12) - 1)) + F.lit(0xF000)
    return F.concat(
        F.format_string("%08x", t3),
        F.format_string("%04x", t2),
        F.format_string("%04x", ver_t1),
        _rev_bytes_hex(_c(node_crc32).bitwiseAND(F.lit((1 << 32) - 1)), 4),
        F.format_string("%02x", _c(scheduler_id).bitwiseAND(F.lit(255))),
        _rev_bytes_hex(_c(data24).bitwiseAND(F.lit((1 << 24) - 1)), 3),
    )


def uuid_tsmicro(uuid_hex) -> Column:
    """extract_tsmicro_from_uuid: recover the 60-bit micro-timestamp."""
    u = _c(uuid_hex)
    t3 = F.conv(F.substring(u, 1, 8), 16, 10).cast("long")
    t2 = F.conv(F.substring(u, 9, 4), 16, 10).cast("long")
    t1 = F.conv(F.substring(u, 13, 4), 16, 10).cast("long").bitwiseAND(
        F.lit((1 << 12) - 1)
    )
    return (
        F.shiftleft(t1, 48) + F.shiftleft(t2, 32) + t3
    ).cast("long")


def custom_id(ts_micro, scheduler_id) -> Column:
    """get_custom_id: time-sortable 63-bit integer id."""
    return (
        F.shiftleft(_c(ts_micro).bitwiseAND(F.lit(_TS60)), 3)
        + _c(scheduler_id).bitwiseAND(F.lit(7))
    ).cast("long")


def id_tsmicro(cid) -> Column:
    """extract ts from get_custom_id output (drop the 3 scheduler bits)."""
    return F.shiftright(_c(cid), 3).cast("long")
