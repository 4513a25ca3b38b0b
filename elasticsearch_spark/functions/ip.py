"""IPv4 field support + ip_range aggregation helpers.

Reference semantics (citations into /root/reference/src/main/java/org/elasticsearch/):
- ip fields are stored/compared as unsigned-32-bit longs:
  ``IpFieldMapper.ipToLong`` (index/mapper/ip/IpFieldMapper.java:375).
- the ipv4_range aggregation buckets those longs with [from, to) bounds
  that may be given as IPs or CIDR masks; a mask "a.b.c.d/nn" expands to
  the network's [lo, hi) span (search/aggregations/bucket/range/ipv4/
  IPv4RangeBuilder.java — cidrMaskToMinMax).

Spark-first: the string→long conversion compiles to a JVM-side expression
(split + integer arithmetic, whole-stage codegen), so ip_range over 100 TB
is exactly as cheap as a numeric range agg — no Python in the scan.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

_OCTET = re.compile(r"[0-9]{1,3}")


def ip_to_long(ip: str) -> int:
    """Driver-side IpFieldMapper.ipToLong: dotted quad → unsigned long.
    Each octet is 1-3 ASCII digits: ``int()`` alone would also take signs,
    surrounding whitespace, ``_`` separators and non-ASCII digits."""
    parts = ip.split(".")
    if len(parts) != 4 or not all(_OCTET.fullmatch(p) for p in parts):
        raise ValueError(f"not an IPv4 address: {ip!r}")
    v = 0
    for p in parts:
        o = int(p)
        if not 0 <= o <= 255:
            raise ValueError(f"octet out of range in {ip!r}")
        v = v * 256 + o
    return v


def long_to_ip(v: int) -> str:
    """Inverse of ip_to_long (IpFieldMapper.longToIp)."""
    return ".".join(str((v >> s) & 0xFF) for s in (24, 16, 8, 0))


def cidr_range(cidr: str) -> tuple[int, int]:
    """IPv4RangeBuilder.cidrMaskToMinMax: "a.b.c.d/nn" → [lo, hi) longs."""
    addr, _, bits_s = cidr.partition("/")
    bits = int(bits_s)
    if not 0 <= bits <= 32:
        raise ValueError(f"bad CIDR mask width in {cidr!r}")
    base = ip_to_long(addr)
    mask = ((1 << bits) - 1) << (32 - bits) if bits else 0
    lo = base & mask
    return lo, lo + (1 << (32 - bits))


def ip_to_long_col(col: Column | str) -> Column:
    """JVM-side ipToLong: dotted-quad string column → bigint column.

    Explicit per-octet arithmetic (not aggregate()) so the expression stays
    inside whole-stage codegen as four casts and three FMAs.
    """
    c = F.col(col) if isinstance(col, str) else col
    p = F.split(c, r"\.")
    return (
        F.element_at(p, 1).cast("bigint") * 16777216
        + F.element_at(p, 2).cast("bigint") * 65536
        + F.element_at(p, 3).cast("bigint") * 256
        + F.element_at(p, 4).cast("bigint")
    )
