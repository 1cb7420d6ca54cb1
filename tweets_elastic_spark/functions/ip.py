"""Pure-Catalyst IP address parsing, masking and rendering.

Shared by the EQL ``cidrMatch`` condition function (plans/eql.py) and
the ``ip_range`` / ``ip_prefix`` aggregations (plans/aggs.py). No UDFs:
IPv4 is one validated-regex + octet arithmetic; IPv6 is a
'::'-expanding group parse into ``array<long>`` of the eight 16-bit
groups, masked group-wise (so no 128-bit integers are ever needed) and
rendered back in RFC 5952 canonical form via an arithmetic
longest-zero-run fold. The DuckDB oracles (queries/search_q.py) replay
the semantics through independent mechanisms (a regex cascade for the
render, HUGEINT compares for ranges), so results stay hash-comparable
across engines without sharing an implementation.

Malformed addresses parse to NULL and therefore fall in no bucket and
match no CIDR — the row-level policy the reference's ES semantics give
(ES rejects malformed ``ip``-typed values at index time; this engine
reads raw strings, so the malformed case must be decided per row).
Dotted-quad-embedded IPv6 ('::ffff:1.2.3.4') and zone indexes ('%eth0')
fail the hex-group validation → NULL, a documented refusal.
"""

from __future__ import annotations

import ipaddress

from pyspark.sql import Column
from pyspark.sql import functions as F

_OCTET_RE = r"(25[0-5]|2[0-4][0-9]|1?[0-9]?[0-9])"


def ipv4_long(col: Column) -> Column:
    """Validated IPv4 string → 32-bit long (NULL for malformed)."""
    p = F.split(col, r"\.")
    ip = (
        p.getItem(0).cast("long") * 16777216
        + p.getItem(1).cast("long") * 65536
        + p.getItem(2).cast("long") * 256
        + p.getItem(3).cast("long")
    )
    return F.when(col.rlike(f"^({_OCTET_RE}\\.){{3}}{_OCTET_RE}$"), ip)


def ipv6_groups(col: Column) -> Column:
    """IPv6 string → ``array<long>`` of its 8 16-bit groups, NULL for
    malformed. Pure Catalyst: split on '::', zero-fill the gap,
    hex-validate every group, conv(16,10) each."""
    parts = F.split(col, "::")
    has_dc = F.size(parts) == 2

    def grps(s: Column) -> Column:
        return F.filter(F.split(s, ":"), lambda x: x != F.lit(""))

    left = grps(parts.getItem(0))
    right = F.when(has_dc, grps(F.element_at(parts, 2))) \
             .otherwise(F.array().cast("array<string>"))
    nl, nr = F.size(left), F.size(right)
    mid = F.array_repeat(F.lit("0"), F.lit(8) - nl - nr)
    strs = (
        F.when(has_dc & ((nl + nr) <= 7), F.concat(left, mid, right))
        .when((F.size(parts) == 1) & (nl == 8), left)
    )
    # validation (rewritten from 8 per-group regexes to ~2 cheap
    # whole-string checks after profiling): ONE char-class regex proves
    # every character is hex-or-colon (rejecting dotted-quad embeds,
    # zone indexes, garbage), then per-group 1..4-length checks prove
    # group shape — together equivalent to hex-validating each group
    ok = (
        strs.isNotNull()
        & col.rlike("^[0-9a-fA-F:]+$")
        & F.forall(strs,
                   lambda x: (F.length(x) >= 1) & (F.length(x) <= 4))
        & ~col.contains(":::")  # split('1:::2', '::') would mis-repair
    )
    return F.when(
        ok, F.transform(strs, lambda x: F.conv(x, 16, 10).cast("long"))
    )


def ipv6_mask(groups: Column, bits: int) -> Column:
    """Zero the host bits of an 8-group array at /bits (0..128) —
    group-wise: full prefix groups pass through, the partial group
    shifts right then left, everything after is 0. Compile-time
    constants per group; the DuckDB oracle mirrors with the same
    //-and-* arithmetic."""
    if not 0 <= bits <= 128:
        raise ValueError(f"bad IPv6 prefix length {bits}")

    def mask_one(g: Column, i: int) -> Column:
        take = min(16, max(0, bits - 16 * i))
        if take == 16:
            return g
        if take == 0:
            return F.lit(0).cast("long")
        # //-and-* (not bitwise) so the oracle replays it verbatim
        w = 1 << (16 - take)
        return (g / F.lit(w)).cast("long") * F.lit(w)

    return F.array(*[mask_one(F.element_at(groups, i + 1), i)
                     for i in range(8)])


def ipv6_canonical(groups: Column) -> Column:
    """8-group array → RFC 5952 canonical text: lowercase hex, no
    leading zeros, the longest run of >=2 zero groups compressed to
    '::' (leftmost on ties — the strict > in the fold keeps the first
    maximal run). ARITHMETIC, not regex: one 8-step F.aggregate fold
    finds (longest-run length, start), then two array_join slices
    assemble the text around '::'. The first cut of this function was a
    14-regex replace cascade — ~4x slower per row (9.5 s → this shape
    at the sf0.1 bench row); the fold and both slices bind once via the
    transform trick (Catalyst no-CSE). The DuckDB oracles replay the
    equivalent ^-anchored lazy-prefix regex cascade instead — agreement
    through two INDEPENDENT compression mechanisms."""
    hexes = F.transform(groups, lambda g: F.lower(F.conv(g, 10, 16)))
    init = F.struct(
        F.lit(0).alias("i"), F.lit(0).alias("cl"), F.lit(0).alias("cs"),
        F.lit(0).alias("bl"), F.lit(0).alias("bs"),
    )

    def upd(acc: Column, g: Column) -> Column:
        is0 = g == 0
        cl2 = F.when(is0, acc["cl"] + 1).otherwise(F.lit(0))
        cs2 = F.when(is0 & (acc["cl"] == 0), acc["i"]).otherwise(acc["cs"])
        better = cl2 > acc["bl"]
        return F.struct(
            (acc["i"] + 1).alias("i"), cl2.alias("cl"), cs2.alias("cs"),
            F.when(better, cl2).otherwise(acc["bl"]).alias("bl"),
            F.when(better, cs2).otherwise(acc["bs"]).alias("bs"),
        )

    bound = F.struct(
        hexes.alias("h"), F.aggregate(groups, init, upd).alias("r"),
    )

    def render(b: Column) -> Column:
        h, r = b["h"], b["r"]
        bl, bs = r["bl"], r["bs"]
        right = F.when(
            bl + bs >= 8, F.array().cast("array<string>")
        ).otherwise(F.slice(h, bs + bl + 1, 8 - bs - bl))
        comp = F.concat(
            F.array_join(F.slice(h, 1, bs), ":"),
            F.lit("::"),
            F.array_join(right, ":"),
        )
        return F.when(bl >= 2, comp).otherwise(F.array_join(h, ":"))

    return F.element_at(F.transform(F.array(bound), render), 1)


def cidr_match(fld: Column, cidr: str) -> Column:
    """One COMPILE-TIME CIDR literal against a string IP column — the
    shared predicate behind EQL's ``cidrMatch`` and ES|QL's
    ``CIDR_MATCH``. Parses the address (v4 long / v6 groups) and
    delegates to the parsed-side helpers below; multi-block callers
    should parse ONCE themselves and call those directly (the ES|QL
    CIDR_MATCH does — the address expression can be an arbitrary
    computed column, and re-deriving it per block was measured at
    ~2x on the cidr bench row). Malformed addresses parse to NULL
    and match nothing."""
    if ":" in cidr:
        return cidr_match_v6_groups(ipv6_groups(fld), cidr)
    return cidr_match_v4_long(ipv4_long(fld), cidr)


def cidr_match_v4_long(ip_long: Column, cidr: str) -> Column:
    """v4 range compare against an ALREADY-PARSED 32-bit long — lets a
    multi-block matcher parse the address once and compare per block.
    The compile-time block literal is validated via ipaddress (octets
    0-255, bits 0-32) and raises loudly on malformed input — the
    module's convention, previously only the v6 path's (without it
    '300.1.2.3/8' silently produced garbage range arithmetic)."""
    try:
        net = ipaddress.ip_network(cidr, strict=False)
    except ValueError as exc:
        raise ValueError(f"malformed IPv4 CIDR block {cidr!r}: {exc}")
    if net.version != 4:
        raise ValueError(f"expected an IPv4 CIDR block, got {cidr!r}")
    net4 = int(net.network_address)  # host bits already zeroed (ES)
    width = 1 << (32 - net.prefixlen)
    return (ip_long >= F.lit(net4)) & (ip_long < F.lit(net4 + width))


def cidr_match_v6_groups(groups: Column, cidr: str) -> Column:
    """v6 prefix compare against ALREADY-PARSED 16-bit groups."""
    net = ipaddress.ip_network(cidr, strict=False)
    netaddr = int(net.network_address)
    pred = groups.isNotNull()
    for i in range(8):
        take = min(16, net.prefixlen - 16 * i)
        if take <= 0:
            break
        gi = F.element_at(groups, i + 1)
        ng = (netaddr >> (16 * (7 - i))) & 0xFFFF
        if take == 16:
            pred = pred & (gi == F.lit(ng))
        else:
            pred = pred & (
                F.shiftright(gi, 16 - take) == F.lit(ng >> (16 - take))
            )
    return pred
