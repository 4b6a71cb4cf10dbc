"""Packed-bitmask helpers shared by the dense-regime search strategies
(``search/trigram.py`` similarity, ``search/boolean.py`` conjunctions).

A batch's distinct index keys (grams / terms) get driver-assigned bit
positions; each document's queried-key set packs into ceil(n/64) longs
via ONE bounded pass over the literal-IN-pruned posting, and set
predicates (intersection size, subset, disjointness) become per-row
bitwise ops over a broadcast pair enumeration — replacing corpus-sized
join fan-out aggregates on dense (near-uniform document-frequency)
corpora where almost every (query, doc) pair shares a key. The
broadcast query-mask table grows with the batch, so the dense plans are
taken only while it fits ``MAX_QUERY_MASK_BYTES``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def bit_rows(values: list) -> list:
    """(value, bucket, bitval) rows assigning bit i of bucket i//64 to
    ``values[i]``. Bit 63 wraps to the sign bit (bitwise AND / OR /
    bit_count are two's-complement-safe in Spark longs)."""
    rows = []
    for i, v in enumerate(values):
        bit = 1 << (i % 64)
        if bit >= 1 << 63:
            bit -= 1 << 64
        rows.append((v, i // 64, bit))
    return rows


def n_buckets(values: list) -> int:
    return (len(values) + 63) // 64


# cap on the broadcast query-mask table, |queries| x ceil(keys/64) longs:
# a batch of 4096 keys (64 longs a mask) admits 131,072 query masks
MAX_QUERY_MASK_BYTES = 64 << 20


def query_masks_fit(n_queries: int, keys: list) -> bool:
    """Whether a batch's packed query masks stay within
    ``MAX_QUERY_MASK_BYTES``; over it the engines take their sparse plan."""
    return n_queries * n_buckets(keys) * 8 <= MAX_QUERY_MASK_BYTES


def mask_aggs(nb: int, prefix: str, when: Column | None = None) -> list:
    """bit_or aggregation expressions packing (__b, __v) rows into ``nb``
    long columns ``__<prefix>0..``; rows failing ``when`` (or carrying a
    NULL position from an explode_outer of an empty set) contribute 0."""
    out = []
    for b in range(nb):
        cond = F.col("__b") == b
        if when is not None:
            cond = cond & when
        out.append(
            F.bit_or(
                F.when(cond, F.col("__v")).otherwise(F.lit(0).cast("long"))
            ).alias(f"__{prefix}{b}")
        )
    return out


def popcount_and(nb: int, a: str, b: str) -> Column:
    """|A ∩ B| over two packed masks (column prefixes ``a``, ``b``)."""
    return sum(
        F.bit_count(F.col(f"__{a}{i}").bitwiseAND(F.col(f"__{b}{i}")))
        for i in range(nb)
    )


def superset_of(nb: int, doc: str, need: str) -> Column:
    """doc mask ⊇ need mask (every required bit present)."""
    cond = F.lit(True)
    for i in range(nb):
        d, n = F.col(f"__{doc}{i}"), F.col(f"__{need}{i}")
        cond = cond & (d.bitwiseAND(n) == n)
    return cond


def disjoint_from(nb: int, doc: str, ban: str) -> Column:
    """doc mask ∩ ban mask == ∅ (no excluded bit present)."""
    cond = F.lit(True)
    for i in range(nb):
        d, x = F.col(f"__{doc}{i}"), F.col(f"__{ban}{i}")
        cond = cond & (d.bitwiseAND(x) == F.lit(0).cast("long"))
    return cond


def doc_masks(
    posting: DataFrame, pos: DataFrame, key: str, nb: int, prefix: str
) -> DataFrame:
    """Pack each document's queried-key set: posting (already pruned to
    the batch's keys) ⋈ broadcast bit table -> groupBy(doc) bit_or."""
    return (
        posting.join(F.broadcast(pos), key)
        .groupBy("doc_id")
        .agg(*mask_aggs(nb, prefix))
    )
