"""Cross-engine deterministic hashing (MinHash family).

The shared 60-bit base hash is the first 15 hex digits of md5 (both engines
hash the UTF-8 bytes), reduced mod ``HASH_P``; MinHash permutations are
``(a*h + b) mod P`` with fixed constants. All arithmetic stays below 2^63
(a,h < P ≈ 2^30 ⇒ a*h < 2^60), so ANSI mode never overflows and Spark and
DuckDB produce bit-identical integers.

This is the scale path for near-dup detection: signatures are computed in
one pass (no UDF), LSH banding turns the O(n²) pair search into an
equi-join on (band, band_hash) — a plain shuffle join Catalyst can plan,
AQE-skew-splittable, at 10^12 rows.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

__all__ = [
    "HASH_P",
    "MINHASH_A",
    "MINHASH_B",
    "md5_prefix_hash",
    "md5_prefix_hash_sql",
    "minhash_signature_sql",
    "band_hash",
    "band_hash_sql",
]

HASH_P = 1_000_000_007

# fixed odd multipliers / offsets (deterministic, no RNG at plan time)
MINHASH_A = [
    727_374_733, 941_083_987, 512_927_357, 363_584_693,
    163_227_661, 834_587_113, 298_154_327, 658_954_711,
    414_507_281, 902_608_661, 129_316_573, 777_767_777,
    555_555_581, 246_803_579, 135_792_469, 987_654_323,
]
MINHASH_B = [
    886_491_593, 513_131_117, 730_810_537, 187_278_659,
    363_587_833, 415_352_833, 918_273_645, 192_837_465,
    564_738_291, 837_465_921, 273_645_819, 645_819_273,
    111_111_113, 222_222_227, 333_333_331, 444_444_443,
]


def md5_prefix_hash(col: Column) -> Column:
    """60-bit integer hash of a string column, reduced mod HASH_P."""
    return (
        F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long") % HASH_P
    )


def md5_prefix_hash_sql(expr: str) -> str:
    """DuckDB fragment computing the identical value."""
    return (
        f"(cast(concat('0x', substr(md5({expr}), 1, 15)) as bigint) % {HASH_P})"
    )


def minhash_signature_sql(shingles_expr: str, k: int) -> str:
    assert k <= len(MINHASH_A)
    h = md5_prefix_hash_sql("s")
    mins = ", ".join(
        "list_aggregate(list_transform({sh}, s -> ({a} * {h} + {b}) % {p}), 'min')".format(
            sh=shingles_expr, a=MINHASH_A[i], b=MINHASH_B[i], h=h, p=HASH_P
        )
        for i in range(k)
    )
    return f"[{mins}]"


def band_hash(sig_col: Column, band: int, rows_per_band: int) -> Column:
    """Combine one LSH band of the signature into a single join key."""
    combined = F.lit(0).cast("long")
    for r in range(rows_per_band):
        combined = (combined * 31 + sig_col[band * rows_per_band + r]) % HASH_P
    return combined


def band_hash_sql(sig_expr: str, band: int, rows_per_band: int) -> str:
    combined = "0"
    for r in range(rows_per_band):
        # DuckDB lists are 1-indexed
        combined = f"(({combined}) * 31 + {sig_expr}[{band * rows_per_band + r + 1}]) % {HASH_P}"
    return combined
