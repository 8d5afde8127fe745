"""Content-hashing kernels: exact fingerprints, MinHash, SimHash.

Reference parity:

- D1 content-hash dedup (``utils/common_functions_raw.py:198-219``) hashes
  ``sha2(to_json(struct(*cols)), 256)``. That spec is ambiguous (``to_json``
  drops null fields, so null-vs-absent collide — SURVEY §2.8). The
  raw→staging pipeline no longer hashes at all: its D1
  (``operators/cleaning.dedup_by_content_hash``) groups on the row's own
  columns, with the same groups as this key. ``content_hash_sha256`` stays
  as the reference recipe that equivalence is tested against.
  ``content_fingerprint`` is the fixed spec for tables that need a stored
  row key: it pins column order and null handling explicitly via
  ``concat_ws`` over null-coalesced string casts, which is deterministic
  and replay-stable.

MinHash / SimHash extend the same dedup surface to near-duplicates for
training-data curation (SURVEY §7.2 phase 9). Everything is built from
``xxhash64`` (JVM-side, codegen'd) over array columns — no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_NULL_SENTINEL = " <NULL> "


def content_hash_sha256(cols: list[str]) -> Column:
    """The reference's exact D1 recipe: sha2(to_json(struct(cols)), 256).

    Kept for parity (the D1 dedup is tested against it); prefer
    :func:`content_fingerprint` for new tables (to_json silently drops
    null fields, so {"a":null} and {} collide).
    """
    return F.sha2(F.to_json(F.struct(*[F.col(c) for c in cols])), 256)


def content_fingerprint(cols: list[str]) -> Column:
    """Deterministic row fingerprint with pinned column order + null spec.

    ``md5(concat_ws(sep, coalesce(cast(c as string), sentinel)...))`` —
    null and empty-string hash differently, column order is the caller's
    list order, and the recipe is reproducible in any engine (the duckdb
    oracle uses the identical expression).
    """
    parts = [
        F.coalesce(F.col(c).cast("string"), F.lit(_NULL_SENTINEL)) for c in cols
    ]
    return F.md5(F.concat_ws("", *parts))


def minhash_signature(shingles: Column, num_hashes: int = 32) -> Column:
    """MinHash signature (array<long>) of a set-valued (array<string>) column.

    Hash family: ``xxhash64(shingle, i)`` for i in 0..num_hashes-1 — seeding
    xxhash64 with a per-function literal is the standard cheap way to get an
    indexed family without affine (a*x+b) % p arithmetic. All JVM-side:
    ``transform`` + ``array_min`` per hash function.

    Empty shingle sets get a signature of nulls (array_min of empty array),
    which never collides into a band bucket.
    """
    def _hasher(seed: int):
        # Arity-1 lambda is mandatory: a 2-arg lambda would receive the array
        # index as its second argument, overriding a defaulted seed.
        return lambda s: F.xxhash64(s, F.lit(seed))

    sigs = [
        F.array_min(F.transform(shingles, _hasher(i))) for i in range(num_hashes)
    ]
    return F.array(*sigs)


def simhash64(tokens: Column) -> Column:
    """64-bit SimHash of an array<string> token column, as a long.

    For each of the 64 bit positions, sum +1/-1 votes of each token's
    ``xxhash64`` bit, then take the sign. Expressed with ``aggregate`` over
    the token array per bit — JVM-side, no UDF. O(64·n_tokens) per row.
    """
    def _vote(bit: int):
        # Strictly 2-arg merge lambda; the bit index must be closed over, not
        # defaulted (a 3rd parameter would capture an implicit Column).
        return lambda acc, t: acc + F.when(
            F.shiftright(F.xxhash64(t), bit).bitwiseAND(F.lit(1)) == 1, F.lit(1)
        ).otherwise(F.lit(-1))

    bits = []
    for b in range(64):
        # vote_b = sum over tokens of (bit b set ? 1 : -1)
        vote = F.aggregate(tokens, F.lit(0).cast("long"), _vote(b))
        bits.append(F.when(vote > 0, F.shiftleft(F.lit(1).cast("long"), b)).otherwise(F.lit(0).cast("long")))
    out = bits[0]
    for p in bits[1:]:
        out = out.bitwiseOR(p)
    return out


def simhash64_portable(tokens: Column) -> Column:
    """64-bit SimHash whose per-token hash is ``md5`` hex — computable
    bit-identically in DuckDB (or any engine with md5/strpos), which
    makes a SimHash pipeline hash-oracle-checkable END-TO-END: the
    q284 cross-engine hash-family trick applied to near-dup detection.
    ``simhash64`` (xxhash64-based) stays the default production kernel;
    this variant trades a slightly costlier per-token hash for
    auditability.

    Bit ``b``'s vote reads bit ``b%4`` of hex nibble ``b//4`` of each
    token's md5 (nibble value via ``conv(hexchar,16,10)`` here /
    ``strpos('0123456789abcdef', c)-1`` in SQL — identical results).
    Vote > 0 ⇒ bit set. Bit 63's mask is the literal −2⁶³ (both engines
    reject ``1<<63`` or wrap it; a literal is unambiguous). Empty token
    arrays yield simhash 0 in both engines (empty-sum ⇒ all votes 0).
    """
    hexes = F.transform(tokens, lambda t: F.md5(t))

    def _voter(nib: int, sh: int):
        # Strictly 2-arg merge lambda: nib/sh must be closed over, not
        # defaulted — PySpark counts defaulted params in the HOF arity.
        def _vote(acc, h):
            v = F.conv(F.substring(h, nib, 1), 16, 10).cast("int")
            return acc + F.when(
                F.shiftright(v, sh).bitwiseAND(F.lit(1)) == 1, F.lit(1)
            ).otherwise(F.lit(-1))

        return _vote

    bits = []
    for b in range(64):
        vote = F.aggregate(hexes, F.lit(0).cast("long"), _voter(b // 4 + 1, b % 4))
        mask = (1 << b) if b < 63 else -(1 << 63)
        bits.append(
            F.when(vote > 0, F.lit(mask).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        )
    out = bits[0]
    for p in bits[1:]:
        out = out.bitwiseOR(p)
    return out


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit longs via bit_count(xor)."""
    return F.bit_count(a.bitwiseXOR(b))


def hash_uniform(key: Column, salt: str) -> Column:
    """Seeded deterministic uniform draw in the OPEN interval (0, 1) —
    the cross-engine RNG substitute behind weighted sampling (q191's
    Efraimidis–Spirakis keys) and noise generation (q196's Laplace
    inverse-CDF).

    Recipe (each piece matters):
    - md5 (not xxhash64): portable — DuckDB computes the identical hash;
    - first 13 hex chars = 52 bits: fits a double's mantissa EXACTLY, so
      the int→double cast is lossless in both engines;
    - +0.5 before dividing by 2^52: maps {0,…,2^52−1} into (0,1) open —
      ln(u) and ln(1−2|u−0.5|) never see 0.

    DuckDB equivalent (keep in sync with any oracle using it)::

        (CAST(CAST(concat('0x', substr(md5(<salt> || key), 1, 13))
              AS BIGINT) AS DOUBLE) + 0.5) / 4503599627370496.0
    """
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(salt), key)), 1, 13), 16, 10
    ).cast("double")
    return (h + 0.5) / F.lit(float(1 << 52))
