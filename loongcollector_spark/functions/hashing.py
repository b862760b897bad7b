"""The two hash kernels, and the one place that picks between them.

* ``xxhash64`` — the production kernel: one JVM hash over the full
  signed 64-bit range. ``xxhash64(NULL)`` is the seed, 42.
* ``md5`` — the engine-portable oracle kernel: the first 15 hex chars
  of md5 as a non-negative 60-bit long. DuckDB computes the same
  value from :data:`MD5_SQL`, so a pipeline run in this mode is
  value-checkable against its SQL oracle. md5 of NULL is NULL.

An operator takes ``hash_mode`` only where the hash reaches its
output: emitted, ordered by or bucketed on. Where a fingerprint is
only an equality key (grouping, joining, comparing), either kernel
gives the same result up to a 64-bit collision, so the operator calls
``F.xxhash64`` directly and takes no option.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = [
    "MD5_SQL",
    "bits",
    "bucket",
    "check",
    "hash64",
    "md5_long",
    "permutations",
    "seeded",
]

_BITS = {"xxhash64": 64, "md5": 60}

# DuckDB twin of md5_long; format with x=<SQL expression>
MD5_SQL = "CAST(('0x' || substr(md5({x}), 1, 15)) AS BIGINT)"


def check(hash_mode: str) -> str:
    """Return *hash_mode* if it names a kernel; raise ``ValueError``
    otherwise, when the plan is built, before any action runs."""
    if hash_mode not in _BITS:
        raise ValueError(
            f"unknown hash_mode {hash_mode!r}: expected 'xxhash64' or 'md5'"
        )
    return hash_mode


def md5_long(col: Column) -> Column:
    """Engine-portable 60-bit non-negative hash: the first 15 hex
    chars of md5 as a long. Costs md5 + a string slice + a base
    conversion where xxhash64 is one JVM hash; it exists so the same
    pipeline is value-verifiable, not for speed."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def bits(hash_mode: str) -> int:
    """Width of the kernel's hash: 64, or 60 for md5 (non-negative)."""
    return _BITS[check(hash_mode)]


def hash64(col: Column, hash_mode: str) -> Column:
    """The kernel's hash of *col*, a long."""
    return md5_long(col) if check(hash_mode) == "md5" else F.xxhash64(col)


def bucket(col: Column, modulus: int, hash_mode: str) -> Column:
    """Deterministic ``[0, modulus)`` bucket of *col*. pmod, never
    abs-then-mod: JVM ``abs(Long.MIN_VALUE)`` stays negative, which
    would give that row a negative bucket that passes every
    ``bucket < thresh`` check (ADVICE r3). md5 values are already
    non-negative, so pmod equals DuckDB's ``%`` on them."""
    return F.pmod(hash64(col, hash_mode), F.lit(modulus))


def seeded(col: Column, seeds, hash_mode: str, sep: str) -> list[Column]:
    """One independent hash of *col* per seed: md5 of
    ``col || sep || seed`` (the form the DuckDB oracles write), or
    ``xxhash64(col, seed)``."""
    if check(hash_mode) == "md5":
        return [md5_long(F.concat(col, F.lit(f"{sep}{s}"))) for s in seeds]
    return [F.xxhash64(col, F.lit(s)) for s in seeds]


def permutations(col: Column, n: int, hash_mode: str) -> list[Column]:
    """The *n* minhash permutation hashes of *col* (seeds ``1..n``).
    xxhash64 hashes *col* once and re-seeds that 8-byte hash per
    permutation; md5 hashes ``col || ':' || p``."""
    if check(hash_mode) == "xxhash64":
        col = F.xxhash64(col)
    return seeded(col, range(1, n + 1), hash_mode, ":")
