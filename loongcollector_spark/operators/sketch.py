"""Mergeable sketches: HyperLogLog distinct-count and deterministic
uniform sampling.

At 10^12 rows, ``COUNT(DISTINCT x)`` is a full shuffle of every
distinct value; the HLL sketch replaces it with ``2^p`` one-byte
registers that merge with ``max`` — the shuffle carries *registers*,
not values, and partial aggregation collapses each map task to one
register set before anything moves.  Spark ships
``approx_count_distinct`` (its own HLL++); this operator exists because
the pipeline's correctness gate demands an ENGINE-PORTABLE sketch: in
md5 mode Spark and DuckDB compute bit-identical registers from the
shared md5 hash kernel, so the estimate itself — not just some
tolerance band — is value-checkable cross-engine.  Flajolet et al.
2007 (HyperLogLog) with the standard small-range linear-counting
correction.

``uniform_sample`` is the RNG-free companion: "give me n uniformly
random rows" as *the n smallest hashes* — reproducible across reruns,
resumes, and cluster sizes (same property as text.stratified_sample,
which keeps a *fraction* per stratum; this keeps an exact *count*
globally).

Every operator here takes ``hash_mode``: ``xxhash64`` (the default,
production) or ``md5`` (the engine-portable oracle kernel); the
kernels and their choice live in :mod:`..functions.hashing`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import hashing

__all__ = [
    "hll_distinct",
    "uniform_sample",
    "cms_build",
    "cms_estimate",
    "stratified_topn_sample",
    "split_assign",
    "score_sample",
    "hll_oracle_sql",
]


def _sample_key(id_col: str, salt: str):
    """NULL-safe ``id || salt`` hash input shared by the samplers.
    NULL ids coalesce to '' BEFORE the concat: a bare concat yields a
    NULL key, which sorts first under md5 (always sampled) but hashes
    to the seed under xxhash64 — breaking both uniformity and the
    md5/xxhash parity contract. With the coalesce, NULL-id rows get
    one deterministic hash in BOTH modes.

    Domain separation: each sampler has a DISTINCT default salt
    ("uniform"/"topn"/"score"; split_assign keeps '' as the primary
    split axis), so composing two samplers with defaults draws
    independent hashes — with a SHARED salt the keep decision and the
    split assignment would be the same number, silently annihilating
    whole splits (e.g. score_sample keeping only the low-bucket
    splits of split_assign)."""
    return F.concat(
        F.coalesce(F.col(id_col).cast("string"), F.lit("")), F.lit(salt)
    )


def _order_hash(key, hash_mode: str):
    """Non-negative deterministic ordering hash of a key column for
    the exactly-n samplers: a negative ordering key would always sort
    first regardless of salt (ADVICE r3). md5 values are below the
    modulus, so they are their own bucket."""
    return hashing.bucket(key, (1 << 63) - 1, hash_mode)


def _alpha(m: int) -> float:
    if m <= 16:
        return 0.673
    if m <= 32:
        return 0.697
    if m <= 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


def hll_distinct(
    df: DataFrame,
    col: str,
    *,
    p: int = 12,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """HyperLogLog distinct estimate of *col* — returns ONE row
    ``(n_est, n_registers_used)``.

    The kernel's ``bits``-bit hash (64, or 60 for md5) splits into a
    low-``p``-bit bucket and a ``bits-p``-bit remainder (an unsigned
    shift: xxhash64 spans the signed range); the register value is the
    remainder's leading-zero count + 1, computed EXACTLY via the
    binary-string length (``bits + 1 - p - length(bin(rem))``) — both
    engines produce the same string, so no float ``log2`` edge cases.
    Registers are a ``groupBy(bucket).max`` — mergeable, partial-aggregated map-side;
    the shuffle carries ≤ 2^p rows per map task regardless of input
    size.  Standard bias correction: ``E = α·m²/Σ2^{-M_j}`` with empty
    buckets contributing ``2^0``, switched to linear counting
    ``m·ln(m/V)`` when ``E ≤ 2.5m`` and V (empty buckets) > 0.
    """
    if not 4 <= p <= 18:
        raise ValueError("hll_distinct: p must be in [4, 18]")
    m = 1 << p
    # NULLs hash to NULL → a phantom max-rho register; COUNT(DISTINCT)
    # and approx_count_distinct both ignore NULLs, so we do too
    df = df.filter(F.col(col).isNotNull())
    h = hashing.hash64(F.col(col).cast("string"), hash_mode)
    bucket = h.bitwiseAND(F.lit(m - 1)).alias("__b")
    rem = F.shiftrightunsigned(h, p)
    width = hashing.bits(hash_mode) - p
    rho = F.when(
        rem > 0, F.lit(width + 1) - F.length(F.bin(rem))
    ).otherwise(F.lit(width + 1))
    regs = (
        df.select(bucket, rho.alias("__rho"))
        .groupBy("__b")
        .agg(F.max("__rho").alias("__M"))
    )
    agg = regs.agg(
        F.count("*").alias("__used"),
        F.sum(F.pow(F.lit(2.0), -F.col("__M"))).alias("__s"),
    )
    used = F.col("__used")
    # empty buckets contribute 2^0 = 1 each to the harmonic sum;
    # coalesce: an EMPTY input (zero registers) sums to NULL, which
    # would poison every downstream expression — with 0 it flows into
    # the linear-counting branch (V = m) and estimates exactly 0,
    # matching COUNT(DISTINCT) / approx_count_distinct
    total = F.coalesce(F.col("__s"), F.lit(0.0)) + (F.lit(m) - used)
    e_raw = F.lit(_alpha(m) * m * m) / total
    v = F.lit(m) - used  # zero-valued registers
    est = F.when(
        (e_raw <= 2.5 * m) & (v > 0), F.lit(m) * F.log(F.lit(m) / v)
    ).otherwise(e_raw)
    return agg.select(
        est.alias("n_est"), used.cast("long").alias("n_registers_used")
    )


def hll_oracle_sql(table: str, col: str, *, p: int = 12) -> str:
    """DuckDB twin of :func:`hll_distinct` in md5 mode — identical
    registers from the same md5 kernel, same binary-string
    leading-zero trick, same corrections."""
    m = 1 << p
    a = _alpha(m)
    hv = hashing.MD5_SQL.format(x=f"CAST({col} AS VARCHAR)")
    return f"""
    WITH h AS (
      SELECT {hv} AS hv
      FROM {table} WHERE {col} IS NOT NULL
    ),
    r AS (
      SELECT hv % {m} AS b,
             max(CASE WHEN (hv >> {p}) > 0
                      THEN {61 - p} - length(bin(hv >> {p}))
                      ELSE {61 - p} END) AS M
      FROM h GROUP BY 1
    ),
    s AS (
      -- coalesce: empty input sums to NULL (same hole as the Spark
      -- side); 0 flows into linear counting and estimates exactly 0
      SELECT count(*) AS used, coalesce(sum(pow(2.0, -M)), 0.0) AS sm FROM r
    )
    SELECT CASE WHEN (CAST({a} AS DOUBLE) * {m} * {m})
                     / (sm + ({m} - used)) <= 2.5 * {m}
                 AND ({m} - used) > 0
                THEN {m} * ln(CAST({m} AS DOUBLE) / ({m} - used))
                ELSE (CAST({a} AS DOUBLE) * {m} * {m})
                     / (sm + ({m} - used)) END AS n_est,
           CAST(used AS BIGINT) AS n_registers_used
    FROM s
    """


def uniform_sample(
    df: DataFrame,
    n: int,
    *,
    id_col: str = "doc_id",
    salt: str = "uniform",
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Exactly-*n* uniform sample without RNG: keep the *n* rows whose
    ``hash(id || salt)`` is smallest (ties broken by id).  The same
    rows are selected on every rerun, every resume, and every cluster
    size; a different *salt* draws an independent sample.

    Plan shape: ``TakeOrderedAndProject`` — each partition keeps a
    local top-*n*, the driver merges ``n`` per partition; fine for the
    sample sizes this is for (≤ millions).
    """
    if n <= 0:
        raise ValueError("uniform_sample: n must be positive")
    key = _sample_key(id_col, salt)
    h = _order_hash(key, hash_mode)
    return (
        df.withColumn("__h", h)
        .orderBy("__h", id_col)
        .limit(n)
        .drop("__h")
    )


def _cms_cells(col, width: int, depth: int, hash_mode: str):
    """``(depth, bucket)`` struct per hash row of *col*: bucket ``d`` is
    the depth-``d`` seeded hash of the value (:func:`hashing.seeded`,
    md5 of ``value#d``) mod *width*."""
    s = F.coalesce(col.cast("string"), F.lit(""))
    return [
        F.struct(
            F.lit(d).alias("depth"),
            F.pmod(h, F.lit(width)).cast("long").alias("bucket"),
        )
        for d, h in enumerate(hashing.seeded(s, range(depth), hash_mode, "#"))
    ]


def cms_build(
    df: DataFrame,
    col: str,
    *,
    width: int = 1024,
    depth: int = 4,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Count-Min sketch of *col* (Cormode & Muthukrishnan 2005):
    ``depth`` hash rows × ``width`` buckets, returned as the sparse
    cell table ``(depth, bucket, cnt)`` — at most ``depth·width`` rows
    however large the input.

    Scale/merge shape: each input row expands to ``depth`` (depth,
    bucket) cells IN THE SAME STAGE as the partial hash aggregation,
    so the shuffle carries ≤ depth·width rows per map task regardless
    of input size (the same partial-agg argument as hll_distinct).
    Two sketches merge by summing cells — union + re-groupBy — which
    is how per-day or per-stream sketches roll up without rescanning.
    """
    if width < 2 or depth < 1:
        raise ValueError("cms_build: need width >= 2 and depth >= 1")
    cells = F.explode(F.array(*_cms_cells(F.col(col), width, depth, hash_mode)))
    return (
        df.select(cells.alias("__c"))
        .select("__c.depth", "__c.bucket")
        .groupBy("depth", "bucket")
        .agg(F.count("*").alias("cnt"))
    )


def cms_estimate(
    sketch: DataFrame,
    probes: DataFrame,
    col: str,
    *,
    width: int = 1024,
    depth: int = 4,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Point-query the sketch: per probe item, ``est = min over the
    depth rows of its bucket counts`` (missing cell = 0). Guarantees
    ``est ≥ true count``; overestimate bounded by εN with
    ε = e/width at the standard depth = ln(1/δ).

    The sketch is ≤ depth·width rows — broadcast to the probe side, so
    estimating any number of items is one broadcast join + groupBy.
    """
    cells = F.explode(F.array(*_cms_cells(F.col("item"), width, depth, hash_mode)))
    pb = (
        probes.select(F.col(col).alias("item"))
        .select("item", cells.alias("__c"))
        .select("item", "__c.depth", "__c.bucket")
    )
    joined = pb.join(F.broadcast(sketch), ["depth", "bucket"], "left")
    return joined.groupBy("item").agg(
        F.min(F.coalesce(F.col("cnt"), F.lit(0))).cast("long").alias("est")
    )


def stratified_topn_sample(
    df: DataFrame,
    strata_col: str,
    n: int,
    *,
    id_col: str = "doc_id",
    salt: str = "topn",
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Exactly-*n*-per-stratum deterministic sample — the eval-set
    builder ("give me 1000 random docs per language"), RNG-free like
    :func:`uniform_sample`: within each stratum keep the *n* rows with
    the smallest ``hash(id || salt)``. Rerun-, resume- and
    parallelism-invariant; a different *salt* draws an independent
    sample. Strata smaller than *n* come back whole.

    Scale shape: ``row_number() <= n`` over (stratum, hash) triggers
    Spark's WindowGroupLimit pushdown — each map task keeps only its
    local top-n per stratum BEFORE the shuffle (plan-pinned), so a
    billion-row stratum moves ~n rows per task, not the stratum.
    """
    from pyspark.sql import Window as W

    if n < 1:
        raise ValueError("stratified_topn_sample: n must be >= 1")
    key = _sample_key(id_col, salt)
    h = _order_hash(key, hash_mode)
    w = W.partitionBy(strata_col).orderBy(h.asc(), F.col(id_col).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n)
        .drop("__rn")
    )


def split_assign(
    df: DataFrame,
    splits: dict[str, float],
    *,
    id_col: str = "doc_id",
    salt: str = "",
    hash_mode: str = "xxhash64",
    precision: int = 1_000_000,
    dest: str = "split",
) -> DataFrame:
    """Deterministic train/val/test split assignment — the step every
    training pipeline runs before anything else. Each row's split is a
    pure function of ``hash(id || salt)``: hash into ``[0, precision)``
    and walk cumulative fraction thresholds in sorted split-name
    order. No RNG, no state — the same document lands in the same
    split on every rerun, every resume, and every cluster size, and
    adding MORE data later never moves an existing document across
    splits (the property randomSplit cannot give you, since its
    per-partition seeding reshuffles assignments when partitioning
    changes). A different *salt* draws an independent partition.

    *splits* maps name → fraction; fractions must sum to ≤ 1 (any
    remainder falls into the LAST sorted split, so exact-sum configs
    are total). Scale shape: one codegen projection, no shuffle; a
    downstream ``filter(split = 'train')`` pushes to the scan.
    """
    if not splits:
        raise ValueError("split_assign: splits must be non-empty")
    if any(f < 0 for f in splits.values()):
        raise ValueError("split_assign: fractions must be >= 0")
    total = sum(splits.values())
    if total > 1.0 + 1e-9:
        raise ValueError("split_assign: fractions sum to > 1")
    bucket = hashing.bucket(_sample_key(id_col, salt), precision, hash_mode)
    names = sorted(splits)
    expr = None
    cum = 0.0
    for name in names[:-1]:
        cum += splits[name]
        cond = bucket < F.lit(int(round(cum * precision)))
        expr = (
            F.when(cond, F.lit(name))
            if expr is None
            else expr.when(cond, F.lit(name))
        )
    last = F.lit(names[-1])
    expr = last if expr is None else expr.otherwise(last)
    return df.withColumn(dest, expr)


def score_sample(
    df: DataFrame,
    score_col: str,
    *,
    id_col: str = "doc_id",
    power: float = 1.0,
    salt: str = "score",
    hash_mode: str = "xxhash64",
    precision: int = 1_000_000,
) -> DataFrame:
    """Quality-weighted soft sampling (the FineWeb-Edu / RefinedWeb
    move): instead of a hard score threshold, keep each row with
    probability ``clamp(score, 0, 1) ** power`` — deterministically,
    by comparing ``hash(id || salt) / precision`` against the powered
    score. High-quality documents survive almost surely, mid-quality
    ones thin out smoothly, junk disappears; *power* sharpens the
    curve. Same no-RNG reproducibility contract as
    :func:`split_assign` / ``stratified_sample``: rerun-, resume- and
    parallelism-invariant, salt draws an independent sample.

    NULL scores are treated as 0 (dropped). Pure column expressions —
    the keep predicate pushes into the scan.
    """
    if power <= 0:
        raise ValueError("score_sample: power must be > 0")
    bucket = hashing.bucket(_sample_key(id_col, salt), precision, hash_mode)
    s = F.coalesce(F.col(score_col).cast("double"), F.lit(0.0))
    p = F.pow(F.least(F.greatest(s, F.lit(0.0)), F.lit(1.0)), F.lit(power))
    return df.filter(bucket < p * F.lit(precision))
