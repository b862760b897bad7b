"""Interpreted higher-order-function twins of operators whose shipped
kernel was rewritten for whole-stage codegen: the semantic references
the agreement tests compare the shipped kernels against. Slow
(``aggregate``/``zip_with`` run interpreted); never a data path."""

from pyspark.sql import functions as F

from loongcollector_spark.operators.dedup import _norm_text, _sim_fingerprint


def simhash_hof(df, text_col="text", dest="simhash", bits=64):
    """Per-row twin of ``dedup.simhash``: the same tokens, xxhash64 and
    majority rule, folded with ``aggregate``/``zip_with``."""
    toks = F.array_distinct(F.split(_norm_text(F.col(text_col)), " "))
    hashes = F.transform(toks, lambda t: F.xxhash64(t))
    zero = F.array_repeat(F.lit(0), bits)
    bit_idx = F.sequence(F.lit(0), F.lit(bits - 1))
    counts = F.aggregate(
        hashes,
        zero,
        lambda acc, h: F.zip_with(
            acc,
            F.transform(bit_idx, lambda b: F.getbit(h, b).cast("int")),
            lambda a, v: a + v,
        ),
    )
    n = F.size(hashes)
    counts_idx = [counts.getItem(b) for b in range(bits)]
    return df.withColumn(dest, _sim_fingerprint(counts_idx, n, bits))


def split_log_regex_hof(df, source_key, start_pattern, dest_key=None):
    """``F.aggregate``-fold twin of ``parse.split_log_regex``."""
    dest = dest_key or source_key
    lines = F.split(F.col(source_key), "\n")
    blocks = F.aggregate(
        lines,
        F.array().cast("array<string>"),
        lambda acc, line: F.when(
            (F.size(acc) == 0) | line.rlike(start_pattern),
            F.concat(acc, F.array(line)),
        ).otherwise(
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(
                    F.concat(F.element_at(acc, -1), F.lit("\n"), line)
                ),
            )
        ),
    )
    return df.withColumn(dest, F.explode(blocks))
