"""Portable Bloom-filter semi-join reduction.

The 100 TB move: a selective dimension-side predicate should shrink
the FACT side before its shuffle. Spark's own runtime bloom
(``spark.sql.optimizer.runtime.bloomFilter.enabled``) does this
opportunistically; this module provides the EXPLICIT, engine-portable
version: build a bitmap from the small side's join keys (k md5-derived
bit positions per key) as a tiny (word, bits) table, broadcast it, and
pre-filter the big side with k broadcast-hash probes + getbit — no
UDF, no extra shuffle, and the filter sits below the big side's join
exchange, so pruned rows never shuffle.

Because the bit positions come from md5 (identical bytes in every
engine), the filter — INCLUDING its false positives — is
deterministic and cross-engine reproducible, so a graded query over
the bloom-reduced side hash-matches a DuckDB replay exactly. False
positives only ever ADD rows that a subsequent real join would drop;
the reduced join therefore equals the unfiltered join (asserted in
tests).

Scale shape: bitmap build = one pass over the SMALL side (explode k
positions, groupBy word index with bit_or — map-side combinable) into
a 2^m_bits/32-row word table that never visits the driver; membership
test = k hash evaluations + k broadcast-hash probes per big-side row,
all inside whole-stage codegen (measured at 20M rows: md5 9.0 s,
xxhash64 2.1 s, vs 66 s for a per-row literal-array probe).
Sizing: false-positive rate ~ (1 - e^(-k·n/m))^k — ~10-16 bits per
expected key gives ~1% at k=4.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# 15 hex digits = 60 bits, exact in BIGINT — the same md5-prefix trick
# as functions.sketch.kmv_hash, salted per hash function
_HEX_DIGITS = 15


def _position(col: Column, j: int, m_bits: int, hash_fn: str = "md5") -> Column:
    if hash_fn == "xxhash64":
        # ~6x cheaper per probe (one 64-bit JVM hash vs string md5 +
        # base-16 conv) — the PRODUCTION path when cross-engine
        # reproducibility isn't required; not oracle-able (xxhash64 is
        # engine-specific), so graded queries use md5
        return F.abs(F.xxhash64(col.cast("string"), F.lit(j))) % (2**m_bits)
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(col.cast("string"), F.lit(f"#bloom{j}"))),
                1,
                _HEX_DIGITS,
            ),
            16,
            10,
        ).cast("bigint")
        % (2**m_bits)
    )


def bloom_build(
    small: DataFrame,
    key_col: str,
    k: int = 4,
    m_bits: int = 16,
    hash_fn: str = "md5",
) -> list[int]:
    """The bitmap COLLECTED as ``2^m_bits / 32`` Python ints — only
    for small maps / offline storage; the filter path uses
    :func:`bloom_words` (never collected). Words hold 32 bits each:
    DuckDB raises on BIGINT ``1 << 63`` where Java wraps, so the
    portable encoding never shifts past bit 31."""
    arr = [0] * (2**m_bits // 32)
    for r in bloom_words(small, key_col, k, m_bits, hash_fn).collect():
        arr[int(r["w"])] = int(r["bits"])
    return arr


def bloom_might_contain(
    key: Column, bitmap: list[int], k: int = 4, m_bits: int = 16,
    hash_fn: str = "md5",
) -> Column:
    """Membership-test Column over the broadcast literal word array —
    ANDs the k probed bits via ``getbit``; pure codegen, no UDF.

    ``hash_fn`` MUST match the one the bitmap was built with
    (:func:`bloom_build`'s ``hash_fn``): probing an xxhash64-built
    bitmap with md5 positions (or vice versa) yields silent FALSE
    NEGATIVES, voiding the no-false-negative guarantee the reduced-join
    == unfiltered-join law rests on.

    The result is never NULL: each probe is coalesced to FALSE. With
    the default ``hash_fn="md5"`` a NULL ``key`` therefore returns
    FALSE. With ``"xxhash64"`` a NULL key still hashes (to the seed
    alone), so it may return TRUE, a false positive. Either way the
    reduced-join == unfiltered-join law holds, since a NULL key never
    matches an equi-join."""
    words = F.array(*[F.lit(int(w)).cast("long") for w in bitmap])
    cond = None
    for j in range(k):
        p = _position(key, j, m_bits, hash_fn)
        w = F.element_at(words, F.shiftright(p, 5).cast("int") + 1)
        # coalesce to FALSE so no isnotnull(md5...) constraint is
        # inferred and duplicated below exchanges (see bloom_semi_filter)
        c = F.coalesce(F.getbit(w, p % 32) == 1, F.lit(False))
        cond = c if cond is None else cond & c
    return cond


def bloom_words(
    small: DataFrame, key_col: str, k: int = 4, m_bits: int = 16,
    hash_fn: str = "md5",
) -> DataFrame:
    """The bitmap as a (w, bits) DataFrame — never collected. One
    map-side-combinable groupBy over the small side's k positions."""
    pos = F.explode(
        F.array(*[_position(F.col(key_col), j, m_bits, hash_fn) for j in range(k)])
    ).alias("p")
    return (
        small.select(pos)
        .select(
            F.shiftright("p", 5).alias("w"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 32 AS INT))").alias(
                "b"
            ),
        )
        .groupBy("w")
        .agg(F.bit_or("b").alias("bits"))
    )


def bloom_semi_filter(
    big: DataFrame,
    small: DataFrame,
    big_key: str,
    small_key: str | None = None,
    k: int = 4,
    m_bits: int = 16,
    hash_fn: str = "md5",
) -> DataFrame:
    """The composed reduction: build the bitmap from ``small``'s keys,
    pre-filter ``big`` to probable members. Follow with the real join;
    the filter only adds deterministic false positives the join drops.

    The probe is k BROADCAST hash joins against the ≤ 2^m_bits/32-row
    word table (one per hash function) rather than a per-row literal
    array: a giant array literal re-materializes per row — measured
    66 s for a 20M-row probe at m_bits=20 vs ~3 s for the join form —
    while broadcast-hash probes stay in whole-stage codegen and the
    bitmap never visits the driver at all."""
    words = bloom_words(small, small_key or big_key, k, m_bits, hash_fn)
    # widen a narrow scan first: the k md5 probes are the operator's
    # dominant CPU (~7 µs/row; measured 4.3 s on 3 tasks at sf0.1) and
    # run above this exchange; no-op on wide cluster scans
    from multi_sensor_data_pipeline_for_robotics__spark.sources.tables import (
        ensure_parallelism,
    )

    cur = ensure_parallelism(big)
    cond = None
    for j in range(k):
        p = _position(F.col(big_key), j, m_bits, hash_fn)
        cur = cur.withColumn(f"__bw{j}", F.shiftright(p, 5)).withColumn(
            f"__bp{j}", (p % 32).cast("int")
        )
        wj = words.select(
            F.col("w").alias(f"__bww{j}"), F.col("bits").alias(f"__bbits{j}")
        )
        cur = cur.join(
            F.broadcast(wj), F.col(f"__bw{j}") == F.col(f"__bww{j}"), "left"
        )
        # coalesce the probe to FALSE, deliberately: a bare
        # `getbit(...) == 1` is null-intolerant, so the optimizer INFERS
        # `isnotnull(__bp{j})` and pushes it below the widening
        # exchange — re-evaluating all k md5 positions on the narrow
        # scan for a predicate that can never be false (measured: a
        # 2.9 s few-task stage at sf0.1). The positions are never NULL,
        # so the value is unchanged.
        c = F.coalesce(
            F.getbit(F.coalesce(F.col(f"__bbits{j}"), F.lit(0)), F.col(f"__bp{j}"))
            == 1,
            F.lit(False),
        )
        cond = c if cond is None else cond & c
    aux = [f"__b{s}{j}" for j in range(k) for s in ("w", "p", "ww", "bits")]
    return cur.filter(cond).drop(*aux)


def bloom_oracle_sql(
    big_table: str,
    small_sql: str,
    big_key: str,
    small_key: str,
    k: int = 4,
    m_bits: int = 16,
) -> str:
    """DuckDB replay: rebuild the identical bitmap in a CTE and apply
    the identical membership test — same md5 positions, same words."""
    m = 2**m_bits

    def pos(expr: str, j: int) -> str:
        return (
            f"(CAST(concat('0x', substr(md5(concat(CAST({expr} AS VARCHAR),"
            f" '#bloom{j}')), 1, {_HEX_DIGITS})) AS BIGINT) % {m})"
        )

    small_pos = ", ".join(pos(small_key, j) for j in range(k))
    tests = []
    for j in range(k):
        p = pos(f"b.{big_key}", j)
        tests.append(
            f"(((SELECT bits FROM words WHERE w = ({p} >> 5))"
            f" >> CAST({p} % 32 AS INT)) & 1) = 1"
        )
    test = "\n  AND ".join(tests)
    return f"""
WITH skeys AS ({small_sql}),
pos AS (
    SELECT UNNEST([{small_pos}]) AS p FROM skeys
),
words AS (
    SELECT p >> 5 AS w,
           bit_or(CAST(1 AS BIGINT) << CAST(p % 32 AS INT)) AS bits
    FROM pos GROUP BY 1
)
SELECT * FROM {big_table} b
WHERE {test}
"""
