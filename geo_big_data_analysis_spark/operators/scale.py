"""Scale-path physical strategies: bucketed co-located joins and
skew-salted shuffles (SURVEY §4's '100 TB design' items).

These aren't reference operators — they're the physical techniques that
keep the reference's *logical* operators viable at 1000-executor scale:

- **Bucketing** (``write_bucketed`` / ``read_bucketed``): persist a fact
  table pre-hash-partitioned and sorted on its join key; a join between
  two tables bucketed the same way runs with ZERO Exchange (verified by
  tests/test_scale.py asserting no Exchange in the physical plan). At
  100 TB, that's the difference between an all-to-all shuffle of the
  fact table per query and none.
- **Salted aggregation** (``salted_agg_count``): two-phase aggregate for
  power-law keys — phase 1 aggregates on (key, salt) spreading one hot
  key over N reducers, phase 2 combines the N partials. Spark's AQE
  skew handling covers *joins*; aggregation skew still wants explicit
  salt when one key dominates.
- **Salted join** (``salted_join_inner``): replicate the small side N×
  with explicit salt so a skewed big-side key fans across N tasks.
  Prefer ``F.broadcast`` when the small side fits in memory — salting
  is for the mid-size case (too big to broadcast, too skewed to hash
  cleanly).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: Sequence[str],
    num_buckets: int = 32,
) -> None:
    """Persist as a bucketed+sorted managed table (Parquet). Both sides
    of a recurring equi-join bucketed identically ⇒ shuffle-free joins."""
    (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(num_buckets, *bucket_cols)
        .sortBy(*bucket_cols)
        .saveAsTable(table)
    )


def read_bucketed(spark: SparkSession, table: str) -> DataFrame:
    return spark.table(table)


def _salt(n: int) -> Column:
    # deterministic per-row salt: stable under retries (rand() is not),
    # uniform enough to spread a hot key across n reducers
    return F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(n))


def salted_agg_count(df: DataFrame, key: str, n_salts: int = 16) -> DataFrame:
    """Two-phase skew-safe group-count: (key, salt) partial counts, then
    combine partials per key. Output equals ``groupBy(key).count()``."""
    partial = (
        df.withColumn("_salt", _salt(n_salts))
        .groupBy(key, "_salt")
        .agg(F.count(F.lit(1)).alias("_partial"))
    )
    return partial.groupBy(key).agg(F.sum("_partial").cast("bigint").alias("count"))


def salted_join_inner(big: DataFrame, small: DataFrame, key: str) -> DataFrame:
    """Inner equi-join resilient to big-side key skew: the big side gets
    a random-ish salt, the small side is replicated once per salt value,
    and the join key becomes (key, salt) — a hot key's rows land in 16
    tasks instead of one straggler."""
    salts = F.explode(F.sequence(F.lit(0), F.lit(15))).alias("_salt")
    small_rep = small.select("*", salts)
    big_salted = big.withColumn("_salt", _salt(16))
    return big_salted.join(small_rep, [key, "_salt"]).drop("_salt")


#: Bloom filter size and hash count, shared by the bitmap build and the
#: probe so the two always agree.
BLOOM_BITS = 2048
BLOOM_HASHES = 3


def bloom_bitmap(keys: DataFrame, key_col: str) -> DataFrame:
    """Build a Bloom-filter bitmap from a key column, as a DataFrame of
    (word_idx, mask) rows — 32 bits per word so masks stay far from
    bigint sign/overflow territory on every engine.

    Hashes are md5-prefix (engine-neutral, deterministic): position_i =
    int(md5(key || '#' || i)[:15 hex]) mod BLOOM_BITS. The build is one
    explode (k rows per key) + one bit_or aggregation — fully
    distributed, output is BLOOM_BITS/32 rows regardless of key count.

    This is the explicit form of the runtime-filter/semi-join-reduction
    technique (Spark's own runtime row-group filtering, Bloom join
    pruning in warehouse engines): at 100 TB, shipping a few-KB bitmap
    to prune a fact-table scan before the shuffle beats shuffling rows
    that a later join will drop.
    """
    pos_rows = []
    for i in range(BLOOM_HASHES):
        h = F.conv(
            F.substring(
                F.md5(F.concat(F.col(key_col).cast("string"), F.lit(f"#{i}"))), 1, 15
            ),
            16,
            10,
        ).cast("bigint")
        pos_rows.append((h % BLOOM_BITS).alias(f"p{i}"))
    pos = keys.select(*pos_rows)
    stacked = pos.select(
        F.explode(F.array(*[F.col(f"p{i}") for i in range(BLOOM_HASHES)])).alias("pos")
    )
    return (
        stacked.select(
            (F.col("pos") / 32).cast("int").alias("word_idx"),
            # the shiftleft Python wrapper wants a literal shift; the SQL
            # function takes a column — 1L base keeps the mask bigint
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))").alias("bit"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("bit").alias("mask"))
    )


def bloom_flag(facts: DataFrame, key_col: str, bitmap: DataFrame) -> DataFrame:
    """Annotate ``facts`` with a ``bloom_pass`` boolean: definite-reject
    / probable-accept against the bitmap. The tiny bitmap broadcasts
    once per hash function (k broadcast equi-joins on word_idx);
    everything stays in codegen — no UDF, no collect. A word absent
    from the bitmap means no dim key set any of its bits → reject
    (coalesce mask to 0)."""
    out = facts
    passed = F.lit(True)
    for i in range(BLOOM_HASHES):
        h = F.conv(
            F.substring(
                F.md5(F.concat(F.col(key_col).cast("string"), F.lit(f"#{i}"))), 1, 15
            ),
            16,
            10,
        ).cast("bigint")
        pos = h % BLOOM_BITS
        out = out.withColumn(f"_w{i}", (pos / 32).cast("int")).withColumn(
            f"_b{i}", (pos % 32).cast("int")
        )
        bm = bitmap.select(
            F.col("word_idx").alias(f"_w{i}"), F.col("mask").alias(f"_m{i}")
        )
        out = out.join(F.broadcast(bm), f"_w{i}", "left")
        passed = passed & F.expr(
            f"shiftright(coalesce(_m{i}, CAST(0 AS BIGINT)), _b{i}) % 2 = 1"
        )
    drop_cols = [c for i in range(BLOOM_HASHES) for c in (f"_w{i}", f"_b{i}", f"_m{i}")]
    return out.withColumn("bloom_pass", passed).drop(*drop_cols)


def bloom_probe(facts: DataFrame, key_col: str, bitmap: DataFrame) -> DataFrame:
    """Filter ``facts`` to rows whose key passes the Bloom bitmap."""
    return (
        bloom_flag(facts, key_col, bitmap)
        .filter(F.col("bloom_pass"))
        .drop("bloom_pass")
    )


def frequent_items(
    df: DataFrame, keys: list[str], support: float
) -> DataFrame:
    """Exact heavy hitters above a relative support threshold, computed
    distributed-sketch-style in two passes:

    1. **Candidate phase** — per-partition exact counts; an item is a
       candidate iff its count in SOME partition exceeds
       support × (partition size). Pigeonhole guarantee: if an item's
       global freq > support·n, then Σ freq_p > support·Σ n_p forces
       freq_p > support·n_p in at least one partition — so the
       candidate set provably contains every true heavy hitter, on ANY
       partitioning. (This is the SpaceSaving/Misra-Gries candidate
       bound with per-partition exact counting standing in for the
       bounded-memory sketch; swap the local counter for a real MG
       sketch when per-partition cardinality can't be counted exactly.)
    2. **Recount phase** — exact global counts of candidates only
       (left-semi pruned), filtered at support·n.

    Output is therefore EXACTLY the items with freq > support·n —
    partition-count-independent, which is what lets a plain SQL
    HAVING clause oracle-check a partition-aware algorithm."""
    pid = F.spark_partition_id()
    local = (
        df.withColumn("_pid", pid)
        .groupBy("_pid", *keys)
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    ptot = local.groupBy("_pid").agg(F.sum("_c").alias("_np"))
    cand = (
        local.join(ptot, "_pid")
        .filter(F.col("_c") > F.lit(support) * F.col("_np"))
        .select(*keys)
        .distinct()
    )
    exact = (
        df.join(F.broadcast(cand), keys, "left_semi")
        .groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    total = df.agg(F.count(F.lit(1)).alias("_n"))
    return (
        exact.join(F.broadcast(total))
        .filter(F.col("freq") > F.lit(support) * F.col("_n"))
        .drop("_n")
    )
