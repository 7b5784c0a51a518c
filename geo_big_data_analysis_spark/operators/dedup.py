"""Deduplication suite for large-scale corpus processing.

MinHash+LSH near-dup, SimHash, and n-gram Jaccard verification — the
operators a pretraining-data pipeline runs over the `documents` table.
All hash functions are Spark built-ins (xxhash64, md5) or integer
arithmetic, so every stage stays JVM-side and the shuffle keys are
integers.

This module is the one definition of the MinHash sketch: the modulus
:data:`MINHASH_P`, the permutation family (:func:`minhash_coeffs`), the
signature aggregate (:func:`minhash_signature`), the cross-engine
word-bigram shingle hash (:func:`bigram_hash_rows`) and the 2-row LSH
banding (:func:`band_rows`). The stored dedup index
(`sources/ann_index`), the registry's LSH queries and their DuckDB
oracles all build on these.

Scale shape: shingle→minhash is a map; LSH banding is a groupBy on a
band-hash (uniform integer key); candidate verification is an equi-join
on doc_id. No cross product ever materializes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import clean_text

# Mersenne prime 2^31-1: minhash permutations (a*x+b) mod P stay well
# below 2^63 (a,x < 2^31 → a*x < 2^62), so the arithmetic is exact AND
# ANSI-safe (no long overflow) — the driver runs queries on a vanilla
# ANSI-enabled Spark 4 session.
MINHASH_P = 2147483647


def minhash_coeffs(num_hashes: int) -> list[tuple[int, int]]:
    """The permutation family h ↦ (a_j·h + b_j) mod P, j < num_hashes:
    a_j = 2654435761·(j+1) mod P, b_j = 40503·(j+1) mod P. The DuckDB
    oracles replay the same integers, so signatures match bit for
    bit."""
    return [
        ((2654435761 * j) % MINHASH_P, (40503 * j) % MINHASH_P)
        for j in range(1, num_hashes + 1)
    ]


def minhash_signature(hash_col: str, num_hashes: int) -> Column:
    """Aggregate expression for a per-group MinHash signature over
    shingle hashes in [0, P): element j is min over rows of
    (a_j·hash + b_j) mod P. Min over the shingle multiset equals min
    over the set, so no dedup pass is needed.

    The whole signature is ONE parsed ``array(min(...), ...)``
    expression: the Column-API form costs ~6 py4j round-trips per
    permutation (~400 total), measured as ~2 s of pure driver
    plan-build time per query at 64 hashes; a single ``F.expr`` parse
    is one round-trip with an identical analyzed plan."""
    terms = ", ".join(
        f"min(pmod({hash_col} * {a}L + {b}L, {MINHASH_P}L))"
        for a, b in minhash_coeffs(num_hashes)
    )
    return F.expr(f"array({terms})")


def bigram_hash_rows(docs: DataFrame, *carry: str) -> DataFrame:
    """(doc_id, *carry, h): each doc's DISTINCT word 2-gram shingles of
    ``text`` (split on single spaces, empty tokens dropped; docs under
    2 tokens emit nothing), hashed to the md5 60-bit prefix mod P.
    That is the `simhash_docs` hash, which DuckDB recomputes
    bit-identically (``('0x' || substr(md5(s), 1, 15))::BIGINT``), so
    the oracles replay the whole sketch."""
    toks = docs.withColumn(
        "_toks", F.expr("filter(split(text, ' '), x -> x <> '')")
    ).filter(F.size("_toks") >= 2)
    return toks.select(
        "doc_id",
        *carry,
        F.explode(
            F.expr(
                "array_distinct(transform(sequence(0, size(_toks) - 2),"
                " i -> concat_ws(' ', _toks[i], _toks[i + 1])))"
            )
        ).alias("s"),
    ).select(
        "doc_id",
        *carry,
        F.expr(
            f"cast(conv(substring(md5(s), 1, 15), 16, 10) AS BIGINT) % {MINHASH_P}"
        ).alias("h"),
    )


def band_rows(sig_df: DataFrame, bands: int, *carry: str) -> DataFrame:
    """(doc_id, *carry, band, m0, m1) LSH bucket rows of a (doc_id, sig)
    frame at 2 rows per band: band b's bucket is the integer pair
    (sig[2b], sig[2b+1]), so candidate generation is an equi-join on
    (band, m0, m1), never a hash of the pair."""
    return sig_df.select(
        "doc_id",
        *carry,
        F.explode(
            F.expr(
                f"transform(sequence(0, {bands - 1}),"
                " b -> struct(b AS band, sig[2 * b] AS m0, sig[2 * b + 1] AS m1))"
            )
        ).alias("_b"),
    ).select("doc_id", *carry, "_b.band", "_b.m0", "_b.m1")


def shingle_hash_rows(
    df: DataFrame, text_col: str, id_col: str, n: int = 3
) -> DataFrame:
    """Word n-gram shingle hashes as ROWS: (doc_id, shingle bigint).

    Built with window ``lag`` over exploded tokens + multi-arg
    ``xxhash64`` — every expression whole-stage-codegen'd (the
    intra-row ``transform``/``zip_with`` formulations are interpreted
    and measurably slower; see module scale notes). Tokens cannot
    contain the split delimiter, so the n-token tuple ↔ string shingle
    mapping is bijective: distinct-set semantics match string shingles
    exactly (modulo 2⁻⁶⁴ hash collisions). Docs shorter than n tokens
    emit one partial shingle (hash of the full cleaned text).
    """
    from pyspark.sql import Window

    from .spread import spread_by

    # Key-exchange BEFORE the token explode: the single-row-group
    # fixture scan is 1 task, so the regex clean + posexplode otherwise
    # run single-core and the window re-shuffles the ~50× larger token
    # rows. Repartitioning the compact doc rows by doc_id first runs
    # the clean/explode in parallel AND satisfies the window's and the
    # downstream groupBy's clustering, so this is the ONLY exchange on
    # the path (guide §2.3/§2.4; measured 1.44→0.91 s on the 64-hash
    # signature at sf0.1, bit-identical output).
    base = spread_by(
        df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("_raw")),
        "doc_id",
    ).select("doc_id", clean_text("_raw").alias("_ct"))
    toks = base.select("doc_id", F.posexplode(F.split("_ct", " ")).alias("pos", "tok"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    full = toks
    for k in range(1, n):
        full = full.withColumn(f"_l{k}", F.lag("tok", k).over(w))
    lags = [F.col(f"_l{k}") for k in range(n - 1, 0, -1)]
    h_full = F.xxhash64(*lags, F.col("tok"))
    full = full.filter(F.col(f"_l{n - 1}").isNotNull()).select(
        "doc_id", h_full.alias("shingle")
    )
    short = base.filter(F.size(F.split("_ct", " ")) < n).select(
        "doc_id", F.xxhash64("_ct").alias("shingle")
    )
    return full.unionByName(short)


def lsh_candidates(signatures: DataFrame, bands: int = 16, rows_per_band: int = 4) -> DataFrame:
    """LSH banding: hash each band of the signature, group by
    (band_idx, band_hash) → candidate pairs within a bucket.

    Output: (doc_a, doc_b) with doc_a < doc_b, distinct.
    """
    # one parsed expression for the whole banding (see
    # minhash_signature for the py4j round-trip rationale);
    # minhash[i] is 0-based in SQL, matching element_at(i+1)
    structs = ", ".join(
        "struct({b} AS band, xxhash64(concat_ws(',', {cols})) AS bucket)".format(
            b=b,
            cols=", ".join(
                f"cast(minhash[{b * rows_per_band + r}] AS string)"
                for r in range(rows_per_band)
            ),
        )
        for b in range(bands)
    )
    banded = signatures.select(
        "doc_id", F.expr(f"explode(array({structs}))").alias("bb")
    ).select("doc_id", "bb.band", "bb.bucket")
    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b"))
        .distinct()
    )


SIMHASH_BITS = 60


def simhash60(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """60-bit SimHash over word tokens: sign-sum of per-token hash bits.

    Vectorized via explode + bit arithmetic (shiftright/bitwise AND) and
    a single groupBy(doc) — no UDF, no per-bit shuffle: the 60 bit-sums
    are one aggregate row per doc.

    The per-token hash is the first 15 hex chars of md5 (60 bits), not
    xxhash64: md5 is the one keyless hash Spark and DuckDB compute
    identically (`conv(substring(md5(t),1,15),16,10)` ==
    `('0x'||substr(md5(t),1,15))::BIGINT`), which lets the driver's
    DuckDB oracle recompute the exact fingerprints instead of settling
    for a rows-only check. 60 bits also stays non-negative in a signed
    64-bit value, so no sign-bit special case.
    """
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(clean_text(text_col), " ")).alias("tok"),
    ).withColumn(
        "h", F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("bigint")
    )
    bit_sums = toks.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"b{b}")
            for b in range(SIMHASH_BITS)
        ]
    )
    sim = None
    for b in range(SIMHASH_BITS):
        term = F.when(F.col(f"b{b}") > 0, F.lit(1 << b).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
        sim = term if sim is None else sim + term
    return bit_sums.select("doc_id", sim.alias("simhash"))


def minhash_near_dup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    jaccard_threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
) -> DataFrame:
    """End-to-end MinHash-LSH near-dup: signatures → banded candidates →
    exact Jaccard verification → pairs above threshold.

    The corpus is tokenized/shingled exactly ONCE
    (:func:`shingle_hash_rows`, checkpointed): the signature aggregate
    consumes the raw hash rows (min over the multiset = min over the
    set) and the verification stage consumes their distinct for exact
    set Jaccard — no second pass over the text. Verification counts
    shingle co-occurrences per candidate pair with integer equi-joins
    (:func:`jaccard_from_shingle_rows`); LSH bounds the pair count, so
    the join stays candidate-sized.
    """
    # one tokenize+shingle pass for the whole pipeline
    rows = shingle_hash_rows(df, text_col, id_col, 3).localCheckpoint()
    # materialize signatures: the banding explode would otherwise inline
    # (and re-evaluate) the per-doc signature expression once per band
    sigs = (
        rows.select("doc_id", F.pmod("shingle", F.lit(MINHASH_P)).alias("_h"))
        .groupBy("doc_id")
        .agg(minhash_signature("_h", num_hashes).alias("minhash"))
        .localCheckpoint()
    )
    cands = lsh_candidates(sigs, bands, num_hashes // bands)
    verified = jaccard_from_shingle_rows(rows, cands)
    return verified.filter(F.col("jaccard") >= jaccard_threshold)


def jaccard_from_shingle_rows(sh_rows: DataFrame, pairs: DataFrame) -> DataFrame:
    """Exact set Jaccard for candidate pairs from (doc_id, shingle)
    hash rows: |∩| by co-count equi-join, |∪| = |A|+|B|−|∩|.

    Pairs with no shared shingle (possible under band-hash collisions)
    come out as jaccard 0.0 via the left join.
    """
    sh = sh_rows.distinct()
    counts = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    inter = (
        pairs.join(sh.select(F.col("doc_id").alias("doc_a"), "shingle"), "doc_a")
        .join(sh.select(F.col("doc_id").alias("doc_b"), "shingle"), ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    out = (
        pairs.join(counts.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na")), "doc_a")
        .join(counts.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb")), "doc_b")
        .join(inter, ["doc_a", "doc_b"], "left")
        .withColumn("n_inter", F.coalesce("n_inter", F.lit(0)))
        .withColumn("n_union", F.col("na") + F.col("nb") - F.col("n_inter"))
        .withColumn(
            "jaccard",
            F.when(F.col("n_union") > 0, F.col("n_inter") / F.col("n_union")).otherwise(0.0),
        )
    )
    return out.select("doc_a", "doc_b", "jaccard")


def ngram_jaccard_capped_df(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.5,
    max_df: int = 64,
) -> DataFrame:
    """DF-capped inverted-index Jaccard — the documented scale knob of
    :func:`ngram_jaccard_all_pairs` made concrete (PPJoin-flavored):
    shingles appearing in more than ``max_df`` documents are dropped
    from CANDIDATE GENERATION only — a df-k shingle contributes
    k·(k−1)/2 pair rows, so the hottest shingles dominate the join
    quadratically while carrying the least signal. Surviving candidate
    pairs are then verified with the EXACT Jaccard over the full
    (uncapped) shingle sets (:func:`jaccard_from_shingle_rows`), so
    reported similarities are never approximated — only recall is: a
    pair sharing exclusively >max_df shingles (template-clone corpora)
    is missed, which is precisely when MinHash-LSH is the right path.
    With ``max_df >= n_docs`` this is equivalent to the exact operator
    (pinned in pytest).
    """
    sh = shingle_hash_rows(df, text_col, id_col, 3).distinct()
    sh = sh.localCheckpoint()
    from pyspark.sql import Window

    rare = sh.withColumn(
        "_df", F.count(F.lit(1)).over(Window.partitionBy("shingle"))
    ).filter(F.col("_df") <= max_df)
    cand = (
        rare.alias("a")
        .join(
            rare.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    return jaccard_from_shingle_rows(sh, cand).filter(
        F.col("jaccard") >= threshold
    )


def ngram_jaccard_all_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact all-pairs n-gram Jaccard via an inverted shingle index.

    Explode each doc's DISTINCT shingle set, self-join on the shingle
    hash (an integer equi-join — no cross product), count co-occurring
    shingles per doc pair (= |A∩B|), and derive |A∪B| as
    |A|+|B|−|A∩B| from the per-doc set sizes. Only pairs sharing at
    least one shingle are ever materialized.

    Scale shape: the shuffle key is a 64-bit shingle hash; a shingle
    appearing in k docs yields k·(k−1)/2 pair rows, so document-
    frequency-hot shingles dominate cost. At corpus scale, cap shingle
    df (PPJoin-style prefix filtering) or switch to the sub-quadratic
    MinHash-LSH path (:func:`minhash_near_dup_pairs`) — a pair made
    only of ubiquitous shingles cannot clear a meaningful threshold.

    Parity: exact semantics of lab-4-style near-dup verification
    (reference computes pairwise similarity eagerly; see SURVEY.md
    §2 extension ops).

    Shape note: shingle hashes are built with the codegen'd window-lag
    formulation (:func:`shingle_hash_rows`) — measured ~35% faster
    end-to-end than the interpreted ``zip_with`` string-concat chain
    at sf0.1 — and the checkpoint stops the self-join from building
    the shingle set twice.
    """
    from pyspark.sql import Window

    sh = shingle_hash_rows(df, text_col, id_col, 3).distinct()
    sh = sh.withColumn("n_sh", F.count(F.lit(1)).over(Window.partitionBy("doc_id")))
    sh = sh.localCheckpoint()
    inter = (
        sh.alias("a")
        .join(
            sh.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n_sh").alias("na"),
            F.col("b.n_sh").alias("nb"),
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        inter.withColumn(
            "jaccard",
            F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )
