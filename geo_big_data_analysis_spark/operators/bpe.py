"""Distributed BPE (byte-pair-encoding) merge training — the tokenizer
primitive of an LLM data pipeline (Sennrich 2016 word-level variant).

The reference repo tokenizes only by whitespace/regex (lab4 nb cell 16,
json 991 ``extract_keywords``); BPE training is part of the
training-data-pipeline extension the build brief asks for.

Algorithm: corpus → (word, count) vocabulary; each word is a
suffix-delimited symbol sequence (``'low' → 'l|o|w|'``). Each round
counts all adjacent symbol pairs (overlapping, weighted by word count),
picks the most frequent pair (tie-break: lexicographic (left, right)),
and rewrites every word with the pair merged greedily left-to-right.

Spark-first shape: the heavy step is the word-count aggregation over
the corpus (one shuffle on the word). The merge loop then runs on the
*distinct-vocabulary* table — |vocab| rows, corpus-size-independent —
with per-round jobs that are (a) a pair-count hash aggregate and (b) a
1-row argmax collect (the fit artifact, like Lloyd centroids). The
sequence rewrite is a single ``replace`` on the suffix-delimited string:
``replace(seq, 'l|r|', 'lr|')`` — replace scans left-to-right over
non-overlapping matches, which IS greedy BPE merge order, and the
suffix delimiter keeps adjacent matches from sharing a boundary char.
Everything stays in whole-stage codegen; no Python UDFs.

The vocabulary table is localCheckpoint'ed every round (consumed twice
per round: pair count + rewrite — SCALE.md checkpoint-cadence rule).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import local_frame
from . import dispatch

_PAIRS_EXPR = """
transform(
  slice(_toks, 1, size(_toks) - 1),
  (x, i) -> struct(x AS l, element_at(_toks, i + 2) AS r)
)
"""


def word_vocab(docs: DataFrame) -> DataFrame:
    """(word, cnt) vocabulary of the ``text`` column: whitespace split +
    count. The only corpus-sized job; everything after runs on distinct
    words."""
    return (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


#: Vocabulary size at or below which the merge loop runs driver-side on
#: the (word, cnt, seq) rows of one bounded probe
#: (`operators/dispatch.driver_rows`) instead of as per-round Spark
#: jobs. The distinct-word vocabulary is a BOUNDED fit artifact; running
#: ~3-4 tiny jobs per round × n_merges rounds is pure scheduler
#: overhead. Beyond the cap the distributed per-round loop runs (the
#: web-scale shape).
SMALL_VOCAB_CAP = 100_000


def _init_words(vocab: DataFrame) -> DataFrame:
    """Suffix-delimit each word into its symbol sequence and refuse
    delimiter-corrupting words (shared by BPE and WordPiece)."""
    words = vocab.withColumn(
        "seq", F.regexp_replace(F.col("word"), "(.)", "$1|")
    ).localCheckpoint()
    # Delimiter guard: a word containing '|' would silently corrupt the
    # delimited encoding in BOTH engines (the oracle replays the same
    # representation, so a cross-engine check can't catch it) — refuse.
    n_bad = words.agg(F.sum(F.col("word").contains("|").cast("long"))).collect()[0][0]
    if (n_bad or 0) > 0:
        raise ValueError(
            f"{n_bad} vocabulary words contain the '|' suffix "
            "delimiter; strip or remap them before BPE training"
        )
    return words


def _toks(seq: str) -> list[str]:
    """Symbols of a suffix-delimited sequence ('l|o|w|' → [l, o, w]) —
    the Python twin of filter(split(seq, '|'), x -> x <> '')."""
    return [t for t in seq.split("|") if t != ""]


def _train_driver(
    rows: list[tuple[str, int, str]], n_merges: int, wordpiece: bool
) -> tuple[list, list[tuple[str, int, str]]]:
    """Driver-side merge loop over the collected vocabulary — exact
    semantics of the distributed loop, step for step:

    - pair counts: adjacent-symbol pairs weighted by word count
      (overlapping pairs counted, like the explode+sum aggregate);
    - BPE argmax: (pc DESC, l ASC, r ASC). Python str comparison is
      code-point order == UTF8String's byte-wise order (UTF-8 preserves
      code-point order), so tie-breaks match Spark exactly;
    - WordPiece score: pc / (cl·cr) with both factors exact ints cast
      to double — Python floats are IEEE doubles with correctly
      rounded *, /, so scores are bit-identical to the JVM's;
    - rewrite: str.replace scans left-to-right over non-overlapping
      matches — the same greedy order as F.replace.
    """
    merges: list = []
    seqs = [seq for _, _, seq in rows]
    cnts = [int(c) for _, c, _ in rows]
    for rank in range(1, n_merges + 1):
        pc: dict[tuple[str, str], int] = {}
        sc: dict[str, int] = {}
        for seq, cnt in zip(seqs, cnts):
            toks = _toks(seq)
            if wordpiece:
                for t in toks:
                    sc[t] = sc.get(t, 0) + cnt
            for a, b in zip(toks, toks[1:]):
                pc[(a, b)] = pc.get((a, b), 0) + cnt
        if not pc:
            break
        if wordpiece:
            best = min(
                pc.items(),
                key=lambda kv: (-(kv[1] / (float(sc[kv[0][0]]) * float(sc[kv[0][1]]))), kv[0]),
            )
            (l, r), n_pc = best
            merges.append((rank, l, r, l + r, n_pc, n_pc / (float(sc[l]) * float(sc[r]))))
        else:
            (l, r), n_pc = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
            merges.append((rank, l, r, l + r, n_pc))
        pat, rep = f"{l}|{r}|", f"{l}{r}|"
        seqs = [s.replace(pat, rep) for s in seqs]
    out_rows = [(w, c, s) for (w, c, _), s in zip(rows, seqs)]
    return merges, out_rows


def _driver_vocab(words: DataFrame) -> list[tuple[str, int, str]] | None:
    """The (word, cnt, seq) rows when the vocabulary fits
    ``SMALL_VOCAB_CAP``, else None."""
    tbl = dispatch.driver_rows(words.select("word", "cnt", "seq"), SMALL_VOCAB_CAP)
    return None if tbl is None else dispatch.tuples(tbl)


def _driver_vocab_df(words: DataFrame, out_rows) -> DataFrame:
    return local_frame(
        words.sparkSession, out_rows, "word string, cnt bigint, seq string"
    )


def bpe_train(
    vocab: DataFrame, n_merges: int
) -> tuple[list[tuple[int, str, str, str, int]], DataFrame]:
    """Train ``n_merges`` BPE merges. Returns (merges, final_vocab_df)
    where merges rows are (rank, left, right, merged, pair_count) and
    the vocab DataFrame carries the fully-merged ``seq`` per word."""
    words = _init_words(vocab)
    rows = _driver_vocab(words)
    if rows is not None:
        merges, out_rows = _train_driver(rows, n_merges, wordpiece=False)
        return merges, _driver_vocab_df(words, out_rows)
    merges: list[tuple[int, str, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        pairs = (
            words.withColumn(
                "_toks", F.expr("filter(split(seq, '\\\\|'), x -> x <> '')")
            )
            .select(F.explode(F.expr(_PAIRS_EXPR)).alias("_p"), "cnt")
            .groupBy("_p.l", "_p.r")
            .agg(F.sum("cnt").alias("pc"))
        )
        best = pairs.orderBy(F.desc("pc"), "l", "r").limit(1).collect()
        if not best:
            break
        l, r, pc = best[0]["l"], best[0]["r"], int(best[0]["pc"])
        merges.append((rank, l, r, l + r, pc))
        # F.replace with literal COLUMNS, not an interpolated SQL string:
        # learned symbols routinely contain quotes/backslashes (apostrophes
        # in real text), which would break or corrupt an f-string F.expr.
        words = words.withColumn(
            "seq",
            F.replace(F.col("seq"), F.lit(f"{l}|{r}|"), F.lit(f"{l}{r}|")),
        ).localCheckpoint()
    return merges, words


def merges_df(spark: SparkSession, merges) -> DataFrame:
    return local_frame(
        spark,
        merges,
        "merge_rank int, left_sym string, right_sym string,"
        " merged string, pair_count bigint",
    )


def wordpiece_train(
    vocab: DataFrame, n_merges: int
) -> tuple[list[tuple[int, str, str, str, int, float]], DataFrame]:
    """WordPiece merge training (Schuster & Nakajima 2012, the
    likelihood-gain variant BERT's tokenizer popularized): identical
    loop shape to :func:`bpe_train`, but each round picks the pair
    maximizing ``count(l,r) / (count(l) · count(r))`` — the pair whose
    merge most increases corpus likelihood under a unigram model —
    instead of the raw pair count. So frequent-but-expected pairs
    ('e','s') lose to rarer-but-bound pairs.

    Determinism across engines: both factors are exact BIGINT counts
    ≤ 2^53, each is cast to double exactly, and IEEE multiply/divide
    are correctly rounded — so the double score is bit-identical in
    Spark and DuckDB and the (score DESC, l, r) argmax replays
    exactly. Per round: one symbol-count hash aggregate, one
    pair-count hash aggregate, two broadcast-sized joins on the
    distinct-vocabulary table, a 1-row argmax collect, and the same
    codegen'd ``replace`` rewrite — corpus-size-independent after the
    initial word count, same as BPE.
    """
    words = _init_words(vocab)
    rows = _driver_vocab(words)
    if rows is not None:
        merges, out_rows = _train_driver(rows, n_merges, wordpiece=True)
        return merges, _driver_vocab_df(words, out_rows)
    merges: list[tuple[int, str, str, str, int, float]] = []
    for rank in range(1, n_merges + 1):
        toks = words.withColumn(
            "_toks", F.expr("filter(split(seq, '\\\\|'), x -> x <> '')")
        )
        syms = (
            toks.select(F.explode("_toks").alias("s"), "cnt")
            .groupBy("s")
            .agg(F.sum("cnt").alias("sc"))
        )
        pairs = (
            toks.select(F.explode(F.expr(_PAIRS_EXPR)).alias("_p"), "cnt")
            .groupBy("_p.l", "_p.r")
            .agg(F.sum("cnt").alias("pc"))
        )
        scored = (
            pairs.join(syms.select(F.col("s").alias("l"), F.col("sc").alias("cl")), "l")
            .join(syms.select(F.col("s").alias("r"), F.col("sc").alias("cr")), "r")
            .withColumn(
                "score",
                F.col("pc") / (F.col("cl").cast("double") * F.col("cr").cast("double")),
            )
        )
        best = scored.orderBy(F.desc("score"), "l", "r").limit(1).collect()
        if not best:
            break
        l, r, pc, score = best[0]["l"], best[0]["r"], int(best[0]["pc"]), float(best[0]["score"])
        merges.append((rank, l, r, l + r, pc, score))
        words = words.withColumn(
            "seq",
            F.replace(F.col("seq"), F.lit(f"{l}|{r}|"), F.lit(f"{l}{r}|")),
        ).localCheckpoint()
    return merges, words


def wordpiece_merges_df(spark: SparkSession, merges) -> DataFrame:
    return local_frame(
        spark,
        merges,
        "merge_rank int, left_sym string, right_sym string,"
        " merged string, pair_count bigint, score double",
    )
