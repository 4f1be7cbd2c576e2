"""Distributed BPE vocabulary induction (byte-pair-encoding merges).

The tokenizer-training step of an LLM data pipeline: iteratively merge the
most frequent adjacent symbol pair (Sennrich et al. 2016). Each iteration
is fully distributed —

  pair counts   one exploded zip + map-side-combined groupBy over the
                DISTINCT-WORD table (rows = word vocabulary, not corpus
                size; counts carry corpus frequency)
  best pair     distributed TakeOrdered(1), deterministic tiebreak
  merge apply   a pure-Catalyst ``aggregate`` left fold over each word's
                symbol array (greedy non-overlapping left-to-right scan,
                the reference BPE semantics) — no Python in the loop

Driver state is the merge table: O(num_merges) string pairs. At 100 TB the
word-vocab table is ~10^7 rows — trivially partitioned; the corpus itself
is touched exactly once (the initial word count).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _chars(word: Column) -> Column:
    """Split a word into single-character symbols with a </w> end marker
    (the classic BPE word-boundary convention)."""
    n = F.length(word)
    chars = F.transform(F.sequence(F.lit(1), n), lambda i: word.substr(i, F.lit(1)))
    return F.concat(chars, F.array(F.lit("</w>")))


def _apply_merge(symbols: Column, a: str, b: str) -> Column:
    """Greedy non-overlapping left-to-right merge of adjacent (a, b) -> ab,
    as a Catalyst ``aggregate`` fold with (out, pending) accumulator state:
    pending holds the previous unmatched symbol; seeing ``b`` right after a
    pending ``a`` emits the merged token instead. The merged token does NOT
    re-pair within the same pass (i advances past both) — reference BPE."""
    acc0 = F.struct(
        F.array().cast("array<string>").alias("out"),
        F.lit(None).cast("string").alias("pend"),
    )

    def step(acc, x):
        hit = acc["pend"].eqNullSafe(F.lit(a)) & (x == F.lit(b))
        out_hit = F.concat(acc["out"], F.array(F.lit(a + b)))
        out_flush = F.when(
            acc["pend"].isNotNull(), F.concat(acc["out"], F.array(acc["pend"]))
        ).otherwise(acc["out"])
        return F.struct(
            F.when(hit, out_hit).otherwise(out_flush).alias("out"),
            F.when(hit, F.lit(None).cast("string")).otherwise(x).alias("pend"),
        )

    def finish(acc):
        return F.when(
            acc["pend"].isNotNull(), F.concat(acc["out"], F.array(acc["pend"]))
        ).otherwise(acc["out"])

    return F.aggregate(symbols, acc0, step, finish)


def word_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, n) corpus frequencies — the ONLY pass over the full corpus."""
    return (
        docs.select(F.explode(F.split(F.trim(F.col(text_col)), " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )


def train_bpe(
    docs: DataFrame, num_merges: int = 8, text_col: str = "text"
) -> list[tuple[str, str, int]]:
    """Learn ``num_merges`` BPE merges. Returns [(left, right, pair_count)]
    in merge order. Deterministic: best pair by (count desc, left asc,
    right asc)."""
    wc = word_counts(docs, text_col)
    symbolized = wc.select(
        "n", _chars(F.col("word")).alias("syms")
    ).localCheckpoint(eager=False)  # O(word-vocab) rows; truncates the growing
    # fold lineage; LAZY: the first merge's pair-count materializes it in-job
    merges: list[tuple[str, str, int]] = []
    # AQE pinned OFF for the merge loop (r15; guide §1.2): with AQE on,
    # every pair-count's exchange materializes as its OWN job before the
    # TakeOrdered job — a statusTracker receipt measured 19 jobs for 8
    # merges where 9-10 suffice, and per-JOB driver fixed cost is this
    # query's floor (the word-vocab frame is tiny; AQE has nothing to
    # re-optimize here). Results identical: the aggregation and the
    # deterministic (count desc, pair asc) take are plan-shape-independent.
    # Restored in the finally so batch queries in the session are untouched.
    spark = docs.sparkSession
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    # Checkpoint every few merges, not every merge: a per-iteration eager
    # localCheckpoint is a full extra job + materialization per merge, while
    # letting a small chain of _apply_merge folds ride INTO the next pair
    # count just re-evaluates a few cheap array folds over the (word-vocab)
    # rows inside the same job (guide §1.2: fewer passes; lineage still
    # bounded). 16 jobs -> ~10 for 8 merges, identical merge sequence.
    checkpoint_every = 4
    pending = 0
    try:
        for _ in range(num_merges):
            ln = F.size("syms")
            pairs = symbolized.filter(ln >= 2).select(
                "n",
                F.explode(
                    F.zip_with(
                        F.slice("syms", 1, ln - 1),
                        F.slice("syms", 2, ln - 1),
                        lambda x, y: F.struct(x.alias("l"), y.alias("r")),
                    )
                ).alias("p"),
            )
            best = (
                pairs.groupBy("p")
                .agg(F.sum("n").alias("c"))
                .orderBy(F.col("c").desc(), F.col("p.l").asc(), F.col("p.r").asc())
                .limit(1)
                .collect()
            )
            if not best:
                break
            row = best[0]
            a, b, c = row["p"]["l"], row["p"]["r"], int(row["c"])
            merges.append((a, b, c))
            symbolized = symbolized.select(
                "n", _apply_merge(F.col("syms"), a, b).alias("syms")
            )
            pending += 1
            if pending >= checkpoint_every:
                # lazy: the next merge's pair-count job materializes it
                symbolized = symbolized.localCheckpoint(eager=False)
                pending = 0
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
    return merges
