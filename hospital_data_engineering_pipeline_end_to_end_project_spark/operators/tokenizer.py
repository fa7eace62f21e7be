"""Distributed BPE tokenizer training — the first N merge steps.

Byte-pair encoding training is the canonical "iterate over the
VOCABULARY, not the corpus" distributed algorithm: the corpus is
collapsed once into a ``(word, freq)`` table (one shuffle over the
token stream), and every merge iteration after that touches only the
distinct-word table — pair counting is a map-side-combinable integer
aggregate weighted by ``freq``, and applying the chosen merge is a
narrow per-row fold.  At 100 TB the corpus pass happens exactly once;
the per-step cost is bounded by vocabulary size (millions), not
corpus size (trillions of tokens).  This is how production tokenizer
pipelines (HF tokenizers' trainer, SentencePiece's BPE mode) structure
the work, re-expressed as DataFrame plans.

Exact cross-engine semantics (the DuckDB oracle replays every step
bit-for-bit):

- a word's symbol state is a SPACE-SEPARATED string with a leading
  space (`` l o w``) — symbols are built from non-space token
  characters, and merged symbols are concatenations of them, so the
  space separator is unambiguous forever;
- pair counting follows the classic ``get_stats``: every adjacent
  symbol pair in every word counts, weighted by word frequency
  (overlapping repeats like ``a a a`` contribute (a,a) twice — the
  standard convention);
- the winning pair per step is ``ORDER BY count DESC, a ASC, b ASC
  LIMIT 1`` — a total deterministic order, no engine tie luck;
- the merge itself is a GREEDY LEFT-TO-RIGHT fold implemented as
  ``aggregate`` (Spark SQL) / ``list_reduce`` (DuckDB) over the symbol
  list with a string accumulator: append each symbol, except when the
  accumulator ends with the complete symbol ``' '||a`` and the next
  symbol is ``b`` — then replace the tail with ``' '||a||b``.  The
  separator-bounded suffix test means ``a a a`` with pair (a,a)
  merges to ``aa a`` (not ``aa aa``), exactly the reference BPE
  behavior, and symbols that merely END with ``a`` can never
  false-match.

Both fold implementations are pure column expressions — no UDF, no
Python row path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hospital_data_engineering_pipeline_end_to_end_project_spark.functions import text as TX
from hospital_data_engineering_pipeline_end_to_end_project_spark.operators.materialize import materialize, release


def word_freqs(df: DataFrame, text_col: str) -> DataFrame:
    """Collapse the corpus to its ``(word, freq)`` vocabulary — the
    ONE corpus-sized pass.  Words are whitespace tokens; empty tokens
    from repeated spaces are dropped."""
    tok = df.select(F.explode(F.expr(TX.tokens(text_col))).alias("word"))
    return tok.groupBy("word").agg(F.count(F.lit(1)).cast("long").alias("freq"))


def _spaced_symbols(word: Column) -> Column:
    # "low" -> " l o w": one space before every character.  The class
    # [\s\S] (not ".") on BOTH engines — r13 review: Java's dot
    # excludes \r, U+0085, U+2028, U+2029 while RE2's dot excludes
    # only \n, so a word containing a bare \r would be symbolized
    # differently across engines and break BPE oracle parity
    return F.regexp_replace(word, r"([\s\S])", " $1")


def _pair_counts(words: DataFrame) -> DataFrame:
    """Adjacent-symbol pair counts over the vocab, weighted by word
    frequency — a map-side-combinable integer aggregate."""
    pairs = words.filter(F.size("_syms") >= 2).select(
        "freq",
        F.explode(
            F.expr(
                "transform(sequence(0, size(_syms) - 2),"
                " i -> struct(_syms[i] AS a, _syms[i + 1] AS b))"
            )
        ).alias("p"),
    ).select(F.col("p.a").alias("a"), F.col("p.b").alias("b"), "freq")
    return pairs.groupBy("a", "b").agg(F.sum("freq").alias("cnt"))


def bpe_train_steps(
    df: DataFrame,
    text_col: str,
    steps: int = 3,
    top: int = 5,
) -> DataFrame:
    """Run the first ``steps`` BPE merges over the corpus; return the
    top-``top`` pair counts of EACH step (``step``, ``a``, ``b``,
    ``cnt``, ``merged``) — ``merged`` marks the pair the step actually
    merged (rank 1 under the deterministic order).

    The vocab table is materialized once per step (it is read by both
    the pair-count aggregate and the merge projection of the next
    step); each step's winning pair joins back in-plan as a one-row
    AQE-broadcast cross join — no driver collect in the loop.
    """
    steps_df, _vocab = bpe_train_from_vocab(
        word_freqs(df, text_col), steps=steps, top=top,
    )
    return steps_df


def _merge_fold(sym: str, a: str, b: str) -> Column:
    """Greedy left-to-right merge of pair (a, b) over a spaced symbol
    string — the string-accumulator fold the module docstring proves
    exact (separator-bounded suffix test).  Arguments are SQL text."""
    return F.expr(
        f"aggregate({TX.tokens(sym)}, '', (__macc, __mx) -> CASE WHEN __mx = {b}"
        f" AND endswith(__macc, concat(' ', {a})) THEN concat(substring(__macc, 1,"
        f" length(__macc) - length({a}) - 1), ' ', {a}, {b})"
        " ELSE concat(__macc, ' ', __mx) END)"
    )


def bpe_train_from_vocab(
    vocab: DataFrame,
    steps: int = 3,
    top: int = 5,
) -> tuple[DataFrame, DataFrame]:
    """Run ``steps`` BPE merges over a ``(word, freq)`` vocabulary
    frame (however it was produced — one corpus pass, or a served
    read of the incremental vocab index).  Returns
    ``(step_rows, final_vocab)``:

    - ``step_rows``: the top-``top`` pair counts of each step
      (``step, a, b, cnt, merged``), counts taken BEFORE that step's
      merge applies (the classic trainer's reporting order);
    - ``final_vocab``: ``(word, freq, sym)`` with ALL ``steps``
      merges applied — the encode table ``bpe_encode_join`` consumes.
    """
    words = vocab.withColumn("_sym", _spaced_symbols(F.col("word"))).select(
        "word", "freq", "_sym"
    )
    words = materialize(words)

    out: DataFrame | None = None
    for step in range(1, steps + 1):
        wsyms = words.withColumn("_syms", F.expr(TX.tokens("_sym")))
        counts = _pair_counts(wsyms)
        # global-order window over the POST-AGGREGATE pair table —
        # bounded by (symbol vocabulary)^2 observed pairs, not corpus
        # or word-vocab size, so the single-partition sort is tiny
        w = Window.orderBy(F.desc("cnt"), F.asc("a"), F.asc("b"))
        ranked = counts.withColumn("rk", F.row_number().over(w))
        step_rows = ranked.filter(F.col("rk") <= top).select(
            F.lit(step).alias("step"),
            "a",
            "b",
            "cnt",
            (F.col("rk") == 1).alias("merged"),
        )
        out = step_rows if out is None else out.unionByName(step_rows)
        winner = ranked.filter(F.col("rk") == 1).select(
            F.lit(1).alias("_wk"),
            F.col("a").alias("_ma"),
            F.col("b").alias("_mb"),
        )
        # LEFT join on a constant key, not a cross join: a step with
        # no pairs left (fully merged / single-symbol vocab) yields an
        # EMPTY winner frame, and a cross join would silently empty
        # the vocabulary — left-joined null merge columns make the
        # fold's WHEN condition null, i.e. a no-op merge
        merged = (
            words.withColumn("_wk", F.lit(1))
            .join(F.broadcast(winner), "_wk", "left")
            .withColumn("_sym", _merge_fold("_sym", "_ma", "_mb"))
            .select("word", "freq", "_sym")
        )
        superseded, words = words, materialize(merged)
        release(superseded)
    return out, words.select("word", "freq", F.col("_sym").alias("sym"))


def bpe_compression_by_group(
    df: DataFrame,
    group_col: str,
    text_col: str,
    final_vocab: DataFrame,
) -> DataFrame:
    """Encode-side payoff of the trained merges: per ``group_col``,
    total characters vs total BPE symbols after the learned merges,
    and the compression ratio — the "which sources does this tokenizer
    serve well?" diagnostic a tokenizer-training pipeline reports.

    Scale shape: one corpus pass collapses to the (group, word)
    frequency table; the encode is a JOIN against the vocab-sized
    ``final_vocab`` (never a re-fold of corpus text — every distinct
    word's merge result is computed exactly once at train time), and
    the output aggregate is map-side combinable."""
    tok = df.select(
        F.col(group_col),
        F.explode(F.expr(TX.tokens(text_col))).alias("word"),
    )
    gw = tok.groupBy(group_col, "word").agg(
        F.count(F.lit(1)).cast("long").alias("_f")
    )
    enc = final_vocab.select(
        "word",
        F.length("word").cast("long").alias("_nc"),
        F.expr(f"CAST({TX.token_count('sym')} AS BIGINT)").alias("_ns"),
    )
    return (
        gw.join(enc, "word")
        .groupBy(group_col)
        .agg(
            F.sum(F.col("_f") * F.col("_nc")).alias("chars"),
            F.sum(F.col("_f") * F.col("_ns")).alias("tokens"),
        )
        .select(
            group_col,
            "chars",
            "tokens",
            F.round(
                F.col("chars").cast("double") / F.col("tokens").cast("double"),
                6,
            ).alias("ratio"),
        )
    )
