"""Byte-pair-encoding: REAL merge-rule training as distributed
DataFrame ops, plus an Arrow-batched apply path.

Complements the regex approximation in
:mod:`~tfl_realtime_lakehouse_spark.queries.text_queries`
(``text_bpe_token_count``) with the actual BPE algorithm (Sennrich et
al. 2016): learn ``num_merges`` pair-merge rules from corpus statistics,
then tokenize by replaying the rules in rank order.

Distributed shape — why this scales:

- Training runs on the DISTINCT-WORD table with frequencies, not the
  corpus: Heaps' law makes that table orders of magnitude smaller than
  100 TB of text, and it contracts further as merges fuse symbols.
- Each merge round is ONE aggregation (adjacent-pair counts weighted by
  word frequency → global argmax) and one map (apply the merge to every
  word's symbol array via a left-to-right HOF fold). The sequential
  rounds are inherent to BPE — each merge changes the pair statistics
  the next round counts.
- Apply-side tokenization is a broadcast of the O(num_merges) rule list
  into an Arrow-batched ``mapInPandas`` kernel (per-word Python loops
  are unavoidable for rank-ordered replay; batching keeps the boundary
  vectorized). The JVM fold used in training and the Python kernel are
  two independent implementations of the same replay — tested equal.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tfl_realtime_lakehouse_spark.sources.tables import CKPT_LEVEL

END = "</w>"


def _chars(word: Column) -> Column:
    """Word → array of single-char symbols + end-of-word marker.

    Precondition: word is non-empty (callers tokenize on single spaces
    over non-empty documents). An empty word would make sequence(1, 0)
    DESCEND — the repo-wide sequence() hazard — yielding two garbage
    substr symbols; if a future corpus can produce empty tokens, guard
    with F.when(F.length(word) >= 1, ...) on BOTH engines so the
    unrolled-merge oracle stays byte-identical."""
    return F.concat(
        F.transform(
            F.sequence(F.lit(1), F.length(word)),
            lambda i: word.substr(i, F.lit(1)),
        ),
        F.array(F.lit(END)),
    )


def _merge_fold(toks: Column, a: str, b: str) -> Column:
    """Apply ONE merge rule (a, b) → "ab" left-to-right over a symbol
    array, as a single HOF fold. Greedy-left semantics: after fusing,
    the new symbol can itself pair with the NEXT input symbol (aaa
    under (a,a) → [aa, a]), which is exactly how the Python replay and
    classic implementations behave.

    ``F.get`` (not element_at) reads the accumulator tail: element_at
    raises on out-of-bounds under ANSI (the driver runs a vanilla ANSI
    session); get returns null, which simply fails the equality.
    """
    return F.aggregate(
        toks,
        F.array().cast("array<string>"),
        lambda acc, t: F.when(
            (F.get(acc, F.size(acc) - 1) == F.lit(a)) & (t == F.lit(b)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(a + b))
            ),
        ).otherwise(F.concat(acc, F.array(t))),
    )


def word_frequencies(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, freq) over whitespace-split tokens — the contracted table
    BPE training runs on."""
    return (
        docs.select(F.explode(F.split(F.col(text_col), " ")).alias("word"))
        .where(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def bpe_train(
    docs: DataFrame, text_col: str = "text", num_merges: int = 12
) -> list[tuple[str, str]]:
    """Learn ``num_merges`` BPE merge rules from the corpus. Returns the
    rules in rank order (most frequent pair first).

    Deterministic: the argmax tiebreak is (count desc, left asc, right
    asc), so the learned rules are independent of partitioning.
    """
    wf = word_frequencies(docs, text_col).select(
        "freq", _chars(F.col("word")).alias("toks")
    ).localCheckpoint(storageLevel=CKPT_LEVEL)
    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        pairs = wf.select(
            "freq",
            F.explode(
                F.zip_with(
                    F.slice(F.col("toks"), 1, F.size("toks") - 1),
                    F.slice(F.col("toks"), 2, F.size("toks") - 1),
                    lambda x, y: F.struct(x.alias("a"), y.alias("b")),
                )
            ).alias("p"),
        )
        top = (
            pairs.groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.col("cnt").desc(), "a", "b")
            .limit(1)
            .collect()
        )
        if not top:
            break
        a, b = top[0]["a"], top[0]["b"]
        merges.append((a, b))
        # contract every word under the new rule; checkpoint so the fold
        # chain doesn't deepen with the round count
        wf = wf.select("freq", _merge_fold(F.col("toks"), a, b).alias("toks"))
        wf = wf.localCheckpoint(storageLevel=CKPT_LEVEL)
    return merges


def bpe_train_counts(
    docs: DataFrame,
    text_col: str = "text",
    num_merges: int = 12,
    max_vocab_words: int = 65536,
) -> list[tuple[str, str]]:
    """The production BPE training shape: ONE distributed pass counts
    words (the actual 100 TB scan), the vocabulary is truncated to the
    ``max_vocab_words`` most frequent words (a distributed TakeOrdered,
    deterministic freq-desc/word-asc tiebreak — the standard frequency
    truncation every real tokenizer trainer applies), and the merge
    loop runs on that BOUNDED word-frequency table driver-side — the
    same bounded-state driver round-trip as PQ codebook training: state
    is O(max_vocab_words), independent of corpus size, and the loop is
    milliseconds instead of 2·num_merges scheduled jobs.

    Learns identical rules to :func:`bpe_train` whenever the vocabulary
    fits the cap (tested); use :func:`bpe_train` if the vocabulary must
    remain unbounded.
    """
    rows = (
        word_frequencies(docs, text_col)
        .orderBy(F.col("freq").desc(), "word")
        .limit(max_vocab_words)
        .collect()
    )
    freqs = {r["word"]: r["freq"] for r in rows}
    vocab = {w: list(w) + [END] for w in freqs}
    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        counts: dict[tuple[str, str], int] = {}
        for w, syms in vocab.items():
            f = freqs[w]
            for pair in zip(syms, syms[1:]):
                counts[pair] = counts.get(pair, 0) + f
        if not counts:
            break
        a, b = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append((a, b))
        for w, syms in vocab.items():
            out: list[str] = []
            for s in syms:
                if out and out[-1] == a and s == b:
                    out[-1] = a + b
                else:
                    out.append(s)
            vocab[w] = out
    return merges


def apply_merges_py(word: str, merges: list[tuple[str, str]]) -> list[str]:
    """Pure-Python replay of the merge rules in rank order — the same
    greedy-left pass per rule as :func:`_merge_fold` (the two are tested
    against each other)."""
    symbols = list(word) + [END]
    for a, b in merges:
        out: list[str] = []
        for s in symbols:
            if out and out[-1] == a and s == b:
                out[-1] = a + b
            else:
                out.append(s)
        symbols = out
    return symbols


BPE_DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bpe_tokens", T.IntegerType()),
        T.StructField("n_words", T.IntegerType()),
    ]
)


def bpe_tokenize_counts(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document BPE token counts: broadcast the O(num_merges) rule
    list into an Arrow-batched kernel that replays the rules per word.
    A per-batch word cache collapses repeated words (Zipf makes that
    cache hit most of the time)."""
    rules = list(merges)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict[str, int] = {}

        def count_word(w: str) -> int:
            got = cache.get(w)
            if got is None:
                got = cache[w] = len(apply_merges_py(w, rules))
            return got

        for pdf in batches:
            if pdf.empty:
                continue
            n_tokens = []
            n_words = []
            for text in pdf[text_col]:
                words = [w for w in (text or "").split(" ") if w]
                n_words.append(len(words))
                n_tokens.append(sum(count_word(w) for w in words))
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "n_bpe_tokens": pd.array(n_tokens, dtype="Int32"),
                    "n_words": pd.array(n_words, dtype="Int32"),
                }
            )

    return docs.select(id_col, text_col).mapInPandas(run, BPE_DOC_SCHEMA)


def bpe_tokenize_jvm(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """JVM-only tokenization path: the same rank-ordered replay as the
    Python kernel, but as chained HOF folds over exploded words — zero
    Python in the hot path. Practical for small rule lists (expression
    depth grows with num_merges); the Pandas kernel is the general
    path. Returns (doc_id, n_bpe_tokens, n_words)."""
    words = docs.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("word")
    ).where(F.length("word") > 0)
    toks = _chars(F.col("word"))
    for a, b in merges:
        toks = _merge_fold(toks, a, b)
    return (
        words.select(id_col, F.size(toks).alias("n"))
        .groupBy(id_col)
        .agg(
            F.sum("n").cast("int").alias("n_bpe_tokens"),
            F.count(F.lit(1)).cast("int").alias("n_words"),
        )
    )
