"""Distributed byte-pair-encoding tokenizer: train + apply.

The survey's text surface counts tokens with a BPE-ish regex
(text.py:TOKEN_REGEX); this module implements the real thing, shaped
for a 100 TB corpus:

- **train** follows the classic Sennrich et al. 2016 recipe: BPE
  statistics are a function of the WORD-FREQUENCY table, not the raw
  corpus, so the corpus collapses to ``(word, n)`` with ONE shuffle.
  Two merge-loop backends, selected by the MATERIALIZED vocabulary
  size (the same two-level shape as dedup.connected_components):

  * vocab <= ``driver_vocab_threshold``: collect the (word, n) table
    and run the exact in-memory merge loop — zero Spark jobs per
    merge. This is how production tokenizer trainers work
    (SentencePiece / Sennrich's reference script train in memory
    AFTER the distributed word count). The default threshold is
    conservative because the loop is interpreted CPython, not a
    compiled trainer.
  * above the threshold: per-iteration distributed pair count ->
    driver argmax (1-row collect) -> JVM-side array rewrite, lineage
    cut every few rounds via localCheckpoint. ~50 tiny sequential
    jobs — correct but scheduler-bound; only needed when the vocab
    itself cannot fit one machine.

  Both paths implement CANONICAL sequential BPE (argmax, re-count,
  argmax) with the same lexicographic tie-break, so they learn
  byte-identical merge lists (asserted in tests/test_bpe.py).
  Batching k disjoint merges per round was considered and rejected:
  a symbol minted by merge j can out-rank the batch's j+1-th pick
  (e.g. (lo, w</w>) after (l, o)), so batching silently changes the
  learned tokenizer.
- **apply** broadcasts the learned merge ranks and tokenizes with an
  Arrow-batched pandas UDF (the per-word merge loop is data-dependent
  control flow — exactly the "genuinely can't express in built-ins"
  case for the Python escape hatch).

End-of-word marker: '</w>' is appended to each word's final symbol so
merges never cross word boundaries and suffix tokens stay distinct
from infix tokens (standard BPE).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nypd_arrest_etl_spark.operators.graph import _pinned

EOW = "</w>"


def _words(df: DataFrame, text_col: str) -> DataFrame:
    """(word, n) frequency table — the single corpus-wide shuffle."""
    toks = F.filter(
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+"), lambda t: t != ""
    )
    return (
        df.select(F.explode(toks).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )


def _train_inmem(
    word_freqs: list[tuple[str, int]], num_merges: int
) -> list[tuple[str, str]]:
    """Exact in-memory Sennrich merge loop over a collected (word, n)
    table. Semantics are identical to the distributed path: argmax by
    count with (a, b) lexicographic tie-break, stop below count 2,
    greedy leftmost-first rewrite."""
    vocab: list[tuple[list[str], int]] = [
        (list(w[:-1]) + [w[-1] + EOW], n) for w, n in word_freqs if w
    ]
    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        counts: dict[tuple[str, str], int] = {}
        for syms, n in vocab:
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + n
        if not counts:
            break
        # max count, then lexicographically smallest (a, b) — the same
        # order as the distributed orderBy(desc(cnt), p.a, p.b)
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        (a, b), cnt = best
        if cnt < 2:
            break
        merges.append((a, b))
        ab = a + b
        for wi, (syms, n) in enumerate(vocab):
            i, out = 0, []
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(ab)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            vocab[wi] = (out, n)
    return merges


def bpe_train(
    df: DataFrame,
    num_merges: int = 50,
    text_col: str = "text",
    checkpoint_every: int = 8,
    driver_vocab_threshold: int = 200_000,
) -> list[tuple[str, str]]:
    """Learn ``num_merges`` BPE merges; returns them in rank order.

    The corpus collapses to the (word, n) frequency table with one
    distributed shuffle; if the DISTINCT vocabulary fits under
    ``driver_vocab_threshold`` the merge loop runs exactly in memory
    (no per-merge Spark jobs — the production tokenizer-trainer
    shape). The in-memory loop is interpreted CPython at
    O(vocab x avg_word_len) per merge — roughly tens of seconds at
    the 200k default with 50 merges, and the collect is ~tens of MB;
    raise the threshold only on a driver sized for it (a compiled
    trainer a la SentencePiece handles millions — CPython does not). Otherwise, per iteration (all on the cached
    word-frequency table): symbols explode -> (pair, sum n)
    partial-agg groupBy -> driver argmax with lexicographic tie-break
    (deterministic across runs and partitionings) -> array rewrite via
    one aggregate() fold. The rewrite is lazy; every
    ``checkpoint_every`` rounds the table is localCheckpoint()-ed so
    plan depth and re-execution stay bounded. Both paths learn the
    same merge list.
    """
    spark = df.sparkSession
    # Materialize the corpus shuffle ONCE: the threshold count, the
    # in-memory collect, and the distributed path's symbol table all
    # read these checkpoint blocks instead of re-running the full
    # explode+groupBy (Spark does not reuse shuffle output across
    # separate actions on re-planned frames). The table is
    # vocabulary-sized (distinct words), not corpus-sized.
    words, free_words = _pinned(_words(df, text_col))
    # ONE bounded Arrow-backed action decides the path AND fetches the
    # vocab (the same shape as connected_components' r13 fix): the old
    # count()-then-collect() pair ran two jobs over the checkpointed
    # table. limit(threshold+1) bounds driver memory exactly as the
    # count guard did, and when the vocab fits — the normal case — the
    # single fetch IS the training input. _train_inmem aggregates pair
    # counts over the whole table with a deterministic argmax
    # tie-break, so fetch order cannot change the learned merges.
    probe = words.limit(driver_vocab_threshold + 1).toPandas()
    if len(probe) <= driver_vocab_threshold:
        free_words()  # the fetched frame is the whole training input
        return _train_inmem(
            list(zip(probe["word"].tolist(), probe["n"].tolist())), num_merges
        )
    # initial symbols: chars, with EOW glued to the last one
    chars = F.split(F.col("word"), "")
    n_ch = F.size(chars)
    syms = F.transform(
        chars,
        lambda c, i: F.when(i == n_ch - 1, F.concat(c, F.lit(EOW))).otherwise(c),
    )
    cur = words.select(syms.alias("s"), "n").localCheckpoint(eager=True)
    free_words()

    merges: list[tuple[str, str]] = []
    for it in range(num_merges):
        pairs = cur.select(
            F.explode(
                F.when(
                    F.size("s") >= 2,
                    F.transform(
                        F.sequence(F.lit(1), F.size("s") - 1),
                        lambda i: F.struct(
                            F.element_at("s", i).alias("a"),
                            F.element_at("s", (i + 1).cast("int")).alias("b"),
                        ),
                    ),
                ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))
            ).alias("p"),
            F.col("n"),
        )
        top = (
            pairs.groupBy("p")
            .agg(F.sum("n").alias("cnt"))
            .orderBy(F.desc("cnt"), F.col("p.a"), F.col("p.b"))
            .limit(1)
            .collect()
        )
        if not top or top[0]["cnt"] < 2:
            break
        a, b = top[0]["p"]["a"], top[0]["p"]["b"]
        merges.append((a, b))
        # rewrite: left-to-right greedy merge of (a, b) runs in one fold
        merged = F.aggregate(
            F.col("s"),
            F.array().cast("array<string>"),
            lambda acc, x: F.when(
                (F.size(acc) > 0)
                & (F.element_at(acc, -1) == a)
                & (x == b)
                # a trailing element equal to `a` that was ITSELF just
                # produced by merging is still just the string a+b's
                # prefix state — greedy BPE merges leftmost-first, which
                # a single pass over the array reproduces exactly.
                ,
                F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(a + b))),
            ).otherwise(F.concat(acc, F.array(x))),
        )
        cur = cur.select(merged.alias("s"), "n")
        if (it + 1) % checkpoint_every == 0:
            cur = cur.localCheckpoint(eager=True)
    return merges


def bpe_tokenize(
    df: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Tokenize with a learned merge list: (id, tokens array<string>,
    n_tokens). Merge ranks broadcast once; per-batch Python applies the
    standard greedy lowest-rank-first merge loop (Arrow-batched)."""
    from nypd_arrest_etl_spark.functions import spread

    spark = df.sparkSession
    ranks = {pair: i for i, pair in enumerate(merges)}
    bc = spark.sparkContext.broadcast(ranks)
    id_t = dict(df.select(F.col(id_col)).dtypes)[id_col]

    def encode_word(word: str, rk: dict) -> list[str]:
        syms = list(word[:-1]) + [word[-1] + EOW] if word else []
        while len(syms) >= 2:
            best, bi = None, -1
            for i in range(len(syms) - 1):
                r = rk.get((syms[i], syms[i + 1]))
                if r is not None and (best is None or r < best):
                    best, bi = r, i
            if best is None:
                break
            syms[bi : bi + 2] = [syms[bi] + syms[bi + 1]]
        return syms

    def op(batches):
        import pandas as pd

        rk = bc.value
        cache: dict[str, list[str]] = {}
        for pdf in batches:
            toks_col, counts = [], []
            for text in pdf["text"].astype(str):
                out: list[str] = []
                for w in text.lower().strip().split():
                    if w not in cache:
                        cache[w] = encode_word(w, rk)
                    out.extend(cache[w])
                toks_col.append(out)
                counts.append(len(out))
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "tokens": toks_col, "n_tokens": counts}
            )

    src = spread(df).select(
        F.col(id_col).alias("doc_id"), F.col(text_col).cast("string").alias("text")
    )
    return src.mapInPandas(
        op, schema=f"doc_id {id_t}, tokens array<string>, n_tokens int"
    )
