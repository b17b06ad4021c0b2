"""Distributed BPE merge learning — tokenizer training as a Spark job.

Byte-pair encoding's training loop (count adjacent symbol pairs across
the corpus, merge the most frequent, repeat) is THE tokenizer-building
step of an LLM data pipeline, and it parallelizes naturally: pair
counting is a weighted groupBy over the word-frequency table (corpus
scale drops out after the first aggregation — iterations touch only
distinct words), and the argmax merge is a bounded driver-side action
per iteration, exactly like the k-means training loops in
operators/similarity.py.

Determinism: ties on pair count break lexicographically on (sym_a,
sym_b); words are held as single-space-joined symbol strings and a
merge is the string replace of ``' a b '`` with ``' ab '`` applied
``replace_passes`` times. One pass misses consecutive occurrences that
share a delimiter space (``' a a a a '`` → ``' aa a a '``); iterating
to the fixpoint merges until NO adjacent (x, y) pair remains —
maximal, like classic BPE (banana → ``b an an a</w>``; ``a×4`` →
``aa aa``). Caveat, stated honestly: in same-symbol runs ≥ 6 the
fixpoint's merge PLACEMENT can differ from classic pairwise-left
(``a×6`` → ``aa a aa a``, classic gives ``aa aa aa``) because pass
1's non-overlapping scan skips delimiter-sharing sites; both are
valid maximal merges and the engines agree exactly (same nested
replace in SQL — the q89 oracle unrolls the iterations), which is
the contract that matters here. A run of k merge sites resolves ≥ 1
site per pass, so passes = ⌊max word len / 2⌋ suffices.

Scale: the word-frequency table is tiny next to the corpus (Zipf), so
each iteration is one groupBy over |vocab| rows + one replace
projection. For byte-level BPE over 100 TB, the same loop runs over
the (word, freq) aggregate — corpus size only affects the first count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from airbnb_pyspark_jobs_spark.functions.text import tokens

END = "</w>"


def word_frequencies(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, freq) across the corpus — the only corpus-scale pass."""
    return (
        docs.select(F.explode(tokens(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _initial_symbols(wf: DataFrame) -> DataFrame:
    """Word → ' c h a r s </w> ' symbol string (leading/trailing spaces
    so every adjacent pair is ' a b '-delimited for replace-merges)."""
    return wf.select(
        "freq",
        F.concat(
            F.lit(" "),
            F.concat_ws(" ", F.split(F.col("w"), "")),
            F.lit(f" {END} "),
        ).alias("s"),
    )


def _top_pair(sym: DataFrame) -> tuple[str, str, int] | None:
    """Most frequent adjacent pair (freq-weighted), ties broken
    lexicographically. One groupBy + a LIMIT-1 collect."""
    arr = F.split(F.trim(F.col("s")), " ")
    # Words fully merged to ONE symbol have no adjacent pairs — and must
    # be filtered BEFORE the pair transform: sequence(1, size-1) with
    # size=1 is sequence(1, 0), which Spark generates DESCENDING as
    # [1, 0], so element_at(a, j+1) indexes past the array (first hit at
    # merge 33 of the 256-merge scaling run; invisible at n_merges=3).
    staged = sym.select("freq", arr.alias("a")).filter(F.size("a") >= 2)
    pairs = staged.select(
        "freq",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("a") - 1),
                lambda j: F.struct(
                    F.element_at(F.col("a"), j).alias("x"),
                    F.element_at(F.col("a"), j + 1).alias("y"),
                ),
            )
        ).alias("p"),
    )
    top = (
        pairs.groupBy(F.col("p.x").alias("x"), F.col("p.y").alias("y"))
        .agg(F.sum("freq").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("x").asc(), F.col("y").asc())
        .limit(1)
        .collect()
    )
    if not top:
        return None
    return top[0].x, top[0].y, int(top[0].cnt)


def apply_merge(s, x: str, y: str, replace_passes: int = 6):
    """Merge every ``' x y '`` occurrence into ``' xy '`` — nested
    replace to the documented fixpoint bound."""
    for _ in range(replace_passes):
        s = F.replace(s, F.lit(f" {x} {y} "), F.lit(f" {x}{y} "))
    return s


def bpe_learn_merges(
    docs: DataFrame,
    n_merges: int = 3,
    text_col: str = "text",
    replace_passes: int = 6,
    progress=None,
    sym_partitions: int = 4,
) -> list[tuple[int, str, str, str, int]]:
    """Learn ``n_merges`` BPE merges; returns
    ``[(merge_idx, sym_a, sym_b, merged, pair_count)]``.

    Lineage/memory discipline (the dedup_components lesson): each
    iteration's symbol table is ``localCheckpoint(eager=True)``, NOT
    persisted — persist caches data but the replace-chain plan still
    nests merge over merge, so Catalyst re-analyzes a linearly growing
    tree and real vocab sizes (10k-32k merges) die in analysis;
    checkpointing truncates the plan to a scan of the materialized
    vocab-sized table each round (round 2 additionally leaked every
    superseded persist — checkpoint blocks are instead freed by the
    ContextCleaner when the old frame is dropped). The materialization
    this forces is work `_top_pair`'s aggregation does anyway. On a
    fault-tolerant cluster swap for ``checkpoint()`` with a reliable
    dir (executor-loss safe). Measured: the sf0.01 corpus merges to
    vocabulary exhaustion (106 merges — every word one symbol) in
    ~22 s at a FLAT ~0.2 s/merge, plan depth constant; round 2's
    persist-chain version grew per-merge cost with the nesting depth
    (SCALE_NOTES).
    """
    # The symbol table is VOCAB-sized (one row per word type) from here
    # on — corpus scale left the loop with the word-frequency pass.
    # Coalesce to a handful of partitions or every merge pays
    # shuffle.partitions-many near-empty tasks x 3 jobs (measured 3.3
    # -> 0.6 s/merge at 8k types, local[32]); size sym_partitions ~
    # |vocab|/250k rows on a cluster.
    sym = (
        _initial_symbols(word_frequencies(docs, text_col))
        .coalesce(sym_partitions)
        .localCheckpoint(eager=True)
    )
    merges: list[tuple[int, str, str, str, int]] = []
    for i in range(n_merges):
        top = _top_pair(sym)
        if top is None:
            break
        x, y, cnt = top
        merges.append((i, x, y, x + y, cnt))
        sym = sym.select(
            "freq", apply_merge(F.col("s"), x, y, replace_passes).alias("s")
        ).localCheckpoint(eager=True)
        if progress is not None:
            progress(i)
    return merges


# bpe_segment_words' lineage cut: one checkpoint per this many merges
_SEGMENT_CHECKPOINT_EVERY = 64


def bpe_segment_words(
    docs: DataFrame,
    merges: list[tuple[int, str, str, str, int]],
    text_col: str = "text",
    replace_passes: int = 6,
) -> DataFrame:
    """Apply learned merges: word → its BPE symbol count (the corpus
    token count under the learned vocab). Segmentation is a pure
    function of the WORD, so it's computed once per distinct word and
    joined back to the corpus tokens — at 100 TB the expensive part
    runs over |vocab| rows, and the join side is a broadcast (a
    tokenizer vocab always fits).

    The merge replay is ``localCheckpoint``-truncated every
    ``_SEGMENT_CHECKPOINT_EVERY`` merges: one projection carrying all merges
    nests ``merges × replace_passes`` replace nodes, which for a real
    vocab (10k-32k merges) overwhelms analysis exactly like the
    learning loop's lineage — the bound keeps plan depth constant at
    vocab-sized materialization cost per window.

    Returns ``(w, n_sym)`` for every distinct word."""
    wf = word_frequencies(docs, text_col)
    # keep the word column alongside the evolving symbol string
    out = wf.select(
        "w",
        F.concat(
            F.lit(" "),
            F.concat_ws(" ", F.split(F.col("w"), "")),
            F.lit(f" {END} "),
        ).alias("s"),
    )
    for n, (_idx, x, y, _m, _cnt) in enumerate(merges, start=1):
        out = out.select("w", apply_merge(F.col("s"), x, y, replace_passes).alias("s"))
        if n % _SEGMENT_CHECKPOINT_EVERY == 0 and n < len(merges):
            out = out.localCheckpoint(eager=True)
    return out.select(
        "w", F.size(F.split(F.trim("s"), " ")).cast("bigint").alias("n_sym")
    )


def unigram_lm_em(
    docs: DataFrame,
    vocab_size: int = 200,
    max_piece_len: int = 6,
    max_word_len: int = 12,
    text_col: str = "text",
    top_out: int = 50,
) -> DataFrame:
    """One EM step of unigram-LM tokenizer training (Kudo 2018 — the
    SentencePiece algorithm, the other dominant subword tokenizer next
    to BPE): seed a piece vocabulary from substring frequencies,
    Viterbi-segment every word under the seed probabilities (E-step),
    and re-count pieces from the segmentations (M-step). The returned
    ``em_count`` column is what the next pruning round would rank by.

    Deterministic cross-engine recipe:
    - the corpus collapses to the DISTINCT word-frequency table first
      (the BPE trick — iterations never touch corpus rows); words
      longer than ``max_word_len`` or containing the ``/`` path
      separator are excluded from training (SentencePiece's sentence
      cap, stated honestly);
    - the seed vocab is the top ``vocab_size`` multi-char substrings
      (freq DESC, piece ASC — TakeOrdered over the piece-frequency
      table) plus ALL single chars, so every word stays segmentable;
    - seed log-probs are integer MICRO-units via the q181 recipe
      (round(ln·, 6) → ·1e6 → BIGINT), so Viterbi scores are exact
      integer sums;
    - the Viterbi DP runs ``max_word_len`` relaxation rounds:
      ``dp[i] = max(dp[i], max_j dp[j] + lnp(word[j:i]))`` held as
      ``max(struct(score, path))`` — score ties break on the
      lexicographically largest path, identically in both engines (the
      oracle's ``ROW_NUMBER(ORDER BY score DESC, path DESC)``). Each
      round's frame is localCheckpointed: dp feeds the next round
      TWICE (carry + extend), so an unbroken lineage doubles per round
      (the q138 2^k plan blowup).

    Scale: substring fan-out is ≤ max_word_len · max_piece_len rows
    per DISTINCT word; every DP round is one keyed join + one grouped
    max over ≤ |words|·(max_word_len+1) rows; nothing ever scales with
    corpus rows after the first aggregate. Returns the top ``top_out``
    pieces: ``piece, piece_len, seed_freq, em_count``."""
    from airbnb_pyspark_jobs_spark.caching import owned_persist
    from airbnb_pyspark_jobs_spark.functions.text import tokens

    L, K = int(max_piece_len), int(max_word_len)
    wf = (
        docs.select(F.explode(tokens(text_col)).alias("t"))
        .select(F.lower("t").alias("word"))
        .filter(
            (F.length("word") > 0)
            & (F.length("word") <= K)
            & (~F.col("word").contains("/"))
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    )
    wf = owned_persist(wf)
    subs = wf.select(
        "word",
        "freq",
        F.explode(
            F.expr(
                f"""
                flatten(transform(sequence(0, length(word) - 1), j ->
                  transform(sequence(1, least({L}, length(word) - j)), l ->
                    struct(j AS j, j + l AS i,
                           substring(word, j + 1, l) AS piece))))
                """
            )
        ).alias("__s"),
    ).select("word", "freq", "__s.j", "__s.i", "__s.piece")
    seed = subs.groupBy("piece").agg(F.sum("freq").cast("bigint").alias("seed_freq"))
    seed = owned_persist(seed)
    multi = (
        seed.filter(F.length("piece") >= 2)
        .orderBy(F.col("seed_freq").desc(), F.col("piece").asc())
        .limit(int(vocab_size))
    )
    vocab = seed.filter(F.length("piece") == 1).unionByName(multi)
    total = vocab.agg(F.sum("seed_freq").cast("bigint").alias("__tot"))
    ln_micro = lambda c: F.round(F.round(F.log(c.cast("double")), 6) * 1e6).cast(  # noqa: E731
        "bigint"
    )
    vprob = vocab.crossJoin(F.broadcast(total)).select(
        "piece",
        "seed_freq",
        (ln_micro(F.col("seed_freq")) - ln_micro(F.col("__tot"))).alias("__lnp"),
    )
    ssubs = owned_persist(
        subs.join(vprob.select("piece", "__lnp"), "piece").select(
            "word", "j", "i", "piece", "__lnp"
        )
    )
    dp = wf.select(
        "word",
        F.lit(0).cast("int").alias("pos"),
        F.struct(
            F.lit(0).cast("bigint").alias("score"), F.lit("").alias("path")
        ).alias("st"),
    ).localCheckpoint()
    for _ in range(K):
        ext = dp.join(ssubs, (dp["word"] == ssubs["word"]) & (ssubs["j"] == dp["pos"])).select(
            dp["word"],
            ssubs["i"].cast("int").alias("pos"),
            F.struct(
                (F.col("st.score") + F.col("__lnp")).alias("score"),
                F.concat("st.path", F.lit("/"), "piece").alias("path"),
            ).alias("st"),
        )
        dp = (
            dp.unionByName(ext)
            .groupBy("word", "pos")
            .agg(F.max("st").alias("st"))
            .localCheckpoint()
        )
    best = dp.join(wf, "word").filter(F.col("pos") == F.length("word"))
    pieces = best.select(
        "freq", F.explode(F.split(F.substring(F.col("st.path"), 2, 1 << 30), "/")).alias("piece")
    )
    em = pieces.groupBy("piece").agg(F.sum("freq").cast("bigint").alias("em_count"))
    out = (
        em.join(vprob.select("piece", "seed_freq"), "piece")
        .select(
            "piece",
            F.length("piece").cast("bigint").alias("piece_len"),
            "seed_freq",
            "em_count",
        )
        .orderBy(F.col("em_count").desc(), F.col("piece").asc())
        .limit(int(top_out))
    )
    return out
