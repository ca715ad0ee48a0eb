"""BPE merge-table induction over a document corpus — the tokenizer
TRAINING step (the suite already consumes BPE-ish token counts in
t1/w15/o10; this learns the merges).

Classic formulation (Sennrich et al. 2016): train on the WORD-FREQUENCY
table, not the raw corpus — the corpus is scanned once to build
(word, freq); every merge round then works on |vocab| rows, orders of
magnitude smaller than the corpus at 100 TB. Each round is

  1. pair counting: explode adjacent symbol pairs weighted by word
     freq, groupBy(left, right) sum — one shuffle over vocab-sized
     data, map-side combined;
  2. argmax pair with deterministic tie-break (freq DESC, left ASC,
     right ASC) — orderBy + limit(1), a single collected row;
  3. merge application: greedy left-to-right non-overlapping rewrite
     of every word's symbol array, expressed as a pure higher-order
     F.aggregate fold (no Python UDF — the whole round is
     whole-stage-codegen/JVM eval).

The driver round loop matches m9 (FedAvg) and s13 (k-means): the
per-round state that crosses the driver is ONE (left, right) pair.
Greedy-fold correctness: a merged symbol is left||right which can
never equal `left` again (right is non-empty), so the fold cannot
chain-merge through its own output — exactly the standard
leftmost-first semantics.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import scoped_conf


def word_freqs(docs: DataFrame) -> DataFrame:
    """(word, freq) over lowercase whitespace tokens — the BPE training
    table. One corpus scan, one vocab-keyed shuffle.

    U+001F (the unit separator the t16/t19 symbol encoding wraps each
    symbol in) is STRIPPED from every token here, enforcing the
    invariant the wrapped representation assumes rather than assuming
    it: \\s+ does not consume chr(31), so a corpus
    containing it would otherwise corrupt symbol boundaries in both
    the query and oracle paths."""
    return (
        docs.select(
            F.explode(
                F.filter(
                    F.transform(
                        F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
                        lambda x: F.replace(x, F.lit("\x1f"), F.lit("")),
                    ),
                    lambda x: x != "",
                )
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _sql_str(s: str) -> str:
    """SQL single-quoted string literal with escaping."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _apply_merge(syms_col: str, left: str, right: str) -> Column:
    """Greedy left-to-right non-overlapping merge of adjacent
    (left, right) symbol pairs into one symbol, as a fold.

    Built as ONE server-side-parsed expression string (the s6 IVF-PQ
    pattern): Python-lambda higher-order functions cost hundreds of
    py4j round trips per construction, which dominated the per-merge-
    round driver cost when this loop runs thousands of rounds.
    """
    lft, rgt = _sql_str(left), _sql_str(right)
    return F.expr(
        f"""aggregate(
  `{syms_col}`,
  cast(array() as array<string>),
  (acc, s) -> if(
    size(acc) > 0 AND element_at(acc, -1) = {lft} AND s = {rgt},
    concat(slice(acc, 1, size(acc) - 1),
           array(concat(element_at(acc, -1), s))),
    concat(acc, array(s))))"""
    )


def _driver_train_bpe(
    word_freq: list[tuple[str, int]], n_merges: int
) -> list[tuple[str, str, int]]:
    """Exact driver-side mirror of the distributed merge loop: adjacent
    pair counts weighted by word freq, argmax with (freq DESC, left
    ASC, right ASC) tie-break, greedy leftmost non-overlapping rewrite.
    Python str comparison is code-point order, which UTF-8 binary
    collation (Spark's sort order for the distributed argmax) preserves
    — the two paths pick identical merges. (Caveat shared with the
    pure-Python reference in tests/test_bpe.py: the JVM path's
    ``split(word, '')`` would cut non-BMP code points into surrogate
    halves where ``list(w)`` keeps them whole; identical on BMP
    text, which is what whitespace-tokenized web corpora are after
    the quality filters upstream.)"""
    vocab: dict[str, list[str]] = {w: list(w) for w, _ in word_freq}
    freq = dict(word_freq)
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        pairs: dict[tuple[str, str], int] = {}
        for w, syms in vocab.items():
            f = freq[w]
            for pair in zip(syms, syms[1:]):
                pairs[pair] = pairs.get(pair, 0) + f
        if not pairs:
            break
        (left, right), pf = min(
            pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((left, right, pf))
        for w, syms in vocab.items():
            out: list[str] = []
            i = 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
                    out.append(left + right)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            vocab[w] = out
    return merges


# Vocabularies up to this many words train on the driver (tests
# monkeypatch it to 0 to force the distributed loop).
MAX_DRIVER_WORDS = 32768


def train_bpe(freqs: DataFrame, n_merges: int) -> list[tuple[str, str, int]]:
    """Learn ``n_merges`` BPE merges from a (word, freq) table.
    Returns [(left, right, pair_freq), ...] in merge order. Executes
    eagerly (one pair-count job + one argmax collect per round).

    Small vocabularies take a driver fast path: every distributed
    round costs a full scheduler round-trip (~0.2 s/job on local[32] —
    pure overhead when the vocab is a handful of rows), so up to
    ``MAX_DRIVER_WORDS`` words the (word, freq) table is collected once and
    the identical greedy loop runs in-process — the same
    driver-side-when-k-sized crossover as graph.py's union-find and
    the FedAvg/centroid collects (SURVEY §4). One ``limit(cap+1)``
    job both decides the path and fetches the data for the fast one.
    Web-scale vocabs (millions of words) exceed the cap and take the
    distributed loop, whose per-round shuffle is vocab-sized."""
    probe = freqs.limit(MAX_DRIVER_WORDS + 1).collect()
    if len(probe) <= MAX_DRIVER_WORDS:
        return _driver_train_bpe([(r[0], int(r[1])) for r in probe], n_merges)
    # Eager localCheckpoint, not persist: persist caches DATA but the
    # logical plan still accumulates one nested F.aggregate fold per
    # round, so round n re-optimizes an n-deep plan — O(rounds^2)
    # driver compile at real merge counts (30k+). Checkpointing
    # truncates the lineage so every round compiles the SAME two-node
    # plan over frozen blocks (the d8 pattern, graph.py).
    state = freqs.select(
        F.split(F.col("word"), "").alias("syms"), "freq"
    ).localCheckpoint(eager=True)
    # Size the round loop to the VOCAB, not the corpus: the merge loop
    # runs n_merges jobs over a table that is orders of magnitude
    # smaller than the corpus (31 distinct words at sf0.1; low millions
    # for a real web corpus). Inherited corpus partitioning makes every
    # round pay full task-scheduling fan-out for near-empty partitions.
    # Count is cheap on frozen blocks; ~64k rows/partition keeps each
    # round's tasks meaningful while still distributing huge vocabs.
    n_words = state.count()
    want = max(1, min(state.rdd.getNumPartitions(), (n_words + 65535) // 65536))
    if want < state.rdd.getNumPartitions():
        state = state.coalesce(want).localCheckpoint(eager=True)
    # Small-vocab loops are bounded by per-round driver/scheduler
    # overhead, and AQE's per-stage replanning is ~40% of it while
    # buying nothing on a single-partition input; a huge vocab keeps
    # AQE for shuffle coalescing/skew handling.
    aqe_off = {"spark.sql.adaptive.enabled": "false"} if n_words <= 65536 else {}
    merges: list[tuple[str, str, int]] = []
    try:
        with scoped_conf(state.sparkSession, aqe_off):
            for _ in range(n_merges):
                # one server-side-parsed expression for the pair explode:
                # the Python-lambda zip_with form cost ~0.16 s/round of
                # py4j traffic, which is the driver bottleneck at real
                # merge counts.
                pairs = (
                    state.selectExpr(
                        "explode(zip_with("
                        " slice(syms, 1, size(syms) - 1),"
                        " slice(syms, 2, size(syms) - 1),"
                        " (a, b) -> struct(a AS left, b AS right))) AS p",
                        "freq",
                    )
                    .groupBy("p.left", "p.right")
                    .agg(F.sum("freq").alias("pair_freq"))
                    .orderBy(F.desc("pair_freq"), F.asc("left"), F.asc("right"))
                    .limit(1)
                    .collect()
                )
                if not pairs:
                    break
                left, right, pf = pairs[0].left, pairs[0].right, pairs[0].pair_freq
                merges.append((left, right, int(pf)))
                # lazy checkpoint: blocks materialize inside the NEXT
                # round's pair-count job (one job per round, not two) while
                # still truncating lineage to a frozen-block leaf.
                new_state = state.select(
                    _apply_merge("syms", left, right).alias("syms"),
                    "freq",
                ).localCheckpoint(eager=False)
                state.unpersist()
                state = new_state
    finally:
        state.unpersist()
    return merges
