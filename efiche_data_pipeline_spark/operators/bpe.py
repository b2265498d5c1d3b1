"""Distributed BPE tokenizer induction (Sennrich et al. 2016) in its
oracle-checkable, engine-exact form.

Real BPE training is a loop over the WORD-FREQUENCY table, not the
corpus: count adjacent symbol pairs weighted by word frequency, merge
the most frequent pair everywhere, repeat. The corpus is touched
exactly once (the vocabulary aggregate); every iteration after that
runs on the vocab — bounded by true vocabulary size (~10^6-10^7 rows
at 100 TB), so the per-iteration aggregates are small shuffles and the
single best-pair row is the only thing the driver ever sees (one-row
``collect`` per iteration — the same scalar-reduction shape as q85's
PageRank convergence probe, not a driver-side data loop).

Engine-exactness: symbol sequences are stored as wrapped strings —
``hi`` → ``(h)(i)(</w>)`` — so applying a merge is ONE literal (not
regex) ``replace`` of ``(l)(r)`` with ``(lr)``; left-to-right
non-overlapping literal replacement has identical semantics in Spark
and DuckDB (and matches reference BPE's greedy scan), and the paren
walls make false sub-symbol matches impossible for any symbols that
contain no parens (words carrying ``(`` or ``)`` are excluded from the
vocab by contract — see :func:`word_vocab`). Ties on pair count break
by binary string order (count DESC, left ASC, right ASC) in both
engines, so the learned merge table is bit-identical.

Reference anchor: none (beyond-reference tier) — this is the
training-data-pipeline extension SURVEY §2.13 calls for; the
model-free approximation it upgrades is functions/text.py's
BPE_ISH_PATTERN token counts (q31).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import tokens

END_OF_WORD = "</w>"


def word_vocab(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, freq) over whitespace tokens — the ONE corpus pass of
    BPE training. Words containing the ``(``/``)`` wrapper characters
    or empty strings are excluded (the wrapped-symbol encoding's
    contract; a production tokenizer would escape them instead)."""
    return (
        docs.select(F.explode(tokens(text_col)).alias("word"))
        .filter((~F.col("word").rlike(r"[()]")) & (F.col("word") != ""))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _wrapped_seq(word) -> F.Column:
    """'hi' -> '(h)(i)(</w>)' — every codepoint walled in parens, plus
    the end-of-word symbol real BPE uses so word-final merges differ
    from word-internal ones."""
    c = F.col(word) if isinstance(word, str) else word
    return F.concat(
        F.regexp_replace(c, r"(.)", r"($1)"), F.lit(f"({END_OF_WORD})")
    )


def _symbols(seq_col: str = "seq") -> F.Column:
    """Wrapped string -> array of symbols (strip outer parens, split
    on the ')(' walls)."""
    return F.split(
        F.expr(f"substring({seq_col}, 2, length({seq_col}) - 2)"), r"\)\("
    )


@dataclass(frozen=True)
class BpeResult:
    merges: DataFrame  # (it, lhs, rhs, pair_count, new_symbol)
    vocab: DataFrame  # (word, freq, seq, n_symbols)


def _batch_safe_merges(
    rows, complete: bool, budget: int
) -> list[tuple[str, str, int]]:
    """The PROVABLY-exact prefix of a collected top-M pair list that
    can be merged without recounting — the driver-side half of the
    batched argmax (one Spark job now yields several merges).

    ``rows`` is the top-M (count DESC, l ASC, r ASC) slice of the
    TRUE pair-count table; ``complete`` says the slice IS the whole
    table. The first candidate is the exact argmax and always safe.
    Each later candidate (a, b, c) stays exact iff, against every
    already-accepted merge (l, r → s=l+r):

    1. **Collection bound**: ``c`` must exceed the M-th collected
       count (uncollected pairs are ≤ it, so nothing below the
       horizon can outrank the candidate — and the strict inequality
       kills lex ties with uncollected pairs too). Void when the
       slice is complete.
    2. **Unaffectedness**: {a, b} ∩ {l, r, s} = ∅. Applying (l)(r)→(s)
       only removes pairs of the form (x, l) / (r, y) and only creates
       pairs containing s, so a disjoint candidate's count — and its
       literal (a)(b) occurrence sites — are bit-identical before and
       after the replace.
    3. **Created-pair bound**: a pair born from an accepted merge has
       count ≤ its parent's pre-merge count (every (x, s) site was an
       (x, l) site; every (s, y) site an (r, y) site). If some
       COLLECTED pair (p, q) with count ≥ c has q == l or p == r, a
       child of it could outrank the candidate — stop and recount.
       Parents below the collection horizon are < c by rule 1.
    4. **No aliasing**: rule 3 assumes every pair holding s is born
       from the merge. If s already exists as a symbol — it appears in
       a collected row, is END_OF_WORD (the literal text ``</w>``
       rebuilds it), or an earlier accepted merge made it (``t+he``
       then ``th+e``) — the created sites ADD to the pairs s already
       has, and their sum can overtake a later candidate. Such a
       merge is accepted but ends the batch. (:func:`bpe_learn` cuts
       the batch the same way at a symbol an earlier round made,
       whose pairs may all sit below the collection horizon.)

    Walking stops at the first violation (an AFFECTED candidate's
    count may have shrunk, so later candidates cannot be ordered
    against it without a recount). The result applied in order is
    bit-identical to the one-merge-at-a-time loop."""
    out: list[tuple[str, str, int]] = []
    floor = int(rows[-1]["c"]) if not complete else None
    existing = {x for p in rows for x in (p["l"], p["r"])} | {END_OF_WORD}
    sym: set[str] = set()
    for row in rows:
        if len(out) >= budget:
            break
        l, r, c = row["l"], row["r"], int(row["c"])
        if out:
            if floor is not None and c <= floor:
                break
            if l in sym or r in sym:
                break
            conflict = False
            for al, ar, _ in out:
                for p in rows:
                    if int(p["c"]) >= c and (p["r"] == al or p["l"] == ar):
                        conflict = True
                        break
                if conflict:
                    break
            if conflict:
                break
        out.append((l, r, c))
        if l + r in existing or l + r in sym:
            break
        sym.update((l, r, l + r))
    return out


def bpe_learn(
    vocab: DataFrame, n_merges: int, partitions: int = 1, batch_top: int = 64
) -> BpeResult:
    """Learn the first ``n_merges`` BPE merge operations from a
    (word, freq) vocabulary. Raises if the vocabulary exhausts its
    pairs before ``n_merges`` (the oracle chain has no early-stop, so
    silence here would mean a silent divergence).

    Per ROUND: one vocab-bounded aggregate (adjacent pairs weighted by
    freq) ending in a top-``batch_top`` TakeOrdered collect — ONE job —
    from which :func:`_batch_safe_merges` extracts every merge that is
    provably identical to the sequential argmax (typically 2-6 early
    on, more once the frequent symbols separate), applied as chained
    lazy literal-replace projections. The merge table is bit-identical
    to the one-job-per-merge loop (the safety rules above + the
    planted differential test); the job count drops from ``n_merges``
    to the number of rounds. Checkpoints land every 4th round
    (replaying a few string replaces over the vocab is cheaper than an
    extra eager job per round). ``partitions`` sizes the pinned vocab:
    the default 1 fits test/sf corpora (a 200-partition vanilla
    session would otherwise pay full-width task scheduling per round),
    while a production vocabulary (~10^6-10^7 distinct words at
    100 TB) should pass 8-32 so each round's pair aggregate and
    replace projection parallelize — the loop itself is
    partition-agnostic (the argmax is a global TakeOrdered either
    way, and ``batch_top`` rows reach the driver per round)."""
    spark = vocab.sparkSession
    seqs = (
        vocab.select("word", "freq", _wrapped_seq("word").alias("seq"))
        .coalesce(max(1, int(partitions)))
        .localCheckpoint(eager=True)
    )
    merge_rows: list[tuple[int, str, str, int, str]] = []
    made: set[str] = set()
    top = max(1, int(batch_top))
    rounds = 0
    while len(merge_rows) < n_merges:
        syms = _symbols("seq")
        z = F.zip_with(
            F.slice(syms, 1, F.size(syms) - 1),
            F.slice(syms, 2, F.size(syms) - 1),
            lambda a, b: F.struct(a.alias("l"), b.alias("r")),
        )
        best = (
            seqs.filter(F.size(syms) >= 2)
            .select(F.explode(z).alias("p"), "freq")
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("freq").alias("c"))
            .orderBy(F.col("c").desc(), F.col("l").asc(), F.col("r").asc())
            .limit(top)
            .collect()
        )
        if not best:
            raise RuntimeError(
                f"vocabulary exhausted after {len(merge_rows)} merges; "
                f"{n_merges} requested"
            )
        safe = _batch_safe_merges(
            best, complete=len(best) < top,
            budget=n_merges - len(merge_rows),
        )
        for l, r, c in safe:
            aliased = l + r in made
            made.add(l + r)
            merge_rows.append((len(merge_rows) + 1, l, r, c, l + r))
            seqs = seqs.select(
                "word",
                "freq",
                F.replace(
                    F.col("seq"), F.lit(f"({l})({r})"), F.lit(f"({l}{r})")
                ).alias("seq"),
            )
            if aliased:
                break  # rule 4 of _batch_safe_merges, across rounds
        rounds += 1
        if rounds % 4 == 0 and len(merge_rows) < n_merges:
            seqs = seqs.localCheckpoint(eager=True)
    merges = spark.createDataFrame(
        merge_rows,
        "it int, lhs string, rhs string, pair_count long, new_symbol string",
    )
    final_vocab = seqs.select(
        "word", "freq", "seq", F.size(_symbols("seq")).cast("long").alias("n_symbols")
    )
    return BpeResult(merges=merges, vocab=final_vocab)


@dataclass(frozen=True)
class IncrementalVocabResult:
    n_new: int
    version: int | None


def incremental_vocab(
    new_docs: DataFrame,
    store,
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab_table: str = "bpe_vocab",
) -> IncrementalVocabResult:
    """Maintain the BPE training input — the (word, freq) table — as
    layered +delta count rows. Word counts are associative sums, so
    ONE atomic ``append_version`` per fold with the replay watermark
    (``batch_max_id``) INSIDE the delta layer: no crash window at all,
    the incremental_lm commit protocol verbatim (operators/lm.py).
    Retraining merges from the maintained vocab therefore equals
    training on the full corpus — the merge loop is a pure function
    of the count table. Batch contract: ``id_col`` monotone across
    batches."""
    wm = None
    if store.current_version(vocab_table) is not None:
        wm = store.read_union(vocab_table).agg(F.max("batch_max_id")).first()[0]
    fresh = new_docs.filter(F.col(id_col) > wm) if wm is not None else new_docs
    batch = fresh.agg(
        F.count(F.lit(1)).alias("n"), F.max(id_col).alias("mx")
    ).first()
    if batch["n"] == 0:
        return IncrementalVocabResult(0, store.current_version(vocab_table))
    delta = word_vocab(fresh, text_col).withColumn(
        "batch_max_id", F.lit(int(batch["mx"])).cast("long")
    )
    version = store.append_version(delta, vocab_table)
    return IncrementalVocabResult(int(batch["n"]), version)


def vocab_from_store(store, vocab_table: str = "bpe_vocab") -> DataFrame:
    """The current (word, freq) vocabulary: sum the layered ±deltas —
    equal to :func:`word_vocab` over every folded batch MINUS every
    forgotten one, by associativity (negative layers come from
    :func:`forget_vocab_documents`; words cancelled to zero are
    dropped, exactly as if never folded)."""
    return (
        store.read_union(vocab_table)
        .groupBy("word")
        .agg(F.sum("freq").cast("long").alias("freq"))
        .filter(F.col("freq") > 0)
    )


# Retry-ledger row inside the negative delta layer itself: freq=0 so
# it never reaches vocab sums (vocab_from_store filters freq > 0),
# batch_max_id carries the forgotten doc's id (always <= the watermark
# — the doc was folded before it could be forgotten — so watermark
# max() reads are untouched). The parens GUARANTEE no collision with a
# real vocab word: word_vocab excludes paren-bearing words by contract.
FORGOTTEN_MARKER = "(forgotten)"


def forget_vocab_documents(
    store,
    ids: list[int],
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab_table: str = "bpe_vocab",
    docs_table: str = "bpe_docs",
) -> int:
    """Right-to-be-forgotten for the MAINTAINED tokenizer input: the
    count-table twin of forget_documents. Counts are associative sums,
    so a deletion is ONE more +delta layer — with NEGATED frequencies
    recomputed from the kept docs sink's text — after which
    :func:`vocab_from_store` (and therefore any retrain) equals
    training on the surviving corpus alone: the forgotten documents'
    words stop influencing every FUTURE merge table. (Already-shipped
    merge tables are model artifacts, not stored personal data.) The
    negative layer carries the CURRENT watermark, so replay filtering
    is untouched; the docs-sink rows then purge physically via
    `delete_keys` + vacuum. Returns the number of documents NEWLY
    subtracted (0 on a pure retry or for already-gone ids).

    Blind-retry safe: each forgotten id is recorded as a freq=0
    :data:`FORGOTTEN_MARKER` row committed INSIDE the same atomic
    ``append_version`` as its negative counts (one commit — no window
    between the subtraction and its ledger). A retry anti-joins the
    requested ids against the marker ledger, so a crash between the
    negative layer and the sink delete re-runs to delete-only — the
    double-subtraction window this function used to have is closed.
    ``delete_keys`` is idempotent, so every path converges."""
    wanted = sorted({int(i) for i in ids})
    docs = store.read(docs_table)
    already: set[int] = set()
    if store.current_version(vocab_table) is not None:
        # cut the ledger read to the REQUESTED ids before collecting —
        # the driver-side set stays bounded by len(ids), not by every
        # id ever forgotten
        already = {
            int(r["batch_max_id"])
            for r in store.read_union(vocab_table)
            .filter(
                (F.col("word") == FORGOTTEN_MARKER)
                & F.col("batch_max_id").isin(wanted)
            )
            .select("batch_max_id")
            .distinct()
            .collect()
        }
    pending = [i for i in wanted if i not in already]
    gone = docs.filter(F.col(id_col).isin(pending)).localCheckpoint(eager=True)
    gone_ids = sorted(
        int(r[id_col]) for r in gone.select(id_col).distinct().collect()
    )
    if gone_ids:
        wm = store.read_union(vocab_table).agg(F.max("batch_max_id")).first()[0]
        neg = (
            word_vocab(gone, text_col)
            .select("word", (-F.col("freq")).alias("freq"))
            .withColumn("batch_max_id", F.lit(int(wm)).cast("long"))
        )
        markers = gone.sparkSession.createDataFrame(
            [(FORGOTTEN_MARKER, 0, i) for i in gone_ids],
            "word string, freq long, batch_max_id long",
        )
        store.append_version(neg.unionByName(markers), vocab_table)
    # Sink purge covers the FULL request: ids subtracted just now AND
    # ids whose negative layer landed on a crashed earlier run but
    # whose sink rows survived (the retry's remaining work).
    leftover = docs.filter(F.col(id_col).isin(wanted)).select(id_col).distinct()
    if gone_ids or leftover.limit(1).count() > 0:
        store.delete_keys(docs_table, leftover, id_col)
    return len(gone_ids)


def apply_merges(word, merges: list[tuple[str, str]]) -> F.Column:
    """Encode an arbitrary word under a learned merge table: wrap,
    then apply every merge IN LEARNED ORDER as one literal replace —
    the standard BPE encoding rule, and exactly how training itself
    rewrote its sequences, so in-vocab words reproduce their training
    segmentation and unseen words decompose greedily down to
    characters. ``merges`` is the collected (lhs, rhs) list — bounded
    by the merge count, so the whole encoder is ONE chained
    literal-replace column expression (JVM codegen; no UDF, no join
    against a vocab)."""
    seq = _wrapped_seq(word)
    for left, right in merges:
        seq = F.replace(
            seq, F.lit(f"({left})({right})"), F.lit(f"({left}{right})")
        )
    return seq


def bpe_encode_counts(
    docs: DataFrame,
    merges_df: DataFrame,
    train_vocab: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact per-document token counts for ANY corpus under a learned
    merge table — including words the trainer never saw (the
    deployment property :func:`bpe_token_counts`'s vocab join cannot
    give: a tokenizer must encode tomorrow's text). Unseen words
    decompose by the same in-order merge application; ``n_oov_words``
    counts occurrences whose word is absent from the training vocab.

    Scale shape: merges collect to a ≤n_merges literal list (driver
    O(1)); the encoder runs once per DISTINCT word (the corpus's own
    vocabulary — aggregate-bounded), then one word-keyed join back to
    the exploded occurrences (AQE broadcasts it while the vocab fits;
    the shuffle-join fallback is keyed on the word, fan-out = word
    frequency). Words violating the paren contract are excluded,
    matching :func:`word_vocab`."""
    merges = [
        (r["lhs"], r["rhs"])
        for r in merges_df.orderBy("it").select("lhs", "rhs").collect()
    ]
    words = docs.select(
        F.col(id_col), F.explode(tokens(text_col)).alias("word")
    ).filter((~F.col("word").rlike(r"[()]")) & (F.col("word") != ""))
    encoded = (
        words.select("word")
        .distinct()
        .withColumn("n_symbols", F.size(_symbols_of(apply_merges(F.col("word"), merges))))
        .join(
            train_vocab.select("word", F.lit(False).alias("_oov_no")),
            "word",
            "left",
        )
        .select(
            "word",
            "n_symbols",
            F.col("_oov_no").isNull().alias("is_oov"),
        )
    )
    return (
        words.join(encoded, "word")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("n_symbols").cast("long").alias("n_bpe_tokens"),
            F.sum(F.when(F.col("is_oov"), 1).otherwise(0))
            .cast("long")
            .alias("n_oov_words"),
        )
        .withColumn(
            "tokens_per_word",
            F.round(
                F.col("n_bpe_tokens").cast("double") / F.col("n_words"), 4
            ),
        )
    )


def _symbols_of(seq_col: F.Column) -> F.Column:
    """Symbol array of a wrapped-sequence COLUMN EXPRESSION (the
    string-name form :func:`_symbols` can't take): strip the outer
    walls, split on the ')(' boundaries."""
    return F.split(F.regexp_replace(seq_col, r"^\(|\)$", ""), r"\)\(")


def bpe_token_counts(
    docs: DataFrame,
    final_vocab: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact per-document BPE token counts under a learned vocabulary.
    PRECONDITION: every (paren-free) word of ``docs`` must appear in
    ``final_vocab`` — i.e. ``docs`` is (a subset of) the corpus the
    vocab was trained on. The inner join silently DROPS any other
    word from both ``n_words`` and ``n_bpe_tokens`` (and a doc of
    only such words from the output); for scoring text the trainer
    never saw, use :func:`bpe_encode_counts`, which applies the merge
    table to arbitrary words and reports ``n_oov_words``."""
    words = docs.select(
        F.col(id_col), F.explode(tokens(text_col)).alias("word")
    )
    return (
        words.join(
            F.broadcast(final_vocab.select("word", "n_symbols")), "word"
        )
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("n_symbols").cast("long").alias("n_bpe_tokens"),
        )
        .withColumn(
            "tokens_per_word",
            F.round(
                F.col("n_bpe_tokens").cast("double") / F.col("n_words"), 4
            ),
        )
    )
