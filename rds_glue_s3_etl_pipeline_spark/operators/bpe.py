"""BPE training (Sennrich et al. 2016): count on the cluster once, then
learn every merge in one process with incremental pair counts.

1. Count on the cluster — the corpus-sized work (tokenizing, the
   per-token hash aggregate, the character split of
   :func:`words_to_symbols`) stays in Spark, and ONE action collects
   the distinct ``(syms, f)`` vocabulary to the driver.
2. Learn the merges in one process — :func:`_learn_merges` keeps a
   pair-count dict, a pair -> word-index map and a max-heap keyed
   ``(-n, a, b)`` with lazy invalidation. After each merge only the
   words that contain the merged pair are re-segmented (greedy
   leftmost, the rule :func:`_merge_pair` applies on the cluster) and
   recounted, so a merge costs the words it touches, not a job over
   the vocabulary. Ties break by count descending, then ``a``, then
   ``b``; Python orders strings by code point, which is Spark's UTF-8
   binary order, so the merge table is the one a distributed argmax
   per round would pick.

Memory bound: the distinct vocabulary (symbols plus one count per
word) must fit in the driver — the bound the HF ``tokenizers`` and
SentencePiece trainers also assume. It is bounded however large the
corpus (Heaps' law), and ``spark.driver.maxResultSize`` enforces it
at the collect. Nothing is cached or checkpointed, so training leaves
no RDD pinned.

The encode side (:func:`bpe_apply`) stays distributed: applying a
merge table to text is a map-only array fold per merge.
"""

from __future__ import annotations

import heapq
from collections import defaultdict
from collections.abc import Sequence

from pyspark.sql import DataFrame, functions as F

from ..session import checkpoint


def _merge_pair(words: DataFrame, a: str, b: str) -> DataFrame:
    """Greedy leftmost merge of the pair (a, b) in every symbol array:
    a left fold that joins the current symbol onto the accumulator's
    last element when they form (a, b). Handles overlaps the standard
    BPE way ("aaa" + merge(a,a) -> ["aa", "a"])."""
    merged = F.aggregate(
        F.col("syms"),
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (x == F.lit(b)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(F.lit(a + b)),
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )
    return words.select(merged.alias("syms"), "f")


def _segment(syms: Sequence[str], a: str, b: str) -> list[str]:
    """The driver-side twin of :func:`_merge_pair` for one word."""
    out, i = [], 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def _learn_merges(
    vocab: Sequence[Sequence[str]], freqs: Sequence[int], n_merges: int
) -> list[tuple[str, str, int]]:
    """Exact BPE over an in-memory weighted vocabulary: up to
    ``n_merges`` merges [(a, b, count), ...], stopping early when no
    adjacent pair is left. Each word is a list of symbols with a
    positive frequency; duplicate words are allowed (their counts
    add)."""
    words = list(vocab)  # words[i] is replaced, never mutated
    counts: dict[tuple[str, str], int] = defaultdict(int)
    where: dict[tuple[str, str], set[int]] = defaultdict(set)
    for i, w in enumerate(words):
        for p in zip(w, w[1:]):
            counts[p] += freqs[i]
            where[p].add(i)
    heap = [(-n, a, b) for (a, b), n in counts.items()]
    heapq.heapify(heap)
    merges: list[tuple[str, str, int]] = []
    while heap and len(merges) < n_merges:
        neg, a, b = heapq.heappop(heap)
        if counts.get((a, b)) != -neg:
            continue  # stale: the pair's count moved after this push
        merges.append((a, b, -neg))
        changed = set()
        for i in where.pop((a, b)):
            old, f = words[i], freqs[i]
            new = _segment(old, a, b)
            words[i] = new
            old_pairs = list(zip(old, old[1:]))
            new_pairs = list(zip(new, new[1:]))
            for p in old_pairs:
                counts[p] -= f
            for p in new_pairs:
                counts[p] += f
            for p in set(old_pairs) - set(new_pairs):
                where[p].discard(i)
            for p in new_pairs:
                where[p].add(i)
            changed.update(old_pairs, new_pairs)
        for p in changed:
            n = counts[p]
            if n > 0:
                heapq.heappush(heap, (-n, p[0], p[1]))
            else:
                del counts[p]
                where.pop(p, None)
    return merges


def _collect_vocab(words: DataFrame) -> tuple[list[list[str]], list[int]]:
    """The one action of training: collect the ``(syms, f)`` vocabulary
    and assert what the learner assumes of it — every frequency is
    non-null and positive, every symbol array is non-null with no null
    element."""
    vocab, freqs = [], []
    for syms, f in words.collect():
        if syms is None or any(s is None for s in syms):
            raise ValueError(
                f"BPE vocabulary word {syms!r} (frequency {f!r}) is null "
                "or has a null symbol"
            )
        if f is None or f <= 0:
            raise ValueError(
                f"BPE vocabulary word {''.join(syms)!r} has frequency {f!r}; "
                "every frequency must be > 0"
            )
        vocab.append(syms)
        freqs.append(f)
    return vocab, freqs


def bpe_train(
    words: DataFrame,
    n_merges: int,
    sym_col: str = "syms",
    freq_col: str = "f",
) -> list[tuple[str, str, int]]:
    """Learn ``n_merges`` BPE merges from a weighted vocabulary
    (``sym_col``: array<string> of current symbols, ``freq_col``:
    word frequency). Returns the ordered merge table
    [(left, right, count), ...] — ties broken (count desc, a, b) so
    training is deterministic on any partitioning; fewer than
    ``n_merges`` rows when the vocabulary runs out of pairs.

    One Spark action (the vocabulary collect); the merges are learned
    in this process by :func:`_learn_merges`."""
    vocab, freqs = _collect_vocab(
        words.select(F.col(sym_col).alias("syms"), F.col(freq_col).alias("f"))
    )
    return _learn_merges(vocab, freqs, n_merges)


def words_to_symbols(tokens: DataFrame, tok_col: str = "tok") -> DataFrame:
    """(tok, f) -> (syms: array<string> of characters, f) — BPE's
    starting state. Char split via regex empty-match split."""
    f_col = [c for c in tokens.columns if c != tok_col][0]
    return tokens.select(
        F.filter(
            F.split(F.col(tok_col), ""), lambda s: s != ""
        ).alias("syms"),
        F.col(f_col).alias("f"),
    )


def bpe_apply(
    words: DataFrame,
    merges: list[tuple[str, str, int]] | list[tuple[str, str]],
    sym_col: str = "syms",
    freq_col: str = "f",
) -> DataFrame:
    """Apply a learned merge table to a symbol-array vocabulary, in
    merge order — the ENCODE side of BPE (tokenizing new text with a
    trained tokenizer). Each merge is one JVM-side array fold over the
    distinct vocab; ``n`` merges = ``n`` chained map-only transforms,
    no shuffle at all.

    Returns the re-segmented (syms, f) table."""
    w = words.select(F.col(sym_col).alias("syms"), F.col(freq_col).alias("f"))
    for i, m in enumerate(merges):
        a, b = m[0], m[1]
        w = _merge_pair(w, a, b)
        # A real tokenizer carries 10k+ merges; without periodic
        # materialization each merge nests another fold lambda inside
        # the previous plan and Catalyst's analysis cost explodes long
        # before data moves. Checkpoint on a cadence to bound depth.
        if (i + 1) % 64 == 0 and i + 1 < len(merges):
            w = checkpoint(w)
    return w
