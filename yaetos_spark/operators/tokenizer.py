"""Distributed BPE tokenizer induction and application.

Byte-pair-encoding subword training (Sennrich, Haddow & Birch 2016,
arXiv:1508.07909) re-expressed Spark-first — the tokenizer-fitting
step a training-data pipeline runs between curation and tokenization
(no analog in the reference, which stops at generic ETL; SURVEY §2
extension, same family as the DSIR/SemDeDup/ExactSubstr components).

The scale design is the classic word-frequency-table formulation every
production trainer (subword-nmt, SentencePiece, HF tokenizers) uses:

- ONE corpus-scale Spark pass: whitespace words -> (word, freq) via a
  map-side-combining groupBy. 100 TB of text collapses to a
  distinct-word table (Heaps' law), collected to the driver once.
- The merge loop runs on the driver over that table, Sennrich's
  incremental way: weighted pair counts plus a pair -> words index,
  so a merge rewrites only the words that hold the merged pair and
  updates the counts by those words' old and new pairs, instead of
  recounting every pair every round. Rewrites are left-to-right and
  non-overlapping ("aaa" under merge (a,a) -> ["aa","a"]).
- Ties break deterministically (count desc, then pair lexicographic
  by code point) so the same corpus yields the IDENTICAL merge
  sequence on every run and partitioning — the property the
  pure-python reference in the test suite pins.
- Lineage: nothing to truncate. Training launches the same Spark jobs
  (the word count's) whatever ``n_merges`` is; no per-round persist or
  checkpoint.

Honest cost note: the distinct-word table must fit on the driver.
Fit the tokenizer on a SAMPLE of the corpus (deterministic_sample /
bernoulli_sample upstream) sized to at most ~10^6 distinct words —
tens of MB collected, about 1 GB of driver memory for the symbol lists
and the pair index. Each merge round then costs one scan of the pair
counts plus the rewrite of the words holding the merged pair, on one
driver core, independent of the corpus size.

``bpe_apply`` tokenizes documents with a learned merge list via an
Arrow-batched mapInPandas encoder (the rank-priority merge loop is
per-word imperative work no built-in HOF expresses; the word-level
LRU cache inside each batch exploits Zipf — most tokens are repeats).
"""

from __future__ import annotations

import re
from collections import defaultdict

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from yaetos_spark.operators._guards import reserve_helper_cols

END_OF_WORD = "</w>"

# The word split both training and apply use: runs of ASCII whitespace
# (Java's default ``\s``), empty tokens dropped. Any other character,
# U+00A0 and U+3000 included, is part of a word on both sides, so every
# merge training learns can fire when the same text is encoded.
WORD_SEP = r"[ \t\n\x0B\f\r]+"


def _word_counts(docs: DataFrame, text_col: str) -> DataFrame:
    """(word, freq) over ``WORD_SEP`` tokens — the only corpus-scale pass."""
    toks = F.filter(
        F.split(F.coalesce(F.col(text_col), F.lit("")), WORD_SEP),
        lambda t: t != "",
    )
    return (
        docs.select(F.explode(toks).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _merge_pair(syms: list[str], a: str, b: str) -> list[str]:
    """Replace adjacent (a, b) with a+b, left-to-right non-overlapping."""
    out, i = [], 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def bpe_train(
    docs: DataFrame,
    n_merges: int,
    text_col: str = "text",
    min_pair_count: int = 2,
) -> list[tuple[str, str]]:
    """Learn up to ``n_merges`` BPE merges from a document corpus.

    Returns the ordered merge list [(left, right), ...] — apply with
    ``bpe_apply``. Training stops early when the best remaining pair
    occurs fewer than ``min_pair_count`` times (weighted by word
    frequency), so the returned list can be shorter than requested.

    Words are split into characters with a trailing ``</w>``
    end-of-word symbol (the paper's scheme), so learned units never
    cross word boundaries and word-final units stay distinct from
    word-internal ones.

    Cost: one Spark pass (the word count) whose distinct-word table is
    collected to the driver, where the merge rounds run; the table
    must fit there (at most ~10^6 words — sample the corpus down
    first, see the module docstring).

    Unicode note: the character split is Python ``list(word)``, one
    symbol per code point — the same split ``bpe_apply`` uses — so an
    astral-plane character (emoji, rare CJK) is one base symbol, not
    two surrogate halves. Combining sequences still split into their
    code points, the base-symbol granularity caveat of any
    non-byte-level BPE; byte-level alphabets (GPT-2 style) are out of
    scope here.
    """
    if n_merges < 0:
        raise ValueError(f"bpe_train: n_merges must be >= 0, got {n_merges}")
    rows = _word_counts(docs, text_col).collect()
    words = [list(r["word"]) + [END_OF_WORD] for r in rows]
    freqs = [r["freq"] for r in rows]
    counts: dict[tuple[str, str], int] = defaultdict(int)  # pair -> weighted count
    where: dict[tuple[str, str], set[int]] = defaultdict(set)  # pair -> word indexes
    for i, syms in enumerate(words):
        for pair in zip(syms, syms[1:]):
            counts[pair] += freqs[i]
            where[pair].add(i)

    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        if not counts:
            break
        # deterministic argmax: count desc, then pair lexicographic —
        # the tie-break is what makes the merge SEQUENCE reproducible
        # (ties are common early in training)
        (a, b), n = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        if n < min_pair_count:
            break
        merges.append((a, b))
        for i in where.pop((a, b)):
            old, f = words[i], freqs[i]
            new = words[i] = _merge_pair(old, a, b)
            for pair in zip(old, old[1:]):
                counts[pair] -= f
                where[pair].discard(i)
                if not counts[pair]:
                    del counts[pair], where[pair]
            for pair in zip(new, new[1:]):
                counts[pair] += f
                where[pair].add(i)
    return merges


def bpe_vocab(merges: list[tuple[str, str]], alphabet: set[str] | None = None) -> list[str]:
    """The vocabulary a merge list induces: base symbols (optional)
    plus one merged unit per merge, in learning order."""
    vocab = sorted(alphabet) if alphabet else []
    return vocab + [a + b for a, b in merges]


def _encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Rank-priority BPE encode of one word (the standard inference
    loop: repeatedly merge the lowest-rank adjacent pair)."""
    syms = list(word) + [END_OF_WORD]
    while len(syms) > 1:
        best_rank, best_i = None, -1
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_rank is None:
            break
        syms[best_i : best_i + 2] = [syms[best_i] + syms[best_i + 1]]
    return syms


def bpe_apply(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Tokenize ``text_col`` with a learned merge list; adds
    ``out_col: array<string>`` (word-boundary-preserving subword
    units, each word ending in its ``</w>``-bearing unit).

    Arrow-batched mapInPandas (intentional vectorized python site —
    the rank-priority merge loop is per-word imperative work). A
    per-batch word->pieces cache exploits Zipf: within a batch, the
    top few thousand word types cover most tokens, so the encoder
    runs once per TYPE, not once per occurrence.
    """
    reserve_helper_cols("bpe_apply", (out_col,), docs)
    ranks = {pair: i for i, pair in enumerate(merges)}
    split_words = re.compile(WORD_SEP).split
    fields = ", ".join(f"{name} {dtype}" for name, dtype in docs.dtypes)
    out_schema = f"{fields}, {out_col} array<string>"

    def encode_batches(batches):
        cache: dict[str, list[str]] = {}
        for pdf in batches:
            col = []
            for text in pdf[text_col]:
                if text is None:
                    col.append([])
                    continue
                pieces: list[str] = []
                for w in filter(None, split_words(str(text))):
                    hit = cache.get(w)
                    if hit is None:
                        hit = _encode_word(w, ranks)
                        cache[w] = hit
                    pieces.extend(hit)
                col.append(pieces)
            pdf[out_col] = col
            yield pdf

    return docs.mapInPandas(encode_batches, schema=out_schema)
