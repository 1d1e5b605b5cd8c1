"""Substring-level (span) deduplication — boilerplate removal.

Document-level dedup (operators/dedup.py) drops whole near-copies;
this operator removes REPEATED SPANS inside otherwise-unique
documents — navigation chrome, license headers, templated
disclaimers — the substring-dedup idea of Lee et al., "Deduplicating
Training Data Makes Language Models Better" (ACL 2022), re-expressed
as DataFrame operators instead of a suffix array:

1. every document explodes into word ``n``-gram shingles WITH their
   token positions (one ``posexplode`` — (doc_id, pos, gram_hash)
   rows, 16 bytes of payload after hashing);
2. a gram whose distinct-document count reaches ``min_docs`` is HOT
   (one hash-agg over gram_hash — the corpus-frequency pass a suffix
   array does in one machine and 100 TB cannot);
3. hot-gram occurrences convert to covered token intervals
   [pos, pos+n) per document, merged into maximal spans with a
   Catalyst fold (sort starts, extend-or-open — no Python);
4. ``remove_hot_spans`` rebuilds each text without covered tokens
   (posexplode -> anti-join on covered positions -> ordered
   re-concat).

Scale shape: shuffles carry (doc_id, pos) ints and 8-byte gram
hashes, never text; the hot-gram set joins back either broadcast
(``F.broadcast`` when small) or as a plain hash join.  Whitespace is
normalized by reconstruction (tokens re-joined with single spaces) —
stated, the standard trade of token-level rewriting.

Why not a suffix array: exact longest-repeated-substring needs
global suffix order — a 100 TB sort of every suffix.  Fixed-``n``
shingle voting finds every repeated span of length >= n with
bounded state and two narrow shuffles; spans shorter than ``n``
tokens are the accepted miss (tune ``n`` down for aggressiveness).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from v6spark.operators.dedup import tokens_col


def _gram_positions(
    docs: DataFrame, n: int, id_col: str, text_col: str
) -> DataFrame:
    """(doc_id, pos, gram_hash) — one row per n-gram occurrence.

    The token array is LET-BOUND via a single-element ``transform``
    (the ``dedup._shingles_sql`` trick) so the text splits ONCE per
    row — referencing the tokenizer inside the window lambda would
    re-split per window, O(tokens^2)/doc (~10x measured there).
    """
    grams_of = lambda t: F.when(  # noqa: E731
        F.size(t) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(t) - F.lit(n)),
            lambda i: F.xxhash64(F.concat_ws(" ", F.slice(t, i + 1, n))),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    grams = F.element_at(
        F.transform(F.array(tokens_col(F.col(text_col))), grams_of), 1
    )
    return docs.select(
        F.col(id_col).alias("__id"),
        F.posexplode(grams).alias("pos", "gram_hash"),
    )


def hot_grams(
    docs: DataFrame,
    n: int = 8,
    min_docs: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Gram hashes appearing in >= ``min_docs`` DISTINCT documents
    (one ``gram_hash`` column) — the corpus boilerplate vocabulary.
    Distinct-doc counting (not raw occurrence counting) so a single
    spammy document cannot promote its own repetition to corpus
    boilerplate."""
    return (
        _gram_positions(docs, n, id_col, text_col)
        .groupBy("gram_hash")
        .agg(F.count_distinct("__id").alias("__docs"))
        .filter(F.col("__docs") >= min_docs)
        .select("gram_hash")
    )


def hot_spans(
    docs: DataFrame,
    n: int = 8,
    min_docs: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_hot: bool = True,
) -> DataFrame:
    """Maximal covered token spans per document:
    (doc_id, span_start, span_end) with end EXCLUSIVE — every token
    in [start, end) sits inside some corpus-hot n-gram.

    Overlapping/adjacent hot-gram intervals merge with a Catalyst
    fold over the sorted start positions (consecutive starts within
    n of each other chain into one span) — no Python in the path.
    """
    hot = hot_grams(docs, n, min_docs, id_col, text_col)
    if broadcast_hot:
        hot = F.broadcast(hot)
    starts = (
        _gram_positions(docs, n, id_col, text_col)
        .join(hot, "gram_hash")
        .groupBy("__id")
        .agg(F.array_sort(F.collect_set("pos")).alias("__starts"))
    )
    # fold sorted starts into merged [start, end) spans: a start
    # within n of the previous start extends the open span (their
    # intervals [s, s+n) overlap or touch), otherwise closes it
    spans = F.aggregate(
        F.col("__starts"),
        F.expr("array()").cast("array<struct<s:int,e:int>>"),
        lambda acc, s: F.when(
            F.size(acc) == 0,
            F.array(F.struct(s.alias("s"), (s + n).alias("e"))),
        ).when(
            s <= F.element_at(acc, -1)["e"],
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(
                    F.struct(
                        F.element_at(acc, -1)["s"].alias("s"),
                        (s + n).alias("e"),
                    )
                ),
            ),
        ).otherwise(
            F.concat(acc, F.array(F.struct(s.alias("s"), (s + n).alias("e"))))
        ),
    )
    return (
        starts.select(F.col("__id"), F.explode(spans).alias("__span"))
        .select(
            F.col("__id").alias(id_col),
            F.col("__span.s").alias("span_start"),
            F.col("__span.e").alias("span_end"),
        )
    )


def remove_hot_spans(
    docs: DataFrame,
    n: int = 8,
    min_docs: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_hot: bool = True,
) -> DataFrame:
    """Rewrite each document without its corpus-hot spans.

    Returns ``docs``' columns with ``text_col`` replaced by the
    cleaned text (tokens outside every hot span, ORIGINAL CASE,
    re-joined with single spaces — whitespace-normalizing, stated in
    the module docstring) plus ``n_tokens_removed``.  Documents with
    no hot span pass through with their original text UNTOUCHED
    (byte identity for the unflagged majority) and only FLAGGED
    documents enter the token-rewrite explode — the rewrite cost
    scales with the boilerplate-carrying fraction, not the corpus.
    A document covered ENTIRELY by hot spans comes back as the empty
    string with every token counted removed.
    """
    # The spans frame feeds THREE consumers below (covered positions,
    # removal counts, the flagged-doc semi-join); without
    # materialization each would re-run the whole hot-vote subtree —
    # the corpus-wide gram count — once.  It is tiny ((id, 2 ints)
    # per flagged doc), so an eager localCheckpoint (the
    # dedup.connected_keepers discipline) computes it exactly once.
    spans = hot_spans(
        docs, n, min_docs, id_col, text_col, broadcast_hot
    ).localCheckpoint(eager=True)
    # merged spans are disjoint per doc, so positions need no distinct
    covered = spans.select(
        F.col(id_col).alias("__id"),
        F.explode(
            F.sequence(F.col("span_start"), F.col("span_end") - 1)
        ).alias("pos"),
    )
    removed_counts = spans.groupBy(F.col(id_col).alias("__id")).agg(
        F.sum(F.col("span_end") - F.col("span_start")).alias("__n_removed")
    )
    # only flagged documents pay the token explode/rewrite; detection
    # lowercased (tokens_col default) but the REWRITE keeps original
    # case — \s+ splitting is case-blind, so positions align
    toks = docs.join(
        removed_counts.select(F.col("__id").alias(id_col)), id_col, "left_semi"
    ).select(
        F.col(id_col).alias("__id"),
        F.posexplode(
            tokens_col(F.col(text_col), lowercase=False)
        ).alias("pos", "__tok"),
    )
    kept = (
        toks.join(covered, ["__id", "pos"], "left_anti")
        .groupBy("__id")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "__tok"))
                    ),
                    lambda st: st["__tok"],
                ),
            ).alias("__clean"),
        )
    )
    # LEFT from removed_counts: a doc covered ENTIRELY by hot spans
    # has no surviving token (no row in kept) — it must still rewrite
    # (to empty), not slip through as original boilerplate
    flagged = removed_counts.join(kept, "__id", "left").withColumn(
        "__clean", F.coalesce("__clean", F.lit(""))
    )
    out_cols = [
        F.when(F.col("__n_removed").isNotNull(), F.col("__clean"))
        .otherwise(F.col(text_col))
        .alias(text_col)
        if c == text_col
        else F.col(c)
        for c in docs.columns
    ]
    return (
        docs.join(flagged, F.col(id_col) == F.col("__id"), "left")
        .select(
            *out_cols,
            F.coalesce("__n_removed", F.lit(0)).cast("int").alias(
                "n_tokens_removed"
            ),
        )
    )
