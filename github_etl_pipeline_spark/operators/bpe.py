"""Byte-pair-encoding (BPE) merge candidates: the relation one BPE
training step ranks (Sennrich et al. 2016, "Neural Machine Translation of
Rare Words with Subword Units").

The corpus is touched ONCE: ``_word_counts`` reduces it to the
(word, count) frequency table — vocabulary-bounded, thousands of times
smaller than the text — and ``_initial_symbols`` splits each word into
characters with the end-of-word marker fused onto the last one. The
registry's ``bpe_top_pairs_documents`` counts adjacent symbol pairs over
that table, so pair counting never touches documents.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: end-of-word marker appended to every word's final character (keeps
#: merges from crossing word boundaries and makes decoding unambiguous)
EOW = "</w>"

WORD_SPLIT_RE = r"\s+"


def _word_counts(docs: DataFrame, text_col: str) -> DataFrame:
    """(word, cnt): the corpus's word-frequency table — the ONLY pass
    over the documents."""
    return (
        docs.select(F.explode(F.split(F.col(text_col), WORD_SPLIT_RE)).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _initial_symbols(word: Column) -> Column:
    """Character symbols with the end-of-word marker fused onto the
    final character (the Sennrich formulation)."""
    chars = F.split(word, "")
    n = F.size(chars)
    return F.concat(
        F.slice(chars, 1, n - 1),
        F.array(F.concat(F.element_at(chars, -1), F.lit(EOW))),
    )
