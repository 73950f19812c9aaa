"""Benchmark decontamination: n-gram overlap between a training corpus
and an evaluation set.

Training data that contains benchmark text inflates eval scores; the
standard defense (GPT-3 appendix C / PaLM / Llama style) flags any
training document sharing a long n-gram (typically 8-13 tokens) with
any eval document. This is the corpus-side complement of dedup.py:
instead of corpus×corpus similarity, it is corpus×(small eval set)
membership — a fundamentally cheaper asymmetric join.

Scale shape (100 TB corpus, ~10^4-10^5 eval docs):
- Each document's distinct shingle keys are taken inside its row
  (``array_distinct``), so neither side shuffles its shingles.
- Eval-side distinct shingles number |eval| × ~tokens-per-doc — a few
  ×10^7 keys at worst; hashed to 8-byte longs (``key_col=xxhash64``)
  that's hundreds of MB — broadcast, so the corpus side streams
  map-side into the join with no shuffle before it.
- Per-doc aggregation is map-side combinable (groupBy counts).
- Zero Python anywhere: tokenize/shingle are the same Column
  expressions as quality.py's span dedup (one shared tokenizer across
  the pipeline — a doc flagged there and here agrees on token
  boundaries).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hiispider_spark.operators.dedup import explode_shingles


def ngram_contamination(
    docs: DataFrame,
    eval_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    eval_id_col: str = "eval_id",
    eval_text_col: str = "text",
    n: int = 8,
    key_col=None,
) -> DataFrame:
    """(doc_id, eval_id, n_shared, eval_ngrams, shared_frac) for every
    (training doc, eval doc) pair sharing ≥1 distinct n-token shingle.

    ``shared_frac`` is relative to the EVAL doc's distinct shingles —
    1.0 means the training doc contains the entire eval doc (modulo
    ordering). ``key_col`` maps shingle strings to the join key;
    default identity (oracle-twinnable), production ``F.xxhash64``.
    Each side holds one row per id: distinct shingles are per row.
    """
    tr = explode_shingles(docs, id_col, text_col, n, key_col, distinct=True)
    ev = explode_shingles(
        eval_docs, eval_id_col, eval_text_col, n, key_col, distinct=True,
        size_col="eval_ngrams",
    )
    hits = (
        tr.join(F.broadcast(ev), "k")
        .groupBy(id_col, eval_id_col, "eval_ngrams")
        .agg(F.count("*").alias("n_shared"))
    )
    return hits.select(
        id_col,
        eval_id_col,
        "n_shared",
        "eval_ngrams",
        F.round(F.col("n_shared") / F.col("eval_ngrams"), 6).alias(
            "shared_frac"
        ),
    )


def decontaminate(
    docs: DataFrame,
    eval_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    eval_id_col: str = "eval_id",
    eval_text_col: str = "text",
    n: int = 8,
    min_shared: int = 1,
    key_col=None,
) -> DataFrame:
    """``docs`` plus a ``contaminated`` flag: true when any eval doc
    shares ≥ ``min_shared`` distinct n-gram shingles. Keep-side filter
    is ``filter(~contaminated)`` — left to the caller so audits can see
    what was dropped and why."""
    flagged = (
        ngram_contamination(
            docs,
            eval_docs,
            id_col,
            text_col,
            eval_id_col,
            eval_text_col,
            n,
            key_col,
        )
        .filter(F.col("n_shared") >= min_shared)
        .select(id_col)
        .distinct()
        .withColumn("contaminated", F.lit(True))
    )
    return docs.join(F.broadcast(flagged), id_col, "left").withColumn(
        "contaminated", F.coalesce("contaminated", F.lit(False))
    )
