"""Benchmark decontamination: flag corpus documents whose word
n-grams overlap an evaluation/benchmark set — the standard
pre-training hygiene step (remove or mark training documents that
share n-grams with held-out eval data, cf. the n-gram overlap
decontamination described in the GPT-3 and PaLM papers).

Scale shape: eval benchmarks are tiny (MBs) next to a 100 TB corpus,
so the distinct eval-shingle set is **broadcast** — the corpus-side
probe is a map-side hash semi-join with NO shuffle of corpus
shingles. The only shuffle is the per-document hit aggregation on
the doc id, which gets map-side partial aggregation for free because
a document's shingles are generated on its own input partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import shingle_table


def contamination_overlap(
    corpus: DataFrame,
    eval_docs: DataFrame,
    k: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per corpus document: how much of its k-gram shingle set also
    appears anywhere in the eval set. Returns
    ``(doc_id, n_shingles, n_hit, overlap_frac, contaminated)`` for
    documents with at least one hit (the zero-overlap corpus bulk —
    almost everything at scale — never leaves the map side).

    ``overlap_frac`` is containment (|C ∩ E| / |C|), not Jaccard:
    decontamination asks "is this training doc covered by eval
    data", which must fire even when the eval side is much larger.
    """
    corpus_sh = shingle_table(corpus, k, text_col, id_col)
    # distinct eval shingles: the (small) broadcast build side
    eval_sh = shingle_table(eval_docs, k, text_col, id_col).select("shingle").distinct()
    hits = corpus_sh.join(F.broadcast(eval_sh), "shingle", "left_semi")
    overlap = F.col("n_hit").cast("double") / F.col("n_shingles").cast("double")
    return (
        hits.groupBy(F.col(id_col), F.col("set_size").alias("n_shingles"))
        .agg(F.count(F.lit(1)).alias("n_hit"))
        .select(
            id_col,
            "n_shingles",
            "n_hit",
            overlap.alias("overlap_frac"),
            (overlap >= F.lit(float(threshold))).alias("contaminated"),
        )
    )


def drop_contaminated(
    corpus: DataFrame,
    eval_docs: DataFrame,
    k: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The filtering form: corpus minus documents whose eval overlap
    reaches ``threshold`` — a left anti join against the (small)
    flagged-id set."""
    flagged = (
        contamination_overlap(corpus, eval_docs, k, threshold, text_col, id_col)
        .filter(F.col("contaminated"))
        .select(id_col)
    )
    return corpus.join(flagged, id_col, "left_anti")
