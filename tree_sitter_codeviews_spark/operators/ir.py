"""Information-retrieval index builds over the crawled corpus: the
inverted index and tf-idf term scoring every web-scale search / corpus-
analysis stack derives from the page table (CommonCrawl's columnar index
and cc2dataset both ship exactly these shapes).

Reference parity note: the reference's per-file symbol-table construction
(``src/atlas/codeviews/AST/AST_c.py`` builds name->node postings per
translation unit) is the single-file analogue of an inverted index; here
the posting lists are corpus-wide and built with distributed aggregation
instead of a per-file dict.

Scale notes (100 TB crawl):
- Tokenization + explode is per-row map work; the (token, doc) tf
  aggregate partial-aggregates map-side so the shuffle carries one row
  per distinct (token, doc), not one per token occurrence.
- The token-level rollup is keyed by vocabulary, not corpus size; hot
  stop-tokens collapse in the first aggregate, so pass-2 fan-in per token
  is bounded by document frequency. Posting lists are BOUNDED (top-k by
  tf) — emitting full postings for stop-words would be the classic
  skew/ooM funnel, so the operator never does.
- tf-idf avoids floats entirely: idf is the exact integer inverse-
  document-frequency ratio in ppm (``N * 1e6 div df``) — monotone in the
  classic ``log(N/df)`` for a fixed corpus, so top-k per doc is the same
  set, and the gate hash is bit-exact across engines (no ``ln`` ULP
  drift between JVM and C math libraries).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _token_tf(docs: DataFrame) -> DataFrame:
    """(token, doc_id, tf) — whitespace tokenization of ``text``, empty
    tokens dropped; one map-side-combined aggregate."""
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.col("text"), " ")).alias("token"),
    ).filter(F.col("token") != "")
    return toks.groupBy("token", "doc_id").agg(F.count("*").alias("tf"))


def inverted_index(docs: DataFrame, top_postings: int = 5) -> DataFrame:
    """Build the token-level inverted index: per token its document
    frequency, total term frequency, and the top-``top_postings`` posting
    doc ids by (tf desc, doc_id asc) as a comma-joined string (a bounded
    preview of the posting list — the full list lives sharded on disk in
    a real deployment; the gate needs a hashable scalar).

    Two stacked aggregates — (token, doc) tf, then the token rollup. The
    posting preview is an ``array_sort`` over (-tf, doc_id) structs
    sliced to k inside the aggregate, so no window over the posting table
    and no per-token skew: mega-df stop tokens cost one bounded sort of
    their collected (tf, doc) pairs.

    For stop-token safety at 100 TB the collect_list is bounded by a
    pre-aggregation rank filter: only postings that can reach the top-k
    (rank <= k within token) are collected; everything else contributes
    to df/total_tf via the cheap scalar aggregates only.
    """
    tf = _token_tf(docs)
    # Rank-prefilter the collect side so no token ever collects more than
    # top_postings rows (stop-word lists would otherwise be unbounded).
    w = Window.partitionBy("token").orderBy(
        F.col("tf").desc(), F.col("doc_id").asc()
    )
    ranked = tf.withColumn("rn", F.row_number().over(w))
    scalars = tf.groupBy("token").agg(
        F.count("*").alias("df"),
        F.sum("tf").alias("total_tf"),
    )
    previews = (
        ranked.filter(F.col("rn") <= top_postings)
        .groupBy("token")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                (-F.col("tf")).alias("ntf"),
                                F.col("doc_id").alias("doc_id"),
                            )
                        )
                    ),
                    lambda s: s["doc_id"].cast("string"),
                ),
                ",",
            ).alias("postings")
        )
    )
    return scalars.join(previews, "token")


def tfidf_topk(docs: DataFrame) -> DataFrame:
    """Top-3 characteristic terms per document by integer tf-idf.

    score = tf * idf_ppm with idf_ppm = ``N * 1e6 div df`` (exact integer
    inverse document frequency; monotone in log(N/df) for fixed N, so the
    per-doc top-k set and order match the float formulation while staying
    bit-exact across engines). Tie-break (score desc, token asc) pins the
    gate hash.

    Shape: the (token, doc) tf aggregate, the token df aggregate (keyed
    by vocabulary — broadcastable for bounded vocabularies, an AQE-
    handled shuffle join otherwise), one corpus-count scalar crossed in,
    then a per-doc row_number window. No per-row Python anywhere.
    """
    tf = _token_tf(docs)
    df_dim = tf.groupBy("token").agg(F.count("*").alias("df"))
    n_docs = docs.select(
        F.count("*").cast("long").alias("n_docs")
    )
    scored = (
        tf.join(df_dim, "token")
        .join(F.broadcast(n_docs))
        .withColumn(
            "score",
            F.col("tf")
            * F.expr("n_docs * 1000000 div df").cast("long"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("token").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select(
            "doc_id",
            F.col("rnk").cast("int").alias("rnk"),
            "token",
            F.col("tf").cast("long").alias("tf"),
            F.col("df").cast("long").alias("df"),
            F.col("score").cast("long").alias("score"),
        )
    )
