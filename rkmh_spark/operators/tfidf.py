"""TF-IDF term weighting per document.

Scale shape: the tf table (doc, token, tf) joins the df table (token,
df) on token — the Zipf-skew trap again. Here the guard IS the
statistic: the standard ``max_df`` stopword cut (drop tokens appearing
in more than max_df documents — they carry ~zero idf anyway) bounds the
join's per-key fan-in at max_df rows of the doc side, so after the cut
no hot key exists BY CONSTRUCTION and the equi-join needs no further
salting. The df aggregate itself is a plain count-distinct-docs groupBy
with map-side partials.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def tfidf(
    docs: DataFrame,
    max_df: int | None = None,
    n_docs: int | None = None,
) -> DataFrame:
    """(doc_id, token, tf, df, tfidf=tf*ln(N/df), rounded to 4 digits)
    for every token
    occurrence-set; tokens with df > max_df are dropped (idf-useless
    boilerplate AND the join-skew guard — see module docstring).
    Pass ``n_docs`` when known (parquet footer / table stats) to skip
    the count job — the ivf_topk lesson (VERDICT r4 #5)."""
    from rkmh_spark.functions.text import tokens

    tf = (
        docs.select("doc_id", F.explode(tokens("text")).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("tf"))
    )
    df = tf.groupBy("token").agg(F.count("*").alias("df"))
    if max_df is not None:
        df = df.where(F.col("df") <= max_df)
    if n_docs is None:
        n_docs = docs.select("doc_id").distinct().count()
    return tf.join(df, on="token").select(
        "doc_id",
        "token",
        "tf",
        "df",
        F.round(
            F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")),
            4,
        ).alias("tfidf"),
    )

