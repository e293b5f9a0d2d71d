"""Focused tests for the round-16 optimization internals:

1. ``common.spread`` — row-preserving, fires only below the session's
   core count, and is a structural no-op on an already-parallel frame
   (the scale-adaptivity contract: at production split counts no
   exchange is added);
2. the linear char-ngram construction (split + adjacent concat) is
   ngram-for-ngram identical to the quadratic per-position substring it
   replaced, including multibyte, short and empty strings — the
   equivalence the LM-bigram / langid-trigram rewrite rests on.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from octopusdb_spark.queries.common import spread


def test_spread_preserves_rows_and_fires_below_core_count(spark):
    df = spark.range(100).select(
        F.col("id").alias("doc_id"), (F.col("id") * 7 % 13).alias("v")
    ).coalesce(1)
    assert df.rdd.getNumPartitions() == 1
    out = spread(df, "doc_id")
    target = spark.sparkContext.defaultParallelism
    assert out.rdd.getNumPartitions() == target
    assert sorted(r["doc_id"] for r in out.collect()) == list(range(100))


def test_spread_is_noop_at_or_above_core_count(spark):
    target = spark.sparkContext.defaultParallelism
    df = spark.range(1000).select(F.col("id").alias("doc_id")).repartition(
        target, "doc_id"
    )
    out = spread(df, "doc_id")
    # same object back: no exchange added on an already-parallel frame
    assert out is df


def test_linear_char_bigrams_match_substring_form(spark):
    texts = [
        "",                       # no bigrams
        "a",                      # below the length guard
        "ab",                     # exactly one
        "hello world",            # plain ascii
        "héllo wörld — ünïcode",  # multibyte: substring counts chars, not bytes
        "aa aa aa",               # repeats (occurrence counting downstream)
        "ß" * 5,                  # all-multibyte
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    txt = df.select("doc_id", F.lower(F.col("text")).alias("txt"))
    old = F.expr(
        """CASE WHEN length(txt) >= 2
                THEN transform(sequence(1, length(txt) - 1),
                               i -> substring(txt, i, 2))
                ELSE array() END"""
    )
    cs = txt.select("doc_id", F.split("txt", "").alias("cs"))
    new = F.expr(
        """CASE WHEN size(cs) >= 2
                THEN transform(sequence(1, size(cs) - 1),
                               i -> concat(cs[i-1], cs[i]))
                ELSE array() END"""
    )
    a = txt.select("doc_id", F.posexplode(old).alias("p", "b"))
    b = cs.select("doc_id", F.posexplode(new).alias("p", "b"))
    assert a.exceptAll(b).union(b.exceptAll(a)).isEmpty()


def test_linear_char_trigrams_match_substring_form(spark):
    texts = ["", "ab", "abc", "héllo wörld", "xyzzy plugh"]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    txt = df.select("doc_id", F.lower(F.col("text")).alias("txt"))
    old = F.expr(
        """CASE WHEN length(txt) >= 3
                THEN transform(sequence(1, length(txt) - 2),
                               i -> substring(txt, i, 3))
                ELSE array() END"""
    )
    cs = txt.select("doc_id", F.split("txt", "").alias("cs"))
    new = F.expr(
        """CASE WHEN size(cs) >= 3
                THEN transform(sequence(1, size(cs) - 2),
                               i -> concat(cs[i-1], cs[i], cs[i+1]))
                ELSE array() END"""
    )
    a = txt.select("doc_id", F.posexplode(old).alias("p", "g"))
    b = cs.select("doc_id", F.posexplode(new).alias("p", "g"))
    assert a.exceptAll(b).union(b.exceptAll(a)).isEmpty()


def test_ann_ledger_observed_equals_aggregated(spark, tmp_path, monkeypatch):
    """The ANN index stats ledger must be byte-for-byte identical whether
    it rides the lists write as observed aggregates (r16) or the
    aggregate-over-lists fallback."""
    import octopusdb_spark.functions.ann_index as ai

    emb = spark.range(80).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(8)),
            lambda i: ((F.col("id") * 31 + i * 7) % 13).cast("double") / 13.0,
        ).alias("embedding"),
    )
    base = emb.filter(F.col("vec_id") % 5 != 3)
    batch = emb.filter(F.col("vec_id") % 5 == 3)

    ai.build_ivf(base, f"{tmp_path}/obs", n_centroids=4, kmeans_iters=0)
    ai.append_ivf(batch, f"{tmp_path}/obs")
    monkeypatch.setattr(ai, "OBSERVE_STATS_MAX_CENTROIDS", 0)
    ai.build_ivf(base, f"{tmp_path}/agg", n_centroids=4, kmeans_iters=0)
    ai.append_ivf(batch, f"{tmp_path}/agg")
    monkeypatch.undo()

    def ledger(d):
        return sorted(
            (r["phase"], r["cent_id"], r["n"], str(r["res_norm_sum"]))
            for r in spark.read.parquet(f"{d}/stats").collect()
        )

    a, b = ledger(f"{tmp_path}/obs"), ledger(f"{tmp_path}/agg")
    assert a == b
    assert len(a) > 0
    # and the lists themselves are identical
    la = sorted(r["vec_id"] for r in spark.read.parquet(f"{tmp_path}/obs/lists").collect())
    lb = sorted(r["vec_id"] for r in spark.read.parquet(f"{tmp_path}/agg/lists").collect())
    assert la == lb
