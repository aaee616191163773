"""Data-selection importance weighting over hashed n-gram features
(the DSIR recipe: Xie et al., "Data Selection for Language Models via
Importance Resampling", NeurIPS 2023).

Given a raw corpus and a target slice (e.g. a high-quality domain),
score every raw document by how target-like its hashed bigram
distribution is: ``log w(x) = sum_g [ln p_target(b(g)) - ln p_raw(b(g))]``
over the document's bigrams ``g``, with features hashed into a fixed
number of buckets and add-one smoothing on both distributions. Positive
log-weight = looks more like the target than like the average raw doc;
downstream, sampling proportional to ``exp(log_w)`` (or top-weight
selection) is the resampling step — composable with the deterministic
mixture sampler (``plans/llm_queries.ll35``) keyed on the weight.

Everything is deterministic and cross-engine reproducible (the whole
point of hashed features): tokenization is the shared BPE-ish regex,
the bucket hash is ``dedup.portable_hash40 % buckets`` (md5-derived, so
DuckDB recomputes it bit-identically), and the only doubles are the two
smoothed-probability logs whose per-bucket ratios are summed per doc
and rounded.

Scale design (100 TB): the corpus is scanned ONCE — feature extraction
(tokenize + slice-bigrams + hash; the higher-order functions run
interpreted, so the token array is bound once per document, see
``functions.lambdas``) collapses directly into a per-(doc, bucket)
count table, which is materialized and feeds both distributions AND
the per-doc weights (both raw/target bucket counts are sums over it,
<= buckets keys each, map-side partial agg). Totals attach via a
window over the <= buckets-row count table, never a driver collect;
the ratio table broadcasts back into the doc-keyed sum. One doc-keyed
shuffle over hashed features total, independent of corpus width.

Reference parity note: the reference has no curation surface; this
extends the LLM-pipeline family (ll35 mixture, ll21/ll43 quality
filters) with the learned-selection tier.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import tokenize, word_ngrams
from .dedup import _spread, portable_hash40


def _bigram_buckets(text: Column, buckets: int) -> Column:
    """Hashed word-bigram feature ids: array of portable_hash40(w1 ||
    ' ' || w2) % buckets, empty for docs with < 2 tokens. The bigrams
    are ``word_ngrams(tokens, 2)``, which tokenizes the document once."""
    return F.transform(
        word_ngrams(tokenize(text), 2), lambda g: portable_hash40(g) % buckets
    )


def dsir_doc_features(
    docs: DataFrame,
    target: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = 256,
) -> DataFrame:
    """The per-(doc, bucket) hashed-bigram count table — DSIR's
    PERSISTABLE state (doc_id, is_target, b, c): both model
    distributions are bucket-sums over it and per-doc weights are
    bucket-joins against it, so a frozen snapshot feature table
    unioned with a fresh delta's reproduces the union-trained model
    AND lets the snapshot docs be re-scored under that updated model
    WITHOUT re-tokenizing a byte of snapshot text — the property the
    incremental curation pipeline (ll100) rests on. One corpus scan
    (tokenize once + slice-bigrams + hash) collapsed by a
    map-side-combined count."""
    # _spread: tokenize+bigram+hash is the CPU pass; a single-row-group
    # scan would serialize it onto 1-2 cores (no-op at cluster scale)
    feat = _spread(
        docs.select(
            F.col(id_col).alias("doc_id"),
            target.alias("is_target"),
            F.col(text_col).alias("text"),
        )
    ).select(
        "doc_id",
        "is_target",
        F.explode(_bigram_buckets(F.col("text"), buckets)).alias("b"),
    )
    return feat.groupBy("doc_id", "is_target", "b").agg(
        F.count(F.lit(1)).alias("c")
    )


def dsir_logweights(
    docs: DataFrame,
    target: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = 256,
    round_digits: int = 6,
) -> DataFrame:
    """Per-document DSIR log importance weight against the ``target``
    slice (a boolean Column over ``docs``'s columns).

    Returns ``DataFrame[doc_id, n_bigrams, log_weight]`` — one row per
    input document; docs with no bigrams get (0, 0.0).
    """
    # ONE corpus pass: collapse to per-(doc, bucket) counts first, then
    # derive both distributions from that small table. db feeds two
    # consumers (the ratio table and the per-doc weights), so it is
    # materialized — without the boundary Catalyst re-executes the
    # whole tokenize+hash scan per consumer (measured ~2x on bench).
    # localCheckpoint, not cache(): checkpoint blocks are released by
    # the ContextCleaner once this DataFrame is dereferenced, whereas a
    # cache() entry would pin storage for the whole session (the bench
    # reuses one session across 30 queries).
    db = dsir_doc_features(
        docs, target, id_col, text_col, buckets
    ).localCheckpoint(eager=True)
    return dsir_logweights_from_features(
        docs.select(F.col(id_col).alias("doc_id")), db, buckets, round_digits
    )


def dsir_logweights_from_features(
    doc_ids: DataFrame,
    db: DataFrame,
    buckets: int = 256,
    round_digits: int = 6,
) -> DataFrame:
    """DSIR scoring from a FEATURE TABLE (``dsir_doc_features``'s
    (doc_id, is_target, b, c) schema — e.g. a persisted snapshot's
    features unioned with a fresh delta's): derive both smoothed
    distributions, then the per-doc weights, touching no text. Every
    doc in ``doc_ids`` gets a row; docs with no feature rows get
    (0, 0.0) — the ``dsir_logweights`` contract."""
    counts = db.groupBy("b").agg(
        F.sum("c").alias("cr"),
        F.sum(F.when(F.col("is_target"), F.col("c")).otherwise(0)).alias("ct"),
    )
    # Totals over the <= buckets-row count table: a single-partition
    # window on tiny data beats a 1-row cross-join attach (keeps the
    # registry's no-BNLJ audit clean) and never touches the driver.
    # coalesce(1) + spark_partition_id key = same single partition,
    # but unfoldable (a lit(1) key is constant-folded back into an
    # unpartitioned WindowExec and its scary warning).
    counts = counts.coalesce(1)
    tot = Window.partitionBy(F.spark_partition_id())
    ratio = counts.select(
        "b",
        (
            F.log((F.col("ct") + 1.0) / (F.sum("ct").over(tot) + buckets))
            - F.log((F.col("cr") + 1.0) / (F.sum("cr").over(tot) + buckets))
        ).alias("lr"),
    )
    per_doc = (
        db.join(F.broadcast(ratio), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("nf"),
            F.round(F.sum(F.col("c") * F.col("lr")), round_digits).alias("lw"),
        )
    )
    return (
        doc_ids.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("nf", F.lit(0)).cast("bigint").alias("n_bigrams"),
            F.coalesce("lw", F.lit(0.0)).cast("double").alias("log_weight"),
        )
    )


def bigram_lm_scores(
    df: DataFrame, id_col: str, text_col: str, lam: float = 0.7
) -> DataFrame:
    """Interpolated bigram LM scoring (Jelinek-Mercer): per doc the
    average -ln(lam·P(t_i|t_{i-1}) + (1-lam)·P(t_i)) under the
    corpus-trained bigram/unigram counts — the context-aware upgrade
    of the unigram perplexity proxy (one step toward CCNet's KenLM).
    Docs with < 2 tokens have no bigram events and drop out.

    Scale: the model is one (prev, tok)-keyed grouped count (vocab²-
    bounded, Heaps-law sublinear in practice); scoring is three
    token-keyed equi-joins + one doc-keyed average — every join key is
    a token string, uniformly distributed after hashing, no corpus-
    sized broadcast (the 1-row total is the only broadcast).

    Returns (doc_id, n_bigrams, avg_neg_logprob) with the score
    rounded to 6dp so cross-engine float summation noise can't leak
    into comparisons.
    """
    tok0 = df.select(
        F.col(id_col).alias("doc_id"), tokenize(F.col(text_col)).alias("tokens")
    )
    pair_t = "array<struct<prev:string,tok:string>>"
    bg = tok0.select(
        "doc_id",
        F.explode(
            F.when(
                F.size("tokens") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size("tokens") - 1),
                    lambda i: F.struct(
                        F.element_at("tokens", i).alias("prev"),
                        F.element_at("tokens", i + 1).alias("tok"),
                    ),
                ),
            ).otherwise(F.array().cast(pair_t))
        ).alias("pr"),
    ).select("doc_id", "pr.prev", "pr.tok")
    toks = tok0.select("doc_id", F.explode("tokens").alias("token"))
    uni = toks.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    n = uni.agg(F.sum("c").alias("n"))
    bi = bg.groupBy("prev", "tok").agg(F.count(F.lit(1)).alias("c2"))
    return (
        bg.join(bi, ["prev", "tok"])
        .join(
            uni.select(F.col("token").alias("prev"), F.col("c").alias("cp")),
            "prev",
        )
        .join(
            uni.select(F.col("token").alias("tok"), F.col("c").alias("ct")),
            "tok",
        )
        .crossJoin(F.broadcast(n))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.round(
                F.avg(
                    -F.log(
                        F.lit(lam) * F.col("c2") * F.lit(1.0) / F.col("cp")
                        + F.lit(1.0 - lam)
                        * F.col("ct")
                        * F.lit(1.0)
                        / F.col("n")
                    )
                ),
                6,
            ).alias("score"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            F.col("score").cast("double").alias("avg_neg_logprob"),
        )
    )


def kneser_ney_bigram_scores(
    df: DataFrame, id_col: str, text_col: str, discount: float = 0.75
) -> DataFrame:
    """Kneser-Ney-smoothed bigram LM scoring — the canonical n-gram
    smoothing (Kneser & Ney 1995; the default in KenLM, which CCNet
    uses for its quality buckets): per doc the average
    -ln P_KN(t_i | t_{i-1}) with

        P_KN(w|v) = max(c(vw) - d, 0) / c(v·)
                    + d·N1+(v·)/c(v·) · N1+(·w)/B

    where c(v·) is v's continuation-event count, N1+(v·)/N1+(·w) are
    the distinct-successor/-predecessor type counts, and B the total
    distinct bigram types — absolute discounting with the CONTINUATION
    unigram (how many contexts a word follows, not how often it
    occurs), which is what distinguishes KN from ll73's Jelinek-Mercer
    interpolation. All counts derive from the bigram table alone, so
    document-final tokens never pollute the denominators.

    Scale: the model is one (prev, tok)-keyed grouped count (vocab²-
    bounded, Heaps-law sublinear), two prev-/tok-keyed re-groupings of
    that table, and scoring is token-string equi-joins + one doc-keyed
    average — uniformly hashed keys, the 1-row B total the only
    broadcast. Same layout as bigram_lm_scores.

    Returns (doc_id, n_bigrams, avg_neg_logprob) rounded 6dp."""
    tok0 = df.select(
        F.col(id_col).alias("doc_id"), tokenize(F.col(text_col)).alias("tokens")
    )
    pair_t = "array<struct<prev:string,tok:string>>"
    bg = tok0.select(
        "doc_id",
        F.explode(
            F.when(
                F.size("tokens") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size("tokens") - 1),
                    lambda i: F.struct(
                        F.element_at("tokens", i).alias("prev"),
                        F.element_at("tokens", i + 1).alias("tok"),
                    ),
                ),
            ).otherwise(F.array().cast(pair_t))
        ).alias("pr"),
    ).select("doc_id", "pr.prev", "pr.tok")
    bi = bg.groupBy("prev", "tok").agg(F.count(F.lit(1)).alias("c2"))
    prev_stats = bi.groupBy("prev").agg(
        F.sum("c2").alias("cp"), F.count(F.lit(1)).alias("fanv")
    )
    tok_stats = bi.groupBy("tok").agg(F.count(F.lit(1)).alias("contw"))
    b_total = bi.agg(F.count(F.lit(1)).alias("b"))
    d = F.lit(discount)
    p_kn = (
        F.greatest(F.col("c2") - d, F.lit(0.0)) / F.col("cp")
        + d * F.col("fanv") / F.col("cp") * F.col("contw") / F.col("b")
    )
    return (
        bg.join(bi, ["prev", "tok"])
        .join(prev_stats, "prev")
        .join(tok_stats, "tok")
        .crossJoin(F.broadcast(b_total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.round(F.avg(-F.log(p_kn)), 6).alias("score"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            F.col("score").cast("double").alias("avg_neg_logprob"),
        )
    )


def dsir_ratio_table(
    docs: DataFrame,
    target: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = 256,
) -> DataFrame:
    """The trained HALF of DSIR — the bucket → log-likelihood-ratio
    table alone (``DataFrame[b, lr]``, ≤ ``buckets`` rows), for
    consumers that score OUTSIDE this pass: the streaming ingest gate
    (``streaming.ops.dsir_gate_stream``) collects it once and bakes it
    into a stateless map-literal scorer. Same arithmetic as
    ``dsir_logweights`` (add-one smoothing, shared ln convention)."""
    feat = _spread(
        docs.select(
            F.col(id_col).alias("doc_id"),
            target.alias("is_target"),
            F.col(text_col).alias("text"),
        )
    ).select(
        "is_target",
        F.explode(_bigram_buckets(F.col("text"), buckets)).alias("b"),
    )
    counts = feat.groupBy("b").agg(
        F.count(F.lit(1)).alias("cr"),
        F.sum(F.when(F.col("is_target"), 1).otherwise(0)).alias("ct"),
    ).coalesce(1)  # ≤ buckets rows; see dsir_logweights' totals note
    tot = Window.partitionBy(F.spark_partition_id())
    return counts.select(
        "b",
        (
            F.log((F.col("ct") + 1.0) / (F.sum("ct").over(tot) + buckets))
            - F.log((F.col("cr") + 1.0) / (F.sum("cr").over(tot) + buckets))
        ).alias("lr"),
    )
