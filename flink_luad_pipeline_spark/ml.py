"""ML / composite analytic operators (SURVEY §2.7: C1, C2, C4, C5).

Re-expression of the reference's FlinkML stages with the COO
long-format DataFrame (sample_id, probe_id, value) as the central IR:
ALS runs on spark.ml, and the SVM is solved exactly in its dual from a
sample Gram matrix one Spark aggregation computes — no vectors.
"""

from __future__ import annotations

import math
import warnings

import numpy as np
from pyspark.ml.recommendation import ALS
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def pearson_edges(
    matrix: DataFrame,
    threshold: float | None = 0.8,
    sample_col: str = "sample_id",
    probe_col: str = "probe_id",
    value_col: str = "value",
    round_digits: int | None = None,
) -> DataFrame:
    """C2 — all-pairs Pearson correlation between probe columns.

    Reference: PreProcess.scala:25-82 — two-stage reduceGroup computing
    r = (n·Σxy − Σx·Σy)/√((n·Σx²−(Σx)²)(n·Σy²−(Σy)²)) with a
    driver-collected broadcast of per-probe moments, upper-triangle
    pruning (x._1 > y._1, :69), threshold filter and NaN/Inf drop (:75).
    Default threshold 0.8 (Input.scala:185); None disables
    (Input.scala:57-61 'none').

    Spark-first: self-join the long matrix on sample_id (alignment by
    sample id for free — fixing the reference's zip-order bug, see
    SURVEY §2.7 caveat), upper-triangle predicate pushed below the
    join, built-in ``corr`` aggregate (single-pass co-moment, same
    formula). Zero-variance pairs yield null -> dropped, mirroring the
    reference's NaN drop.

    Scale: O(p²) candidate pairs. Fine for p ~ 21k (reference workload);
    for wide matrices switch to a DIMSUM-style sampled similarity join
    or block-matrix multiplication behind this same signature.

    Returns ``DataFrame[probe_i, probe_j, r]`` with probe_i > probe_j.
    """
    a = matrix.select(
        F.col(sample_col).alias("s"),
        F.col(probe_col).alias("probe_i"),
        F.col(value_col).alias("x"),
    )
    b = matrix.select(
        F.col(sample_col).alias("s"),
        F.col(probe_col).alias("probe_j"),
        F.col(value_col).alias("y"),
    )
    pairs = a.join(b, "s").where(F.col("probe_i") > F.col("probe_j"))
    # Pearson r as covar/(sx*sy) with try_divide: identical to corr()
    # but ANSI-safe — a zero-variance probe (the reference's NaN case,
    # PreProcess.scala:75) yields NULL instead of raising, and is
    # dropped below exactly like the reference drops NaN.
    r = F.try_divide(
        F.covar_samp("x", "y"), F.stddev_samp("x") * F.stddev_samp("y")
    )
    if round_digits is not None:
        r = F.round(r, round_digits)
    edges = pairs.groupBy("probe_i", "probe_j").agg(r.alias("r"))
    edges = edges.where(F.col("r").isNotNull() & ~F.isnan(F.col("r")))
    if threshold is not None:
        edges = edges.where(F.abs(F.col("r")) >= F.lit(threshold))
    return edges


def pearson_edges_scalable(
    matrix: DataFrame,
    threshold: float | None = 0.8,
    dimsum_threshold: float = 0.0,
    sample_col: str = "sample_id",
    probe_col: str = "probe_id",
    value_col: str = "value",
) -> DataFrame:
    """C2 at 100 TB scale — DIMSUM column-similarity route (SURVEY M4f).

    Pearson r between two columns equals the cosine of the *centered*
    columns (the (n-1) factors cancel), so: center per probe, build a
    distributed RowMatrix (rows = samples), and run
    ``columnSimilarities(dimsum_threshold)``. With dimsum_threshold=0
    the result is exact (brute force per row, map-side); above 0 it
    switches to DIMSUM sampling, whose cost is O(nnz · log p / thr)
    instead of O(n · p²) — the reason this path survives wide matrices
    where the self-join (pearson_edges) is quadratic in probes.

    Requires a dense matrix (run ALS completion first, as the pipeline
    does) — a missing cell would be treated as 0, which after centering
    is wrong. Returns the same (probe_i, probe_j, r) contract with
    probe_i > probe_j, NaN/zero-variance pairs dropped.

    Caveat (measured): sampled mode (dimsum_threshold > 0) has high
    estimator variance when the row count is small — at n=40 a planted
    r=1.0 pair came back as 0.57. Use sampling only in the many-rows
    regime it was designed for (DIMSUM's error bound tightens with
    magnitude/row count); at small n keep dimsum_threshold=0 (exact).
    """
    from pyspark.mllib.linalg.distributed import CoordinateMatrix, MatrixEntry

    means = matrix.groupBy(probe_col).agg(F.avg(value_col).alias("__mean"))
    centered = matrix.join(means, probe_col).select(
        F.col(sample_col).cast("long").alias("i"),
        F.col(probe_col).cast("long").alias("j"),
        (F.col(value_col) - F.col("__mean")).alias("v"),
    )
    entries = centered.rdd.map(lambda r: MatrixEntry(r.i, r.j, r.v))
    row_matrix = CoordinateMatrix(entries).toRowMatrix()
    sims = row_matrix.columnSimilarities(dimsum_threshold)
    spark = matrix.sparkSession
    edges = spark.createDataFrame(
        sims.entries.map(lambda e: (int(e.i), int(e.j), float(e.value))),
        f"{probe_col}_a LONG, {probe_col}_b LONG, r DOUBLE",
    ).select(
        F.greatest(f"{probe_col}_a", f"{probe_col}_b").alias("probe_i"),
        F.least(f"{probe_col}_a", f"{probe_col}_b").alias("probe_j"),
        "r",
    )
    edges = edges.where(F.col("r").isNotNull() & ~F.isnan(F.col("r")))
    if threshold is not None:
        edges = edges.where(F.abs(F.col("r")) >= F.lit(threshold))
    return edges


def als_complete(
    observed: DataFrame,
    rank: int = 10,
    max_iter: int = 10,
    reg_param: float = 0.9,
    seed: int = 42,
    num_blocks: int = 100,
    sample_col: str = "sample_id",
    probe_col: str = "probe_id",
    value_col: str = "value",
) -> DataFrame:
    """C1 — matrix completion by ALS; fills the missing cells.

    Reference: PreProcess.scala:130-152 — FlinkML ALS(iterations=10,
    factors=10, blocks=100, λ=0.9, seed=42), predict the missing-cell
    complement, union with observed. Defaults mirror those exactly.
    Flink and Spark both implement ALS-WR (Zhou et al.) but weight λ
    differently, so completed values are statistically (not bitwise)
    equivalent — validated by holdout RMSE, not hashes (SURVEY §5.2).

    Spark-first deltas: the missing complement is a crossJoin +
    broadcast LEFT ANTI instead of per-group driver set-diff, and the
    reference's post-union ``rebalance`` (PreProcess.scala:152) is
    AQE's job now. The observed cells (read by ALS and the complement)
    and the complement (read by the guard and the transform) are each
    materialized once by an eager ``localCheckpoint``: later plans scan
    them as a leaf, and the session's cache is left as it was.

    Returns the completed matrix (observed ∪ predicted), same schema.
    """
    obs = observed.select(
        F.col(sample_col).cast("int").alias("sample_id"),
        F.col(probe_col).cast("int").alias("probe_id"),
        F.col(value_col).cast("double").alias("value"),
    ).localCheckpoint(eager=True)

    samples = obs.select("sample_id").distinct()
    probes = obs.select("probe_id").distinct()
    missing = samples.crossJoin(F.broadcast(probes)).join(
        obs, ["sample_id", "probe_id"], "left_anti"
    ).localCheckpoint(eager=True)

    # A9-style control-flow on an aggregate: skip ALS when complete
    # (PreProcess.scala:121,127).
    if missing.isEmpty():
        return obs

    als = ALS(
        rank=rank,
        maxIter=max_iter,
        regParam=reg_param,
        seed=seed,
        numUserBlocks=num_blocks,
        numItemBlocks=num_blocks,
        userCol="sample_id",
        itemCol="probe_id",
        ratingCol="value",
        coldStartStrategy="nan",
    )
    model = als.fit(obs)
    predicted = model.transform(missing).select(
        "sample_id", "probe_id", F.col("prediction").cast("double").alias("value")
    )
    return obs.unionAll(predicted)  # U1 (PreProcess.scala:152)


def svm_train(
    matrix: DataFrame, labels: DataFrame, reg_param: float = 1.0, label_col: str = "tumorous"
) -> dict[int, float]:
    """C4 — linear soft-margin SVM, solved exactly in its dual; returns
    the decision value Σ_t α_t·y_t·K(s, t) − ρ of every sample s.

    Reference: Trainer.scala:26-61 — FlinkML CoCoA (itself a dual
    method, Jaggi et al. 2014), reg 1.0, raw feature scales. Objective:
    LinearSVC's with ``standardization=False``, mean hinge +
    (reg_param/2)·‖w‖² with a free intercept — the C-SVM with
    C = 1/(reg_param·n_train). ``matrix`` holds the long rows of every
    sample to score, ``labels`` (sample_id, ``label_col`` BOOL) the
    training samples (True -> +1). One aggregation computes
    K(s, t) = Σ_p x_sp·x_tp against every training sample t, with each
    product quantized to fixed point (2⁻⁴⁰) and summed as exact longs,
    so K does not depend on partitioning; the driver solves the dual by
    SMO (``_smo``). Cost: n_all·n_train·d joined rows and O(n²) driver
    entries, which fits samples ≪ probes — the LUAD shape, where
    ``pearson_edges``' p²·n pass dominates.
    """
    y = labels.select("sample_id", F.when(F.col(label_col), 1.0).otherwise(-1.0).alias("y"))
    train = matrix.join(F.broadcast(y), "sample_id").select(
        F.col("sample_id").alias("t"), "probe_id", F.col("value").alias("xt"), "y"
    )
    # a product is two longs: its integer part, and its fraction (exact
    # in double) truncated to 2⁻⁴⁰; long sums are exact and order-free
    prod = F.col("value") * F.col("xt")
    hi = prod.cast("long")
    gram = (
        matrix.select(F.col("sample_id").alias("s"), "probe_id", "value")
        .join(train, "probe_id")
        .groupBy("s", "t", "y")
        .agg(F.sum(hi).alias("hi"), F.sum(((prod - hi) * 2.0**40).cast("long")).alias("lo"))
        .toArrow()
    )
    if not gram.num_rows:
        raise ValueError("svm_train: no training sample has a row in the matrix")
    s_ids, si = np.unique(gram["s"].to_numpy(), return_inverse=True)
    t_ids, ti = np.unique(gram["t"].to_numpy(), return_inverse=True)
    k, yt = np.zeros((len(s_ids), len(t_ids))), np.zeros(len(t_ids))
    k[si, ti] = gram["hi"].to_numpy() + gram["lo"].to_numpy() * 2.0**-40
    yt[ti] = gram["y"].to_numpy()
    alpha, rho = _smo(k[np.searchsorted(s_ids, t_ids)], yt, 1.0 / (reg_param * len(t_ids)))
    return dict(zip(s_ids.tolist(), (k @ (alpha * yt) - rho).tolist()))


def _smo(k, y, c, tol=1e-9, max_iter=None):
    """LIBSVM's SMO (Fan, Chen & Lin, JMLR 2005) for the dual min
    ½αᵀQα − Σα, Q = K∘yyᵀ, 0 ≤ α ≤ c, yᵀα = 0: move the maximal violator
    i and its second-order partner j until the maximal-violating-pair
    KKT gap is ≤ ``tol``; warn if the cap (max(10⁵, 100n)) comes first.
    Returns α and LIBSVM's ρ: mean y·∇ over free α, else the bounds' middle."""
    n = len(y)
    cap = max(100_000, 100 * n) if max_iter is None else max_iter
    q, kd = k * np.outer(y, y), np.diag(k)
    a, g = np.zeros(n), -np.ones(n)  # g = Qα − 1
    for step in range(cap + 1):
        v = -y * g
        up = np.where(y > 0, a < c, a > 0)  # y_i·α_i may grow
        low = np.where(y > 0, a > 0, a < c)  # y_j·α_j may shrink
        if not (up.any() and low.any()):
            break
        i = np.flatnonzero(up)[np.argmax(v[up])]
        gap = v[i] - v[low].min()
        if gap <= tol or step == cap:
            if gap > tol:
                warnings.warn(f"SMO hit its {cap}-iteration cap, KKT gap {gap:.3g}", RuntimeWarning)
            break
        b, quad = v[i] - v, np.maximum(kd[i] + kd - 2 * k[i], 1e-12)
        cand = np.flatnonzero(low & (b > 0))
        j = cand[np.argmax(b[cand] ** 2 / quad[cand])]
        # α_i += y_i·t, α_j −= y_j·t keeps yᵀα; t is clipped to the box
        ti, tj = (c - a[i] if y[i] > 0 else a[i]), (a[j] if y[j] > 0 else c - a[j])
        t = min(b[j] / quad[j], ti, tj)
        ai = a[i] + y[i] * t if t < ti else (c if y[i] > 0 else 0.0)
        aj = a[j] - y[j] * t if t < tj else (0.0 if y[j] > 0 else c)
        g += q[:, i] * (ai - a[i]) + q[:, j] * (aj - a[j])
        a[i], a[j] = ai, aj
    yg, free = y * g, (a > 0) & (a < c)
    if free.any():
        return a, float(yg[free].mean())
    upper = np.where(y > 0, a <= 0, a >= c)  # these y·∇ bound ρ from above
    return a, float((yg[upper].min(initial=np.inf) + yg[~upper].max(initial=-np.inf)) / 2)


def svm_predict(decisions: dict[int, float], samples: DataFrame) -> DataFrame:
    """C5 — (sample_id, prediction) for the scored rows of ``samples``:
    +1.0 where the decision value is > 0 (LinearSVC's threshold), else
    −1.0. The reference re-joins ids by DenseVector equality (J3,
    Trainer.scala:73-116); here the decisions enter the plan as one
    literal id -> ±1.0 map: no join, no Python RDD."""
    sign = F.create_map(
        *[F.lit(x) for s, f in sorted(decisions.items()) for x in (s, 1.0 if f > 0 else -1.0)]
    )
    scored = samples.select("sample_id", sign[F.col("sample_id")].alias("prediction"))
    return scored.where(F.col("prediction").isNotNull())


def naive_bayes_langid(
    docs: DataFrame,
    label_col: str = "lang",
    text_col: str = "text",
    holdout_mod: int = 3,
    id_col: str = "doc_id",
    round_digits: int = 6,
) -> DataFrame:
    """Multinomial Naive Bayes with add-one smoothing, trained on the
    ``id % holdout_mod != 0`` split and applied to the held-out third —
    the LEARNED language-ID next to ll2's n-gram heuristic, and the
    supervised member of the ML family (ALS C1, SVM C4/C5, ridge c6,
    k-means ll50) that is exactly reproducible: log-likelihoods and
    log-priors are rounded to ``round_digits`` and accumulated as
    DECIMAL, so per-class scores are order-free sums a SQL oracle
    replays digit-for-digit, argmax tie-broken by class name.

    Scale shape: training is two grouped counts over the tokenized
    train split (class-word and class totals — vocab-sized shuffles,
    map-side combinable); the vocabulary size V and the k-row
    class/prior tables are legitimate driver/broadcast boundaries
    (same contract as the k-means centroids). Scoring explodes each
    held-out doc's words across the k classes (k is small and fixed),
    left-joins the (class, word) log-likelihood table — a word-keyed
    equi-join — and sums per (doc, class). Docs with zero tokens fall
    back to the prior argmax.

    Returns (doc_id, true label, predicted, correct).
    """
    from .functions.text import tokenize

    train = docs.where(F.col(id_col) % holdout_mod != 0)
    test = docs.where(F.col(id_col) % holdout_mod == 0)

    ttok = train.select(
        F.col(label_col).alias("c"),
        F.explode(tokenize(F.col(text_col))).alias("w"),
    )
    cw = ttok.groupBy("c", "w").agg(F.count(F.lit(1)).alias("n_cw"))
    ctot = cw.groupBy("c").agg(F.sum("n_cw").alias("n_c"))
    v = ttok.select("w").distinct().count()  # one scalar, like k-means' k

    dec = f"decimal(18,{round_digits})"
    ll = (
        cw.join(ctot, "c")
        .select(
            "c",
            "w",
            F.round(
                F.log((F.col("n_cw") + 1.0) / (F.col("n_c") + float(v))),
                round_digits,
            ).cast(dec).alias("ll"),
        )
    )
    classes = ctot.select(
        "c",
        F.round(F.log(1.0 / (F.col("n_c") + float(v))), round_digits)
        .cast(dec)
        .alias("dflt"),
    )
    priors = (
        train.groupBy(F.col(label_col).alias("c"))
        .agg(F.count(F.lit(1)).alias("d_c"))
        # class-count table (k rows): coalesce(1) + a spark_partition_id
        # window key = the same single-partition total, but the key
        # can't be constant-folded into an unpartitioned WindowExec
        # (a lit(1) key is), so no data-scale-looking warning remains
        .coalesce(1)
        .withColumn(
            "d_tot",
            F.sum("d_c").over(Window.partitionBy(F.spark_partition_id())),
        )
        .select(
            "c",
            F.round(F.log(F.col("d_c") / F.col("d_tot")), round_digits)
            .cast(dec)
            .alias("prior"),
        )
    )

    testtok = (
        test.select(F.col(id_col).alias("doc_id"),
                    F.explode(tokenize(F.col(text_col))).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("k"))
    )
    likes = (
        testtok.crossJoin(F.broadcast(classes))
        .join(ll, ["c", "w"], "left")
        .select(
            "doc_id",
            "c",
            (
                F.col("k").cast("decimal(18,0)")
                * F.coalesce(F.col("ll"), F.col("dflt"))
            ).alias("contrib"),
        )
        .groupBy("doc_id", "c")
        .agg(F.sum("contrib").alias("like"))
    )
    scored = (
        test.select(F.col(id_col).alias("doc_id"))
        .crossJoin(F.broadcast(classes.select("c")))
        .join(likes, ["doc_id", "c"], "left")
        .join(F.broadcast(priors), "c")
        .select(
            "doc_id",
            "c",
            (F.col("prior") + F.coalesce(F.col("like"), F.lit(0).cast(dec)))
            .alias("score"),
        )
    )
    wr = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("c"))
    pred = (
        scored.withColumn("rn", F.row_number().over(wr))
        .where(F.col("rn") == 1)
        .select("doc_id", F.col("c").alias("predicted"))
    )
    return (
        test.select(F.col(id_col).alias("doc_id"), F.col(label_col).alias("label"))
        .join(pred, "doc_id")
        .select(
            "doc_id",
            "label",
            "predicted",
            (F.col("predicted") == F.col("label")).alias("correct"),
        )
    )


def logistic_irls_1d(d: DataFrame, steps: int = 3) -> DataFrame:
    """Logistic regression (intercept + one feature) by IRLS —
    ``steps`` unrolled Newton iterations from w = 0, every number
    deterministic: per-row terms are quantized to DECIMAL(28,9) before
    summation (exact, row-order-free sums — the c6/c7 discipline) and
    the 2x2 Newton solve is closed-form algebra. ``d`` must have
    columns (y: 1.0/0.0, x: double). Returns DataFrame[b0, b1].

    Each step is ONE map-side-combined aggregation with the previous
    betas riding along as a 1-row broadcast — the distributed-IRLS
    layout that holds at any corpus size.

    Degenerate fit: the 2x2 solve divides by det = a0·a2 − a1², which
    is 0 when x is constant or every weight p(1−p) underflows. Each
    step then KEEPS the previous betas (a singular Hessian has no
    Newton direction), so the output stays finite and the stall shows
    as unchanged coefficients rather than NULL/NaN."""

    def dec(c):
        return c.cast("decimal(28,9)")

    def step(prev):
        if prev is None:
            base, z = d, F.lit(0.0) + F.lit(0.0) * F.col("x")
        else:
            base = d.crossJoin(F.broadcast(prev))
            z = F.col("b0") + F.col("b1") * F.col("x")
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
        r = p * (F.lit(1.0) - p)
        aggs = [
            F.sum(dec(r)).cast("double").alias("a0"),
            F.sum(dec(r * F.col("x"))).cast("double").alias("a1"),
            F.sum(dec(r * F.col("x") * F.col("x"))).cast("double").alias("a2"),
            F.sum(dec(F.col("y") - p)).cast("double").alias("g0"),
            F.sum(dec((F.col("y") - p) * F.col("x"))).cast("double").alias("g1"),
        ]
        if prev is not None:
            aggs += [F.first("b0").alias("pb0"), F.first("b1").alias("pb1")]
        m = base.agg(*aggs)
        if prev is None:
            m = m.select("*", F.lit(0.0).alias("pb0"), F.lit(0.0).alias("pb1"))
        m = m.select(
            "*",
            (F.col("a0") * F.col("a2") - F.col("a1") * F.col("a1")).alias("det"),
        )
        # singular Hessian (det == 0): keep the previous betas
        return m.select(
            F.when(
                F.col("det") == 0.0, F.col("pb0")
            ).otherwise(
                F.col("pb0")
                + (F.col("a2") * F.col("g0") - F.col("a1") * F.col("g1"))
                / F.col("det")
            ).alias("b0"),
            F.when(
                F.col("det") == 0.0, F.col("pb1")
            ).otherwise(
                F.col("pb1")
                + (F.col("a0") * F.col("g1") - F.col("a1") * F.col("g0"))
                / F.col("det")
            ).alias("b1"),
        )

    w = None
    for _ in range(steps):
        w = step(w)
    return w


def pca_power_iteration(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    iters: int = 5,
) -> DataFrame:
    """Leading principal component of the embedding table by power
    iteration on the (dim × dim) covariance matrix — PCA's first axis,
    the direction dominating embedding variance (used to de-mean/
    whiten before ANN, to detect collapsed encoders, and as the
    1-component version of the PCA preprocessing FAISS applies before
    PQ). Returns (dim_idx, loading, eigenvalue): the unit eigenvector
    and its Rayleigh eigenvalue (= the norm of the final un-normalized
    iterate, exact for a converged symmetric matrix).

    Everything is relational and value-checkable — no MLlib, no RNG:

    - covariance: ONE pass that explodes each vector's (i, v_i) pairs
      and re-explodes the carried array to (i, j, v_i·v_j) — 4096 rows
      per vector but map-side combined into ≤ dim² partial states per
      partition, so the shuffle carries dim², never the corpus; the
      per-row products are rounded to 12dp and summed as exact
      DECIMAL(28,12) (the c6/c7/c8 discipline) so the matrix is
      row-order-free. cov = Σv_iv_j/n − μ_iμ_j, rounded 9dp.
    - iteration: x₀ = 1/√dim (exactly 0.125 at dim 64); each step is
      a dim²-row join y = C·x (terms quantized DECIMAL before the
      sum) and x = round(y/‖y‖, 9) with ‖y‖ computed as a GLOBAL
      WINDOW sum over the dim-row iterate (single-reference — see the
      loop comment) — five steps of 64-row frames, driver never sees
      a number.

    The covariance frame is localCheckpointed once (dim² rows — a
    documented metadata-sized boundary like the k-means centroids):
    it is referenced by every iteration and must not re-trigger the
    corpus pass per step."""
    from .operators.dedup import _spread

    if iters < 1:
        # iters=0 would leave the norm frame unbuilt
        raise ValueError(f"pca_power_iteration needs iters >= 1, got {iters}")

    dec = "decimal(28,12)"
    # _spread: the Gramian pass explodes dim² products per vector — on
    # a 1-2 row-group test-scale scan that pins the whole O(N·dim²)
    # compute to 1-2 cores (measured 3x on the bench); no-op at
    # cluster scale
    e = _spread(
        emb.select(
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias(
                "v"
            )
        )
    )
    n_row = e.agg(F.count(F.lit(1)).alias("n"))
    fi = e.select("v", F.posexplode("v").alias("i", "vi"))
    fij = fi.select("i", "vi", F.posexplode("v").alias("j", "vj"))
    sp = fij.groupBy("i", "j").agg(
        F.sum(
            F.round(F.col("vi") * F.col("vj"), 12).cast(dec)
        )
        .cast("double")
        .alias("s")
    )
    mu = fi.groupBy("i").agg(
        F.sum(F.col("vi").cast(dec)).cast("double").alias("sm")
    )
    cov = (
        sp.join(mu.select(F.col("i"), F.col("sm").alias("sma")), "i")
        .join(
            mu.select(F.col("i").alias("j"), F.col("sm").alias("smb")), "j"
        )
        .crossJoin(F.broadcast(n_row))
        .select(
            "i",
            "j",
            F.round(
                F.col("s") / F.col("n")
                - (F.col("sma") / F.col("n")) * (F.col("smb") / F.col("n")),
                9,
            ).alias("c"),
        )
        .localCheckpoint(eager=True)
    )
    x = cov.select("i").distinct().select(
        "i", F.lit(1.0 / math.sqrt(dim)).alias("x")
    )
    # The norm is a global window over the dim-row iterate, so each
    # step references y once and the plan stays a linear chain (join →
    # partial-agged exchange → one SinglePartition window over dim
    # rows, never the corpus); its decimal sum is exact and order-free.
    wall = Window.partitionBy()
    nm_col = F.sqrt(
        F.sum(F.round(F.col("y") * F.col("y"), 12).cast(dec))
        .over(wall)
        .cast("double")
    )
    for _ in range(iters):
        y = (
            cov.join(x.select(F.col("i").alias("j"), "x"), "j")
            .groupBy("i")
            .agg(
                F.sum(
                    F.round(F.col("c") * F.col("x"), 12).cast(dec)
                )
                .cast("double")
                .alias("y")
            )
        )
        x = y.withColumn("nm", nm_col).select(
            "i", F.round(F.col("y") / F.col("nm"), 9).alias("x"), "nm"
        )
    return x.select(
        F.col("i").cast("bigint").alias("dim_idx"),
        F.col("x").alias("loading"),
        F.round(F.col("nm"), 6).alias("eigenvalue"),
    )
