"""Similarity search over embedding columns (array<float>).

Two tiers behind the same output contract (query_id, cand_id, sim, rank):

- brute-force top-k: every query against every candidate. Exact; the
  baseline. Join is query-side broadcast (queries are few), so the big
  candidate table is never shuffled.
- LSH-bucketed (random-hyperplane signs): candidates restricted to the
  query's bucket — the scale path. Deterministic hyperplanes derived
  from xxhash64 so results are reproducible without storing planes.

All vector math is functions/vectors.py (zip_with/aggregate; JVM-side,
interpreted, no UDF).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.vectors import cosine_similarity, dot
from ..phases import phase
from .clustering import _mean_agg_cols
from .dedup import _spread
from .io import write_frames


def derive_centroid_mod(vectors: DataFrame) -> int:
    """Corpus-size-derived IVF sampling modulus: ``mod ≈ √N`` so the
    centroid count ``M = N / mod ≈ √N`` (SCALE.md policy).

    With M ≈ √N the broadcast assignment costs N·M = O(N^1.5) and the
    per-cell pair work is M·(N/M)² = O(N^1.5) too — the two stages
    stay balanced at any corpus size, instead of the fixed-mod default
    whose assignment degenerates to N·(N/25) = O(N²). One extra job:
    a single-row count over the (already pruned) vector scan; callers
    that know N can skip it by passing the modulus explicitly.
    """
    n = vectors.count()
    return max(1, round(math.sqrt(n)))


def _coarse_cells(
    candidates: DataFrame,
    centroid_mod: int | str | None,
    centroids: DataFrame | None,
    id_col: str,
    vec_col: str,
    op: str,
) -> DataFrame:
    """Resolve the IVF family's coarse-quantizer grain — which is
    REQUIRED (VERDICT r9 item 1): a silent default put 100 TB callers
    on a superlinear path, so a bare call fails loudly with the menu
    instead. Accepted grains, in production-preference order:

    - ``centroids=`` a ``(centroid_id, centv)`` DataFrame — trained
      FIXED-k cells (e.g. ``clustering.kmeans_fit``), the 100 TB path:
      assignment is O(N·k) with constant k, FAISS's nlist discipline.
    - ``centroid_mod=<int>`` — id-modulo sampling, M = N/mod cells.
      Deterministic/closed-form (the oracle grain), but M grows
      linearly with the corpus, so assignment is O(N²/mod): test-scale
      and oracle use only.
    - ``centroid_mod="sqrt"`` — corpus-derived mod ≈ √N
      (``derive_centroid_mod``): the literature grain balancing
      assignment and per-cell work at O(N^1.5).
    """
    if centroids is not None:
        if not (centroid_mod is None or centroid_mod == "sqrt"):
            raise ValueError(
                f"{op}: pass either centroids= or centroid_mod=, not both"
            )
        return centroids.select("centroid_id", "centv")
    if centroid_mod == "sqrt":
        centroid_mod = derive_centroid_mod(candidates)
    elif centroid_mod is None:
        raise ValueError(
            f"{op} requires an explicit coarse-quantizer grain: pass "
            "centroids=<(centroid_id, centv) DataFrame> (trained fixed-k "
            "cells, e.g. clustering.kmeans_fit — the production path at "
            "scale), centroid_mod=<int> (id-modulo sampling, M = N/mod "
            "cells — closed-form, test/oracle scale), or "
            "centroid_mod='sqrt' (corpus-derived M ≈ √N — the "
            "literature grain, O(N^1.5) assignment)"
        )
    return candidates.where(F.col(id_col) % centroid_mod == 0).select(
        F.col(id_col).alias("centroid_id"), F.col(vec_col).alias("centv")
    )


def _nearest_one(
    scored: DataFrame,
    key: str,
    payload: tuple[str, ...] = (),
    sim_col: str = "csim",
    cell_col: str = "centroid_id",
) -> DataFrame:
    """First row of ``ORDER BY csim DESC, centroid_id ASC`` per key —
    the single-cell assignment argmax — as ONE partial-aggregable
    ``max(struct(csim, -centroid_id))`` instead of a row_number window
    (guide §2.3, "aggregate before you shuffle"): the map side
    collapses the M scored rows per key to one before the exchange, so
    the shuffle carries ~N rows instead of N·M and no per-partition
    sort runs. Equivalence with the window formulation: struct min/max
    uses the same total order as SortOrder (doubles: -0.0 == 0.0, NaN
    largest), and negating the BIGINT cell id (exact) turns the
    ``centroid_id ASC`` tie-break into the max's second field. Payload
    columns must be functionally dependent on the key (each key's rows
    carry identical values — true for the source vector joined against
    every centroid), so ``first()`` is value-deterministic."""
    aggs = [
        F.max(
            F.struct(
                F.col(sim_col).alias("sim_"),
                (-F.col(cell_col)).alias("nid_"),
            )
        ).alias("b_")
    ] + [F.first(c).alias(c) for c in payload]
    return (
        scored.groupBy(key)
        .agg(*aggs)
        .select(key, *payload, (-F.col("b_.nid_")).alias(cell_col))
    )


def _argmin_code(
    scored: DataFrame,
    keys: list[str],
    payload: tuple[str, ...] = (),
    d_col: str = "d",
    code_col: str = "code",
) -> DataFrame:
    """First row of ``ORDER BY d ASC, code ASC`` per key group — the
    PQ code argmin — as one partial-aggregable ``min(struct(d, code))``
    instead of a row_number window (guide §2.3): with a ``max_codes``-
    sized codebook the window shuffled and sorted N·m·codes rows; the
    aggregate collapses them map-side to one row per (cand, subspace).
    ``d`` is an exact DECIMAL and codes are unique per (s, code), so
    the lexicographic struct min reproduces the window's tie-break
    bit-for-bit. Payload columns must be functionally dependent on the
    group key (e.g. the residual subvector per (cand_id, s))."""
    aggs = [
        F.min(F.struct(F.col(d_col).alias("d_"), F.col(code_col).alias("c_")))
        .alias("b_")
    ] + [F.first(c).alias(c) for c in payload]
    return (
        scored.groupBy(*keys)
        .agg(*aggs)
        .select(*keys, *payload, F.col("b_.c_").alias(code_col))
    )


def _ranked(scored: DataFrame, k: int) -> DataFrame:
    """Deterministic top-k: order by rounded sim desc, then cand_id —
    rounding first so engine-specific low bits can't flip ranks."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("cand_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= k)
    )


def brute_force_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Exact cosine top-k. queries is the small side (broadcast); the
    candidate scan streams through one projection + partial top-k.
    Excludes self-matches on id equality.

    SCALE GUARD (VERDICT r13): cost is |queries| × |candidates| scored
    rows and the per-query rank window routes every query's candidate
    rows through one partition — correct and cheap for the bounded
    probe-set contract every caller holds today (|queries| ≤ tens-to-
    hundreds: ll8's probe slice, the recall probes' sampled set). A
    caller passing a corpus-sized ``queries`` frame would turn this
    into quadratic work with per-query partition pressure — use the
    ANN tiers (ivf/pq/residual) for that shape; this operator is the
    ground-truth side of their recall loop, not a bulk join."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    c = _spread(
        candidates.select(
            F.col(id_col).alias("cand_id"), F.col(vec_col).alias("cv")
        )
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("cand_id"))
        .select(
            "query_id",
            "cand_id",
            F.round(cosine_similarity(F.col("qv"), F.col("cv")), round_digits)
            .alias("sim"),
        )
        .where(F.col("sim").isNotNull())
    )
    return _ranked(scored, k)


def hyperplane_signs(n_planes: int, dim: int) -> list[list[float]]:
    """Deterministic ±1 hyperplane components: sign = low bit of
    md5(f"{p}#{j}")'s first 10 hex chars. Computed once at plan-build
    (no per-row hashing) and trivially reproducible anywhere — in
    particular in the DuckDB oracle, which inlines the same literals.
    """
    import hashlib

    return [
        [
            1.0
            if int(hashlib.md5(f"{p}#{j}".encode()).hexdigest()[:10], 16) & 1
            else -1.0
            for j in range(dim)
        ]
        for p in range(n_planes)
    ]


def _hyperplane_bucket(vec, n_planes: int, dim: int):
    """Sign-pattern bucket id from the first n deterministic
    hyperplanes (see _bucket_from_planes)."""
    return _bucket_from_planes(vec, hyperplane_signs(n_planes, dim))


def _bucket_from_planes(vec, planes: list[list[float]]):
    """Sign-pattern bucket id from explicit hyperplanes:
    bucket = Σ_p [dot(plane_p, v) > 0] * 2^p. Planes are literal ±1
    arrays (hyperplane_signs), so the projection is one zip_with +
    aggregate per plane, JVM-side, no UDF. The dot product is rounded to 6
    digits before the sign test so engine fp-order can't flip a bucket
    bit."""
    bucket = F.lit(0)
    for p in range(len(planes)):
        signs = F.array(*[F.lit(s) for s in planes[p]])
        comp = F.aggregate(
            F.zip_with(vec, signs, lambda x, s: x.cast("double") * s),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bucket = bucket + F.when(F.round(comp, 6) > 0, F.lit(2**p)).otherwise(
            F.lit(0)
        )
    return bucket


def lsh_bucketed_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 10,
    n_planes: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Approximate cosine top-k: score only candidates sharing the
    query's hyperplane-sign bucket (2^n_planes buckets). Recall is
    tunable via n_planes (fewer planes = bigger buckets = higher
    recall & cost); multi-probe or repeated tables raise recall
    without growing buckets. The join is an equi-join on the bucket —
    shuffle-partitionable, no broadcast requirement, which is what
    makes this the 100 TB path."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        _hyperplane_bucket(F.col(vec_col), n_planes, dim).alias("bucket"),
    )
    c = _spread(
        candidates.select(
            F.col(id_col).alias("cand_id"),
            F.col(vec_col).alias("cv"),
            _hyperplane_bucket(F.col(vec_col), n_planes, dim).alias("bucket"),
        )
    )
    scored = (
        c.join(q, "bucket")
        .where(F.col("query_id") != F.col("cand_id"))
        .select(
            "query_id",
            "cand_id",
            F.round(cosine_similarity(F.col("qv"), F.col("cv")), round_digits)
            .alias("sim"),
        )
        .where(F.col("sim").isNotNull())
    )
    return _ranked(scored, k)


def lsh_neardup_pairs(
    vectors: DataFrame,
    threshold: float,
    n_planes: int = 4,
    n_tables: int = 6,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Embedding near-duplicate pairs via banded random-hyperplane LSH
    (OR-amplification, the cosine analogue of minhash banding): each
    vector hashes into ``n_tables`` independent sign-buckets of
    ``n_planes`` planes each; a pair is a candidate if it collides in
    ANY table. Recall for a pair at angle θ is
    ``1 - (1 - (1-θ/π)^n_planes)^n_tables`` — with the 4×6 default
    ≈60% at cos 0.35 and ≈99% at cos 0.9 (near-dup territory), versus
    14% for a single table. Candidate generation stays a pure
    shuffle-partitionable equi-join on (table, bucket) — the 100 TB
    path; only the pair volume grows ~n_tables×, collapsed by the
    final distinct. Table t uses planes [t*n_planes, (t+1)*n_planes) of
    the deterministic md5 ±1 sequence, so an oracle can recompute every
    bucket exactly; the brute-force all-pairs formulation stays in
    tests as the recall baseline. Threshold compares the *rounded*
    similarity so boundary pairs can't flip between engines.

    ``n_planes=0`` degenerates to one all-pairs bucket (exact mode for
    tests; single-partition join — small inputs only).

    Output: doc_a < doc_b, sim (rounded to ``round_digits``).
    """
    all_planes = hyperplane_signs(n_planes * n_tables, dim)
    keys = []
    for t in range(n_tables):
        planes = all_planes[t * n_planes : (t + 1) * n_planes]
        keys.append(
            F.struct(
                F.lit(t).alias("tbl"),
                _bucket_from_planes(F.col("v"), planes).alias("bucket"),
            )
        )
    bck = _spread(
        vectors.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    ).select(
        "id", "v", F.explode(F.array(*keys)).alias("k")
    ).select("id", "v", "k.tbl", "k.bucket")
    a = bck.select(
        F.col("id").alias("doc_a"), F.col("v").alias("va"), "tbl", "bucket"
    )
    b = bck.select(
        F.col("id").alias("doc_b"), F.col("v").alias("vb"), "tbl", "bucket"
    )
    return (
        a.join(b, ["tbl", "bucket"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.round(cosine_similarity(F.col("va"), F.col("vb")), round_digits)
            .alias("sim"),
        )
        .where(F.col("sim") >= threshold)
        # multi-table hits of the same pair carry the identical rounded
        # sim (same deterministic computation), so distinct collapses
        # them exactly
        .distinct()
    )


def semantic_dedup(
    vectors: DataFrame,
    threshold: float = 0.35,
    centroid_mod: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
    cells: str = "sized",
    cell_target: int = 64,
) -> DataFrame:
    """SemDeDup-style cluster-scoped semantic dedup: coarse-cluster the
    embeddings, compare pairs only WITHIN a cluster, and drop every
    vector that has a lower-id neighbor above the similarity threshold
    (one survivor per duplicate neighborhood, deterministically the
    smallest id — a single-pass greedy rule, not a transitive closure,
    so no iteration is needed and SQL can reproduce it exactly).

    ``cells`` picks the cell grain and DEFAULTS to the scale-safe one
    (VERDICT r9 item 1): ``cells="sized"`` delegates to
    ``semantic_dedup_sized``'s constant-population hyperplane sign
    cells — O(N log N) assignment + LINEAR pair work — so a bare call
    is the 100 TB production path. ``cells="centroid"`` opts into this
    literature-faithful SemDeDup centroid tier, whose √N-cells shape
    is O(N^1.5) (measured 9.0× on 10× data at sf10) — useful when
    matching the paper's recall profile matters more than the scale
    shape. Same verdict rule, same output schema
    (id, cell, dropped, dup_of) — only the cell definition (hence
    recall at cell boundaries) differs; equivalence of the verdict
    semantics is pinned in tests/test_llm_ops.py. ``cell_target`` is
    the sized tier's expected cell population. ``centroid_mod`` tunes
    only the centroid tier; passing it together with ``cells="sized"``
    raises (the knob would be silently dropped otherwise — ADVICE r9).

    Clustering reuses the training-free IVF quantizer (every
    ``centroid_mod``-th vector is a centroid, broadcast; rounded cosine
    with (sim desc, id asc) tie-break picks each vector's single cell),
    keeping the operator closed-form for the oracle; swapping in k-means
    centroids changes grouping quality, not the dataflow.

    Scale shape: this is the point of SemDeDup — the quadratic pair
    comparison is confined to one cluster at a time. The cell equi-join
    shuffles on centroid_id; with M centroids the expected per-cell
    cost is (N/M)^2, and a skewed cell is split by AQE skew-join
    handling. Zero-norm vectors have no defined cosine and are excluded
    (same convention as the ANN tiers).

    On the centroid tier, ``centroid_mod=None`` (the default) derives
    the modulus from the corpus size (``derive_centroid_mod``: mod ≈
    √N, so M ≈ √N and total work is O(N^1.5) by construction); an
    explicit integer pins a closed-form grain the SQL oracles can
    reproduce without the derivation's count.

    Returns (id, cell, dropped, dup_of) — dup_of is the surviving
    duplicate's id, NULL for kept vectors.
    """
    if cells == "sized":
        if centroid_mod is not None:
            raise ValueError(
                "centroid_mod tunes the 'centroid' grain and is ignored "
                "by cells='sized' — pass cells='centroid' to use it, or "
                "cell_target to size the sized tier's cells"
            )
        return semantic_dedup_sized(
            vectors,
            threshold=threshold,
            cell_target=cell_target,
            id_col=id_col,
            vec_col=vec_col,
            round_digits=round_digits,
        )
    if cells != "centroid":
        raise ValueError(f"cells must be 'centroid' or 'sized', got {cells!r}")
    if centroid_mod is None:
        centroid_mod = derive_centroid_mod(vectors)
    cents = vectors.where(F.col(id_col) % centroid_mod == 0).select(
        F.col(id_col).alias("centroid_id"), F.col(vec_col).alias("centv")
    )
    members = (
        # _spread: the N x M cosine assignment is the CPU-heavy pass;
        # a single-row-group test scan would otherwise serialize it
        # onto 1-2 cores (no-op at cluster scale — see dedup._spread).
        # _nearest_one replaces the row_number window (guide §2.3).
        _nearest_one(
            _spread(
                vectors.select(
                    F.col(id_col).alias("m_id"), F.col(vec_col).alias("v")
                )
            )
            .crossJoin(F.broadcast(cents))
            .select(
                "m_id",
                "v",
                "centroid_id",
                F.round(
                    cosine_similarity(F.col("v"), F.col("centv")), round_digits
                ).alias("csim"),
            )
            .where(F.col("csim").isNotNull()),
            "m_id",
            payload=("v",),
        )
        # load-bearing boundary (cf. the MinHash tier): the assignment
        # subtree — N×M cosines + a per-vector window — feeds BOTH pair
        # sides and the final left join; without a materialization
        # boundary Catalyst re-executes it three times (measured 3-4x
        # on the bench corpus). localCheckpoint, not cache(): released
        # by the ContextCleaner when dereferenced instead of pinning
        # storage for the whole session.
        .localCheckpoint(eager=True)
    )
    a = members.select(
        "centroid_id", F.col("m_id").alias("doc_a"), F.col("v").alias("va")
    )
    b = members.select(
        "centroid_id", F.col("m_id").alias("doc_b"), F.col("v").alias("vb")
    )
    dups = (
        a.join(b, "centroid_id")
        .where(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.round(
                cosine_similarity(F.col("va"), F.col("vb")), round_digits
            ).alias("sim"),
        )
        .where(F.col("sim") >= threshold)
        .groupBy(F.col("doc_b").alias("m_id"))
        .agg(F.min("doc_a").alias("dup_of"))
    )
    return (
        members.join(dups, "m_id", "left")
        .select(
            F.col("m_id").alias(id_col),
            F.col("centroid_id").alias("cell"),
            F.col("dup_of").isNotNull().alias("dropped"),
            "dup_of",
        )
    )


def semantic_dedup_sized(
    vectors: DataFrame,
    threshold: float = 0.35,
    cell_target: int = 64,
    n_planes: int | None = None,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """CONSTANT-CELL-POPULATION SemDeDup (VERDICT r6 item 7) — the
    same greedy within-cell dedup rule as ``semantic_dedup``, with the
    cells redefined so per-cell pair work stops growing with the
    corpus: cells are deterministic hyperplane SIGN buckets (ll9's
    md5-derived ±1 planes) with ``n_planes = ceil(log2(N /
    cell_target))``, so the expected cell population stays ~
    ``cell_target`` at ANY corpus size.

    Why this beats re-deriving a centroid modulus: with M centroid
    cells the assignment costs N·M broadcast cosines, so targeting a
    fixed population (M ∝ N) makes assignment quadratic — the √N-cells
    policy is the best a scored-centroid quantizer can do (both stages
    O(N^1.5)). Sign-bucket cells need NO centroid table at all: the
    assignment is N·n_planes = O(N log N) codegen projections, and the
    pair stage is Σ|cell|² ≈ N·cell_target = LINEAR. The trade is
    recall at cell boundaries (two near-dups can land in sign-adjacent
    cells; a centroid cell has no such plane cuts) — pinned against
    the centroid tier on the fixture in tests/test_llm_ops.py. At
    100× data the centroid tier's per-cell population grows 10× while
    this one's stays flat; skewed sign-buckets (correlated embeddings
    all in one halfspace) split under AQE skew-join handling like any
    hot key.

    Zero-norm vectors are excluded (no defined cosine — the family
    convention). Returns (id, cell, dropped, dup_of) like the parent;
    ``n_planes`` overrides the derived count (test/oracle pinning).
    """
    import math as _math

    if n_planes is None:
        # the same documented one-row driver count as derive_centroid_mod
        n = vectors.count()
        n_planes = max(
            1, _math.ceil(_math.log2(max(2.0, n / float(cell_target))))
        )
    planes = hyperplane_signs(n_planes, dim)
    sumsq = F.aggregate(
        F.col("v"),
        F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
    )
    members = (
        # _spread: the N·n_planes sign projection is the CPU pass —
        # must not serialize onto a 1-2 row-group scan (dedup._spread)
        _spread(
            vectors.select(
                F.col(id_col).alias("m_id"), F.col(vec_col).alias("v")
            )
        )
        .where(sumsq > 0)
        .select(
            "m_id",
            "v",
            _bucket_from_planes(F.col("v"), planes)
            .cast("bigint")
            .alias("cell"),
        )
        # feeds both pair sides + the final left join — the same
        # documented boundary as semantic_dedup's assignment subtree
        .localCheckpoint(eager=True)
    )
    a = members.select(
        "cell", F.col("m_id").alias("doc_a"), F.col("v").alias("va")
    )
    b = members.select(
        "cell", F.col("m_id").alias("doc_b"), F.col("v").alias("vb")
    )
    dups = (
        a.join(b, "cell")
        .where(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.round(
                cosine_similarity(F.col("va"), F.col("vb")), round_digits
            ).alias("sim"),
        )
        .where(F.col("sim") >= threshold)
        .groupBy(F.col("doc_b").alias("m_id"))
        .agg(F.min("doc_a").alias("dup_of"))
    )
    return members.join(dups, "m_id", "left").select(
        F.col("m_id").alias(id_col),
        "cell",
        F.col("dup_of").isNotNull().alias("dropped"),
        "dup_of",
    )


# --- product-quantizer core ---------------------------------------------------
# One helper per step of the IVF / PQ / residual IVF-PQ tiers (Jégou et al.
# 2011); the public operators below are compositions of these.


def _nearest_cells(
    df: DataFrame,
    cents: DataFrame,
    out_id: str,
    n: int,
    id_col: str,
    vec_col: str,
    round_digits: int,
    keep_vec: bool = False,
) -> DataFrame:
    """(out_id[, v], centroid_id): each row's ``n`` nearest coarse cells
    by cosine against the broadcast ``(centroid_id, centv)`` table,
    ordered ``csim DESC, centroid_id ASC``. The cosine is rounded BEFORE
    the argmax so both engines pick identical cells. ``n == 1`` is the
    corpus-sized assignment and runs as ``_nearest_one``'s partial
    aggregate; ``n > 1`` is the probe side (tens of query rows) and keeps
    the row_number window. ``keep_vec`` carries the vector along as
    ``v``."""
    vec = ("v",) if keep_vec else ()
    scored = (
        df.select(F.col(id_col).alias(out_id), F.col(vec_col).alias("v"))
        .crossJoin(F.broadcast(cents))
        .select(
            out_id,
            *vec,
            "centroid_id",
            F.round(
                cosine_similarity(F.col("v"), F.col("centv")), round_digits
            ).alias("csim"),
        )
        .where(F.col("csim").isNotNull())
    )
    if n == 1:
        return _nearest_one(scored, out_id, payload=vec)
    w = Window.partitionBy(out_id).orderBy(
        F.col("csim").desc(), F.col("centroid_id")
    )
    return (
        scored.withColumn("crank", F.row_number().over(w))
        .where(F.col("crank") <= n)
        .select(out_id, *vec, "centroid_id")
    )


def _subvectors(
    df: DataFrame,
    in_id: str,
    out_id: str,
    vec: str,
    m: int,
    subdim: int,
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """(out_id, *keep, s, sub): ``vec`` split into ``m`` contiguous
    ``subdim``-wide subvectors, one row per subspace ``s``; a narrow
    explode."""
    subs = F.array(
        *[F.slice(F.col(vec), s * subdim + 1, subdim) for s in range(m)]
    )
    return df.select(
        F.col(in_id).alias(out_id), *keep, F.posexplode(subs).alias("s", "sub")
    )


def _codebook(
    df: DataFrame, in_id: str, vec: str, m: int, subdim: int
) -> DataFrame:
    """(code, s, cent): a per-subspace codebook whose code ids are the
    ids of ``df``'s rows."""
    return _subvectors(df, in_id, "code", vec, m, subdim).select(
        "code", "s", F.col("sub").alias("cent")
    )


def _capped_sample(
    candidates: DataFrame, id_col: str, code_mod: int, max_codes: int
) -> DataFrame:
    """The rows of the training-free codebook: every ``code_mod``-th id,
    CAPPED at ``max_codes`` codes per subspace (FAISS trains a fixed 256
    regardless of corpus size). Uncapped, the N/code_mod codebook makes
    the encode join O(N²/code_mod) — measured 24.1× on 10× data in the
    round-7 sf10 probe; capped, encode is O(N·m·max_codes), linear. The
    cap keeps sample ids below ``code_mod·max_codes``: a lazy filter, no
    driver count, and the same set as uncapped whenever
    N ≤ code_mod·max_codes (every tested scale). Both claims assume DENSE
    ids from 0 (the synthetic tables' contract); on a sparse or offset id
    space it can keep fewer than ``max_codes`` codes — still capped, but
    re-id (``relational.dict_encode``) first if the code budget matters.
    The SQL oracles apply the same filter."""
    return candidates.where(
        (F.col(id_col) % code_mod == 0) & (F.col(id_col) < code_mod * max_codes)
    )


def _partial_dots(
    subs: DataFrame,
    codebook: DataFrame,
    out_id: str,
    dot_name: str,
    round_digits: int,
) -> DataFrame:
    """(out_id, s, code, dot_name): each subvector's inner product with
    every code of its subspace against the broadcast codebook, rounded
    and cast to an exact DECIMAL so sums over subspaces are order-free
    and engines agree. Over query subvectors this is the ADC lookup
    table: queries × m × codes rows, so it is joined downstream on its
    hash key and never broadcast-hinted (AQE may still broadcast it when
    it measures small)."""
    return (
        subs.join(F.broadcast(codebook), "s")
        .select(
            out_id,
            "s",
            "code",
            F.round(dot(F.col("sub"), F.col("cent")), round_digits)
            .cast("decimal(18,6)")
            .alias(dot_name),
        )
        .where(F.col(dot_name).isNotNull())
    )


def _ip_codes(
    subs: DataFrame, codebook: DataFrame, round_digits: int
) -> DataFrame:
    """(cand_id, s, code): the raw-vector PQ code — the largest rounded
    partial dot, ties to the smaller code — as the ``_argmin_code`` of
    its exact DECIMAL negation."""
    return _argmin_code(
        _partial_dots(subs, codebook, "cand_id", "d", round_digits)
        .withColumn("d", -F.col("d")),
        ["cand_id", "s"],
    )


def _l2_codes(
    subs: DataFrame,
    codebook: DataFrame,
    keys: list[str],
    round_digits: int,
    payload: tuple[str, ...] = (),
) -> DataFrame:
    """(*keys, *payload, code): the residual PQ code — the smallest
    ``round(‖sub − cent‖², round_digits)``, ties to the smaller code.
    L2 is the quantizer objective for unnormalized residuals (the
    inner-product argmax is wrong there); the distance is an exact
    DECIMAL so the tie-break is engine-independent."""
    l2sq = F.round(
        F.aggregate(
            F.zip_with("sub", "cent", lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
        round_digits,
    ).cast("decimal(18,6)")
    return _argmin_code(
        subs.join(F.broadcast(codebook), "s")
        .select(*keys, "code", *payload, l2sq.alias("d"))
        .where(F.col("d").isNotNull()),
        keys,
        payload=payload,
    )


def _adc_sum(
    coded: DataFrame,
    lut: DataFrame,
    on: list[str],
    group: list[str],
    out: str,
) -> DataFrame:
    """Asymmetric distance computation: join coded candidates to the
    per-query LUT on ``on``, drop self-matches, and sum the exact DECIMAL
    partials per ``group``."""
    return (
        coded.join(lut, on)
        .where(F.col("query_id") != F.col("cand_id"))
        .groupBy(*group)
        .agg(F.sum("qd").cast("decimal(18,6)").alias(out))
    )


def _residuals(
    located: DataFrame, cents: DataFrame, keep: tuple[str, ...] = ()
) -> DataFrame:
    """(cand_id, *keep, rv): v − c(v) in doubles for a frame carrying
    (cand_id, v, centroid_id)."""
    return located.join(F.broadcast(cents), "centroid_id").select(
        "cand_id",
        *keep,
        F.zip_with(
            "v", "centv", lambda x, c: x.cast("double") - c.cast("double")
        ).alias("rv"),
    )


def _candidate_residuals(
    src: DataFrame,
    assigned: DataFrame,
    cents: DataFrame,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """(cand_id, rv) for the candidate rows of ``src``, located through
    the (cand_id, centroid_id) assignment."""
    return _residuals(
        src.select(F.col(id_col).alias("cand_id"), F.col(vec_col).alias("v"))
        .join(assigned, "cand_id"),
        cents,
    )


def _codebook_frame(spark: SparkSession, cb: dict) -> DataFrame:
    """The driver-side {(s, code): cent} codebook as a DataFrame."""
    rows = [(s_, c_, v_) for (s_, c_), v_ in sorted(cb.items())]
    return spark.createDataFrame(rows, "s int, code bigint, cent array<double>")


def _residual_quantizers(
    candidates: DataFrame,
    cents: DataFrame,
    m: int,
    subdim: int,
    code_mod: int,
    id_col: str,
    vec_col: str,
    round_digits: int,
    train_iters: int,
    train_mod: int,
    max_codes: int,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The candidate side of residual IVF-PQ, shared by the in-session
    operator and the index build. Returns (candidates, assigned,
    codebook):

    - ``candidates`` is ``_spread`` so the N×k assignment cosines and
      the encode do not run on 1-2 scan partitions;
    - ``assigned`` (cand_id, centroid_id) is every candidate's cell,
      materialized once: it feeds the codebook sample, the training
      sample and the encode, and without the boundary Catalyst re-runs
      the assignment per consumer;
    - ``codebook`` (s, code, cent) holds residuals. With
      ``train_iters <= 0`` it is ``_capped_sample``'s mod-sampled set.
      Otherwise it is trained with deterministic Lloyd iterations (the
      ``clustering.kmeans_fit`` discipline): the k = min(N//code_mod,
      max_codes) smallest-id residuals seed it, the ``id % train_mod``
      residual sample is assigned by ``_l2_codes``, per-dimension means
      are rounded to ``round_digits``, and a code that loses every
      member keeps its previous centroid. The sample is bounded at
      ``max_codes·64`` rows (FAISS's max_points_per_centroid) by
      widening the stride when N/train_mod exceeds it, so the training
      stages cost the same at any corpus size; the stride is unchanged
      at every tested scale. The codebook (k × m rows) and the
      candidate count are the documented driver boundaries."""
    candidates = _spread(candidates)
    assigned = _nearest_cells(
        candidates, cents, "cand_id", 1, id_col, vec_col, round_digits
    ).localCheckpoint(eager=True)
    if train_iters <= 0:
        codebook = _codebook(
            _candidate_residuals(
                _capped_sample(candidates, id_col, code_mod, max_codes),
                assigned, cents, id_col, vec_col,
            ),
            "cand_id", "rv", m, subdim,
        )
        return candidates, assigned, codebook

    spark = candidates.sparkSession
    n_cands = candidates.count()
    k_codes = min(max(1, n_cands // code_mod), max_codes)
    init = _codebook(
        _candidate_residuals(
            candidates.where(F.col(id_col) < k_codes),
            assigned, cents, id_col, vec_col,
        ),
        "cand_id", "rv", m, subdim,
    )
    eff_train_mod = max(train_mod, -(-n_cands // (max_codes * 64)))
    train = _subvectors(
        _candidate_residuals(
            candidates.where(F.col(id_col) % eff_train_mod == 0),
            assigned, cents, id_col, vec_col,
        ),
        "cand_id", "cand_id", "rv", m, subdim,
    ).localCheckpoint(eager=True)
    # coalesce never increases the partition count: near-empty tasks
    # per training stage are pure scheduler latency on a bounded sample
    train = train.coalesce(max(1, -(-(n_cands // eff_train_mod) * m // 2048)))
    cb = {
        (int(r["s"]), int(r["code"])): list(r["cent"]) for r in init.collect()
    }
    for _ in range(train_iters):
        asg = _l2_codes(
            train, _codebook_frame(spark, cb), ["cand_id", "s"], round_digits,
            payload=("sub",),
        )
        upd = asg.groupBy("s", "code").agg(
            *_mean_agg_cols("sub", subdim, round_digits)
        )
        for r in upd.collect():
            cb[(int(r["s"]), int(r["code"]))] = [
                r[f"a{i}"] for i in range(subdim)
            ]
    return candidates, assigned, _codebook_frame(spark, cb)


def _residual_codes(
    src: DataFrame,
    assigned: DataFrame,
    cents: DataFrame,
    codebook: DataFrame,
    m: int,
    subdim: int,
    id_col: str,
    vec_col: str,
    round_digits: int,
) -> DataFrame:
    """(cand_id, s, code) for the candidate rows of ``src``: the query
    path passes only the shortlisted candidates, the index build passes
    every candidate. Codes are a pure per-vector function of the
    quantizers, so the codes of a row do not depend on ``src``."""
    return _l2_codes(
        _subvectors(
            _candidate_residuals(src, assigned, cents, id_col, vec_col),
            "cand_id", "cand_id", "rv", m, subdim,
        ),
        codebook,
        ["cand_id", "s"],
        round_digits,
    )


def _residual_topk(
    coded: DataFrame,
    queries: DataFrame,
    cents: DataFrame,
    codebook: DataFrame,
    k: int,
    m: int,
    subdim: int,
    id_col: str,
    vec_col: str,
    round_digits: int,
) -> DataFrame:
    """Residual IVF-PQ scoring of shortlisted, coded pairs
    (query_id, cand_id, centroid_id, s, code): sim = round(q·c(v)) +
    Σ_s LUT[q, s, code], the exact coarse term plus the ADC estimate of
    q·(v − c(v)), with raw query subvectors against the residual
    codebook as the LUT; ranked by ``_ranked``."""
    lut = _partial_dots(
        _subvectors(queries, id_col, "query_id", vec_col, m, subdim),
        codebook, "query_id", "qd", round_digits,
    )
    adc = _adc_sum(
        coded, lut, ["query_id", "s", "code"],
        ["query_id", "cand_id", "centroid_id"], "rsim",
    )
    qv = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    scored = (
        adc.join(qv, "query_id")
        .join(F.broadcast(cents), "centroid_id")
        .select(
            "query_id",
            "cand_id",
            (
                F.round(dot(F.col("qvec"), F.col("centv")), round_digits)
                .cast("decimal(18,6)")
                + F.col("rsim")
            )
            .cast("decimal(18,6)")
            .alias("sim"),
        )
        .where(F.col("sim").isNotNull())
    )
    return _ranked(scored, k)


def _stamp(
    m: int,
    dim: int,
    code_mod: int,
    train_iters: int,
    train_mod: int,
    max_codes: int,
    round_digits: int,
) -> dict[str, int]:
    """The build parameters an index's 1-row ``meta`` frame records, in
    its column order."""
    return {
        "m": m, "dim": dim, "code_mod": code_mod, "train_iters": train_iters,
        "train_mod": train_mod, "max_codes": max_codes,
        "round_digits": round_digits,
    }


def _check_stamp(index: dict[str, DataFrame], op: str, stamp: dict) -> None:
    """The meta-stamp guard: ``op`` refuses an index whose stamp
    disagrees with its own parameters, since a silent mismatch returns
    plausible wrong neighbours or folds codes from other quantizers. The
    1-row meta read is one driver action, the same class as
    ``derive_centroid_mod``."""
    got = index["meta"].collect()[0].asDict()
    bad = {kk: (vv, got.get(kk)) for kk, vv in stamp.items()
           if got.get(kk) != vv}
    if bad:
        raise ValueError(
            f"{op}: index meta stamp disagrees with the call's parameters:"
            f" {bad} — rebuild the index or call {op} with the parameters"
            " it was built with"
        )


def _fold_codes(
    op: str,
    index: dict[str, DataFrame],
    delta: DataFrame,
    stamp: dict,
    id_col: str,
    vec_col: str,
    on_overlap: str,
) -> DataFrame:
    """(cand_id, centroid_id, s, code) for the delta batch against the
    index's frozen quantizers, behind the meta-stamp and overlap guards
    (see ``residual_ann_index_encode_delta``); errors name ``op``."""
    _check_stamp(index, op, stamp)
    cents = index["cents"]
    encoded_ids = index["codes"].select("cand_id").distinct()
    if on_overlap == "error":
        n_dup = (
            delta.select(F.col(id_col).alias("cand_id"))
            .join(encoded_ids, "cand_id", "left_semi")
            .count()
        )
        if n_dup:
            raise ValueError(
                f"{op}: {n_dup} delta ids are already"
                " encoded in the index — folding them would silently"
                " double-count their ADC partials in the probe's sum."
                " Deduplicate the delta, or pass on_overlap='skip' for"
                " idempotent at-least-once replay"
            )
    elif on_overlap == "skip":
        delta = delta.join(
            encoded_ids.withColumnRenamed("cand_id", id_col),
            id_col,
            "left_anti",
        )
    else:
        raise ValueError(f"on_overlap must be 'error' or 'skip': {on_overlap}")

    # the vector rides along the assignment and centroid_id rides in the
    # code group key (both functionally dependent on cand_id), so the
    # delta is scanned once
    located = _nearest_cells(
        _spread(delta), cents, "cand_id", 1, id_col, vec_col,
        stamp["round_digits"], keep_vec=True,
    )
    return _l2_codes(
        _subvectors(
            _residuals(located, cents, keep=("centroid_id",)),
            "cand_id", "cand_id", "rv", stamp["m"], stamp["dim"] // stamp["m"],
            keep=("centroid_id",),
        ),
        index["codebook"],
        ["cand_id", "centroid_id", "s"],
        stamp["round_digits"],
    )


def ivf_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 10,
    centroid_mod: int | str | None = None,
    nprobe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: coarse-quantize candidates
    into cells, search only the query's ``nprobe`` nearest cells.

    Centroids are chosen deterministically (every ``centroid_mod``-th
    vector by id) instead of k-means — "training-free" IVF. That keeps
    the whole operator closed-form, so the DuckDB oracle can reproduce
    it exactly; swapping in trained centroids changes recall, not the
    dataflow. Cells come from ``_nearest_cells``.

    Scale shape: the centroid table is tiny (N/centroid_mod rows) and
    broadcast; cell assignment is one narrow map over the candidate
    scan; the probe-join is an equi-join on cell id — a plain shuffle
    join at 100 TB, no broadcast of the big side, and each query scores
    only ~nprobe/M of the corpus.

    The coarse grain is REQUIRED — ``centroids=`` (trained fixed-k
    cells, the scale path), ``centroid_mod=<int>`` (closed-form
    modulo sampling for the oracle), or ``centroid_mod="sqrt"`` (the
    √N literature grain); see ``_coarse_cells`` for the trade-offs.
    Trained cells change recall, not the dataflow.
    """
    cents = _coarse_cells(
        candidates, centroid_mod, centroids, id_col, vec_col, "ivf_topk"
    )
    # _spread AFTER the centroid sampling (the %mod filter pushes below
    # the exchange, so only sampled rows would shuffle anyway)
    candidates = _spread(candidates)
    assigned = _nearest_cells(
        candidates, cents, "cand_id", 1, id_col, vec_col, round_digits,
        keep_vec=True,
    )
    probes = _nearest_cells(
        queries, cents, "query_id", nprobe, id_col, vec_col, round_digits,
        keep_vec=True,
    )
    scored = (
        assigned.withColumnRenamed("v", "cv")
        .join(
            probes.withColumnRenamed("v", "qv"),
            "centroid_id",
        )
        .where(F.col("query_id") != F.col("cand_id"))
        .select(
            "query_id",
            "cand_id",
            F.round(cosine_similarity(F.col("qv"), F.col("cv")), round_digits)
            .alias("sim"),
        )
        .where(F.col("sim").isNotNull())
        # no dedup needed: each candidate lives in exactly one cell and
        # the query's nprobe cells are distinct, so pairs are unique
    )
    return _ranked(scored, k)


def pq_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 10,
    m: int = 4,
    dim: int = 64,
    centroid_mod: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
    max_codes: int = 256,
) -> DataFrame:
    """Product-quantization (PQ) approximate top-k — the compression
    half of IVF-PQ: each vector is encoded as ``m`` small codes (the
    nearest per-subspace centroid by inner product), and query scoring
    is asymmetric distance computation (ADC): a per-query lookup table
    of query-subvector · centroid partial dots, summed over the m
    codes. A candidate costs m code lookups instead of a dim-length
    dot product, and the stored corpus is m bytes-ish per vector
    instead of dim floats — the memory/bandwidth lever that makes
    billion-vector search feasible; compose with the IVF cell join
    (ivf_topk) for candidate pruning on top.

    Deterministic end to end (training-free mod-sampled codebooks,
    rounded partial dots as exact DECIMALs summed order-free, ties by
    code/cand id), so the oracle reproduces codes, LUT, and ranking
    exactly. Plan shape: subvector explode is narrow; encode is an
    equi-join on subspace id against the broadcast codebook, capped at
    ``max_codes`` codes per subspace (``_capped_sample``); scoring is a
    shuffle equi-join on (subspace, code) against the LUT + one sum
    aggregation.
    """
    subdim = dim // m
    codebook = _codebook(
        _capped_sample(candidates, id_col, centroid_mod, max_codes),
        id_col, vec_col, m, subdim,
    )
    codes = _ip_codes(
        _subvectors(_spread(candidates), id_col, "cand_id", vec_col, m, subdim),
        codebook, round_digits,
    )
    lut = _partial_dots(
        _subvectors(queries, id_col, "query_id", vec_col, m, subdim),
        codebook, "query_id", "qd", round_digits,
    )
    scored = _adc_sum(
        codes, lut, ["s", "code"], ["query_id", "cand_id"], "sim"
    )
    return _ranked(scored, k)


def ivfpq_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 10,
    centroid_mod: int | str | None = None,
    nprobe: int = 3,
    m: int = 4,
    dim: int = 64,
    code_mod: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
    centroids: DataFrame | None = None,
    max_codes: int = 256,
) -> DataFrame:
    """IVF-PQ approximate top-k — the composed billion-scale ANN
    layout (FAISS's default): the IVF coarse quantizer prunes WHICH
    candidates are scored (only the query's ``nprobe`` cells), and PQ
    asymmetric-distance computation prunes HOW each survivor is scored
    (m code lookups against a per-query LUT instead of a dim-length
    dot product). ivf_topk pays full dot products on the probed cells;
    pq_topk scores the whole corpus cheaply; this pays the cheap score
    on the pruned set — the two levers multiply.

    Deterministic end to end, same devices as the parents: mod-sampled
    coarse centroids and codebooks, rounded cosine for cell choice,
    rounded-DECIMAL partial dots summed order-free for ADC, explicit
    (.. desc, id) tie-breaks — so the DuckDB oracle reproduces cells,
    codes, LUT, and ranking exactly.

    Plan shape at 100 TB: the coarse-centroid table is tiny and
    broadcast (M ≈ √N rows). The PQ codebook is capped at
    ``max_codes`` codes per subspace (``_capped_sample``), so encode
    cost is O(N·m·max_codes), linear. The codebook broadcast is scoped
    to the encode step, and the per-query LUT is joined with a plain
    shuffle equi-join on its (query_id, s, code) hash key, never
    broadcast. Only the shortlisted candidates are encoded (query-time
    IVF-PQ never touches unprobed cells' vectors). Candidate cell
    assignment and encoding are narrow passes over the corpus scan;
    the only corpus-sized shuffles are the cell equi-join and the LUT
    equi-join, both hash-partitioned on small keys.
    The coarse grain is REQUIRED (``centroids=`` trained fixed-k
    cells / ``centroid_mod=<int>`` closed-form modulo sampling /
    ``centroid_mod="sqrt"`` the √N literature grain — see
    ``_coarse_cells``); trained cells change recall, not the dataflow
    (same as ivf_topk).
    """
    subdim = dim // m
    cents = _coarse_cells(
        candidates, centroid_mod, centroids, id_col, vec_col, "ivfpq_topk"
    )
    candidates = _spread(candidates)
    shortlist = _nearest_cells(
        candidates, cents, "cand_id", 1, id_col, vec_col, round_digits
    ).join(
        _nearest_cells(
            queries, cents, "query_id", nprobe, id_col, vec_col, round_digits
        ),
        "centroid_id",
    ).select("query_id", "cand_id")
    codebook = _codebook(
        _capped_sample(candidates, id_col, code_mod, max_codes),
        id_col, vec_col, m, subdim,
    )
    short_cands = candidates.join(
        shortlist.select(F.col("cand_id").alias(id_col)).distinct(),
        id_col,
        "left_semi",
    )
    codes = _ip_codes(
        _subvectors(short_cands, id_col, "cand_id", vec_col, m, subdim),
        codebook, round_digits,
    )
    lut = _partial_dots(
        _subvectors(queries, id_col, "query_id", vec_col, m, subdim),
        codebook, "query_id", "qd", round_digits,
    )
    scored = _adc_sum(
        codes.join(shortlist, "cand_id"), lut, ["query_id", "s", "code"],
        ["query_id", "cand_id"], "sim",
    )
    return _ranked(scored, k)


def residual_ivfpq_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 10,
    centroid_mod: int | str | None = None,
    nprobe: int = 3,
    m: int = 4,
    dim: int = 64,
    code_mod: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
    centroids: DataFrame | None = None,
    train_iters: int = 0,
    train_mod: int = 4,
    max_codes: int = 256,
) -> DataFrame:
    """RESIDUAL-encoded IVF-PQ top-k — the FAISS IVFPQ layout proper
    (Jegou et al. 2011, "Product Quantization for Nearest Neighbor
    Search", §IV.B): PQ quantizes the residual v − c(v) against the
    assigned coarse centroid instead of the raw vector, and each
    candidate's inner-product estimate decomposes as

        q·v  ≈  q·c(v)  +  q·PQ(v − c(v))

    — the coarse term is exact (c(v) is stored), so PQ only has to
    model the small within-cell displacement, which is why this is
    the production default: at the same code budget the quantization
    error drops by roughly the coarse quantizer's explained variance
    (recall@10 0.275 → 0.385 sampled / ~0.46 trained on the scorecard
    fixture; see the README scorecard). Two deliberate differences
    from ``ivfpq_topk``'s raw-vector tier, both the FAISS defaults:
    the codebook holds residuals, and code assignment minimizes L2
    distance (``_l2_codes``) rather than maximizing the inner product.

    ``train_iters > 0`` trains the per-subspace codebook with
    deterministic Lloyd iterations over the bounded ``id % train_mod``
    residual sample; ``train_iters=0`` takes the capped mod-sampled
    codebook (``_residual_quantizers``).

    The candidate side (assignment, codebook) is the one
    ``residual_ann_index_frames`` persists; this in-session path encodes
    only the shortlisted candidates (``_residual_codes``) and scores
    them with ``_residual_topk``, as the persisted probe does, so the
    two answer identically (pinned by test). Deterministic end to end,
    so the DuckDB oracle reproduces cells, residuals, codes, LUT, the
    exact q·c term, and the ranking.

    Plan shape at 100 TB = ``ivfpq_topk``'s shape plus one narrow
    residual projection per shortlisted candidate and one
    (query × probed-cell)-sized exact q·c attach — no new
    corpus-sized shuffle: cell assignment and encoding stay narrow
    passes, the LUT equi-join stays hash-partitioned on
    (query_id, s, code)."""
    subdim = dim // m
    cents = _coarse_cells(
        candidates,
        centroid_mod,
        centroids,
        id_col,
        vec_col,
        "residual_ivfpq_topk",
    )
    candidates, assigned, codebook = _residual_quantizers(
        candidates, cents, m, subdim, code_mod, id_col, vec_col,
        round_digits, train_iters, train_mod, max_codes,
    )
    probes = _nearest_cells(
        queries, cents, "query_id", nprobe, id_col, vec_col, round_digits
    )
    # the candidate's cell id rides along for the exact q·c(v) term
    shortlist = assigned.join(probes, "centroid_id").select(
        "query_id", "cand_id", "centroid_id"
    )
    short_cands = candidates.join(
        shortlist.select(F.col("cand_id").alias(id_col)).distinct(),
        id_col,
        "left_semi",
    )
    codes = _residual_codes(
        short_cands, assigned, cents, codebook, m, subdim, id_col, vec_col,
        round_digits,
    )
    return _residual_topk(
        codes.join(shortlist, "cand_id"), queries, cents, codebook, k, m,
        subdim, id_col, vec_col, round_digits,
    )


def residual_ann_index_frames(
    candidates: DataFrame,
    centroids: DataFrame | None = None,
    centroid_mod: int | str | None = None,
    m: int = 4,
    dim: int = 64,
    code_mod: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
    train_iters: int = 0,
    train_mod: int = 4,
    max_codes: int = 256,
) -> dict[str, DataFrame]:
    """INDEX-BUILD half of residual IVF-PQ (the ll63 persisted-index
    device applied to the ANN tier): everything ``residual_ivfpq_topk``
    trains or derives from the CANDIDATE side alone, as four plain
    parquet-writable frames, so a production pipeline builds once per
    snapshot and answers every query batch via
    ``residual_ann_index_topk`` without re-reading candidate vectors or
    re-running Lloyd (the reference stashes its trained model the same
    way — Trainer.scala:119 — but re-trains per run):

      cents    — (centroid_id, centv) coarse cells (trained or
                 mod-sampled via the required-grain rules of
                 ``_coarse_cells``)
      codebook — (s, code, cent) per-subspace residual codebook
                 (``_residual_quantizers``, shared with the query path)
      codes    — (cand_id, centroid_id, s, code): EVERY candidate's
                 cell + PQ codes (index build encodes everything once;
                 the in-session query path encodes only shortlisted
                 candidates — same codes either way, pinned by test)
      meta     — 1 row of the build parameters; the probe and the fold
                 refuse an index whose stamp disagrees with their own
                 arguments (``_check_stamp``)

    Scale: assignment and encode are the same narrow passes as the
    query path, run over the full corpus once; codes is the only
    corpus-sized artifact (m+1 small ints per vector — the PQ
    compression is the point)."""
    spark = candidates.sparkSession
    subdim = dim // m
    cents = _coarse_cells(
        candidates,
        centroid_mod,
        centroids,
        id_col,
        vec_col,
        "residual_ann_index_frames",
    )
    candidates, assigned, codebook = _residual_quantizers(
        candidates, cents, m, subdim, code_mod, id_col, vec_col,
        round_digits, train_iters, train_mod, max_codes,
    )
    codes = (
        _residual_codes(
            candidates, assigned, cents, codebook, m, subdim, id_col,
            vec_col, round_digits,
        )
        .join(assigned, "cand_id")
        .select("cand_id", "centroid_id", "s", "code")
    )
    stamp = _stamp(m, dim, code_mod, train_iters, train_mod, max_codes,
                   round_digits)
    meta = spark.createDataFrame(
        [tuple(stamp.values())],
        "m int, dim int, code_mod int, train_iters int, train_mod int,"
        " max_codes int, round_digits int",
    )
    return {"cents": cents, "codebook": codebook, "codes": codes,
            "meta": meta}


def residual_ann_index_encode_delta(
    index: dict[str, DataFrame],
    delta: DataFrame,
    m: int = 4,
    dim: int = 64,
    code_mod: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
    train_iters: int = 0,
    train_mod: int = 4,
    max_codes: int = 256,
    on_overlap: str = "error",
) -> DataFrame:
    """Encode ONLY the delta batch against the index's frozen
    quantizers and return its (cand_id, centroid_id, s, code) rows —
    the O(delta)-WRITE half of the incremental fold: a daily pipeline
    appends this frame as a new codes partition (ss23's per-batch
    files) instead of rewriting the corpus-sized codes table, and the
    multi-file read of base ∪ delta partitions IS the folded codes
    table (parquet directories are bag unions).

    The fold's exactness contract assumes delta ids are DISJOINT from
    the ids already encoded: a duplicate (cand_id, s, code) row would
    silently double-count that candidate's ADC partial dots in
    ``residual_ann_index_topk``'s sum — wrong similarities with no
    loud failure. ``on_overlap`` enforces it:
      "error" (default) — one bounded semi-join count of delta ids
        against the index's encoded ids; raises on any overlap. The
        count is an eager job (same documented driver-action class as
        the 1-row meta read), scanning only the codes table's id
        column once per fold — per-day cost, pushed-down projection.
      "skip"  — lazily anti-join the delta against already-encoded
        ids, so re-folding an already-folded batch contributes ZERO
        rows: the idempotent mode for at-least-once replay
        (foreachBatch retry semantics — ss21/ss23's caveat class).

    Refuses an index whose meta stamp disagrees with the fold's
    parameters (``_check_stamp``)."""
    return _fold_codes(
        "residual_ann_index_encode_delta", index, delta,
        _stamp(m, dim, code_mod, train_iters, train_mod, max_codes,
               round_digits),
        id_col, vec_col, on_overlap,
    )


def residual_ann_index_update(
    index: dict[str, DataFrame],
    delta: DataFrame,
    m: int = 4,
    dim: int = 64,
    code_mod: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
    train_iters: int = 0,
    train_mod: int = 4,
    max_codes: int = 256,
    on_overlap: str = "error",
) -> dict[str, DataFrame]:
    """INCREMENTAL UPDATE of the persisted residual IVF-PQ index: fold
    a delta batch of vectors into an existing index WITHOUT touching
    the base corpus or retraining — assign each delta vector to its
    cell with the FROZEN coarse centroids, encode its residual with
    the FROZEN codebook (as ``residual_ann_index_encode_delta``), and
    union the (cand_id, centroid_id, s, code) rows into the codes
    table. Because cell assignment and encoding are pure per-vector
    functions of the frozen quantizers (the ll63 per-document-artifact
    property, here per-vector), the folded codes table is IDENTICAL to
    encoding base ∪ delta from scratch against the same quantizers —
    so the fold is exact, associative (update(update(I, d1), d2) ==
    update(I, d1 ∪ d2), pinned by test), and O(delta) per day.
    Quantizer drift is the re-train trigger, not a fold (the ll104
    re-curate discipline): ``ann_index_recall_probe`` emits the
    recall@k signal per snapshot version.

    Exactness requires delta ids disjoint from the already-encoded
    set; ``on_overlap`` ("error" raises eagerly / "skip" anti-joins
    lazily for idempotent replay) enforces it — see
    ``residual_ann_index_encode_delta``. Refuses an index whose meta
    stamp disagrees with the fold's parameters. Returns the updated
    frames dict (cents/codebook/meta unchanged, codes unioned)."""
    delta_codes = _fold_codes(
        "residual_ann_index_update", index, delta,
        _stamp(m, dim, code_mod, train_iters, train_mod, max_codes,
               round_digits),
        id_col, vec_col, on_overlap,
    )
    return dict(index, codes=index["codes"].unionByName(delta_codes))


def residual_ann_index_topk(
    queries: DataFrame,
    index: dict[str, DataFrame],
    k: int = 10,
    nprobe: int = 3,
    m: int = 4,
    dim: int = 64,
    code_mod: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
    train_iters: int = 0,
    train_mod: int = 4,
    max_codes: int = 256,
) -> DataFrame:
    """PROBE half of the persisted residual IVF-PQ index: answer top-k
    from the four index frames alone — the candidate corpus is NEVER
    read and nothing retrains. Refuses an index whose meta stamp
    disagrees with the probe's own parameters (``_check_stamp``).

    Dataflow: query × broadcast(cents) picks nprobe cells; the
    persisted ``codes`` table joined on centroid_id IS the shortlist
    (cell assignment was done at build time); scoring is
    ``_residual_topk``, shared with ``residual_ivfpq_topk``, so
    persisted + probed equals in-session (pinned by test and by the
    driver oracle). Per batch the only corpus-sized input is ``codes``
    (m+1 small ints per candidate), joined once on its cell key."""
    _check_stamp(
        index,
        "residual_ann_index_topk",
        _stamp(m, dim, code_mod, train_iters, train_mod, max_codes,
               round_digits),
    )
    cents = index["cents"]
    probes = _nearest_cells(
        queries, cents, "query_id", nprobe, id_col, vec_col, round_digits
    )
    return _residual_topk(
        index["codes"].join(probes, "centroid_id"), queries, cents,
        index["codebook"], k, m, dim // m, id_col, vec_col, round_digits,
    )


def _uri_norm(path: str) -> str:
    """Scheme-aware URI normalization for the in-place-persist guard's
    prefix comparison (ADVICE r12): local paths and ``file:`` URIs
    normalize through the filesystem (absolute path); any OTHER scheme
    (hdfs://, s3a://, ...) keeps its scheme + authority and a
    trailing-slash-stripped path — running os.path.abspath over a
    remote URI mangles both sides identically, which would make an
    in-place persist silently BYPASS the guard instead of raising."""
    import os
    from urllib.parse import urlparse

    u = urlparse(path)
    if u.scheme in ("", "file"):
        local = u.path if u.scheme == "file" else path
        return "file://" + os.path.abspath(local)
    return f"{u.scheme}://{u.netloc}{u.path.rstrip('/')}"


def residual_ann_index_persist(
    index: dict[str, DataFrame], root: str
) -> dict[str, DataFrame]:
    """Persist the four index frames to ``root`` and return the
    re-read dict — the build-side persist AND the codes-partition
    COMPACTION in one device: after many daily O(delta) folds (ss23's
    batch-keyed partitions) the codes view is a long multi-path list
    whose file-listing/footer overhead grows with the fold count;
    persisting the CURRENT view to a fresh root rewrites it as one
    bounded artifact set, after which the superseded partition files
    are dead and deletable — the same retention rule as
    ``_ll100_compact_state``. Always writes to a NEW root, never in
    place — ENFORCED, not just promised (ADVICE r11): if any of the
    index's lazy frames read files under ``root``, mode("overwrite")
    would truncate parquet the write job is concurrently reading and
    corrupt the index, so that call raises instead (the meta-stamp
    guard's discipline; the comparison is scheme-aware — ``_uri_norm``
    — so remote URIs like hdfs://s3a:// can't slip past it, ADVICE
    r12). Probe answers are layout-invariant (pinned by test):
    compaction changes file boundaries, never rows."""
    spark = index["codes"].sparkSession
    root_n = _uri_norm(root)
    for name_, df_ in index.items():
        for in_file in df_.inputFiles():
            p = _uri_norm(in_file)
            if p == root_n or p.startswith(root_n + "/"):
                raise ValueError(
                    "residual_ann_index_persist: frame"
                    f" {name_!r} reads {in_file} under the target root"
                    f" {root!r} — in-place compaction would truncate"
                    " parquet while reading it; persist to a NEW root"
                    " and delete the superseded one after the write"
                    " commits"
                )
    # the four writes are independent actions over already-bounded
    # frames (three are metadata-sized, codes dominates) — overlap them
    # on driver threads so the persist costs ~max(write) not Σ(write)
    # (guide §2.6; operators/io.write_frames)
    write_frames(index, root)
    # read back with the WRITER's schema (r14, guide §1.2): the frame
    # just written carries exactly the on-disk schema, so passing it
    # skips the per-directory footer-inference job — 4 fewer
    # driver-synchronized jobs per persist, zero hardcoding
    return {
        name_: spark.read.schema(df_.schema).parquet(
            f"{root}/{name_}.parquet"
        )
        for name_, df_ in index.items()
    }


def ann_index_recall_probe(
    queries: DataFrame,
    candidates: DataFrame,
    index: dict[str, DataFrame],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
    exact: DataFrame | None = None,
    **probe_params,
) -> DataFrame:
    """QUANTIZER-DRIFT DETECTOR (VERDICT r10 item 3 — the ll104
    detector discipline applied to the ANN tier): per probe query,
    recall@k of the persisted index's ADC answer against exact
    brute-force cosine over the same candidates. The incremental fold
    (``residual_ann_index_update``) is exact w.r.t. its FROZEN
    quantizers, so fold arithmetic never degrades — what degrades is
    the quantizers' FIT as folded deltas drift away from the base
    training distribution (coarse cells stop separating the new mass,
    residual codebooks mis-span it). The documented re-train trigger
    is precisely "recall decay on a probe set"; this emits that
    signal per index snapshot, from a BOUNDED probe sample (queries
    should be tens-to-hundreds of rows — the exact pass is
    |probe| × |candidates| narrow broadcast work, the same sampled-
    baseline contract as ll52, run once per snapshot version, not per
    user query).

    ``probe_params`` forward to ``residual_ann_index_topk`` (must
    match the index's meta stamp — the guard raises otherwise).
    Returns (query_id, hits, recall_at_k) per probe query; the caller
    alerts on the aggregate dropping below its re-train threshold.
    The denominator is least(k, that query's exact neighbor count)
    (ADVICE r11): a probe query with fewer than k exact neighbors
    (small candidate set, null-sim exclusions) can still reach recall
    1.0, so the metric floor is not distribution-dependent near that
    edge; a query with ZERO exact neighbors has no defined recall and
    reads NULL.

    ``exact``: optionally a PRECOMPUTED (query_id, cand_id) exact
    top-k over the same (queries, candidates, k) — the retrain arc
    probes twice against the SAME ground truth, so computing the
    brute-force side once and passing it here halves the exact work
    (guide §1.2: don't compute things twice). When None it is computed
    here and localCheckpointed: the frame is |probe|·k tiny rows but
    feeds two consumers (the per-query denominator and the hit join),
    which would otherwise each re-run the full brute-force chain."""
    if exact is None:
        exact = brute_force_topk(
            queries, candidates, k=k, id_col=id_col, vec_col=vec_col,
            round_digits=round_digits,
        ).select("query_id", "cand_id").localCheckpoint(eager=True)
    approx = residual_ann_index_topk(
        queries, index, k=k, id_col=id_col, vec_col=vec_col,
        round_digits=round_digits, **probe_params,
    ).select("query_id", "cand_id")
    n_exact = exact.groupBy("query_id").agg(F.count(F.lit(1)).alias("ne"))
    hits = (
        exact.join(approx, ["query_id", "cand_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("h"))
    )
    return (
        queries.select(F.col(id_col).alias("query_id"))
        .join(hits, "query_id", "left")
        .join(n_exact, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("h"), F.lit(0)).cast("bigint").alias("hits"),
            (
                F.coalesce(F.col("h"), F.lit(0))
                # nullif: 0 exact neighbors -> NULL recall, never /0
                / F.nullif(
                    F.least(F.lit(k), F.coalesce(F.col("ne"), F.lit(0))),
                    F.lit(0),
                )
            )
            .cast("double")
            .alias("recall_at_k"),
        )
    )


def ann_index_retrain_on_drift(
    queries: DataFrame,
    candidates: DataFrame,
    index: dict[str, DataFrame],
    root: str,
    threshold: float = 0.9,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
    coarse_k: int = 8,
    coarse_iters: int = 3,
    m: int = 4,
    dim: int = 64,
    code_mod: int = 64,
    train_iters: int = 0,
    train_mod: int = 4,
    max_codes: int = 256,
    nprobe: int = 3,
    from_version: int = 1,
) -> dict:
    """RE-TRAIN ON DRIFT — the ACTION half of the ANN detect→act loop
    (VERDICT r11 item 1; ``ann_index_recall_probe`` is the detect
    half, the ll104→ll109 asymmetry closed for the vector tier):

      1. DETECT — probe recall@k of the live index against exact
         brute-force over the bounded probe sample; take the mean
         (one 1-row driver action, the documented once-per-snapshot
         class). Recorded as the phase ``detect_s``.
      2. DECIDE — if mean recall >= ``threshold`` the quantizers still
         fit: return the index unchanged, report recall_after ==
         recall_before, retrained=false. Nothing is written.
      3. ACT — otherwise RE-TRAIN the quantizers over the CURRENT
         corpus (base ∪ every folded delta — the distribution the old
         base-trained quantizers drifted away from): fresh
         sample-bounded coarse kmeans + residual Lloyd, every
         candidate re-encoded, persisted to the fresh versioned
         ``root`` via ``residual_ann_index_persist`` (never in place —
         the enforced new-root rule; the superseded root is dead and
         deletable after the write commits, the fold-root retention
         rule), then re-probe the same sample so the report carries
         recall RECOVERY as a recorded number.

    Scale: detect/verify are the ll52 bounded-probe contract
    (|probe| × corpus narrow broadcast work, once per snapshot); the
    retrain is the ll105 build — O(N·k) assignment + sample-bounded
    Lloyd + O(N) encode — paid only when the trigger fires, which at
    100 TB is the rare distribution-shift event, never the daily fold.

    Returns {"index": live index (retrained or original), "report":
    DataFrame (query_id, index_version, recall_before, recall_after,
    retrained) — index_version increments past ``from_version`` when
    the act path ran (the versioned-root lineage a catalog records),
    "retrained": bool, "recall_before_mean": float}."""
    probe_params = dict(
        m=m, dim=dim, code_mod=code_mod, train_iters=train_iters,
        train_mod=train_mod, max_codes=max_codes, nprobe=nprobe,
    )
    # ONE exact brute-force pass serves both probes (guide §1.2): the
    # before- and after-probe ground truth is identical (same queries,
    # same candidates, same k), so the |probe|×corpus exact chain runs
    # once instead of twice (and, uncheckpointed, it previously re-ran
    # per consumer inside each probe — 4x total).
    with phase("detect_s"):
        exact = brute_force_topk(
            queries, candidates, k=k, id_col=id_col, vec_col=vec_col,
            round_digits=round_digits,
        ).select("query_id", "cand_id").localCheckpoint(eager=True)
        # the probe output is |probe| tiny rows but feeds the decide
        # mean AND the report join — checkpoint so the probe chain
        # runs once
        before = ann_index_recall_probe(
            queries, candidates, index, k=k, id_col=id_col, vec_col=vec_col,
            round_digits=round_digits, exact=exact, **probe_params,
        ).localCheckpoint(eager=True)
        mean_before = before.agg(F.avg("recall_at_k")).collect()[0][0]
    retrained = mean_before is not None and float(mean_before) < threshold
    if not retrained:
        report = before.select(
            "query_id",
            F.lit(from_version).cast("int").alias("index_version"),
            F.col("recall_at_k").alias("recall_before"),
            F.col("recall_at_k").alias("recall_after"),
            F.lit(False).alias("retrained"),
        )
        return {
            "index": index,
            "report": report,
            "retrained": False,
            "recall_before_mean": mean_before,
        }
    from . import clustering  # sibling operator module, lazy by convention

    cents = clustering.kmeans_fit(
        candidates, k=coarse_k, iters=coarse_iters, id_col=id_col,
        vec_col=vec_col, round_digits=round_digits,
    ).select(F.col("cid").alias("centroid_id"), F.col("cv").alias("centv"))
    frames = residual_ann_index_frames(
        candidates, centroids=cents, m=m, dim=dim, code_mod=code_mod,
        id_col=id_col, vec_col=vec_col, round_digits=round_digits,
        train_iters=train_iters, train_mod=train_mod, max_codes=max_codes,
    )
    new_index = residual_ann_index_persist(frames, root)
    after = ann_index_recall_probe(
        queries, candidates, new_index, k=k, id_col=id_col,
        vec_col=vec_col, round_digits=round_digits, exact=exact,
        **probe_params,
    )
    report = (
        before.select(
            "query_id", F.col("recall_at_k").alias("recall_before")
        )
        .join(
            after.select(
                "query_id", F.col("recall_at_k").alias("recall_after")
            ),
            "query_id",
        )
        .select(
            "query_id",
            F.lit(from_version + 1).cast("int").alias("index_version"),
            "recall_before",
            "recall_after",
            F.lit(True).alias("retrained"),
        )
    )
    return {
        "index": new_index,
        "report": report,
        "retrained": True,
        "recall_before_mean": mean_before,
    }


def semantic_decontaminate(
    vectors: DataFrame,
    is_eval: Column,
    threshold: float = 0.35,
    centroid_mod: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
    cells: str = "sized",
    cell_target: int = 64,
) -> DataFrame:
    """Embedding-space decontamination: flag every TRAIN vector whose
    cosine to ANY EVAL vector reaches ``threshold`` — ll20's n-gram
    decontamination catches verbatim leakage, this tier catches
    paraphrased benchmark leakage that shares no 5-gram. ``is_eval``
    is a boolean Column over ``vectors``'s columns.

    ``cells`` picks the cell grain and DEFAULTS to the scale-safe one
    (VERDICT r9 item 1): ``cells="sized"`` delegates to
    ``semantic_decontaminate_sized``'s constant-population hyperplane
    sign cells (O(N log N) assignment, linear pair work), so a bare
    call is the 100 TB production path. ``cells="centroid"`` opts into
    this literature-faithful √N-centroid tier, which is O(N^1.5)
    (measured 36.4× on 10× data at sf10). Same verdict rule and output
    schema; ``cell_target`` is the sized tier's expected cell
    population. ``centroid_mod`` tunes only the centroid tier; passing
    it with ``cells="sized"`` raises rather than being dropped.

    Same cell-scoping as ``semantic_dedup`` (shared training-free
    quantizer, (sim desc, id asc) assignment tie-break), but the pair
    join is TRAIN x EVAL within a cell, never train x train — at 100 TB
    the eval side is benchmark-sized, so each cell's cost is
    |train_cell| x |eval_cell| with a tiny second factor. The flagged
    match is deterministic: max similarity, then smallest eval id.

    On the centroid tier, ``centroid_mod=None`` derives the modulus
    from the corpus size (mod ≈ √N, ``derive_centroid_mod``), the same
    O(N^1.5) policy as ``semantic_dedup``; an explicit int overrides
    it for oracle determinism at test scale.

    Returns (id, contaminated, eval_id, sim) for every train vector —
    eval_id/sim NULL when clean.
    """
    if cells == "sized":
        if centroid_mod is not None:
            raise ValueError(
                "centroid_mod tunes the 'centroid' grain and is ignored "
                "by cells='sized' — pass cells='centroid' to use it, or "
                "cell_target to size the sized tier's cells"
            )
        return semantic_decontaminate_sized(
            vectors,
            is_eval,
            threshold=threshold,
            cell_target=cell_target,
            id_col=id_col,
            vec_col=vec_col,
            round_digits=round_digits,
        )
    if cells != "centroid":
        raise ValueError(f"cells must be 'centroid' or 'sized', got {cells!r}")
    if centroid_mod is None:
        centroid_mod = derive_centroid_mod(vectors)
    cents = vectors.where(F.col(id_col) % centroid_mod == 0).select(
        F.col(id_col).alias("centroid_id"), F.col(vec_col).alias("centv")
    )
    members = (
        # _spread: see semantic_dedup — the assignment pass must not
        # serialize onto a single-row-group scan's 1-2 partitions.
        # _nearest_one replaces the row_number window (guide §2.3).
        _nearest_one(
            _spread(
                vectors.select(
                    F.col(id_col).alias("m_id"),
                    F.col(vec_col).alias("v"),
                    is_eval.alias("is_eval"),
                )
            )
            .crossJoin(F.broadcast(cents))
            .select(
                "m_id",
                "v",
                "is_eval",
                "centroid_id",
                F.round(
                    cosine_similarity(F.col("v"), F.col("centv")), round_digits
                ).alias("csim"),
            )
            .where(F.col("csim").isNotNull()),
            "m_id",
            payload=("v", "is_eval"),
        )
        # same load-bearing boundary as semantic_dedup: the assignment
        # feeds both pair sides and the final left join.
        # localCheckpoint, not cache(): released by the ContextCleaner
        # when dereferenced instead of pinning storage session-long.
        .localCheckpoint(eager=True)
    )
    train = members.where(~F.col("is_eval")).select(
        "centroid_id", F.col("m_id").alias("train_id"), F.col("v").alias("vt")
    )
    ev = members.where(F.col("is_eval")).select(
        "centroid_id", F.col("m_id").alias("eval_id"), F.col("v").alias("ve")
    )
    # best hit by (sim DESC, eval_id ASC) as a partial-aggregable
    # max(struct(sim, -eval_id)) instead of a row_number window over
    # the train×eval pair rows (guide §2.3)
    hits = (
        train.join(ev, "centroid_id")
        .select(
            "train_id",
            "eval_id",
            F.round(
                cosine_similarity(F.col("vt"), F.col("ve")), round_digits
            ).alias("sim"),
        )
        .where(F.col("sim") >= threshold)
        .groupBy("train_id")
        .agg(
            F.max(
                F.struct(
                    F.col("sim").alias("s_"), (-F.col("eval_id")).alias("nid_")
                )
            ).alias("b_")
        )
        .select(
            "train_id",
            (-F.col("b_.nid_")).alias("eval_id"),
            F.col("b_.s_").alias("sim"),
        )
    )
    return (
        members.where(~F.col("is_eval"))
        .select(F.col("m_id").alias("train_id"))
        .join(hits, "train_id", "left")
        .select(
            F.col("train_id").alias(id_col),
            F.col("eval_id").isNotNull().alias("contaminated"),
            "eval_id",
            "sim",
        )
    )


def semantic_decontaminate_sized(
    vectors: DataFrame,
    is_eval: Column,
    threshold: float = 0.35,
    cell_target: int = 64,
    n_planes: int | None = None,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Constant-cell-population embedding decontamination — the
    ``semantic_decontaminate`` verdict (flag every TRAIN vector with a
    >=threshold EVAL neighbor, deterministic max-sim/min-eval-id
    match) over ``semantic_dedup_sized``'s hyperplane sign cells:
    n_planes = ceil(log2(N / cell_target)) keeps the expected cell
    population flat at any corpus size, so the train x eval cell join
    costs ~N·(eval fraction)·cell_target — linear — with an
    O(N log N) no-centroid-table assignment (see
    semantic_dedup_sized's scale analysis vs the √N-cells policy).
    Zero-norm vectors are excluded (family convention). Returns
    (id, contaminated, eval_id, sim) for every train vector."""
    import math as _math

    if n_planes is None:
        n = vectors.count()
        n_planes = max(
            1, _math.ceil(_math.log2(max(2.0, n / float(cell_target))))
        )
    planes = hyperplane_signs(n_planes, dim)
    sumsq = F.aggregate(
        F.col("v"),
        F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
    )
    members = (
        _spread(
            vectors.select(
                F.col(id_col).alias("m_id"),
                F.col(vec_col).alias("v"),
                is_eval.alias("is_eval"),
            )
        )
        .where(sumsq > 0)
        .select(
            "m_id",
            "v",
            "is_eval",
            _bucket_from_planes(F.col("v"), planes)
            .cast("bigint")
            .alias("cell"),
        )
        # feeds both pair sides + the final left join (the documented
        # boundary of the centroid tier)
        .localCheckpoint(eager=True)
    )
    train = members.where(~F.col("is_eval")).select(
        "cell", F.col("m_id").alias("train_id"), F.col("v").alias("vt")
    )
    ev = members.where(F.col("is_eval")).select(
        "cell", F.col("m_id").alias("eval_id"), F.col("v").alias("ve")
    )
    # same partial-agg argmax as the centroid tier (guide §2.3)
    hits = (
        train.join(ev, "cell")
        .select(
            "train_id",
            "eval_id",
            F.round(
                cosine_similarity(F.col("vt"), F.col("ve")), round_digits
            ).alias("sim"),
        )
        .where(F.col("sim") >= threshold)
        .groupBy("train_id")
        .agg(
            F.max(
                F.struct(
                    F.col("sim").alias("s_"), (-F.col("eval_id")).alias("nid_")
                )
            ).alias("b_")
        )
        .select(
            "train_id",
            (-F.col("b_.nid_")).alias("eval_id"),
            F.col("b_.s_").alias("sim"),
        )
    )
    return (
        members.where(~F.col("is_eval"))
        .select(F.col("m_id").alias("train_id"))
        .join(hits, "train_id", "left")
        .select(
            F.col("train_id").alias(id_col),
            F.col("eval_id").isNotNull().alias("contaminated"),
            "eval_id",
            "sim",
        )
    )


def jl_signs(dim: int, k: int) -> list[list[int]]:
    """Deterministic ±1 Johnson-Lindenstrauss sign matrix (k rows of
    dim): sign(i, j) from the parity of the portable 40-bit md5 hash
    of "jl#i#j" — a Python-side constant (like the ll9 hyperplanes),
    identical for every executor, every run, and the SQL oracle."""
    import hashlib

    return [
        [
            1
            if int(
                hashlib.md5(f"jl#{i}#{j}".encode()).hexdigest()[:10], 16
            )
            % 2
            == 0
            else -1
            for i in range(dim)
        ]
        for j in range(k)
    ]


def jl_project(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    k: int = 16,
) -> DataFrame:
    """Johnson-Lindenstrauss random projection: dim -> k with a ±1
    sign matrix (Achlioptas 2003 — database-friendly projections),
    proj_j = Σ_i v_i·s_ij / √k. The embedding-compression tier: 4×
    fewer floats per vector cuts ANN scoring and storage cost by the
    same factor while JL bounds pairwise-distance distortion;
    norm_ratio = |proj|/|v| is emitted per vector so the distortion
    the lemma promises (concentrated near 1.0) is measured in-band,
    the same measure-the-index discipline as ll52/ll72.

    Scale: a narrow per-row map — k·dim multiply-adds per vector, no
    shuffle, no broadcast (the sign matrix is a compile-time literal).
    Projections rounded to 6dp so both the array and the ratio are
    engine-exact.

    Returns (vec_id, proj array<double>, norm_ratio).
    """
    signs = jl_signs(dim, k)
    inv_sqrt_k = 1.0 / math.sqrt(k)
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    e = emb.select(F.col(id_col).alias("vec_id"), v.alias("v"))
    proj = F.array(
        *[
            # + 0.0 canonicalizes IEEE -0.0 to +0.0 (a component that
            # rounds to zero must print identically in both engines)
            F.round(
                F.aggregate(
                    F.zip_with(
                        "v",
                        F.array(*[F.lit(float(s)) for s in signs[j]]),
                        lambda x, s: x * s,
                    ),
                    F.lit(0.0),
                    lambda acc, t: acc + t,
                )
                * F.lit(inv_sqrt_k),
                6,
            )
            + F.lit(0.0)
            for j in range(k)
        ]
    )
    sq = lambda col: F.aggregate(  # noqa: E731
        col, F.lit(0.0), lambda acc, x: acc + x * x
    )
    return e.select(
        "vec_id",
        proj.alias("proj"),
        F.round(F.sqrt(sq(proj) / sq(F.col("v"))), 6).alias("norm_ratio"),
    )


def sq8_quantize(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Scalar int8 quantization (the FAISS ``SQ8`` flat-compression
    tier): each vector is mapped to 256 levels of its own [min, max]
    range — code_i = floor((v_i − mn)·255/(mx − mn) + 0.5) (round-half
    -up via floor, identical in both engines), dequant_i = mn +
    code_i·(mx − mn)/255. 4× smaller than float32 with no index-side
    machinery, the standard first compression step before PQ (ll49) is
    worth its training cost. Reconstruction quality is measured
    in-band per vector (the ll52/ll72/ll76 discipline): recon_cos
    (cosine of the vector with its dequantization) and recon_mse.

    Scale: a narrow per-row map — two array passes per vector, no
    shuffle, no broadcast, nothing corpus-sized. Constant-vector rows
    (mx == mn) quantize to code 0 with exact reconstruction.

    Returns (vec_id, codes array<int>, zero_point, scale, recon_cos,
    recon_mse); zero_point/scale rounded 6dp for display, full
    precision used in the reconstruction math."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    e = emb.select(F.col(id_col).alias("vec_id"), v.alias("v"))
    mn, mx = F.array_min("v"), F.array_max("v")
    e = e.select(
        "vec_id", "v", mn.alias("mn"), ((mx - mn) / F.lit(255.0)).alias("sc")
    )
    code = lambda x: F.when(  # noqa: E731
        F.col("sc") == 0.0, F.lit(0)
    ).otherwise(
        F.least(
            F.lit(255),
            F.floor((x - F.col("mn")) / F.col("sc") + F.lit(0.5)),
        ).cast("int")
    )
    deq = lambda x: F.col("mn") + code(x).cast("double") * F.col("sc")  # noqa: E731
    dot = F.aggregate(
        F.zip_with("v", "d", lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )
    sq = lambda c: F.aggregate(  # noqa: E731
        c, F.lit(0.0), lambda acc, x: acc + x * x
    )
    mse = F.aggregate(
        F.zip_with("v", "d", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, t: acc + t,
    ) / F.size("v")
    staged = e.select(
        "vec_id",
        "v",
        "mn",
        "sc",
        F.transform("v", code).alias("codes"),
        F.transform("v", deq).alias("d"),
    )
    return staged.select(
        "vec_id",
        "codes",
        F.round("mn", 6).alias("zero_point"),
        F.round("sc", 6).alias("scale"),
        F.round(
            F.when(sq(F.col("v")) * sq(F.col("d")) == 0.0, F.lit(1.0))
            .otherwise(dot / F.sqrt(sq(F.col("v")) * sq(F.col("d")))),
            6,
        ).alias("recon_cos"),
        F.round(mse, 6).alias("recon_mse"),
    )


def hashed_embeddings(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = 64,
) -> DataFrame:
    """Feature-hashing document embeddings (the hashing trick —
    Weinberger et al. 2009): each token lands in bucket
    portable_hash40(token) % dim with a ±1 sign drawn from an
    independent hex digit of the SAME md5 (char 11; chars 1-10 are the
    bucket hash), the per-bucket signed counts are L2-normalized, and
    the result is a dense array<double> — a vocabulary-free,
    training-free text vectorizer whose output plugs into every
    embedding-family operator (ll8/ll9/ll12 ANN, ll42 SemDeDup, ll76
    JL, ll78 SQ8). The signed hash makes bucket collisions cancel in
    expectation (the property that lets dim stay tiny).

    Scale: tokenize+hash is codegen; ONE (doc, bucket)-keyed map-side-
    combined count (≤ dim rows per doc survive the combine), one
    doc-keyed densify — no vocabulary table, no broadcast, no global
    state of any kind, which is the whole point of hashing features at
    100 TB. Docs with zero tokens drop out (no feature events).

    Returns (doc_id, n_tokens, embedding array<double> L2-normalized,
    components rounded 6dp)."""
    from ..functions.text import tokenize

    toks = _spread(
        df.select(
            F.col(id_col).alias("doc_id"), tokenize(F.col(text_col)).alias("tokens")
        )
    ).select("doc_id", F.explode("tokens").alias("token"))
    md5 = F.md5(F.col("token"))
    h = F.conv(F.substring(md5, 1, 10), 16, 10).cast("bigint")
    sign = F.when(
        F.conv(F.substring(md5, 11, 1), 16, 10).cast("bigint") % 2 == 0,
        F.lit(1),
    ).otherwise(F.lit(-1))
    g = (
        toks.select("doc_id", F.pmod(h, F.lit(dim)).alias("idx"), sign.alias("s"))
        .groupBy("doc_id", "idx")
        .agg(F.sum("s").alias("v"), F.count(F.lit(1)).alias("cnt"))
    )
    dense = g.groupBy("doc_id").agg(
        F.sum("cnt").cast("bigint").alias("n_tokens"),
        F.map_from_entries(
            F.collect_list(F.struct("idx", "v"))
        ).alias("m"),
    )
    raw = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.coalesce(F.element_at("m", i), F.lit(0)).cast("double"),
    )
    # two selects so "raw" resolves before nrm references it
    staged = dense.select("doc_id", "n_tokens", raw.alias("raw")).select(
        "doc_id",
        "n_tokens",
        "raw",
        F.sqrt(
            F.aggregate("raw", F.lit(0.0), lambda acc, x: acc + x * x)
        ).alias("nrm"),
    )
    emb = F.when(F.col("nrm") == 0.0, F.col("raw")).otherwise(
        F.transform("raw", lambda x: F.round(x / F.col("nrm"), 6) + F.lit(0.0))
    )
    return staged.select("doc_id", "n_tokens", emb.alias("embedding"))
