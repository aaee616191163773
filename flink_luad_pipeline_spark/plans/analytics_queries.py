"""Composite analytics queries (SURVEY §2.6-2.7: C1-C5, I1).

The COO matrix for these queries is derived deterministically from the
synthetic tables (sample=order, probe=linenumber, value=quantity), so
the same operators that run the LUAD pipeline (pipeline.py) are
exercised against DuckDB oracles where SQL can express them:

- C2 correlation  -> DuckDB ``corr()``
- I1/C3 connected components -> DuckDB ``WITH RECURSIVE`` min-label
- C1 ALS, C4/C5 SVM -> rows-only (different optimizers than FlinkML;
  statistical parity is asserted in tests/test_pipeline.py on the
  separable golden fixture, per SURVEY §5.2)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import ml
from ..catalog import load
from ..operators.graph import (
    connected_components,
    connected_components_star,
    shortest_paths,
)
from .registry import query


def _coo_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long/tidy COO matrix from lineitem: (sample=order, probe=line#,
    value=quantity) — the engine's central IR (Input.scala:172 shape)."""
    return load(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("sample_id"),
        F.col("l_linenumber").alias("probe_id"),
        F.col("l_quantity").alias("value"),
    )


@query(
    "c2_pearson_corr_edges",
    oracle=(
        "WITH m AS (SELECT l_orderkey AS s, l_linenumber AS p, l_quantity AS v"
        " FROM lineitem)"
        " SELECT a.p AS probe_i, b.p AS probe_j,"
        " CAST(CAST(round(corr(a.v, b.v), 6) AS DECIMAL(18,6)) AS DOUBLE)"
        "  AS r"
        " FROM m a JOIN m b ON a.s = b.s AND a.p > b.p"
        " GROUP BY a.p, b.p"
        " HAVING corr(a.v, b.v) IS NOT NULL AND NOT isnan(corr(a.v, b.v))"
    ),
)
def c2_pearson_corr_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2 — all-pairs Pearson correlation (PreProcess.scala:25-82),
    threshold disabled (the 'none' path, Input.scala:57-61) so the
    near-zero correlations of the synthetic matrix survive for the
    oracle; the threshold path is exercised in pipeline tests.
    """
    edges = ml.pearson_edges(_coo_matrix(spark, sf_dir), threshold=None,
                             round_digits=6)
    return edges.select(
        "probe_i", "probe_j", F.col("r").cast("decimal(18,6)").alias("r")
    )


CC_ORACLE = (
    "WITH RECURSIVE"
    " nodes AS (SELECT p_partkey AS v FROM part),"
    " e AS (SELECT p.p_partkey AS src, p.p_partkey + 1 AS dst FROM part p"
    "   WHERE p.p_partkey % 10 < 3"
    "   AND EXISTS (SELECT 1 FROM part q WHERE q.p_partkey = p.p_partkey + 1)),"
    " sym AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),"
    " reach(v, lbl) AS ("
    "   SELECT v, v FROM nodes"
    "   UNION"
    "   SELECT s.dst, r.lbl FROM reach r JOIN sym s ON s.src = r.v)"
    " SELECT v AS vertex, min(lbl) AS component FROM reach GROUP BY v"
)


@query("i1_c3_connected_components", oracle=CC_ORACLE)
def i1_c3_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I1/C3 — min-label connected components via the driver-loop
    delta iteration (PreProcess.scala:179-197; max 100 supersteps).

    Graph: chain edges (k, k+1) for k%10 in {0,1,2} over part keys ->
    components of size 4 plus singletons; isolated vertices included
    (the reference seeds CC from the full probe set,
    PreProcess.scala:171). Oracle: recursive min-label closure.
    """
    part = load(spark, sf_dir, "part").select("p_partkey")
    chain = part.where(F.col("p_partkey") % 10 < 3).select(
        F.col("p_partkey").alias("src"),
        (F.col("p_partkey") + 1).alias("dst"),
    )
    # guard: drop edges whose endpoint doesn't exist (max key boundary)
    edges = chain.join(
        part.select(F.col("p_partkey").alias("dst")), "dst", "left_semi"
    )
    vertices = part.select(F.col("p_partkey").alias("vertex"))
    return connected_components(edges, vertices)


@query("i1b_cc_star", oracle=CC_ORACLE)
def i1b_cc_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I1's high-diameter scale tier: the same components on the same
    chain graph via alternating large-star/small-star (O(log n) rounds
    regardless of diameter, vs diameter-many min-label supersteps).
    Checked against the identical recursive-CTE oracle as i1_c3, plus a
    random-graph equivalence fuzz in tests/test_analytics.py."""
    part = load(spark, sf_dir, "part").select("p_partkey")
    chain = part.where(F.col("p_partkey") % 10 < 3).select(
        F.col("p_partkey").alias("src"),
        (F.col("p_partkey") + 1).alias("dst"),
    )
    edges = chain.join(
        part.select(F.col("p_partkey").alias("dst")), "dst", "left_semi"
    )
    vertices = part.select(F.col("p_partkey").alias("vertex"))
    return connected_components_star(edges, vertices)


@query(
    "g4_bfs_distances",
    oracle=(
        "WITH RECURSIVE"
        " e AS (SELECT p.p_partkey AS src, p.p_partkey + 1 AS dst FROM part p"
        "   WHERE p.p_partkey % 10 < 3"
        "   AND EXISTS (SELECT 1 FROM part q WHERE q.p_partkey = p.p_partkey + 1)),"
        " sym AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),"
        " srcs AS (SELECT p_partkey AS v FROM part WHERE p_partkey % 100 = 0),"
        " walk(v, d) AS ("
        "   SELECT v, CAST(0 AS BIGINT) FROM srcs"
        "   UNION"
        "   SELECT s.dst, w.d + 1 FROM walk w JOIN sym s ON s.src = w.v"
        "   WHERE w.d < 50)"
        " SELECT v AS vertex, min(d) AS dist FROM walk GROUP BY v"
    ),
)
def g4_bfs_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G4 — multi-source unweighted shortest paths over the i1 chain
    graph (sources: every 100th part key): the distance-semiring
    iterative operator next to CC's min-label and g1's PageRank.
    Chains are length <= 4, so the recursion bound (50) never binds.
    Oracle: recursive min-distance closure."""
    part = load(spark, sf_dir, "part").select("p_partkey")
    chain = part.where(F.col("p_partkey") % 10 < 3).select(
        F.col("p_partkey").alias("src"),
        (F.col("p_partkey") + 1).alias("dst"),
    )
    edges = chain.join(
        part.select(F.col("p_partkey").alias("dst")), "dst", "left_semi"
    )
    sources = part.where(F.col("p_partkey") % 100 == 0).select(
        F.col("p_partkey").alias("vertex")
    )
    return shortest_paths(edges, sources)


@query("c1_als_completion")  # rows-only: ALS values are optimizer-specific
def c1_als_completion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1 — ALS matrix completion (PreProcess.scala:130-152; rank 10,
    10 iters, λ 0.9, 100 blocks, seed 42). Observed = mean quantity per
    (suppkey, partkey%200) bucket; the ~0.2% empty buckets are the
    missing cells ALS fills. Row count is deterministic
    (|samples| x |probes|); values are validated statistically by
    holdout RMSE in tests/test_analytics.py (SURVEY §5.2: Flink and
    Spark weight λ differently — no bitwise parity)."""
    li = load(spark, sf_dir, "lineitem")
    observed = li.groupBy(
        F.col("l_suppkey").alias("sample_id"),
        (F.col("l_partkey") % 200).alias("probe_id"),
    ).agg(F.avg("l_quantity").alias("value"))
    completed = ml.als_complete(observed, num_blocks=10)
    return completed.select("sample_id", "probe_id", "value")


@query("c4_c5_svm_train_predict")  # rows-only: no SVM in the SQL oracle
def c4_c5_svm_train_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4+C5 — linear SVM train on 80% of embeddings (binary label =
    class < 5), predict the held-out 20%; output (sample_id,
    prediction ±1.0) — the reference's final shape (Trainer.scala:73,
    README.md:73-75 ``samp5  -1.0``). The embeddings enter the exact
    dual solver (``ml.svm_train``, C = 1/(reg·n_train)) as the long
    (sample_id, probe_id = dimension, value) matrix: its Gram pass joins
    n·n_train·64 rows and keeps an n·n_train kernel on the driver, cheap
    while samples are few and quadratic once n_train ≫ 64 (sf0.1). Ids
    stay keys throughout, so the reference's vector-equality re-join
    (J3, Trainer.scala:102-109) is unnecessary here; J3 itself is
    covered by j3_join_on_array."""
    from ..operators.dedup import _spread

    emb = load(spark, sf_dir, "embeddings")
    # _spread: the Gram join streams from this scan, which a test-scale
    # table holds in one row group — one core for all n·n_train·64 rows
    matrix = _spread(emb).select(
        F.col("vec_id").alias("sample_id"),
        F.posexplode("embedding").alias("probe_id", "value"),
    ).withColumn("value", F.col("value").cast("double"))
    labels = emb.select(
        F.col("vec_id").alias("sample_id"),
        (F.col("label") < 5).alias("tumorous"),
    )
    decisions = ml.svm_train(matrix, labels.where(F.col("sample_id") % 5 != 0))
    return ml.svm_predict(decisions, labels.where(F.col("sample_id") % 5 == 0))


@query("c2b_dimsum_corr_edges")  # rows-only: sampled estimator by design
def c2b_dimsum_corr_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2's 100 TB tier (SURVEY M4f): DIMSUM column-similarity
    correlation — Pearson r as cosine of centered columns over a
    distributed RowMatrix. Exact mode here (dimsum_threshold=0, the
    small-n regime caveat in ml.pearson_edges_scalable); flip the
    threshold >0 to get the sampled O(nnz·log p / thr) scale path with
    the same output contract as c2. Rows-only check: the estimator is
    approximate by design at scale; its exact-mode agreement with c2
    is asserted in tests/test_analytics.py.

    The COO cells are summed per (sample, probe) first: the RowMatrix
    route requires unique indices per row vector (the self-join c2
    implicitly pairs duplicate cells instead)."""
    cells = (
        _coo_matrix(spark, sf_dir)
        .groupBy("sample_id", "probe_id")
        .agg(F.sum("value").alias("value"))
    )
    edges = ml.pearson_edges_scalable(cells, threshold=None, dimsum_threshold=0.0)
    return edges.select(
        "probe_i", "probe_j", F.round("r", 6).cast("decimal(18,6)").alias("r")
    )


def _pagerank_oracle(iterations: int = 10, damping: float = 0.85) -> str:
    """Unrolled power-iteration oracle: SQL can't aggregate inside a
    recursive CTE, so each iteration is its own CTE — generated, not
    hand-written, so the Spark loop and the SQL provably share the
    recurrence rank' = (1-d)/N + d * Σ rank/outdeg."""
    nodes = "SELECT p_partkey AS v FROM part"
    edges = (
        "SELECT p_partkey AS src, p_partkey + 1 AS dst FROM part p"
        " WHERE p_partkey % 10 < 3"
        " AND EXISTS (SELECT 1 FROM part q WHERE q.p_partkey = p.p_partkey + 1)"
        " UNION ALL "
        "SELECT p_partkey AS src, p_partkey + 3 AS dst FROM part p"
        " WHERE p_partkey % 10 < 3"
        " AND EXISTS (SELECT 1 FROM part q WHERE q.p_partkey = p.p_partkey + 3)"
    )
    parts = [
        f"WITH nodes AS ({nodes})",
        f"e AS ({edges})",
        "n AS (SELECT count(*) AS total FROM nodes)",
        "outdeg AS (SELECT src, count(*) AS deg FROM e GROUP BY src)",
        # literals CAST to DOUBLE: DuckDB parses bare 0.85 as DECIMAL
        # and folds (1.0 - 0.85) EXACTLY, while the Spark side holds
        # the IEEE double 0.15000000000000002 — a one-ulp constant
        # divergence that round(..., 12) only masks by luck
        "pr0 AS (SELECT v, CAST(1.0 AS DOUBLE) / (SELECT total FROM n)"
        " AS pr FROM nodes)",
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f"pr{i} AS (SELECT nodes.v,"
            f" (CAST(1.0 AS DOUBLE) - CAST({damping} AS DOUBLE))"
            " / (SELECT total FROM n)"
            f" + CAST({damping} AS DOUBLE)"
            " * coalesce(s.mass, CAST(0.0 AS DOUBLE)) AS pr"
            " FROM nodes LEFT JOIN"
            f" (SELECT e.dst AS v, sum(p.pr / outdeg.deg) AS mass"
            f"  FROM e JOIN pr{i - 1} p ON p.v = e.src"
            "  JOIN outdeg ON outdeg.src = e.src GROUP BY e.dst) s"
            " ON s.v = nodes.v)"
        )
    return (
        ", ".join(parts)
        + f" SELECT v AS vertex, {_round12_like_spark('pr')} AS rank"
        f" FROM pr{iterations}"
    )


def _round12_like_spark(col: str) -> str:
    """Spark's round() on a DOUBLE rounds the value's SHORTEST decimal
    representation (BigDecimal.valueOf = Double.toString) HALF_UP;
    DuckDB's round() works on the binary expansion, so a value whose
    shortest repr ends exactly in ...5 at the cut digit rounds down in
    DuckDB and up in Spark (one observed ulp hit: 0.0005757421875 →
    ...188 vs ...187 in g9). Replicate Spark exactly: double → VARCHAR
    (shortest repr) → exact DECIMAL(38,28) (scale 28 holds the full 17
    significant digits for every value ≥ 1e-11; ranks are ≥ ~1e-6 or
    exactly 0) → HALF_UP round at 12."""
    return (
        f"CAST(CAST(round(CAST(CAST({col} AS VARCHAR) AS DECIMAL(38,28)),"
        " 12) AS DECIMAL(20,14)) AS DOUBLE)"
    )


@query("g1_pagerank", oracle=_pagerank_oracle())
def g1_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration PageRank over the same synthetic chain graph CC
    uses (directed, +1/+3 hops) — the second iterative driver-loop
    operator, and unlike most engines' PageRank it is ORACLE-checked:
    10 unrolled power iterations in DuckDB reproduce the exact doubles
    (in-degree <= 2 by construction, so float summation order can't
    diverge; both engines evaluate the identical recurrence).
    """
    part = load(spark, sf_dir, "part").select("p_partkey")
    keys = part.select(F.col("p_partkey").alias("k"))
    hop = lambda d: (
        part.where(F.col("p_partkey") % 10 < 3)
        .select(
            F.col("p_partkey").alias("src"),
            (F.col("p_partkey") + d).alias("dst"),
        )
        .join(keys, F.col("dst") == F.col("k"), "left_semi")
    )
    edges = hop(1).unionAll(hop(3))
    from ..operators.graph import pagerank

    out = pagerank(edges, part, iterations=10, damping=0.85)
    return out.select(
        "vertex", F.round("rank", 12).cast("decimal(20,14)").alias("rank")
    )


_G2_ORACLE = (
    "WITH base AS (SELECT p_partkey AS k FROM part),"
    " raw AS (SELECT p_partkey AS src, p_partkey + d.d AS dst"
    "   FROM part CROSS JOIN (VALUES (1), (2), (3)) d(d)"
    "   WHERE p_partkey % 10 < 3"
    "   AND (p_partkey + d.d) IN (SELECT k FROM base)),"
    " e AS (SELECT DISTINCT least(src, dst) AS lo, greatest(src, dst) AS hi"
    "   FROM raw WHERE src <> dst),"
    " tri AS (SELECT ab.lo AS u, ab.hi AS v, bc.hi AS w"
    "   FROM e ab JOIN e bc ON bc.lo = ab.hi"
    "   JOIN e ac ON ac.lo = ab.lo AND ac.hi = bc.hi)"
    " SELECT vertex, CAST(count(*) AS BIGINT) AS n_triangles FROM"
    " (SELECT u AS vertex FROM tri UNION ALL SELECT v FROM tri"
    "  UNION ALL SELECT w FROM tri)"
    " GROUP BY vertex"
)


@query("g2_triangle_count", oracle=_G2_ORACLE)
def g2_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vertex triangle counts over a synthetic +1/+2/+3-hop graph
    on part keys (the +2 hop is what closes wedges into triangles —
    the CC/PageRank chain graph is triangle-free).

    Spark side is operators/graph.triangle_counts — oriented-wedge
    enumeration, each triangle found exactly once as u<v<w. The oracle
    repeats the construction relationally in DuckDB, so the count,
    the orientation dedup, and the 3-corner attribution are all
    value-checked.
    """
    from ..operators.graph import triangle_counts

    part = load(spark, sf_dir, "part").select("p_partkey")
    keys = part.select(F.col("p_partkey").alias("k"))
    edges = (
        part.where(F.col("p_partkey") % 10 < 3)
        .select(
            F.col("p_partkey").alias("src"),
            F.explode(
                F.array(
                    F.col("p_partkey") + 1,
                    F.col("p_partkey") + 2,
                    F.col("p_partkey") + 3,
                )
            ).alias("dst"),
        )
        .join(keys, F.col("dst") == F.col("k"), "left_semi")
    )
    return triangle_counts(edges)


@query(
    "g3_label_propagation",
    oracle=(
        # 3 unrolled synchronous LPA supersteps over the i1 chain graph;
        # argmax with (count desc, label asc) tie-break per step —
        # identical to the engine's deterministic rule.
        "WITH e AS (SELECT p.p_partkey AS src, p.p_partkey + 1 AS dst"
        "  FROM part p WHERE p.p_partkey % 10 < 3"
        "  AND EXISTS (SELECT 1 FROM part q"
        "   WHERE q.p_partkey = p.p_partkey + 1)),"
        " sym AS (SELECT src AS u, dst AS w FROM e"
        "  UNION SELECT dst, src FROM e),"
        " l0 AS (SELECT DISTINCT u AS vertex, u AS label FROM sym),"
        " c1 AS (SELECT s.u AS vertex, l.label, count(*) AS n FROM sym s"
        "  JOIN l0 l ON l.vertex = s.w GROUP BY 1, 2),"
        " l1 AS (SELECT vertex, label FROM (SELECT vertex, label,"
        "  row_number() OVER (PARTITION BY vertex"
        "   ORDER BY n DESC, label) AS rk FROM c1) WHERE rk = 1),"
        " c2 AS (SELECT s.u AS vertex, l.label, count(*) AS n FROM sym s"
        "  JOIN l1 l ON l.vertex = s.w GROUP BY 1, 2),"
        " l2 AS (SELECT vertex, label FROM (SELECT vertex, label,"
        "  row_number() OVER (PARTITION BY vertex"
        "   ORDER BY n DESC, label) AS rk FROM c2) WHERE rk = 1),"
        " c3 AS (SELECT s.u AS vertex, l.label, count(*) AS n FROM sym s"
        "  JOIN l2 l ON l.vertex = s.w GROUP BY 1, 2)"
        " SELECT vertex, label FROM (SELECT vertex, label,"
        "  row_number() OVER (PARTITION BY vertex"
        "   ORDER BY n DESC, label) AS rk FROM c3) WHERE rk = 1"
    ),
)
def g3_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G3 — synchronous label propagation (community detection) over
    the i1 chain graph, 3 fixed supersteps, deterministic (count desc,
    label asc) adoption rule. Completes the iterative-graph family
    (CC's min-label semiring, BFS's distance semiring, PageRank's
    weighted sum) with the mode/argmax semiring; determinism-by-
    construction is what lets the oracle unroll the supersteps as
    plain SQL instead of settling for rows-only."""
    from ..operators.graph import label_propagation

    part = load(spark, sf_dir, "part").select("p_partkey")
    chain = part.where(F.col("p_partkey") % 10 < 3).select(
        F.col("p_partkey").alias("src"),
        (F.col("p_partkey") + 1).alias("dst"),
    )
    edges = chain.join(
        part.select(F.col("p_partkey").alias("dst")), "dst", "left_semi"
    )
    return label_propagation(edges, iterations=3)


def _kcore_oracle(rounds_per_k: tuple[int, ...] = (6, 3)) -> str:
    """Unrolled k-core peel in DuckDB: round i of the k-peel keeps the
    edges whose BOTH endpoints had degree >= k in round i-1. Extra
    rounds past the fixed point are no-ops (the edge set only shrinks),
    so the unroll depth just has to be >= the longest peel cascade —
    the g5 tail path collapses one vertex per round, needing 4 rounds
    for k=2 on this graph; 6/3 leaves slack.

    Every round CTE is MATERIALIZED: each references its predecessor
    three times (the edge scan + both degree-keep subqueries), so
    DuckDB's default CTE inlining would blow the plan up 3^rounds-fold
    — materialization keeps the unroll linear, mirroring the engine's
    per-round localCheckpoint."""
    parts = [
        "WITH e AS MATERIALIZED (SELECT src, dst FROM ("
        " SELECT p_partkey AS src, p_partkey + 1 AS dst FROM part"
        "  WHERE p_partkey % 10 < 3"
        " UNION ALL SELECT p_partkey, p_partkey + 2 FROM part"
        "  WHERE p_partkey % 10 < 3"
        " UNION ALL SELECT p_partkey, p_partkey + 3 FROM part"
        "  WHERE p_partkey % 10 < 3"
        " UNION ALL SELECT p_partkey, p_partkey + 1 FROM part"
        "  WHERE p_partkey % 10 BETWEEN 5 AND 7"
        ") WHERE dst IN (SELECT p_partkey FROM part)),"
        " k1g AS MATERIALIZED (SELECT src AS u, dst AS w FROM e"
        " UNION SELECT dst, src FROM e),"
    ]
    prev = "k1g"
    for idx, rounds in enumerate(rounds_per_k):
        k = idx + 2
        for r in range(rounds):
            cur = f"k{k}g{r}"
            parts.append(
                f" {cur} AS MATERIALIZED (SELECT u, w FROM {prev}"
                f" WHERE u IN (SELECT u FROM {prev}"
                f"  GROUP BY u HAVING count(*) >= {k})"
                f" AND w IN (SELECT u FROM {prev}"
                f"  GROUP BY u HAVING count(*) >= {k})),"
            )
            prev = cur
        parts.append(
            f" in{k} AS (SELECT DISTINCT u AS vertex, {k} AS core"
            f" FROM k{k}g{rounds - 1}),"
        )
        prev = f"k{k}g{rounds - 1}"
        # the (k+1)-peel starts from the k-core (cores are nested)
    ins = " UNION ALL ".join(
        f"SELECT vertex, core FROM in{idx + 2}"
        for idx in range(len(rounds_per_k))
    )
    parts.append(
        " lvl AS (SELECT DISTINCT u AS vertex, 1 AS core FROM k1g"
        f" UNION ALL {ins})"
        " SELECT vertex, CAST(max(core) AS BIGINT) AS core"
        " FROM lvl GROUP BY vertex"
    )
    return "".join(parts)


@query("g5_kcore", oracle=_kcore_oracle())
def g5_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G5 — k-core decomposition (capped at k=3) over the g2 wedge
    graph plus a path tail (p%10 in 5..7 -> p+1): per decade the dense
    block {n0..n3} settles at core 3, n4 at core 2, and the tail
    n5-n6-n7-n8 collapses one vertex per peel round down to core 1 —
    exercising the multi-round cascade, not just a single-pass degree
    filter. Completes the iterative family with the subgraph-fixpoint
    shape; the oracle unrolls the peel as plain SQL (extra rounds are
    no-ops since the edge set only shrinks)."""
    from ..operators.graph import core_numbers

    part = load(spark, sf_dir, "part").select("p_partkey")
    dense = part.where(F.col("p_partkey") % 10 < 3).select(
        F.col("p_partkey").alias("src"),
        F.explode(
            F.array(
                F.col("p_partkey") + 1,
                F.col("p_partkey") + 2,
                F.col("p_partkey") + 3,
            )
        ).alias("dst"),
    )
    tail = part.where(
        (F.col("p_partkey") % 10 >= 5) & (F.col("p_partkey") % 10 <= 7)
    ).select(
        F.col("p_partkey").alias("src"),
        (F.col("p_partkey") + 1).alias("dst"),
    )
    edges = dense.union(tail).join(
        part.select(F.col("p_partkey").alias("dst")), "dst", "left_semi"
    )
    return core_numbers(edges, k_max=3)


@query(
    "g6_weighted_sssp",
    oracle=(
        # recursive closure over weighted walks; the d <= 100 bound
        # only prunes the enumeration (every true shortest distance on
        # this graph is far below it — decades are <= 9 vertices with
        # edge weights <= 7)
        "WITH RECURSIVE"
        " e AS (SELECT src, dst FROM ("
        " SELECT p_partkey AS src, p_partkey + 1 AS dst FROM part"
        "  WHERE p_partkey % 10 < 3"
        " UNION ALL SELECT p_partkey, p_partkey + 2 FROM part"
        "  WHERE p_partkey % 10 < 3"
        " UNION ALL SELECT p_partkey, p_partkey + 3 FROM part"
        "  WHERE p_partkey % 10 < 3"
        " UNION ALL SELECT p_partkey, p_partkey + 1 FROM part"
        "  WHERE p_partkey % 10 BETWEEN 5 AND 7"
        ") WHERE dst IN (SELECT p_partkey FROM part)),"
        " sym AS (SELECT src AS u, dst AS w, (src + dst) % 7 + 1 AS wt"
        "  FROM e UNION SELECT dst, src, (src + dst) % 7 + 1 FROM e),"
        " srcs AS (SELECT p_partkey AS v FROM part WHERE p_partkey % 100 = 0),"
        " walk(v, d) AS ("
        "   SELECT v, CAST(0 AS BIGINT) FROM srcs"
        "   UNION"
        "   SELECT s.w, wk.d + s.wt FROM walk wk JOIN sym s ON s.u = wk.v"
        "   WHERE wk.d + s.wt <= 100)"
        " SELECT v AS vertex, min(d) AS dist FROM walk GROUP BY v"
    ),
)
def g6_weighted_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G6 — weighted shortest paths (frontier-pruned Bellman-Ford) over
    the g5 wedge+tail graph with deterministic integer weights
    ((u + dst) % 7 + 1, symmetric by construction): the weighted
    companion of g4's hop-count BFS — weights make the greedy hop-count
    answer wrong (a 2-hop detour can beat a heavy direct edge), which
    is exactly what the oracle's weighted-walk closure checks."""
    from ..operators.graph import weighted_shortest_paths

    part = load(spark, sf_dir, "part").select("p_partkey")
    dense = part.where(F.col("p_partkey") % 10 < 3).select(
        F.col("p_partkey").alias("src"),
        F.explode(
            F.array(
                F.col("p_partkey") + 1,
                F.col("p_partkey") + 2,
                F.col("p_partkey") + 3,
            )
        ).alias("dst"),
    )
    tail = part.where(
        (F.col("p_partkey") % 10 >= 5) & (F.col("p_partkey") % 10 <= 7)
    ).select(
        F.col("p_partkey").alias("src"),
        (F.col("p_partkey") + 1).alias("dst"),
    )
    edges = (
        dense.union(tail)
        .join(part.select(F.col("p_partkey").alias("dst")), "dst", "left_semi")
        .withColumn("wt", (F.col("src") + F.col("dst")) % 7 + 1)
    )
    sources = part.where(F.col("p_partkey") % 100 == 0).select(
        F.col("p_partkey").alias("vertex")
    )
    return weighted_shortest_paths(edges, sources)


_RIDGE_ORACLE = (
    # Normal equations in exact DECIMAL, closed-form 2x2 inverse in
    # DOUBLE written in the same operation order as the engine side:
    # beta = (X'X + lambda I)^{-1} X'y, rmse from the same moments
    # (no second data pass).
    "WITH m AS (SELECT"
    " CAST(sum(CAST(l_quantity AS DECIMAL(8,2))"
    "  * CAST(l_quantity AS DECIMAL(8,2))) AS DOUBLE) AS a,"
    " CAST(sum(CAST(l_quantity AS DECIMAL(8,2))"
    "  * CAST(l_discount AS DECIMAL(8,4))) AS DOUBLE) AS b,"
    " CAST(sum(CAST(l_discount AS DECIMAL(8,4))"
    "  * CAST(l_discount AS DECIMAL(8,4))) AS DOUBLE) AS c,"
    " CAST(sum(CAST(l_quantity AS DECIMAL(8,2))"
    "  * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS p,"
    " CAST(sum(CAST(l_discount AS DECIMAL(8,4))"
    "  * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS q,"
    " CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))"
    "  * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS s,"
    " CAST(count(*) AS BIGINT) AS n FROM lineitem),"
    " f AS (SELECT n, a, b, c, p, q, s,"
    " (a + 1.0) * (c + 1.0) - b * b AS det FROM m),"
    " o AS (SELECT n,"
    " ((c + 1.0) * p - b * q) / det AS beta_qty,"
    " ((a + 1.0) * q - b * p) / det AS beta_disc,"
    " a, b, c, p, q, s FROM f)"
    " SELECT n, CAST(round(beta_qty, 6) AS DOUBLE) AS beta_qty,"
    " CAST(round(beta_disc, 6) AS DOUBLE) AS beta_disc,"
    " CAST(round(sqrt(greatest((s - 2 * beta_qty * p - 2 * beta_disc * q"
    " + beta_qty * beta_qty * a + 2 * beta_qty * beta_disc * b"
    " + beta_disc * beta_disc * c) / n, 0.0)), 2) AS DOUBLE) AS rmse"
    " FROM o"
)


@query("c6_ridge_closed_form", oracle=_RIDGE_ORACLE)
def c6_ridge_closed_form(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6 — ridge regression by closed-form normal equations
    (l_extendedprice ~ l_quantity + l_discount, lambda=1, no
    intercept): the one ML operator whose VALUES are oracle-checkable,
    complementing the statistically-validated iterative tiers (C1 ALS,
    C4/C5 SVM, ll50 k-means). The whole fit is ONE distributed
    aggregation — six exact-DECIMAL moments — and the 2x2 inverse plus
    training RMSE are closed-form expressions over those moments
    (written in the identical operation order on both engines), so no
    second data pass and no optimizer nondeterminism exist anywhere.
    At 100 TB: map-side partial agg collapses the scan to one moment
    row per partition; the math after that is constant-time."""
    li = load(spark, sf_dir, "lineitem")
    # factor widths sized to the columns' true granularity (2/4/2
    # decimals) so products stay inside BOTH engines' exact-decimal
    # range — (18,6) factors overflowed DuckDB's multiply width
    qty = F.col("l_quantity").cast("decimal(8,2)")
    disc = F.col("l_discount").cast("decimal(8,4)")
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    mom = li.agg(
        F.sum(qty * qty).cast("double").alias("a"),
        F.sum(qty * disc).cast("double").alias("b"),
        F.sum(disc * disc).cast("double").alias("c"),
        F.sum(qty * price).cast("double").alias("p"),
        F.sum(disc * price).cast("double").alias("q"),
        F.sum(price * price).cast("double").alias("s"),
        F.count(F.lit(1)).alias("n"),
    )
    det = (F.col("a") + 1.0) * (F.col("c") + 1.0) - F.col("b") * F.col("b")
    f = mom.select("n", "a", "b", "c", "p", "q", "s", det.alias("det"))
    beta_qty = ((F.col("c") + 1.0) * F.col("p") - F.col("b") * F.col("q")) / F.col("det")
    beta_disc = ((F.col("a") + 1.0) * F.col("q") - F.col("b") * F.col("p")) / F.col("det")
    o = f.select(
        "n",
        beta_qty.alias("beta_qty"),
        beta_disc.alias("beta_disc"),
        "a", "b", "c", "p", "q", "s",
    )
    mse = (
        F.col("s")
        - 2 * F.col("beta_qty") * F.col("p")
        - 2 * F.col("beta_disc") * F.col("q")
        + F.col("beta_qty") * F.col("beta_qty") * F.col("a")
        + 2 * F.col("beta_qty") * F.col("beta_disc") * F.col("b")
        + F.col("beta_disc") * F.col("beta_disc") * F.col("c")
    ) / F.col("n")
    return o.select(
        "n",
        F.round("beta_qty", 6).cast("double").alias("beta_qty"),
        F.round("beta_disc", 6).cast("double").alias("beta_disc"),
        F.round(F.sqrt(F.greatest(mse, F.lit(0.0))), 2)
        .cast("double")
        .alias("rmse"),
    )


def _walks_oracle(steps: int = 3) -> str:
    """Unrolled DuckDB twin of graph.random_walks over the g5 graph:
    identical ranked adjacency and md5-derived neighbor pick. Linear
    unroll (each step references the previous once), so no
    materialization is needed."""
    from ..plans.llm_queries import _hex10

    parts = [
        "WITH e AS (SELECT src, dst FROM ("
        " SELECT p_partkey AS src, p_partkey + 1 AS dst FROM part"
        "  WHERE p_partkey % 10 < 3"
        " UNION ALL SELECT p_partkey, p_partkey + 2 FROM part"
        "  WHERE p_partkey % 10 < 3"
        " UNION ALL SELECT p_partkey, p_partkey + 3 FROM part"
        "  WHERE p_partkey % 10 < 3"
        " UNION ALL SELECT p_partkey, p_partkey + 1 FROM part"
        "  WHERE p_partkey % 10 BETWEEN 5 AND 7"
        ") WHERE dst IN (SELECT p_partkey FROM part)),"
        " sym AS (SELECT src AS u, dst AS w FROM e"
        " UNION SELECT dst, src FROM e),"
        " adj AS (SELECT u, w, row_number() OVER ("
        " PARTITION BY u ORDER BY w) AS rk,"
        " count(*) OVER (PARTITION BY u) AS deg FROM sym),"
        " s0 AS (SELECT p_partkey AS walk_id, 0 AS step,"
        " p_partkey AS vertex FROM part WHERE p_partkey % 100 = 0),"
    ]
    for i in range(1, steps + 1):
        h = _hex10(
            f"CAST(s{i - 1}.walk_id AS VARCHAR) || ':' || '{i}' || ':'"
            f" || CAST(s{i - 1}.vertex AS VARCHAR)"
        )
        parts.append(
            f" s{i} AS (SELECT s{i - 1}.walk_id, {i} AS step,"
            f" adj.w AS vertex FROM s{i - 1} JOIN adj"
            f" ON adj.u = s{i - 1}.vertex"
            f" AND adj.rk = ({h}) % adj.deg + 1),"
        )
    parts.append(
        " allsteps AS ("
        + " UNION ALL ".join(
            f"SELECT * FROM s{i}" for i in range(0, steps + 1)
        )
        + ")"
        " SELECT walk_id, CAST(step AS BIGINT) AS step, vertex"
        " FROM allsteps"
    )
    return "".join(parts)


@query("g7_random_walks", oracle=_walks_oracle())
def g7_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G7 — deterministic random walks (DeepWalk/node2vec corpus
    generation) over the g5 wedge+tail graph, 3 hops from every 100th
    vertex: hop i from v picks neighbor portable_hash40(walk:i:v) %
    degree among ascending-sorted neighbors, so the entire walk corpus
    is replayed bit-identically by the unrolled SQL oracle — the graph
    counterpart of the hash-driven mixture sampler."""
    from ..operators.graph import random_walks

    part = load(spark, sf_dir, "part").select("p_partkey")
    dense = part.where(F.col("p_partkey") % 10 < 3).select(
        F.col("p_partkey").alias("src"),
        F.explode(
            F.array(
                F.col("p_partkey") + 1,
                F.col("p_partkey") + 2,
                F.col("p_partkey") + 3,
            )
        ).alias("dst"),
    )
    tail = part.where(
        (F.col("p_partkey") % 10 >= 5) & (F.col("p_partkey") % 10 <= 7)
    ).select(
        F.col("p_partkey").alias("src"),
        (F.col("p_partkey") + 1).alias("dst"),
    )
    edges = dense.union(tail).join(
        part.select(F.col("p_partkey").alias("dst")), "dst", "left_semi"
    )
    starts = part.where(F.col("p_partkey") % 100 == 0)
    return random_walks(edges, starts, steps=3)


_G8_ORACLE = (
    # Same wedge-graph construction as g2, then the 2-hop closure
    # relationally: distinct(1-hop ∪ sym⋈sym) minus self, counted per
    # vertex.
    "WITH base AS (SELECT p_partkey AS k FROM part),"
    " raw AS (SELECT p_partkey AS src, p_partkey + d.d AS dst"
    "   FROM part CROSS JOIN (VALUES (1), (2), (3)) d(d)"
    "   WHERE p_partkey % 10 < 3"
    "   AND (p_partkey + d.d) IN (SELECT k FROM base)),"
    " sym AS (SELECT DISTINCT src AS u, dst AS w FROM ("
    "   SELECT src, dst FROM raw UNION ALL SELECT dst, src FROM raw)"
    "   WHERE src <> dst),"
    " hop2 AS (SELECT a.u, b.w FROM sym a JOIN sym b ON b.u = a.w),"
    " reach AS (SELECT DISTINCT u, w FROM"
    "   (SELECT u, w FROM sym UNION ALL SELECT u, w FROM hop2)"
    "   WHERE u <> w)"
    " SELECT u AS vertex, CAST(count(*) AS BIGINT) AS reach"
    " FROM reach GROUP BY u"
)


@query("g8_two_hop_reach", oracle=_G8_ORACLE)
def g8_two_hop_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G8 — friend-of-friend reach over the g2 wedge graph: distinct
    vertices within <= 2 hops, self excluded. The non-iterative member
    of the neighborhood family (one vertex-keyed self-join; g4 answers
    unbounded depth with a frontier loop) — the metric behind audience
    estimation and sampling-fanout budgets. Oracle repeats the closure
    relationally, so the symmetrize/distinct/self-drop conventions are
    all value-checked."""
    from ..operators.graph import two_hop_reach

    part = load(spark, sf_dir, "part").select("p_partkey")
    keys = part.select(F.col("p_partkey").alias("k"))
    edges = (
        part.where(F.col("p_partkey") % 10 < 3)
        .select(
            F.col("p_partkey").alias("src"),
            F.explode(
                F.array(
                    F.col("p_partkey") + 1,
                    F.col("p_partkey") + 2,
                    F.col("p_partkey") + 3,
                )
            ).alias("dst"),
        )
        .join(keys, F.col("dst") == F.col("k"), "left_semi")
    )
    return two_hop_reach(edges)


_NB_TOKENS = (
    "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),"
    " x -> x <> '')"
)

_NB_ORACLE = (
    # Same add-one-smoothed multinomial NB: log-likelihoods/priors
    # rounded to 6 digits into DECIMAL, per-class scores as order-free
    # DECIMAL sums, argmax tie-broken by class name — digit-for-digit
    # the ml.naive_bayes_langid math.
    "WITH train AS (SELECT doc_id, lang, text FROM documents"
    "  WHERE doc_id % 3 <> 0),"
    " test AS (SELECT doc_id, lang, text FROM documents"
    "  WHERE doc_id % 3 = 0),"
    f" ttok AS (SELECT lang AS c, unnest({_NB_TOKENS}) AS w FROM train),"
    " cw AS (SELECT c, w, count(*) AS n_cw FROM ttok GROUP BY 1, 2),"
    " ctot AS (SELECT c, sum(n_cw) AS n_c FROM cw GROUP BY 1),"
    " vs AS (SELECT count(DISTINCT w) AS v FROM ttok),"
    " ll AS (SELECT c, w, CAST(round(ln((n_cw + 1.0)"
    "  / (n_c + CAST(v AS DOUBLE))), 6) AS DECIMAL(18,6)) AS ll"
    "  FROM cw JOIN ctot USING (c), vs),"
    " classes AS (SELECT c, CAST(round(ln(1.0"
    "  / (n_c + CAST(v AS DOUBLE))), 6) AS DECIMAL(18,6)) AS dflt"
    "  FROM ctot, vs),"
    " priors AS (SELECT lang AS c, CAST(round(ln(count(*) * 1.0"
    "  / (SELECT count(*) FROM train)), 6) AS DECIMAL(18,6)) AS prior"
    "  FROM train GROUP BY 1),"
    " testtok AS (SELECT doc_id, w, count(*) AS k FROM ("
    f"  SELECT doc_id, unnest({_NB_TOKENS}) AS w FROM test) GROUP BY 1, 2),"
    " likes AS (SELECT doc_id, cl.c,"
    "  sum(CAST(k AS DECIMAL(18,0)) * coalesce(ll.ll, cl.dflt)) AS lk"
    "  FROM testtok tt CROSS JOIN classes cl"
    "  LEFT JOIN ll ON ll.c = cl.c AND ll.w = tt.w GROUP BY 1, 2),"
    " scored AS (SELECT t.doc_id, cl.c,"
    "  p.prior + coalesce(l.lk, CAST(0 AS DECIMAL(18,6))) AS score"
    "  FROM test t CROSS JOIN classes cl JOIN priors p ON p.c = cl.c"
    "  LEFT JOIN likes l ON l.doc_id = t.doc_id AND l.c = cl.c),"
    " pred AS (SELECT doc_id, c AS predicted FROM ("
    "  SELECT doc_id, c, row_number() OVER (PARTITION BY doc_id"
    "   ORDER BY score DESC, c) AS rn FROM scored) WHERE rn = 1)"
    " SELECT t.doc_id, t.lang AS label, p.predicted,"
    " p.predicted = t.lang AS correct"
    " FROM test t JOIN pred p USING (doc_id)"
)


@query("c7_naive_bayes_langid", oracle=_NB_ORACLE)
def c7_naive_bayes_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C7 — multinomial Naive Bayes language classifier, trained on the
    2/3 split (doc_id % 3 != 0) and applied to the held-out third: the
    LEARNED language-ID next to ll2's character-heuristic, and the
    supervised-text member of the ML family (ALS, SVM, ridge, k-means,
    BPE). Unlike pyspark.ml's NaiveBayes (float-order-dependent), the
    rounded-DECIMAL formulation is exactly reproducible, so training
    AND inference are value-checked by the oracle — per-class counts,
    smoothing, priors, the argmax, everything. (The driver's synthetic
    texts carry no real lang signal, so holdout accuracy here sits at
    the majority prior; tests/test_analytics.py pins that the learner
    reaches 100% on class-disjoint vocabularies.)"""
    docs = load(spark, sf_dir, "documents")
    return ml.naive_bayes_langid(docs)


def _ppr_oracle(iterations: int = 10, damping: float = 0.85) -> str:
    """Unrolled personalized-PageRank oracle — g1's generator with the
    uniform restart replaced by the seed-set restart vector r(v)
    (1/|S| on seeds, 0 elsewhere); same in-degree <= 2 graph, so the
    double summation order cannot diverge between engines."""
    nodes = "SELECT p_partkey AS v FROM part"
    edges = (
        "SELECT p_partkey AS src, p_partkey + 1 AS dst FROM part p"
        " WHERE p_partkey % 10 < 3"
        " AND EXISTS (SELECT 1 FROM part q WHERE q.p_partkey = p.p_partkey + 1)"
        " UNION ALL "
        "SELECT p_partkey AS src, p_partkey + 3 AS dst FROM part p"
        " WHERE p_partkey % 10 < 3"
        " AND EXISTS (SELECT 1 FROM part q WHERE q.p_partkey = p.p_partkey + 3)"
    )
    parts = [
        f"WITH nodes AS ({nodes})",
        f"e AS ({edges})",
        "seeds AS (SELECT v FROM nodes WHERE v % 100 = 0)",
        "ns AS (SELECT count(*) AS t FROM seeds)",
        # DOUBLE-cast literals for the same reason as g1's generator:
        # DuckDB's bare decimals fold exactly, Spark's are IEEE
        "rv AS (SELECT nodes.v, CASE WHEN s.v IS NOT NULL"
        " THEN CAST(1.0 AS DOUBLE) / (SELECT t FROM ns)"
        " ELSE CAST(0.0 AS DOUBLE) END AS r"
        " FROM nodes LEFT JOIN seeds s ON s.v = nodes.v)",
        "outdeg AS (SELECT src, count(*) AS deg FROM e GROUP BY src)",
        "pr0 AS (SELECT v, r AS pr FROM rv)",
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f"pr{i} AS (SELECT rv.v,"
            f" (CAST(1.0 AS DOUBLE) - CAST({damping} AS DOUBLE)) * rv.r"
            f" + CAST({damping} AS DOUBLE)"
            " * coalesce(s.mass, CAST(0.0 AS DOUBLE)) AS pr"
            " FROM rv LEFT JOIN"
            f" (SELECT e.dst AS v, sum(p.pr / outdeg.deg) AS mass"
            f"  FROM e JOIN pr{i - 1} p ON p.v = e.src"
            "  JOIN outdeg ON outdeg.src = e.src GROUP BY e.dst) s"
            " ON s.v = rv.v)"
        )
    return (
        ", ".join(parts)
        + f" SELECT v AS vertex, {_round12_like_spark('pr')} AS rank"
        f" FROM pr{iterations}"
    )


@query("g9_personalized_pagerank", oracle=_ppr_oracle())
def g9_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G9 — personalized PageRank from the %100 seed set over g1's
    chain graph: restart mass teleports to the seeds, so rank measures
    proximity to THOSE vertices — the recommendation / trust-
    propagation primitive (g1 answers "globally important", this
    answers "important to these users"). Same driver-loop shape and
    the same oracle guarantee as g1: 10 unrolled iterations replayed
    in SQL with exact double parity."""
    part = load(spark, sf_dir, "part").select("p_partkey")
    keys = part.select(F.col("p_partkey").alias("k"))
    hop = lambda d: (
        part.where(F.col("p_partkey") % 10 < 3)
        .select(
            F.col("p_partkey").alias("src"),
            (F.col("p_partkey") + d).alias("dst"),
        )
        .join(keys, F.col("dst") == F.col("k"), "left_semi")
    )
    edges = hop(1).unionAll(hop(3))
    sources = part.where(F.col("p_partkey") % 100 == 0)
    from ..operators.graph import personalized_pagerank

    out = personalized_pagerank(
        edges, part, sources, iterations=10, damping=0.85
    )
    return out.select(
        "vertex", F.round("rank", 12).cast("decimal(20,14)").alias("rank")
    )


_G10_ORACLE = (
    "WITH RECURSIVE"
    " t AS (SELECT DISTINCT event_type AS u, lead(event_type) OVER"
    "   (PARTITION BY user_id ORDER BY ts, event_id) AS v FROM events),"
    " e AS (SELECT u, v FROM t WHERE v IS NOT NULL),"
    " verts AS (SELECT u AS x FROM e UNION SELECT v FROM e),"
    " reach(u, v) AS ("
    "   SELECT u, v FROM e"
    "   UNION"
    "   SELECT r.u, e.v FROM reach r JOIN e ON e.u = r.v),"
    " mutual AS ("
    "   SELECT f.u AS x, f.v AS y FROM reach f"
    "   JOIN reach g ON f.u = g.v AND f.v = g.u"
    "   UNION SELECT x, x FROM verts),"
    " comp AS (SELECT x, min(y) AS scc_id FROM mutual GROUP BY x),"
    " sizes AS (SELECT scc_id, count(*) AS scc_size FROM comp"
    "   GROUP BY scc_id)"
    " SELECT x AS vertex, scc_id, CAST(scc_size AS BIGINT) AS scc_size"
    " FROM comp JOIN sizes USING (scc_id)"
)


@query("g10_scc_event_types", oracle=_G10_ORACLE)
def g10_scc_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strongly connected components of the event-type TRANSITION
    graph — the directed-graph member the family lacked (CC/star are
    undirected). The graph is a derived DOMAIN graph: vertices are
    event types, edges are observed consecutive transitions per user —
    distilling it is the corpus-scale pass (one user-keyed window +
    distinct over all events); the SCC closure then runs on a
    |domain|²-bounded relation (operators/graph.strongly_connected_
    components, path-doubling driver loop, WITH RECURSIVE oracle
    twin). Answers 'which event types form feedback loops vs flow-
    through states' — funnel analysis on the type level."""
    from pyspark.sql.window import Window as W

    from ..operators.graph import strongly_connected_components

    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        ev.withColumn("next_type", F.lead("event_type").over(w))
        .where(F.col("next_type").isNotNull())
        .select(
            F.col("event_type").alias("src"), F.col("next_type").alias("dst")
        )
        .distinct()
    )
    return strongly_connected_components(trans)


def _c8_oracle() -> str:
    from ..functions.text import STOPWORDS

    stops = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    toks = (
        "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),"
        " t -> t <> '')"
    )
    dec = "DECIMAL(28,9)"

    def msums(name: str, psrc: str) -> str:
        # per-row IRLS terms quantized to DECIMAL(28,9) BEFORE the sum:
        # the summation becomes exact-decimal, hence independent of
        # row order — the same trick c6/c7 use for value-checked ML
        return (
            f" {name} AS (SELECT"
            f" CAST(sum(CAST(p * (1.0 - p) AS {dec})) AS DOUBLE) AS a0,"
            f" CAST(sum(CAST((p * (1.0 - p)) * x AS {dec})) AS DOUBLE) AS a1,"
            f" CAST(sum(CAST((p * (1.0 - p)) * x * x AS {dec})) AS DOUBLE)"
            "   AS a2,"
            f" CAST(sum(CAST(y - p AS {dec})) AS DOUBLE) AS g0,"
            f" CAST(sum(CAST((y - p) * x AS {dec})) AS DOUBLE) AS g1"
            f" FROM ({psrc}) tt),"
        )

    def wstep(name: str, m: str, prev_b0: str, prev_b1: str) -> str:
        return (
            f" {name} AS (SELECT"
            f" {prev_b0} + (a2 * g0 - a1 * g1) / det AS b0,"
            f" {prev_b1} + (a0 * g1 - a1 * g0) / det AS b1"
            f" FROM (SELECT *, a0 * a2 - a1 * a1 AS det FROM {m}) dd),"
        )

    return (
        "WITH d0 AS (SELECT lang, " + toks + " AS tokens FROM documents),"
        " d AS (SELECT CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,"
        f"  CAST(len(list_filter(tokens, t -> t IN ({stops}))) AS DOUBLE)"
        "   / CAST(len(tokens) AS DOUBLE) AS x"
        "  FROM d0 WHERE len(tokens) > 0),"
        + msums(
            "m1",
            "SELECT y, x, 1.0 / (1.0 + exp(-(0.0 + 0.0 * x))) AS p FROM d",
        )
        + wstep("w1", "m1", "0.0", "0.0")
        + msums(
            "m2",
            "SELECT d.y, d.x,"
            " 1.0 / (1.0 + exp(-(w1.b0 + w1.b1 * d.x))) AS p"
            " FROM d CROSS JOIN w1",
        )
        + " m2b AS (SELECT m2.*, w1.b0 AS pb0, w1.b1 AS pb1"
        "   FROM m2 CROSS JOIN w1),"
        + wstep("w2", "m2b", "pb0", "pb1")
        + msums(
            "m3",
            "SELECT d.y, d.x,"
            " 1.0 / (1.0 + exp(-(w2.b0 + w2.b1 * d.x))) AS p"
            " FROM d CROSS JOIN w2",
        )
        + " m3b AS (SELECT m3.*, w2.b0 AS pb0, w2.b1 AS pb1"
        "   FROM m3 CROSS JOIN w2),"
        + wstep("w3", "m3b", "pb0", "pb1")
        + " fin AS (SELECT CAST(count(*) AS BIGINT) AS n,"
        "  sum(CASE WHEN (CASE WHEN w3.b0 + w3.b1 * d.x > 0.0"
        "   THEN 1.0 ELSE 0.0 END) = d.y THEN 1 ELSE 0 END) AS correct,"
        "  max(w3.b0) AS b0, max(w3.b1) AS b1"
        "  FROM d CROSS JOIN w3)"
        " SELECT n, CAST(round(b0, 6) AS DOUBLE) AS b0,"
        " CAST(round(b1, 6) AS DOUBLE) AS b1,"
        " CAST(round(correct * 1.0 / n, 6) AS DOUBLE) AS train_accuracy"
        " FROM fin"
    )


@query("c8_logistic_irls", oracle=_c8_oracle())
def c8_logistic_irls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C8 — logistic regression by IRLS (3 unrolled Newton steps,
    intercept + one feature), VALUE-checked: P(lang = en | doc) from
    the English-stopword ratio — the shape of every fasttext-style
    quality/language classifier gate, trained inside the engine. Like
    c6/c7 (and unlike the rows-only iterative tiers), every number is
    deterministic: per-row IRLS terms are quantized to DECIMAL(28,9)
    before summation, so the distributed sums are exact and
    row-order-free, and the 2x2 Newton solve is closed-form algebra
    written in the identical operation order on both engines.

    At 100 TB: each IRLS step is ONE map-side-combined aggregation
    over the corpus (the betas ride along as a 1-row broadcast); 3
    steps + 1 scoring pass = 4 scans, the textbook distributed-IRLS
    layout. The feature is a narrow expression — no shuffle anywhere
    except the 5-number partial-agg merge."""
    from ..functions.text import STOPWORDS, tokenize

    docs = load(spark, sf_dir, "documents")
    tokens = tokenize(F.col("text"))
    stop_hits = F.size(
        F.filter(tokens, lambda t: t.isin(*[F.lit(w) for w in STOPWORDS["en"]]))
    )
    d = (
        docs.select(
            F.when(F.col("lang") == "en", 1.0).otherwise(0.0).alias("y"),
            (stop_hits.cast("double") / F.size(tokens).cast("double")).alias(
                "x"
            ),
            F.size(tokens).alias("nt"),
        )
        .where(F.col("nt") > 0)
        .drop("nt")
    )

    w = ml.logistic_irls_1d(d, steps=3)
    pred = F.when(F.col("b0") + F.col("b1") * F.col("x") > 0.0, 1.0).otherwise(
        0.0
    )
    fin = d.crossJoin(F.broadcast(w)).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(pred == F.col("y"), 1).otherwise(0)).alias("correct"),
        F.max("b0").alias("b0"),
        F.max("b1").alias("b1"),
    )
    return fin.select(
        "n",
        F.round("b0", 6).cast("double").alias("b0"),
        F.round("b1", 6).cast("double").alias("b1"),
        F.round(F.col("correct") * F.lit(1.0) / F.col("n"), 6)
        .cast("double")
        .alias("train_accuracy"),
    )


_G11_ORACLE = (
    "WITH RECURSIVE"
    " t AS (SELECT DISTINCT event_type AS u, lead(event_type) OVER"
    "   (PARTITION BY user_id ORDER BY ts, event_id) AS v FROM events),"
    " e AS (SELECT u, v FROM t WHERE v IS NOT NULL AND u <> v),"
    # explicit DISTINCT, not bare UNION: inside a WITH RECURSIVE
    # clause DuckDB executes a non-recursive CTE's UNION as UNION ALL
    # (observed: 40 rows from 5 vertices) — dedup must be explicit
    " verts AS (SELECT DISTINCT x FROM"
    "  (SELECT u AS x FROM e UNION ALL SELECT v FROM e)),"
    # bounded-depth path enumeration (dedup via min), exact min after
    " paths(u, v, d) AS ("
    "   SELECT u, v, 1 FROM e"
    "   UNION"
    "   SELECT p.u, e.v, p.d + 1 FROM paths p JOIN e ON e.u = p.v"
    "   WHERE p.u <> e.v AND p.d < 8),"
    " dist AS (SELECT u, v, min(d) AS d FROM paths GROUP BY u, v),"
    " h AS (SELECT u, CAST(count(*) AS BIGINT) AS n_reachable,"
    "   round(CAST(sum(CAST(1.0 / d AS DECIMAL(18,9))) AS DOUBLE), 6)"
    "    AS harmonic FROM dist GROUP BY u)"
    " SELECT x AS vertex, coalesce(n_reachable, 0) AS n_reachable,"
    " coalesce(harmonic, 0.0) AS harmonic"
    " FROM verts LEFT JOIN h ON h.u = verts.x"
)


@query("g11_harmonic_centrality", oracle=_G11_ORACLE)
def g11_harmonic_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Harmonic centrality of the event-type transition graph (g10's
    derived domain graph): H(u) = Σ 1/d(u,v) over BFS hop distances —
    'which state sits nearest to every other state in the user
    journey'. The centrality member of the graph family that stays
    defined on disconnected/directed graphs, where closeness does not.
    Distill (one user-keyed window + distinct over all events) is the
    corpus-scale pass; the min-plus distance closure then runs on the
    |domain|²-bounded relation (operators/graph.harmonic_centrality,
    driver-loop fixpoint, WITH RECURSIVE oracle twin). Per-pair 1/d
    terms quantized to DECIMAL(18,9) before the sum — exact,
    row-order-free."""
    from pyspark.sql.window import Window as W

    from ..operators.graph import harmonic_centrality

    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        ev.withColumn("next_type", F.lead("event_type").over(w))
        .where(F.col("next_type").isNotNull())
        .select(
            F.col("event_type").alias("src"), F.col("next_type").alias("dst")
        )
        .distinct()
    )
    return harmonic_centrality(trans)


def _c9_oracle(dim: int = 64, iters: int = 5) -> str:
    """Unrolled power iteration as MATERIALIZED DuckDB CTEs — the same
    fixed-point arithmetic as ml.pca_power_iteration: per-row products
    rounded 12dp and summed as exact DECIMAL(28,12), covariance
    rounded 9dp, iterates normalized and rounded 9dp."""
    dec = "DECIMAL(28,12)"
    parts = [
        "WITH e AS (SELECT list_transform(embedding,"
        " x -> CAST(x AS DOUBLE)) AS v FROM embeddings),",
        " nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM e),",
        f" idx AS (SELECT unnest(range(0, {dim})) AS i),",
        " sp AS MATERIALIZED (SELECT a.i, b.i AS j,"
        f" CAST(sum(CAST(round(e.v[a.i + 1] * e.v[b.i + 1], 12) AS {dec}))"
        "  AS DOUBLE) AS s"
        " FROM e, idx a, idx b GROUP BY 1, 2),",
        " mu AS MATERIALIZED (SELECT a.i,"
        f" CAST(sum(CAST(e.v[a.i + 1] AS {dec})) AS DOUBLE) AS sm"
        " FROM e, idx a GROUP BY 1),",
        " cov AS MATERIALIZED (SELECT sp.i, sp.j,"
        " round(sp.s / nn.n - (ma.sm / nn.n) * (mb.sm / nn.n), 9) AS c"
        " FROM sp, nn"
        " JOIN mu ma ON ma.i = sp.i JOIN mu mb ON mb.i = sp.j),",
        f" x0 AS (SELECT i, 1.0 / sqrt({dim}.0) AS x FROM idx),",
    ]
    for k in range(1, iters + 1):
        parts += [
            f" y{k} AS MATERIALIZED (SELECT c.i,"
            f" CAST(sum(CAST(round(c.c * x.x, 12) AS {dec})) AS DOUBLE)"
            f"  AS y FROM cov c JOIN x{k-1} x ON x.i = c.j GROUP BY c.i),",
            f" n{k} AS MATERIALIZED (SELECT sqrt(CAST(sum(CAST("
            f"round(y * y, 12) AS {dec})) AS DOUBLE)) AS nm FROM y{k}),",
            f" x{k} AS MATERIALIZED (SELECT i, round(y / nm, 9) AS x"
            f" FROM y{k}, n{k}),",
        ]
    parts.append(
        f" f AS (SELECT i, x FROM x{iters})"
        f" SELECT CAST(i AS BIGINT) AS dim_idx, x AS loading,"
        f" round(nm, 6) AS eigenvalue FROM f, n{iters}"
    )
    return "".join(parts)


@query("c9_pca_power_iteration", oracle=_c9_oracle())
def c9_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C9 — leading principal component of the embeddings table by
    power iteration (5 steps) on the 64×64 covariance matrix: the
    variance-dominating axis consulted before ANN indexing (de-mean /
    de-bias), to detect collapsed encoders (one huge eigenvalue =
    embeddings on a line), and as the 1-component version of the PCA
    rotation FAISS applies before PQ. Everything relational and
    value-checked — covariance from ONE map-side-combined pass
    (shuffle carries dim² partial states, never the corpus),
    iterations are dim²-row joins over a localCheckpointed covariance
    (metadata-sized, the k-means-centroid boundary class), per-row
    products DECIMAL-quantized so both engines agree bit-for-bit
    (ml.pca_power_iteration)."""
    from ..ml import pca_power_iteration

    emb = load(spark, sf_dir, "embeddings")
    return pca_power_iteration(emb, dim=64, iters=5)
