"""Statistical/property checks for the analytics operators whose values
have no SQL oracle (SURVEY §5.2): ALS holdout RMSE, correlation vs
numpy, connected components vs a pure-Python union-find."""

from __future__ import annotations

import math
import random

import numpy as np
from pyspark.sql import functions as F

from flink_luad_pipeline_spark import ml
from flink_luad_pipeline_spark.operators.graph import connected_components


def test_als_holdout_rmse(spark):
    """Mask 10% of a low-rank matrix; ALS must reconstruct the masked
    cells far better than predicting the global mean (the 'is it
    actually completing' acceptance test, since FlinkML/spark.ml λ
    semantics differ and bit parity is impossible)."""
    rng = random.Random(42)
    n_samples, n_probes, rank = 40, 30, 3
    u = [[rng.gauss(0, 1) for _ in range(rank)] for _ in range(n_samples)]
    v = [[rng.gauss(0, 1) for _ in range(rank)] for _ in range(n_probes)]
    cells = [
        (s, p, sum(u[s][r] * v[p][r] for r in range(rank)))
        for s in range(n_samples)
        for p in range(n_probes)
    ]
    rng.shuffle(cells)
    held_out = cells[: len(cells) // 10]
    observed = cells[len(cells) // 10 :]

    obs_df = spark.createDataFrame(
        observed, "sample_id INT, probe_id INT, value DOUBLE"
    )
    completed = ml.als_complete(obs_df, reg_param=0.05, num_blocks=4)
    got = {
        (r.sample_id, r.probe_id): r.value
        for r in completed.collect()
        if not math.isnan(r.value)
    }
    mean = sum(c[2] for c in observed) / len(observed)
    se_als, se_base, n = 0.0, 0.0, 0
    for s, p, true in held_out:
        if (s, p) in got:
            se_als += (got[(s, p)] - true) ** 2
            se_base += (mean - true) ** 2
            n += 1
    assert n > 0.9 * len(held_out)  # nearly all masked cells predicted
    rmse_als = math.sqrt(se_als / n)
    rmse_base = math.sqrt(se_base / n)
    assert rmse_als < 0.5 * rmse_base, (rmse_als, rmse_base)


def test_pearson_edges_match_numpy(spark):
    """pearson_edges on a random dense matrix == numpy corrcoef."""
    rng = np.random.default_rng(7)
    mat = rng.normal(size=(25, 8))
    rows = [
        (int(s), int(p), float(mat[s, p]))
        for s in range(mat.shape[0])
        for p in range(mat.shape[1])
    ]
    df = spark.createDataFrame(rows, "sample_id INT, probe_id INT, value DOUBLE")
    got = {
        (r.probe_i, r.probe_j): r.r
        for r in ml.pearson_edges(df, threshold=None).collect()
    }
    ref = np.corrcoef(mat, rowvar=False)
    assert len(got) == 8 * 7 // 2
    for (i, j), r in got.items():
        assert abs(r - ref[i, j]) < 1e-9, (i, j, r, ref[i, j])


def test_pearson_scalable_matches_self_join(spark):
    """The DIMSUM/RowMatrix scale path (pearson_edges_scalable) must
    reproduce the exact self-join correlations, signs included."""
    rng = np.random.default_rng(5)
    mat = rng.normal(size=(30, 10))
    mat[:, 3] = -mat[:, 2]  # planted r = -1
    mat[:, 5] = 2 * mat[:, 4]  # planted r = +1
    rows = [
        (int(s), int(p), float(mat[s, p]))
        for s in range(30)
        for p in range(10)
    ]
    df = spark.createDataFrame(rows, "sample_id INT, probe_id INT, value DOUBLE")
    exact = {
        (r.probe_i, r.probe_j): r.r
        for r in ml.pearson_edges(df, threshold=None).collect()
    }
    scalable = {
        (r.probe_i, r.probe_j): r.r
        for r in ml.pearson_edges_scalable(df, threshold=None).collect()
    }
    assert set(scalable) == set(exact)
    for k, r in scalable.items():
        assert abs(r - exact[k]) < 1e-12
    assert abs(scalable[(3, 2)] + 1.0) < 1e-12
    assert abs(scalable[(5, 4)] - 1.0) < 1e-12


def _union_find_components(edges, vertices):
    parent = {v: v for v in vertices}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # min vertex per component
    comp_min = {}
    for v in vertices:
        r = find(v)
        comp_min.setdefault(r, v)
        comp_min[r] = min(comp_min[r], v)
    return {v: comp_min[find(v)] for v in vertices}


def test_connected_components_vs_union_find(spark):
    """Random graph: driver-loop CC == union-find ground truth,
    including isolated vertices and multi-hop label propagation."""
    rng = random.Random(13)
    vertices = list(range(120))
    edges = [
        (rng.randrange(120), rng.randrange(120)) for _ in range(90)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    expected = _union_find_components(edges, vertices)

    e_df = spark.createDataFrame(edges, "src INT, dst INT")
    v_df = spark.createDataFrame([(v,) for v in vertices], "vertex INT")
    got = {
        r.vertex: r.component
        for r in connected_components(e_df, v_df).collect()
    }
    assert got == expected


def _long_clouds(spark, n, d, seed):
    """Two Gaussian clouds (even ids at +3, odd at −3) as the long
    (sample_id, probe_id, value) matrix, and every sample's label."""
    rng = np.random.default_rng(seed)
    cells = [
        (i, p, float(v))
        for i in range(n)
        for p, v in enumerate(rng.normal(3.0 if i % 2 == 0 else -3.0, 1.0, d))
    ]
    matrix = spark.createDataFrame(cells, "sample_id INT, probe_id INT, value DOUBLE")
    labels = spark.createDataFrame(
        [(i, i % 2 == 0) for i in range(n)], "sample_id INT, tumorous BOOLEAN"
    )
    return matrix, labels


def test_svm_separable_accuracy(spark):
    """Linearly separable clouds: train accuracy must be perfect and
    holdout accuracy high — the C4/C5 statistical acceptance test."""
    matrix, labels = _long_clouds(spark, 80, 4, 3)
    decisions = ml.svm_train(matrix, labels.where(F.col("sample_id") < 60))
    preds = {
        r.sample_id: r.prediction
        for r in ml.svm_predict(decisions, labels.select("sample_id")).collect()
    }
    assert set(preds) == set(range(80))
    right = {i: (p == 1.0) == (i % 2 == 0) for i, p in preds.items()}
    assert all(right[i] for i in range(60))
    assert sum(right[i] for i in range(60, 80)) / 20 >= 0.9


def test_svm_decisions_do_not_depend_on_partitioning(spark):
    """The Gram entries are exact fixed-point long sums, so every
    decision value is bit-identical at 1 and 7 shuffle partitions."""
    matrix, labels = _long_clouds(spark, 30, 6, 5)
    # labels that do not follow the clouds, so the margin is not clean
    labels = labels.select("sample_id", ((F.col("sample_id") % 3) == 0).alias("tumorous"))
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    fits = []
    try:
        for parts in (1, 7):
            spark.conf.set(key, str(parts))
            fits.append(ml.svm_train(matrix.repartition(parts), labels))
    finally:
        spark.conf.set(key, before)
    assert len(fits[0]) == 30
    assert fits[0] == fits[1]


def test_asof_join_semantics(spark):
    from flink_luad_pipeline_spark.operators.relational import asof_join

    left = spark.createDataFrame(
        [(1, 1, "before_any"), (1, 5, "tie"), (1, 10, "after"), (2, 4, "lone_key")],
        "k int, ts int, tag string",
    )
    right = spark.createDataFrame(
        [(1, 2, 100.0), (1, 5, 200.0), (3, 1, 999.0)],
        "k int, ts int, value double",
    )
    out = {
        r.tag: r.asof_value
        for r in asof_join(left, right, on="k", left_ts="ts", right_ts="ts").collect()
    }
    # inclusive at equal ts; NULL before the first right row / for keys
    # with no right rows; latest-not-exceeding otherwise
    assert out == {"before_any": None, "tie": 200.0, "after": 200.0, "lone_key": None}


def test_sketch_agg_accuracy(spark, sf_dir):
    """x2 sketch aggregates must track exact answers: HLL distinct within
    5% relative error; approx median inside the exact [p40, p60] band."""
    from flink_luad_pipeline_spark.plans.extended_queries import x2_sketch_aggs

    approx = {r.returnflag: r for r in x2_sketch_aggs(spark, sf_dir).collect()}
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    exact = {
        r.returnflag: r
        for r in li.groupBy(F.col("l_returnflag").alias("returnflag"))
        .agg(
            F.count_distinct("l_orderkey").alias("n_orders"),
            F.expr("percentile(l_extendedprice, array(0.4, 0.6))").alias("band"),
        )
        .collect()
    }
    assert set(approx) == set(exact) and len(approx) >= 2
    for flag, a in approx.items():
        e = exact[flag]
        assert abs(a.approx_orders - e.n_orders) / e.n_orders <= 0.05
        assert e.band[0] <= a.approx_median_price <= e.band[1]


def test_cc_star_matches_min_label_on_random_graphs(spark):
    """large-star/small-star must agree with min-label propagation on
    arbitrary random graphs (deterministic seeds), including a long
    chain where diameter >> O(log n) rounds."""
    import random

    from flink_luad_pipeline_spark.operators.graph import (
        connected_components,
        connected_components_star,
    )

    cases = []
    for seed, n, m in [(1, 60, 40), (2, 80, 120), (3, 50, 10)]:
        rng = random.Random(seed)
        cases.append(
            [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
        )
    for edges_py in cases:
        edges_py = [(a, b) for a, b in edges_py if a != b]
        edges = spark.createDataFrame(
            [(int(a), int(b)) for a, b in edges_py],
            "src BIGINT, dst BIGINT",
        )
        a = {
            (r.vertex, r.component)
            for r in connected_components(edges).collect()
        }
        b = {
            (r.vertex, r.component)
            for r in connected_components_star(edges).collect()
        }
        assert a == b

    # 120-hop chain: diameter EXCEEDS min-label's 100-superstep cap
    # (the reference's own limit, Report.pdf p.3 §3.3.2) — min-label
    # truncates here, which is precisely why the O(log n) star tier
    # exists. Check star against union-find ground truth instead.
    chain = [(i, i + 1) for i in range(120)]
    edges = spark.createDataFrame(chain, "src BIGINT, dst BIGINT")
    want = _union_find_components(chain, list(range(121)))
    got = {
        r.vertex: r.component
        for r in connected_components_star(edges).collect()
    }
    assert got == want
    assert set(got.values()) == {0}  # one component, rooted at 0


def test_grouped_ewma_fold_semantics(spark):
    """EWMA fold: explicit recurrence vs hand-computed values,
    including a single-event group (ewma == the value)."""
    from flink_luad_pipeline_spark.operators.relational import grouped_ewma

    rows = [
        (1, 1, 10.0),
        (1, 2, 20.0),
        (1, 3, 30.0),
        (2, 4, 7.0),
    ]
    df = spark.createDataFrame(rows, "user_id BIGINT, event_id BIGINT, value DOUBLE")
    df = df.withColumn("ts", F.col("event_id").cast("timestamp"))
    got = {
        r.user_id: (r.n_events, r.ewma)
        for r in grouped_ewma(
            df, key="user_id", order_cols=["ts", "event_id"], value_col="value"
        ).collect()
    }
    s = 10.0
    s = 0.1 * 20.0 + 0.9 * s
    s = 0.1 * 30.0 + 0.9 * s
    assert got[1] == (3, round(s, 6))
    assert got[2] == (1, 7.0)


def test_asof_tolerance_semantics(spark):
    """Tolerance nulls stale matches: inclusive exactly AT the bound,
    null beyond it, untouched within it."""
    from flink_luad_pipeline_spark.operators.relational import asof_join

    left = spark.createDataFrame(
        [(1, 100, "within"), (1, 130, "at_bound"), (1, 200, "beyond")],
        "k int, ts int, tag string",
    )
    right = spark.createDataFrame(
        [(1, 100, 5.0)], "k int, ts int, value double"
    )
    out = {
        r.tag: r.asof_value
        for r in asof_join(
            left, right, on="k", left_ts="ts", right_ts="ts",
            tolerance_sec=30,
        ).collect()
    }
    assert out == {"within": 5.0, "at_bound": 5.0, "beyond": None}


def test_shortest_paths_vs_python_bfs(spark):
    """Random graph: driver-loop BFS distances == pure-Python BFS from
    the same multi-source set; unreached vertices absent."""
    from collections import deque

    from flink_luad_pipeline_spark.operators.graph import shortest_paths

    rng = random.Random(23)
    n = 80
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(70)]
    edges = [(a, b) for a, b in edges if a != b]
    sources = [0, 40]
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    want, q = {s: 0 for s in sources}, deque(sources)
    while q:
        v = q.popleft()
        for w in adj.get(v, ()):
            if w not in want:
                want[w] = want[v] + 1
                q.append(w)
    e_df = spark.createDataFrame(edges, "src INT, dst INT")
    s_df = spark.createDataFrame([(s,) for s in sources], "vertex INT")
    got = {r.vertex: r.dist for r in shortest_paths(e_df, s_df).collect()}
    assert got == want


def test_core_numbers_vs_python_peel(spark):
    """core_numbers on random graphs must equal a pure-Python peel
    (the textbook O(E) sequential algorithm), including cascade cases
    where removing one vertex drags a chain below the bar."""
    from flink_luad_pipeline_spark.operators.graph import core_numbers

    rng = random.Random(7)
    for trial in range(3):
        n = 24
        edges = sorted(
            {
                (min(a, b), max(a, b))
                for a, b in (
                    (rng.randrange(n), rng.randrange(n)) for _ in range(40)
                )
                if a != b
            }
        )
        # python peel, capped at k_max=3 like the operator call
        k_max = 3
        adj: dict[int, set[int]] = {}
        for a, b in edges:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        expected = {v: 1 for v in adj}
        live = {v: set(nb) for v, nb in adj.items()}
        for k in range(2, k_max + 1):
            changed = True
            while changed:
                doomed = [v for v, nb in live.items() if len(nb) < k]
                changed = bool(doomed)
                for v in doomed:
                    for w in live[v]:
                        live[w].discard(v)
                    del live[v]
            for v in live:
                expected[v] = k
        df = spark.createDataFrame(edges, "src int, dst int")
        got = {
            r["vertex"]: r["core"]
            for r in core_numbers(df, k_max=k_max).collect()
        }
        assert got == expected, f"trial {trial}"


def test_asof_tolerance_null_right_value_keeps_sync(spark):
    """A right row whose VALUE is NULL must not advance the matched
    timestamp: the carried (time, value) pair always comes from the
    same right row, so the tolerance check measures staleness of the
    value actually carried (round-2 advice regression)."""
    from flink_luad_pipeline_spark.operators.relational import asof_join

    left = spark.createDataFrame(
        [(1, 100.0)], "k int, ts double"
    )
    # valid value at t=10, NULL value at t=95: the carried value is
    # still the t=10 one, which at left ts=100 is beyond tolerance=30
    # -> must be NULL. If the NULL row's timestamp leaked into the
    # staleness check (95 >= 100-30), the stale 5.0 would survive.
    right = spark.createDataFrame(
        [(1, 10.0, 5.0), (1, 95.0, None)],
        "k int, ts double, value double",
    )
    out = asof_join(
        left, right, on="k", tolerance_sec=30, out_col="v"
    ).collect()
    assert len(out) == 1 and out[0]["v"] is None

    # and with a fresh valid row inside tolerance, it is carried
    right2 = spark.createDataFrame(
        [(1, 10.0, 5.0), (1, 95.0, None), (1, 98.0, 7.0)],
        "k int, ts double, value double",
    )
    out2 = asof_join(
        left, right2, on="k", tolerance_sec=30, out_col="v"
    ).collect()
    assert out2[0]["v"] == 7.0


def test_graph_loops_warn_on_round_exhaustion(spark):
    """The ADVICE r3 contract: exiting a peel/relax loop by round
    exhaustion (not fixpoint) must emit a RuntimeWarning instead of
    silently returning truncated results."""
    import warnings

    from flink_luad_pipeline_spark.operators.graph import (
        connected_components,
        connected_components_star,
        core_numbers,
        weighted_shortest_paths,
    )

    # path graph: the 2-core peel removes one endpoint pair per round,
    # so max_rounds=1 exhausts mid-cascade
    path = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "src int, dst int"
    )
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        core_numbers(path, k_max=2, max_rounds=1).collect()
    assert any(
        issubclass(w.category, RuntimeWarning)
        and "core_numbers" in str(w.message)
        for w in caught
    )

    # chain: distances need 8 relax rounds; 1 round leaves the frontier
    # non-empty
    wchain = spark.createDataFrame(
        [(i, i + 1, 1) for i in range(8)], "src int, dst int, wt int"
    )
    srcs = spark.createDataFrame([(0,)], "vertex int")
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        weighted_shortest_paths(wchain, srcs, max_iterations=1).collect()
    assert any(
        issubclass(w.category, RuntimeWarning)
        and "weighted_shortest_paths" in str(w.message)
        for w in caught
    )

    # 6-vertex chain: min-label propagation needs 6 supersteps, so a cap
    # of 2 stops it with labels still changing
    chain = spark.createDataFrame([(i, i + 1) for i in range(5)], "src int, dst int")
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        connected_components(chain, max_iterations=2).collect()
    assert any(
        issubclass(w.category, RuntimeWarning)
        and "connected_components" in str(w.message)
        for w in caught
    )

    # the same chain: one large-star/small-star round leaves it split
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        connected_components_star(chain, max_rounds=1).collect()
    assert any(
        issubclass(w.category, RuntimeWarning)
        and "connected_components_star" in str(w.message)
        for w in caught
    )

    # and NO warning when the loop converges
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        core_numbers(path, k_max=2, max_rounds=10).collect()
        weighted_shortest_paths(wchain, srcs, max_iterations=20).collect()
        labels = connected_components(chain).collect()
        star = connected_components_star(chain).collect()
    assert not any(issubclass(w.category, RuntimeWarning) for w in caught)
    assert {r.component for r in labels} == {0}
    assert {r.component for r in star} == {0}


def test_bpe_merge_table_matches_python(spark):
    """The distributed BPE trainer must reproduce a sequential
    reference implementation exactly — pair counts, tie-breaks, and
    the greedy left-to-right merge application."""
    from flink_luad_pipeline_spark.operators.bpe import bpe_merge_table

    texts = [
        "low lower lowest low low",
        "new newer newest new newer",
        "wide wider widest",
        "aaa abab",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )

    # sequential reference
    vocab: dict[tuple[str, ...], int] = {}
    for t in texts:
        for w in t.split():
            k = tuple(w)
            vocab[k] = vocab.get(k, 0) + 1
    expected = []
    for idx in range(1, 6):
        counts: dict[tuple[str, str], int] = {}
        for syms, c in vocab.items():
            for i in range(len(syms) - 1):
                counts[(syms[i], syms[i + 1])] = (
                    counts.get((syms[i], syms[i + 1]), 0) + c
                )
        if not counts:
            break
        (l, r), total = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        expected.append((idx, l, r, l + r, total))
        nv: dict[tuple[str, ...], int] = {}
        for syms, c in vocab.items():
            out: list[str] = []
            for x in syms:
                if out and out[-1] == l and x == r:
                    out[-1] = l + r
                else:
                    out.append(x)
            key = tuple(out)
            nv[key] = nv.get(key, 0) + c
        vocab = nv

    got = [
        (r.merge_idx, r.left_sym, r.right_sym, r.merged, r.pair_count)
        for r in bpe_merge_table(docs, n_merges=5)
        .orderBy("merge_idx")
        .collect()
    ]
    assert got == expected


def test_naive_bayes_learns_separable_vocab(spark):
    """On a corpus whose classes use disjoint vocabularies the NB
    classifier must label every held-out doc correctly (the synthetic
    documents table has no real text-label signal, so c7's quality
    there sits at the prior — this pins that the LEARNER itself works
    when signal exists)."""
    from flink_luad_pipeline_spark.ml import naive_bayes_langid

    rows = []
    for i in range(30):
        if i % 2 == 0:
            rows.append((i, "aa", "alpha beta gamma alpha beta"))
        else:
            rows.append((i, "bb", "zulu yankee xray zulu yankee"))
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    out = naive_bayes_langid(docs).collect()
    assert len(out) == 10  # doc_id % 3 == 0 holdout
    assert all(r.correct for r in out)


def test_pit_join_never_leaks_future_versions(spark, sf_dir):
    """Feature-store contract for j12: every attached priority must be
    a version whose valid_from <= the fact's ship date (no future
    leakage), and facts predating the first version carry NULL."""
    import duckdb

    from flink_luad_pipeline_spark.plans.registry import QUERIES

    out = QUERIES["j12_pit_join"](spark, sf_dir).collect()
    con = duckdb.connect()
    vers = con.sql(
        "WITH snap AS (SELECT o_custkey AS ck, o_orderdate AS d,"
        " o_orderpriority AS pr FROM (SELECT o_custkey, o_orderdate,"
        " o_orderpriority, row_number() OVER (PARTITION BY o_custkey,"
        " o_orderdate ORDER BY o_orderkey DESC) AS rn"
        f" FROM '{sf_dir}/orders.parquet') WHERE rn = 1)"
        " SELECT ck, strftime(d, '%Y-%m-%d %H:%M:%S') AS d, pr FROM ("
        " SELECT ck, d, pr, lag(pr) OVER (PARTITION BY ck ORDER BY d)"
        " AS prev FROM snap) WHERE prev IS NULL OR prev <> pr"
    ).fetchall()
    by_cust: dict[int, list[tuple[str, str]]] = {}
    for ck, d, pr in vers:
        by_cust.setdefault(ck, []).append((d, pr))
    assert len(out) > 0
    n_null = 0
    for r in out:
        versions = sorted(by_cust.get(r.custkey, []))
        active = None
        for d, pr in versions:
            if d <= r.ship_at:
                active = pr
        assert r.priority_at_ship == active, (r.custkey, r.ship_at)
        n_null += active is None
    assert n_null > 0  # the synthetic data does exercise the NULL tier


def test_personalized_pagerank_rejects_empty_seed_overlap(spark):
    """ADVICE r4: seeds disjoint from the vertex set must raise a clear
    ValueError, not a ZeroDivisionError from the restart weight."""
    import pytest

    from flink_luad_pipeline_spark.operators.graph import personalized_pagerank

    edges = spark.createDataFrame([(1, 2), (2, 3)], "src int, dst int")
    vertices = spark.createDataFrame([(1,), (2,), (3,)], "v int")
    ghosts = spark.createDataFrame([(99,)], "v int")
    with pytest.raises(ValueError, match="no seeds overlap"):
        personalized_pagerank(edges, vertices, ghosts)


def test_scc_multi_component_directed_graph(spark):
    """SCC must separate mutually-reachable groups from flow-through
    DAG nodes: cycle {1,2,3}, cycle {4,5}, bridge 3->4 (one-way), and
    a sink 6. The closure-intersection rule must NOT merge across the
    one-way bridge (the trap the (f,b) min-label heuristic falls
    into)."""
    from flink_luad_pipeline_spark.operators.graph import (
        strongly_connected_components,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (4, 5), (5, 4), (3, 4), (5, 6)],
        "src int, dst int",
    )
    got = {
        r.vertex: (r.scc_id, r.scc_size)
        for r in strongly_connected_components(edges).collect()
    }
    assert got == {
        1: (1, 3), 2: (1, 3), 3: (1, 3),
        4: (4, 2), 5: (4, 2),
        6: (6, 1),
    }


def test_funnel_stages_are_order_sensitive(spark):
    """b26's subsequence semantics: a purchase BEFORE the first view
    must not convert; stages advance only strictly forward in time."""
    import datetime as dt

    from flink_luad_pipeline_spark.plans.registry import QUERIES
    import flink_luad_pipeline_spark.plans.extended_queries as X

    import os
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = []
    t0 = dt.datetime(2020, 1, 1)
    def ev(i, uid, typ, mins):
        return (i, t0 + dt.timedelta(minutes=mins), uid, typ, 1.0, "{}")
    # user 1: full ordered funnel
    rows += [ev(1, 1, "view", 0), ev(2, 1, "click", 1), ev(3, 1, "purchase", 2)]
    # user 2: purchase first, then view+click — stage 2, NOT converted
    rows += [ev(4, 2, "purchase", 0), ev(5, 2, "view", 1), ev(6, 2, "click", 2)]
    # user 3: view only
    rows += [ev(7, 3, "view", 0), ev(8, 3, "error", 1)]
    # user 4: never views
    rows += [ev(9, 4, "click", 0), ev(10, 4, "purchase", 1)]
    # same physical shape as the driver's events table — TIMESTAMP(NANOS),
    # so catalog.load's nanos conversion path is exercised too
    table = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("ns")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([r[4] for r in rows], pa.float64()),
            "props": pa.array([r[5] for r in rows], pa.string()),
        }
    )
    d = tempfile.mkdtemp(prefix="b26fix")
    pq.write_table(table, os.path.join(d, "events.parquet"))
    got = {
        r.user_id: (r.funnel_stage, r.converted)
        for r in QUERIES["b26_funnel_stages"](spark, d).collect()
    }
    assert got == {1: (3, True), 2: (2, False), 3: (1, False), 4: (0, False)}


def test_harmonic_centrality_planted_chain(spark):
    """g11's operator on a graph where the values actually differ (the
    events fixture's transition graph is complete, so every vertex
    scores alike there): a directed chain a->b->c->d plus d->a makes
    every vertex reach 3 others at distances 1,2,3; removing d->a
    (pure chain) makes H strictly decrease down the chain and the sink
    score 0."""
    from flink_luad_pipeline_spark.operators.graph import (
        harmonic_centrality,
    )

    cyc = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a")], ["src", "dst"]
    )
    got = {
        r.vertex: (r.n_reachable, r.harmonic)
        for r in harmonic_centrality(cyc).collect()
    }
    expect = round(1.0 + 0.5 + round(1 / 3, 9), 6)
    assert got == {v: (3, expect) for v in "abcd"}

    chain = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d")], ["src", "dst"]
    )
    got = {
        r.vertex: (r.n_reachable, r.harmonic)
        for r in harmonic_centrality(chain).collect()
    }
    assert got["a"] == (3, expect)
    assert got["b"] == (2, 1.5)
    assert got["c"] == (1, 1.0)
    assert got["d"] == (0, 0.0)


def test_pca_power_iteration_recovers_planted_axis(spark):
    """c9's operator on data with a KNOWN dominant direction: vectors
    = t·u + small orthogonal noise for a planted unit axis u — the
    leading eigenvector must align with u (|cos| > 0.99) and the
    eigenvalue must approximate the variance along u."""
    import math
    import random

    from flink_luad_pipeline_spark.ml import pca_power_iteration

    rng = random.Random(7)
    dim = 8
    u = [1.0 / math.sqrt(dim)] * dim
    rows = []
    for i in range(200):
        t = rng.gauss(0.0, 3.0)
        vec = [t * u[d] + rng.gauss(0.0, 0.05) for d in range(dim)]
        rows.append((i, vec))
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    got = pca_power_iteration(emb, dim=dim, iters=8).collect()
    assert len(got) == dim
    load = {r.dim_idx: r.loading for r in got}
    ev = got[0].eigenvalue
    cos = abs(sum(load[d] * u[d] for d in range(dim)))
    assert cos > 0.99, (cos, load)
    # eigenvalue ~ Var(t) = 9 (within sampling noise of 200 draws)
    assert 6.0 < ev < 12.0, ev
