"""Relational operators (SURVEY §2.2-2.5) as reusable DataFrame functions.

Each function replaces a hand-rolled Flink lambda in the reference with a
declarative plan Catalyst can optimize (pushdown, broadcast selection,
whole-stage codegen). File:line citations point at the reference code the
semantics were derived from.
"""

from __future__ import annotations

import functools
from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def semi_join(df: DataFrame, keys: DataFrame, on: Sequence[str]) -> DataFrame:
    """P2/J6 — keep rows whose key appears in ``keys``.

    Reference: ``filter(x => set.contains(x._1))`` with a driver-collected
    set captured in the closure (Trainer.scala:39,85; PreProcess.scala:215).
    Spark-first: a broadcast LEFT SEMI join — no driver round-trip, no
    closure serialization, scales past driver memory.
    """
    return df.join(F.broadcast(keys), on=list(on), how="left_semi")


def anti_join(df: DataFrame, keys: DataFrame, on: Sequence[str]) -> DataFrame:
    """J7 — keep rows whose key does NOT appear in ``keys``.

    Reference: per-group ``probeSet.diff(presentProbes)``
    (PreProcess.scala:114-118) — a set difference, i.e. LEFT ANTI join.
    """
    return df.join(keys, on=list(on), how="left_anti")


def split_by_predicate(df: DataFrame, pred, label_col: str = "split") -> DataFrame:
    """P3 — complement filter pair as a single labeled frame.

    Reference: ``filter(!pred)`` / ``filter(pred)`` on the same input
    (Input.scala:156,159). One pass + CASE beats two scans.
    """
    return df.withColumn(label_col, F.when(pred, F.lit("a")).otherwise(F.lit("b")))


def symmetrize_edges(df: DataFrame, src: str, dst: str) -> DataFrame:
    """P4 — emit both directions of each edge.

    Reference: ``flatMap(x => Seq((a,b),(b,a)))`` (PreProcess.scala:168).
    Spark-first: explode over a 2-element array stays in codegen; no
    Python UDF, no shuffle.
    """
    pair = F.explode(
        F.array(
            F.struct(F.col(src).alias("src"), F.col(dst).alias("dst")),
            F.struct(F.col(dst).alias("src"), F.col(src).alias("dst")),
        )
    ).alias("e")
    return df.select(pair).select("e.src", "e.dst")


def dict_encode(df: DataFrame, name_col: str, id_col: str = "id") -> DataFrame:
    """A2 — distinct names -> dense 0-based ids, deterministically.

    Reference: ``collect.toSet`` + incremental ids in set-iteration order
    (Input.scala:137-142) — nondeterministic. Deliberate deviation
    (SURVEY §7 M4d): ``row_number() OVER (ORDER BY name) - 1``.

    Scale note: a single-partition window over the *distinct* names, not
    the data — dictionary cardinality (~21k probes in the reference) is
    tiny relative to the fact table, same trick as a broadcast dim build.
    ``coalesce(1)`` plus a ``spark_partition_id`` window key is the
    warning-free form of that one-partition window (see
    ``exclusive_prefix_sum``). For >~100M distinct keys use
    ``dict_encode_distributed`` (same contract, no single-partition
    stage).
    """
    w = Window.partitionBy(F.spark_partition_id()).orderBy("name")
    return (
        df.select(F.col(name_col).alias("name"))
        .distinct()
        .coalesce(1)
        .withColumn(id_col, (F.row_number().over(w) - F.lit(1)).cast("bigint"))
    )


def dict_encode_distributed(
    df: DataFrame, name_col: str, id_col: str = "id"
) -> DataFrame:
    """A2's huge-dictionary tier: dense 0-based ids with NO
    single-partition stage, for dictionaries too large to funnel
    through one task (>~100M distinct keys).

    Two-phase rank stitching (the DataFrame equivalent of
    ``sortBy.zipWithIndex``): sort-partition the distinct names by
    range, row_number *within* each partition, then add each
    partition's global offset computed from per-partition counts (a
    tiny driver-side prefix sum over ≤#partitions rows — metadata, not
    data). Ids are identical to dict_encode's (rank in global name
    order): every partition boundary respects the range ordering.

    Cost: one range shuffle of the distinct names + one broadcast join
    of #partitions offset rows vs dict_encode's single-partition sort.
    """
    names = df.select(F.col(name_col).alias("name")).distinct()
    parted = names.repartitionByRange(names.sparkSession.sparkContext.defaultParallelism, "name")
    ranked = parted.select(
        "name",
        F.spark_partition_id().alias("__pid"),
        (
            F.row_number().over(
                Window.partitionBy(F.spark_partition_id()).orderBy("name")
            )
        ).alias("__local_rank"),
    )
    # per-partition counts -> exclusive prefix sum = partition offsets.
    # #partitions rows at most: driver-safe at any data scale.
    counts = ranked.groupBy("__pid").agg(F.count(F.lit(1)).alias("__n"))
    offsets = counts.select(
        "__pid",
        (
            F.sum("__n").over(
                Window.orderBy("__pid").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            )
        ).alias("__offset"),
    ).fillna({"__offset": 0})
    return ranked.join(F.broadcast(offsets), "__pid").select(
        "name",
        (F.col("__offset") + F.col("__local_rank") - F.lit(1))
        .cast("bigint")
        .alias(id_col),
    )


def exclusive_prefix_sum(
    df: DataFrame, order_col: str, value_col: str, out_col: str = "cum"
) -> DataFrame:
    """Exclusive prefix sum of ``value_col`` in global ``order_col``
    order with NO data-scale single-partition stage — the hierarchical
    two-pass device of ``dict_encode_distributed`` applied to running
    sums (the ll19 sequence-packing kernel, VERDICT r5 item 4).

    Range-partition by the order key (partition boundaries respect the
    global order), running-sum *within* each partition, then add each
    partition's global base computed as an exclusive prefix sum over
    the per-partition totals — ≤ #partitions rows, metadata not data,
    the same k-row boundary class as a broadcast dim. Correct for ANY
    boundary placement (bases derive from actual per-partition totals),
    so RangePartitioner's sampling cannot affect values.

    Cost: one range shuffle + one pid-keyed window + a broadcast join
    of #partitions offset rows — vs one global sort into a single task
    for the naive ``Window.orderBy(order_col)`` form.
    """
    p = df.sparkSession.sparkContext.defaultParallelism
    parted = df.repartitionByRange(p, order_col)
    local_w = (
        Window.partitionBy(F.spark_partition_id())
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = parted.select(
        "*",
        F.spark_partition_id().alias("__pid"),
        F.coalesce(F.sum(value_col).over(local_w), F.lit(0)).alias(
            "__local_cum"
        ),
    )
    totals = local.groupBy("__pid").agg(F.sum(value_col).alias("__n"))
    # exclusive prefix over ≤ #partitions total rows — metadata-sized.
    # coalesce(1) pins the ≤#partitions rows to one partition, making
    # spark_partition_id a constant window key the optimizer can't
    # fold (a lit(1) key IS folded, resurrecting the unpartitioned-
    # WindowExec warning) — global order, warning-free.
    offsets = totals.coalesce(1).select(
        "__pid",
        F.coalesce(
            F.sum("__n").over(
                Window.partitionBy(F.spark_partition_id())
                .orderBy("__pid")
                .rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("__base"),
    )
    return (
        local.join(F.broadcast(offsets), "__pid")
        .withColumn(out_col, F.col("__base") + F.col("__local_cum"))
        .drop("__pid", "__local_cum", "__base")
    )


def dict_decode(
    df: DataFrame,
    dictionary: DataFrame,
    key_col: str,
    dict_key: str,
    dict_value: str,
    out_col: str = "name",
    default: str = "Unknown",
) -> DataFrame:
    """P5 — id -> name decode with a default for unmapped ids.

    Reference: driver-map lookup in a closure with ``"Unknown"`` default
    (PipeLine.scala:30). Spark-first: broadcast LEFT join + coalesce.
    """
    # rename to fresh columns first: the dictionary frame is typically
    # reused across several joins in a pipeline and bare column refs
    # would trip Spark's ambiguous-self-join check
    d = dictionary.select(
        F.col(dict_key).alias("__dict_key"),
        F.col(dict_value).alias("__dict_value"),
    )
    joined = df.join(F.broadcast(d), df[key_col] == d["__dict_key"], "left")
    return joined.select(
        *[df[c] for c in df.columns],
        F.coalesce(d["__dict_value"], F.lit(default)).alias(out_col),
    )


def grouped_moments(df: DataFrame, key: str, value: str) -> DataFrame:
    """A3 — per-key ΣX, ΣX², n (the correlation building block).

    Reference: ``groupBy(1).reduceGroup`` emitting (key, ΣX, ΣX², list)
    (PreProcess.scala:30-53). Spark's HashAggregate does the map-side
    partial aggregation the reference's reduceGroup forgoes.
    """
    v = F.col(value)
    return df.groupBy(key).agg(
        F.sum(v).alias("sum_x"),
        F.sum(v * v).alias("sum_x2"),
        F.count(v).alias("n"),
    )


def cross_missing_cells(
    rows: DataFrame, cols: DataFrame, observed: DataFrame, on: Sequence[str]
) -> DataFrame:
    """A4/J4 — full grid minus observed cells (the ALS "missing" input).

    Reference: per-sample ``probeSet.diff(presentProbes)`` against a
    driver-broadcast full probe set (PreProcess.scala:102-119; the
    commented-out ``cross`` at :102 is the same semantics).
    Spark-first: crossJoin + LEFT ANTI. The cross is |rows|x|cols| — at
    scale keep ``cols`` the broadcast side (dimension-sized).
    """
    return rows.crossJoin(F.broadcast(cols)).join(observed, on=list(on), how="left_anti")


def grouped_concat(
    df: DataFrame, key: str, order: str, value_expr, sep: str = ","
) -> DataFrame:
    """O1/A7 — within-group ordered concatenation (no global sort).

    Reference: Scala collection ``sortBy`` inside reduceGroup before
    vector assembly (Trainer.scala:46,93). Spark-first:
    ``array_sort(collect_list(struct(order, value)))`` — the sort happens
    per group post-shuffle, never a global ORDER BY. The struct sort
    tie-breaks on the value, keeping output deterministic when the order
    column has duplicates.
    """
    assembled = df.groupBy(key).agg(
        F.array_sort(
            F.collect_list(F.struct(F.col(order).alias("o"), value_expr.alias("v")))
        ).alias("pairs")
    )
    return assembled.select(
        key,
        F.array_join(F.transform(F.col("pairs"), lambda p: p["v"]), sep).alias("vals"),
    )


def salted_agg_sum(
    df: DataFrame, key: str, value, out_col: str, salt_buckets: int = 16
) -> DataFrame:
    """Two-stage skew-safe aggregation: partial sum on (key, salt),
    final sum on key.

    For heavily skewed keys a single-stage groupBy concentrates one
    key's rows in one task; salting spreads the partial aggregation
    over ``salt_buckets`` tasks and the final stage only merges
    ``salt_buckets`` rows per key. Spark's map-side partial
    HashAggregate already mitigates this for *algebraic* aggregates, so
    reach for salting when partial aggregation can't help: high
    map-side group cardinality, collect_list-style holistic aggregates,
    or AQE disabled. Same result as a plain groupBy — oracle-checked.

    The salt is deterministic (hash of an arbitrary distinct column
    would be nondeterministic across retries — use pmod of a stable
    expression; here spark_partition_id is avoided for exactly that
    reason and the salt derives from the value row's key hash).
    """
    salted = df.withColumn(
        "__salt", F.pmod(F.xxhash64(F.col(key), value), F.lit(salt_buckets))
    )
    partial = salted.groupBy(key, "__salt").agg(F.sum(value).alias("__part"))
    return partial.groupBy(key).agg(F.sum("__part").alias(out_col))


def union_all(dfs: Sequence[DataFrame]) -> DataFrame:
    """U1 — bag union. For very many inputs prefer a multi-path read
    (one scan node) over a deep union tree (Input.scala:125-130 folds
    586 per-file DataSets; SURVEY §2.5 U1 caveat)."""
    return functools.reduce(DataFrame.unionAll, dfs)


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    value_col: str = "value",
    out_col: str = "asof_value",
    tolerance_sec: int | None = None,
) -> DataFrame:
    """As-of join: attach to each left row the latest right row with
    ``right_ts <= left_ts`` for the same ``on`` key (left-outer: NULL
    when no prior right row exists).

    Not in the reference (SURVEY §2.4 notes its absence) — shipped as
    standard time-series engine surface. Spark has no ASOF JOIN
    operator; the naive formulation (range join + per-key max) explodes
    into an O(n·m) BroadcastNestedLoopJoin. The scalable formulation is
    a single-shuffle merge: union both sides tagged, sort within each
    key by (ts, side) with right rows ordered *before* left rows at
    equal timestamps (ASOF is inclusive), and carry the last non-null
    right value forward with last(ignorenulls) over an unbounded-
    preceding frame. One shuffle on the key, one sort, no join at all —
    this survives 100 TB because it is exactly the sort-merge pattern.

    Right rows must be unique per (key, right_ts) for determinism —
    pre-aggregate if needed (the query wrapper does max()).

    ``tolerance_sec`` bounds the staleness of the match (pandas
    merge_asof semantics): a carried-forward right row older than
    ``left_ts - tolerance_sec`` is nulled out. Implemented by carrying
    the matched right TIMESTAMP forward next to the value — same
    single-shuffle plan, one extra window column, no join.
    """
    from pyspark.sql.window import Window

    def _num(c):
        # epoch-seconds double for TIMESTAMP/NTZ/numeric time columns
        return c.cast("timestamp").cast("double")

    # (rt, rv) travel as ONE nullable struct so last(ignorenulls) can
    # never desync them: a right row whose value is NULL contributes no
    # struct at all, so neither the carried value nor the matched
    # timestamp advances past it (a split-column carry would skip the
    # NULL value but still advance the timestamp, making the staleness
    # test compare against the wrong, newer match time).
    l_tag = left.select(
        F.col(on).alias("k"),
        F.col(left_ts).alias("t"),
        F.lit(1).alias("side"),
        F.lit(None).cast("struct<rt:double,rv:double>").alias("rrec"),
        F.struct(*[F.col(c) for c in left.columns]).alias("lrow"),
    )
    r_tag = right.select(
        F.col(on).alias("k"),
        F.col(right_ts).alias("t"),
        F.lit(0).alias("side"),
        F.when(
            F.col(value_col).isNotNull(),
            F.struct(
                _num(F.col(right_ts)).alias("rt"),
                F.col(value_col).cast("double").alias("rv"),
            ),
        ).alias("rrec"),
        F.lit(None)
        .cast(l_tag.schema["lrow"].dataType)
        .alias("lrow"),
    )
    w = (
        Window.partitionBy("k")
        .orderBy("t", "side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = l_tag.unionByName(r_tag).withColumn(
        "__rec", F.last("rrec", ignorenulls=True).over(w)
    )
    value = F.col("__rec.rv")
    if tolerance_sec is not None:
        value = F.when(
            _num(F.col("t")) - F.col("__rec.rt") <= F.lit(float(tolerance_sec)),
            value,
        )
    merged = merged.withColumn(out_col, value)
    out = merged.where(F.col("side") == 1)
    return out.select([F.col(f"lrow.{c}").alias(c) for c in left.columns] + [F.col(out_col)])


def range_count_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    lookback_sec: int = 600,
    out_col: str = "n_matches",
) -> DataFrame:
    """Range (interval) join, counting form: for each left row, count
    right rows with the same key and ``right_ts ∈ [left_ts - lookback,
    left_ts)``. Left-outer: rows with no matches keep count 0.

    Not in the reference (SURVEY §2.4 notes no theta/range joins) —
    shipped as standard event-analytics surface. The naive plan is an
    inequality join, which Spark executes as BroadcastNestedLoopJoin —
    O(n·m) per key and a non-starter at scale. This implementation is
    the standard *bucketed* interval join: both sides hash to
    ``floor(epoch/lookback)`` buckets, the left probes its own and the
    previous bucket (two candidate rows via explode — any right row in
    range provably lands in one of the two), and the join becomes a
    plain equi-join on (key, bucket) followed by the exact range
    filter. Two shuffles on a compound key, no nested loop, skew
    handled by AQE like any other equi-join.
    """
    lb = F.lit(lookback_sec)
    lkey = F.col(on).alias("k")
    l_b = (F.unix_timestamp(F.col(left_ts)) / lb).cast("long")
    r_b = (F.unix_timestamp(F.col(right_ts)) / lb).cast("long")

    probes = left.select(
        F.struct(*[F.col(c) for c in left.columns]).alias("lrow"),
        lkey,
        F.col(left_ts).alias("lt"),
        F.explode(F.array(l_b, l_b - 1)).alias("bucket"),
    )
    cands = right.select(
        F.col(on).alias("k"),
        F.col(right_ts).alias("rt"),
        r_b.alias("bucket"),
    )
    matched = (
        probes.join(cands, ["k", "bucket"], "left")
        .withColumn(
            "hit",
            F.when(
                (F.col("rt") >= F.col("lt") - F.expr(f"INTERVAL {int(lookback_sec)} SECOND"))
                & (F.col("rt") < F.col("lt")),
                1,
            ).otherwise(0),
        )
        .groupBy("lrow", "lt")
        .agg(F.sum("hit").alias(out_col))
    )
    # the two probe rows per left row were both left-joined; the groupBy
    # on the full left row re-merges them, so counts are exact and
    # zero-match rows survive
    return matched.select(
        [F.col(f"lrow.{c}").alias(c) for c in left.columns]
        + [F.col(out_col).cast("bigint").alias(out_col)]
    )


def salted_skew_join(
    fact: DataFrame,
    dim: DataFrame,
    on: str,
    salt_buckets: int = 16,
) -> DataFrame:
    """Skew-safe equi-join: salt the fact side, replicate the dim side.

    A shuffle join on a skewed key puts every row of the hot key in one
    task. Salting splits each fact key into ``salt_buckets`` shuffle
    keys (random-per-row pmod of a stable hash) and explodes the dim
    side ``salt_buckets``-fold so every (key, salt) partition finds its
    match — the hot key's rows now spread over ``salt_buckets`` tasks.
    Dim-side blowup costs salt_buckets × |dim|, so use it fact⋈dim, not
    fact⋈fact (there, prefer AQE skew-join splitting, which handles the
    same problem post-shuffle without the blowup).

    Inner-join semantics on ``on``; result columns = fact ∪ dim minus
    the duplicate join key, same as a plain ``fact.join(dim, on)``.
    """
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in fact.columns]), F.lit(salt_buckets))
    salted_fact = fact.withColumn("__salt", salt)
    replicated_dim = dim.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)))
    ).withColumn("__salt", F.col("__salt").cast("long"))
    out = salted_fact.join(replicated_dim, [on, "__salt"])
    return out.drop("__salt")


def interval_overlap_pairs(
    df: DataFrame,
    key: str,
    id_col: str,
    start: str = "s",
    end: str = "e",
    bucket_sec: int = 512,
) -> DataFrame:
    """All unordered pairs of same-key intervals whose half-open spans
    ``[start, end)`` overlap. Requires every interval shorter than
    ``bucket_sec`` (the caller caps durations).

    Not in the reference (SURVEY §2.4 lists no theta/range joins) —
    standard event-analytics surface. The naive formulation is an
    inequality self-join (BroadcastNestedLoopJoin, O(n² ) per key). This
    is the banded interval join: every interval explodes to the ≤2
    time buckets it spans (duration < bucket width guarantees ≤2), the
    candidate side registers at its start bucket, and the join becomes
    a plain equi-join on (key, bucket) + exact overlap filter. For any
    overlapping pair, at least one orientation lands the candidate's
    start bucket inside the prober's spanned range (bucket assignment
    is monotone in time), so no pair is missed; the canonical
    (least, greatest) id ordering + distinct collapses the ≤2
    discoveries of the same pair.

    Two shuffles on the compound (key, bucket) — both AQE-managed equi
    shuffles; pair output is tiny relative to input, so the final
    distinct is cheap. At 100 TB the same plan holds as long as
    durations stay bounded; unbounded intervals need a different
    algorithm (sort + sweep per key via applyInPandas).

    Output: key, id_a < id_b, overlap_us (exact integer microseconds).
    """

    # Epoch helpers must accept TIMESTAMP_NTZ (what parquet MICROS files
    # with isAdjustedToUTC=false read as): unix_micros/unix_timestamp
    # reject NTZ, so cast to session-TZ TIMESTAMP first. The session TZ
    # is pinned to UTC (session.py), making the mapping deterministic.
    def _epoch_sec(c):
        return F.unix_timestamp(c.cast("timestamp"))

    def _epoch_us(c):
        return F.unix_micros(c.cast("timestamp"))

    w = F.lit(bucket_sec)
    b_start = F.floor(_epoch_sec(F.col(start)) / w).cast("long")
    b_end = F.floor(_epoch_sec(F.col(end)) / w).cast("long")

    probes = df.select(
        F.col(key).alias("k"),
        F.col(id_col).alias("id_a"),
        F.col(start).alias("sa"),
        F.col(end).alias("ea"),
        F.explode(F.sequence(b_start, b_end)).alias("bucket"),
    )
    cands = df.select(
        F.col(key).alias("k"),
        F.col(id_col).alias("id_b"),
        F.col(start).alias("sb"),
        F.col(end).alias("eb"),
        b_start.alias("bucket"),
    )
    pairs = (
        probes.join(cands, ["k", "bucket"])
        .where(
            (F.col("id_a") != F.col("id_b"))
            & (F.col("sa") < F.col("eb"))
            & (F.col("sb") < F.col("ea"))
        )
        .select(
            F.col("k").alias(key),
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
            (
                _epoch_us(F.least("ea", "eb"))
                - _epoch_us(F.greatest("sa", "sb"))
            ).alias("overlap_us"),
        )
    )
    return pairs.distinct()


def grouped_ewma(
    df: DataFrame,
    key: str,
    order_cols: list[str],
    value_col: str,
    alpha: float = 0.1,
    round_digits: int = 6,
) -> DataFrame:
    """Per-key exponentially-weighted moving average via grouped
    ``applyInPandas`` — the genuinely custom grouped transform slot
    (SURVEY §2.8): the EWMA recurrence ``s_i = α·x_i + (1-α)·s_{i-1}``
    is order-dependent and recursive, which no built-in aggregate or
    window frame expresses (the closed form needs ``(1-α)^-i`` weights
    that overflow for long groups).

    The fold is an explicit Python loop (not pandas ``ewm``) so the
    float operation sequence is exactly ``α·x + (1-α)·s`` per step —
    an oracle folding the same sequence (DuckDB ``list_reduce``)
    produces bit-identical doubles.

    Scale shape: one shuffle on the key; each group crosses to Python
    once as an Arrow batch; state is O(1) per group. Groups = users,
    so skew is bounded by per-user event counts.

    Output: key, n_events, ewma (rounded).
    """
    import pandas as pd

    a, b = float(alpha), 1.0 - float(alpha)
    out_schema = f"{key} bigint, n_events bigint, ewma double"

    def fold(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(order_cols)
        s = None
        for x in pdf[value_col]:
            s = float(x) if s is None else a * float(x) + b * s
        return pd.DataFrame(
            {
                key: [pdf[key].iloc[0]],
                "n_events": [len(pdf)],
                "ewma": [round(s, round_digits) if s is not None else None],
            }
        )

    return df.groupBy(key).applyInPandas(fold, schema=out_schema)


def gap_fill_interpolate(
    df: DataFrame,
    key: str,
    ts_col: str,
    value_col: str,
    round_digits: int = 6,
) -> DataFrame:
    """Time-series gap fill with linear interpolation: bucket to hours,
    generate each key's complete hourly grid between its first and last
    observation, and fill missing buckets by interpolating between the
    nearest observed neighbors; buckets before the first / after the
    last observation stay NULL ('edge'). The resample-and-regularize
    primitive every downstream window/EWMA op wants as input.

    All relational: one agg shuffle on (key, bucket), a per-key grid
    explode (sequence + posexplode — the grid index doubles as the
    interpolation abscissa, so no timezone-dependent epoch math), one
    left join back, and two window passes (last/first ignorenulls) over
    the same (key, idx) ordering — Catalyst plans them on one exchange.
    Per-bucket means use exact DECIMAL sums divided once, so engines
    agree bit-for-bit before interpolation arithmetic (integer-indexed
    IEEE ops) and the final round.

    Returns (key, bucket, idx, value_filled, src) with src in
    ('observed', 'interpolated', 'edge').
    """
    b = F.date_trunc("hour", F.col(ts_col)).alias("b")
    a = df.groupBy(F.col(key), b).agg(
        (
            F.sum(F.col(value_col).cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("v")
    )
    bounds = a.groupBy(key).agg(
        F.min("b").alias("b0"), F.max("b").alias("b1")
    )
    grid = bounds.select(
        key,
        F.posexplode(F.expr("sequence(b0, b1, interval 1 hour)")).alias(
            "idx", "b"
        ),
    )
    j = grid.join(a, [key, "b"], "left")
    prev_w = (
        Window.partitionBy(key)
        .orderBy("idx")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    next_w = (
        Window.partitionBy(key)
        .orderBy("idx")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    obs_idx = F.when(F.col("v").isNotNull(), F.col("idx"))
    w = j.select(
        key,
        "b",
        "idx",
        "v",
        F.last("v", ignorenulls=True).over(prev_w).alias("pv"),
        F.last(obs_idx, ignorenulls=True).over(prev_w).alias("pi"),
        F.first("v", ignorenulls=True).over(next_w).alias("nv"),
        F.first(obs_idx, ignorenulls=True).over(next_w).alias("ni"),
    )
    interp = F.col("pv") + (F.col("nv") - F.col("pv")) * (
        (F.col("idx") - F.col("pi")).cast("double")
        / (F.col("ni") - F.col("pi")).cast("double")
    )
    filled = (
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(F.col("pv").isNotNull() & F.col("nv").isNotNull(), interp)
        .otherwise(F.lit(None))
    )
    src = (
        F.when(F.col("v").isNotNull(), "observed")
        .when(
            F.col("pv").isNotNull() & F.col("nv").isNotNull(), "interpolated"
        )
        .otherwise("edge")
    )
    # truncate (floor at 10^-digits), not round: both engines floor the
    # IDENTICAL double, so the result is bit-deterministic — round()
    # implementations differ at exact .5 boundaries (Spark exact-
    # BigDecimal HALF_UP vs multiply-round), observed as a last-digit
    # flip on interpolated values
    scale = float(10**round_digits)
    return w.select(
        key,
        F.date_format("b", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
        "idx",
        (F.floor(filled * scale) / F.lit(scale)).alias("value_filled"),
        src.alias("src"),
    )
