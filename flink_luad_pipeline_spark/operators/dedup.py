"""Deduplication operators for LLM training-data pipelines.

Four tiers, all shuffle-bounded (candidate generation is always an
equi-join on a bucket key — never a crossJoin), designed so the same
code runs at 100 TB:

- exact:    md5(normalized text) hash-groupBy. One shuffle on a short key.
- minhash:  word-shingles -> k minhashes -> banded LSH -> bucket join ->
            exact-Jaccard verify. Candidate volume is controlled by
            (bands, rows-per-band); verification joins only candidates.
- simhash:  40-bit sign-of-sum signature (portable md5-derived token
            hashes) -> pigeonhole chunk join -> hamming verify via
            bit_count(xor).
- jaccard:  exact n-gram Jaccard via shingle-explode + self-join on the
            shingle (inverted-index join, standard MapReduce shape).

Everything is native pyspark.sql.functions — no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.lambdas import bind
from ..functions.text import (
    text_fingerprint,
    tokenize,
    word_ngrams,
    word_shingles,
)


def exact_duplicates(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup groups: fingerprint -> (keeper=min id, n_dups).

    Returns one row per duplicated fingerprint (groups of size >= 2).
    """
    return (
        df.select(
            F.col(id_col).alias("doc_id"),
            text_fingerprint(F.col(text_col)).alias("fp"),
        )
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("keeper"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .where(F.col("n_docs") >= 2)
    )


def paragraph_dedup(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Paragraph-level exact dedup (the Dolma/C4 line-dedup recipe):
    every newline-delimited, trimmed, non-empty paragraph keeps only
    its globally FIRST occurrence — first = smallest (doc_id, idx)
    lexicographically, the deterministic arrival order — and every
    later identical paragraph is excised. Sits between ll4 (whole-doc
    exact) and ll56 (fixed 10-token segments): the grain real web
    boilerplate repeats at (nav lines, footers, quoted headers), cut
    on the author's own paragraph boundaries.

    Scale: paragraphs hash-group on md5(paragraph) — a fixed 32-char
    key, so the two corpus-sized exchanges never carry arbitrary-length
    paragraph text as the shuffle key (ADVICE r7; digest-equality
    stands in for text equality, the ll4 fingerprint convention) — the
    first-occurrence pick is a min over a (doc_id, idx) struct (no
    window), the survivors join back on the same digest key (shuffle
    reuse) and reassemble per doc with an in-group sort — the ll4
    shape at paragraph grain, no pair join anywhere.

    Returns (doc_id, n_paragraphs, n_removed, cleaned_md5) for every
    input doc; cleaned_md5 = md5 of the kept paragraphs joined by
    newline in original order, NULL when nothing survives (or the doc
    had no non-empty paragraph)."""
    paras = (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.posexplode(F.split(F.col(text_col), "\n")).alias(
                "idx", "para"
            ),
        )
        .select("doc_id", "idx", F.trim(F.col("para")).alias("para"))
        .where(F.length("para") > 0)
        .withColumn("pkey", F.md5("para"))
    )
    first = paras.groupBy("pkey").agg(
        F.min(F.struct(F.col("doc_id"), F.col("idx"))).alias("fst")
    )
    marked = paras.join(first, "pkey").select(
        "doc_id",
        "idx",
        "para",
        (
            (F.col("doc_id") == F.col("fst.doc_id"))
            & (F.col("idx") == F.col("fst.idx"))
        ).alias("is_first"),
    )
    agg = marked.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_paragraphs"),
        F.sum(F.when(F.col("is_first"), 0).otherwise(1))
        .cast("bigint")
        .alias("n_removed"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("is_first"),
                                F.struct("idx", "para"),
                            )
                        )
                    ),
                    lambda p: p["para"],
                ),
                "\n",
            )
        ).alias("cleaned_md5"),
    )
    return (
        df.select(F.col(id_col).alias("doc_id"))
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_paragraphs", F.lit(0))
            .cast("bigint")
            .alias("n_paragraphs"),
            F.coalesce("n_removed", F.lit(0)).cast("bigint").alias(
                "n_removed"
            ),
            F.when(
                F.col("n_paragraphs") > F.col("n_removed"),
                F.col("cleaned_md5"),
            ).alias("cleaned_md5"),
        )
    )


def _spread(df: DataFrame) -> DataFrame:
    """Small-input parallelism guard for the CPU-heavy shingle pass.

    A test-scale corpus arrives in 1-2 parquet row-group partitions,
    which serializes tokenize+ngram+distinct onto 2 of local[32]'s
    cores (measured 10x slowdown at sf0.1). Round-robin the raw
    (id, text) rows up to defaultParallelism when the scan is
    under-partitioned; at cluster scale the scan already carries
    >= cores partitions and this is a no-op — no unconditional
    full-corpus shuffle is introduced."""
    sc = df.sparkSession.sparkContext
    if df.rdd.getNumPartitions() < sc.defaultParallelism:
        return df.repartition(sc.defaultParallelism)
    return df


def _shingled_spread(
    df: DataFrame, id_col: str, text_col: str, k: int
) -> DataFrame:
    """(doc_id, shingles) for the materializing dedup tiers: rebalances
    the raw (id, text) rows FIRST (see _spread) and skips the empty-set
    filter — a size(shingles) > 0 predicate gets pushed below the
    repartition exchange by PushDownPredicates, re-serializing the
    heavy tokenize+ngram+distinct pass onto the scan's 1-2 row-group
    partitions (measured 8x at sf0.1). Callers drop empty-shingle docs
    on the MATERIALIZED arrays instead, where the check is free."""
    return _spread(
        df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    ).select("doc_id", word_shingles(tokenize(F.col("text")), k).alias("shingles"))


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity join (inverted-index shape).

    explode shingles -> self-join on shingle -> |A∩B| per pair ->
    J = inter / (|A| + |B| - inter). The join key is the shingle, so
    cost is Σ (docs-per-shingle)².

    ``max_shingle_df`` is the 100 TB skew guard: shingles appearing in
    more than that many documents (boilerplate/stop-phrases — the hot
    keys whose df² dominates the join) are dropped from the INDEX
    before pair generation, while |A|/|B| keep counting them, so
    surviving pairs' Jaccard only ever *under*-counts the intersection
    (J is a lower bound; a pair sharing rare shingles still surfaces,
    near-identical docs share plenty below any sane cutoff). None (the
    default and the oracle-checked exact path) disables it.

    Returns (doc_a, doc_b, jaccard) with doc_a < doc_b,
    jaccard >= threshold.
    """
    # materialize the tokenize+shingle pass once: it feeds sizes, the
    # df index, and BOTH join sides — without the boundary Catalyst
    # re-runs the heavy explode per consumer (localCheckpoint, not
    # cache: released when dereferenced)
    sh = _shingled_spread(df, id_col, text_col, k).localCheckpoint(
        eager=True
    ).where(F.size("shingles") > 0)
    sizes = sh.select("doc_id", F.size("shingles").alias("n_sh"))
    inv = sh.select("doc_id", F.explode("shingles").alias("shingle"))
    if max_shingle_df is not None:
        rare = (
            inv.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .where(F.col("df") <= max_shingle_df)
            .select("shingle")
        )
        inv = inv.join(rare, "shingle", "left_semi")
    a = inv.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = inv.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.try_divide(
                F.col("inter").cast("double"),
                (F.col("na") + F.col("nb") - F.col("inter")).cast("double"),
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= F.lit(threshold))
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.6,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Asymmetric shingle-containment join: C(a→b) = |S(a)∩S(b)| /
    |S(a)| — "what fraction of a's shingles also appear in b". Jaccard
    (ll5) misses the quote/superset case this exists for: a short
    document wholly embedded in a much longer one has tiny J (the
    union is huge) but containment ≈ 1 in the short→long direction —
    the signal for quotation detection, subset-document pruning, and
    deciding WHICH near-dup to keep (keep the superset).

    Same inverted-index dataflow as ``jaccard_pairs`` (explode →
    shingle equi-join → per-pair intersection count), and the
    intersection is computed ONCE per unordered pair; both directions
    are then derived by dividing by |S(a)| vs |S(b)| — no second join.
    ``max_shingle_df`` is the identical 100 TB boilerplate/skew guard
    (dropped index keys only under-count intersections, so surviving
    containments are lower bounds).

    Returns (doc_a, doc_b, containment): directional rows, doc_a ≠
    doc_b, containment of doc_a IN doc_b, >= threshold.
    """
    # same load-bearing boundary as jaccard_pairs: one tokenize+shingle
    # pass serves sizes, the df index, and both join sides
    sh = _shingled_spread(df, id_col, text_col, k).localCheckpoint(
        eager=True
    ).where(F.size("shingles") > 0)
    sizes = sh.select("doc_id", F.size("shingles").alias("n_sh"))
    inv = sh.select("doc_id", F.explode("shingles").alias("shingle"))
    if max_shingle_df is not None:
        rare = (
            inv.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .where(F.col("df") <= max_shingle_df)
            .select("shingle")
        )
        inv = inv.join(rare, "shingle", "left_semi")
    a = inv.select(F.col("doc_id").alias("u"), "shingle")
    b = inv.select(F.col("doc_id").alias("v"), "shingle")
    inter = (
        a.join(b, "shingle")
        .where(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    su = sizes.select(F.col("doc_id").alias("u"), F.col("n_sh").alias("nu"))
    sv = sizes.select(F.col("doc_id").alias("v"), F.col("n_sh").alias("nv"))
    both = inter.join(su, "u").join(sv, "v")
    directional = both.select(
        F.col("u").alias("doc_a"), F.col("v").alias("doc_b"),
        F.try_divide(F.col("inter").cast("double"), F.col("nu").cast("double"))
        .alias("containment"),
    ).unionAll(
        both.select(
            F.col("v").alias("doc_a"), F.col("u").alias("doc_b"),
            F.try_divide(
                F.col("inter").cast("double"), F.col("nv").cast("double")
            ).alias("containment"),
        )
    )
    return directional.where(F.col("containment") >= F.lit(threshold))


# 40-bit base-hash domain and a prime just below 2^40. With a < 2^22
# and h < 2^40 the affine probe a*h+b stays under 2^62 — no BIGINT
# overflow even under ANSI mode, in Spark or DuckDB.
MINHASH_P = (1 << 40) - 87


def portable_hash40(col: Column) -> Column:
    """40-bit hash: first 10 hex chars of md5, parsed as BIGINT.

    Deliberately *portable*: DuckDB reproduces it exactly
    (md5 + hex parse), which is what lets the whole MinHash-LSH
    pipeline be oracle-checked instead of rows-only. 40 bits is enough
    for shingle hashing (birthday collisions merely perturb MinHash
    estimates identically in both engines).
    """
    return F.conv(F.substring(F.md5(col), 1, 10), 16, 10).cast("bigint")


def fast_hash40(col: Column) -> Column:
    """40-bit hash, FAST variant: xxhash64 folded into [0, 2^40).

    The 100 TB scale path — xxhash64 is a single JVM intrinsic vs
    md5+hex-parse (~3 expression evaluations and a string round-trip
    per shingle). NOT reproducible in DuckDB, so portable_hash40 stays
    the default everywhere an oracle checks values; the pair sets the
    two modes produce agree wherever banding recall does (verification
    is exact Jaccard on the shingle sets, which no hash touches) —
    pinned by tests/test_llm_ops.py.
    """
    return F.pmod(F.xxhash64(col), F.lit(1 << 40))


_HASHERS = {"portable": portable_hash40, "fast": fast_hash40}


def _minhash_signature(base_hashes: Column, num_hashes: int) -> Column:
    """k minhashes: element i is the min over shingles of the affine
    probe ((40503*i+12345)*h + 94261*i+57) % P of each base hash h,
    the unrolled per-i formula every DuckDB oracle mirrors
    (plans/llm_queries.py). An empty array yields P in every element,
    a null array a null signature; a null hash is skipped.

    ``base_hashes`` (typically the md5 transform over the shingle
    array) is bound once as a lambda variable, and the signature is one
    ``aggregate`` per coefficient over it, each folding a running bigint
    min, so no shingle allocates an array. The higher-order functions
    run interpreted and subexpression elimination does not look inside
    them, so without the binding every one of the k folds would
    re-evaluate the hash array's definition. The coefficient index is
    the lambda variable of one ``transform`` over 0..k-1, not k unrolled
    copies of the fold: one expression to interpret instead of k.
    """

    def sig(hs: Column) -> Column:
        def fold(i: Column) -> Column:
            i = i.cast("bigint")
            return F.aggregate(
                hs,
                F.lit(MINHASH_P).cast("bigint"),
                lambda acc, h: F.least(
                    acc, ((40503 * i + 12345) * h + (94261 * i + 57)) % F.lit(MINHASH_P)
                ),
            )

        return F.when(
            hs.isNotNull(),
            F.transform(F.sequence(F.lit(0), F.lit(num_hashes - 1)), fold),
        )

    return bind(base_hashes, sig)


def _band_keys(sig: Column, num_hashes: int, bands: int, hash40) -> Column:
    """The LSH band keys of a signature: an array of ``bands``
    (band, bhash) structs, bhash = hash40 of the band's comma-joined
    rows, for the caller to explode."""
    rows_per_band = num_hashes // bands
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.struct(
            b.alias("band"),
            hash40(
                F.concat_ws(
                    ",",
                    F.transform(
                        F.slice(sig, b * rows_per_band + 1, rows_per_band),
                        lambda h: h.cast("string"),
                    ),
                )
            ).alias("bhash"),
        ),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    max_shingle_df: int | float | None = None,
    hasher: str = "portable",
) -> DataFrame:
    """MinHash + banded LSH near-duplicate pairs, exact-verified.

    shingle -> signature(num_hashes) -> split into ``bands`` bands of
    num_hashes/bands rows -> explode (band_idx, band_hash) -> self-join
    on the band key (candidates collide in >= 1 band) -> verify with
    exact Jaccard and filter >= threshold.

    With 64 hashes / 16 bands (r=4), collision probability at J=0.5 is
    1-(1-0.5^4)^16 ≈ 0.64, at J=0.8 ≈ 0.9996 — tune (bands, num_hashes)
    per target threshold. Verification makes false positives free
    (dropped) and the returned pairs exact; only false *negatives* are
    possible, the standard MinHash recall trade-off.

    ``max_shingle_df`` is the boilerplate-skew guard (the minhash
    analog of jaccard_pairs'): shingles whose document frequency
    exceeds the cutoff — an int, or a float fraction of the corpus row
    count — are removed from each document's shingle SET before
    signatures are computed. Corpus-wide boilerplate (license headers,
    nav chrome) otherwise makes thousands of unrelated documents share
    band hashes, and one such bucket costs |bucket|² candidates.
    Signatures, sizes, and the Jaccard verify all use the filtered
    sets, so the returned jaccard is the exact Jaccard of the
    rare-shingle sets (deterministic — an oracle applying the same
    cutoff reproduces it); documents with no surviving shingles drop
    out. None disables the guard.

    ``hasher``: "portable" (default, oracle-reproducible md5 40-bit)
    or "fast" (xxhash64 — the 100 TB scale path; identical exact-
    verified semantics, different candidate sampling, see fast_hash40).

    Returns (doc_a, doc_b, jaccard).
    """
    sh, banded = _minhash_index(
        df, id_col, text_col, k, num_hashes, bands, max_shingle_df,
        hasher=hasher,
    )
    cand = (
        banded.alias("x")
        .join(banded.alias("y"), ["band", "bhash"])
        .where(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b")
        )
        .distinct()
    )
    return _pair_jaccard(cand, sh).where(F.col("jaccard") >= F.lit(threshold))


def _df_cutoff(sh0: DataFrame, df: DataFrame,
               max_shingle_df: int | float) -> DataFrame:
    """Boilerplate-skew guard: drop shingles whose document frequency
    exceeds the cutoff from every document's shingle set BEFORE
    signatures exist. The hot keys (license headers, nav chrome) are
    what make LSH buckets quadratic; removing them here caps bucket
    occupancy for every downstream consumer. Returns the filtered
    (doc_id, shingles) — docs with no surviving shingles drop out."""
    inv0 = sh0.select("doc_id", F.explode("shingles").alias("shingle"))
    dfs = inv0.groupBy("shingle").agg(F.count(F.lit(1)).alias("sdf"))
    if isinstance(max_shingle_df, float):
        # fraction-of-corpus cutoff: one broadcast row, no collect.
        # Plans as a BNLJ whose build side is the single count row —
        # O(n)·1, not O(n²); the registry-wide no-BNLJ audit
        # recognizes this exact pattern (condition references
        # n_docs) and still rejects any other nested-loop join.
        total = df.agg(F.count(F.lit(1)).alias("n_docs"))
        keep = (
            dfs.crossJoin(F.broadcast(total))
            .where(F.col("sdf") <= F.col("n_docs") * F.lit(max_shingle_df))
            .select("shingle")
        )
    else:
        keep = dfs.where(
            F.col("sdf") <= F.lit(int(max_shingle_df))
        ).select("shingle")
    # the df-cutoff semi-join: partial-agged df counts, then hot
    # shingles never re-enter the index (shingle arrays may come
    # back in any order — every consumer below is order-insensitive)
    return (
        inv0.join(keep, "shingle", "left_semi")
        .groupBy("doc_id")
        .agg(F.collect_list("shingle").alias("shingles"))
    )


def _minhash_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    num_hashes: int,
    bands: int,
    max_shingle_df: int | float | None,
    hasher: str = "portable",
) -> tuple[DataFrame, DataFrame]:
    """Shared signature/band index for the MinHash tiers: returns
    (sh, banded) where sh = (doc_id, shingles, sig) — materialized
    once, see the load-bearing-checkpoint note below — and banded =
    (doc_id, band, bhash), one row per (doc, band). Both the full
    self-join tier and the incremental delta-probe tier build on
    exactly this index, which is what makes their verified pairs
    consistent with each other.

    ``hasher``: "portable" (md5-derived portable_hash40, the default —
    every DuckDB oracle reproduces it bit-exactly) or "fast"
    (xxhash64-derived fast_hash40, the 100 TB path — same banding
    recall characteristics, ~an-order-of-magnitude cheaper per
    shingle, not oracle-reproducible)."""
    hash40 = _HASHERS[hasher]
    sh0 = _shingled_spread(df, id_col, text_col, k)
    if max_shingle_df is not None:
        # The df-stats pass EXPLODES the shingle arrays (twice: the
        # df-count side and the semi-join side), and Generate
        # re-evaluates a computed generator input per OUTPUT row —
        # measured ~25x the one-shot projection cost at sf0.1 — so the
        # arrays are materialized first. This boundary exists only on
        # the cutoff path (a corpus-level statistic inherently needs
        # the full shingle pass before the index can be built); the
        # stats-free path runs tokenize-to-signature as one projection
        # into the single index checkpoint below.
        sh0 = sh0.localCheckpoint(eager=True)
        sh0 = _df_cutoff(sh0, df, max_shingle_df)
    # ONE materialization boundary for the whole index. The signature
    # binds the md5 base-hash array once (see _minhash_signature), so
    # even fully collapsed each shingle is hashed once — no separate
    # base-array checkpoint needed (r4 VERDICT #2: the old two-boundary
    # shape wrote the corpus's biggest column to block storage twice
    # per invocation). The sh boundary itself IS load-bearing: without
    # it Catalyst re-inlines the whole signature expression into every
    # band of the explode below AND into the verification join —
    # observed 60x slowdown at sf0.1. localCheckpoint rather than
    # cache() for the same reason as ll42/ll53/ll55 (SCALE.md round-4
    # notes): a plan-keyed cache() entry silently survives across
    # repeated invocations with an identical plan, so a warmed bench
    # iteration skips the whole index build and the timing measures a
    # warm-cache path; eager localCheckpoint materializes per
    # invocation (honest end-to-end cost) and releases storage on
    # dereference.
    sh = sh0.select(
        "doc_id",
        "shingles",
        _minhash_signature(
            F.transform(F.col("shingles"), hash40), num_hashes
        ).alias("sig"),
    ).localCheckpoint(eager=True).where(F.size("shingles") > 0)
    banded = sh.select(
        "doc_id",
        F.explode(_band_keys(F.col("sig"), num_hashes, bands, hash40)).alias("bk"),
    ).select("doc_id", "bk.band", "bk.bhash")
    return sh, banded


def build_minhash_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    max_shingle_df: int | float | None = None,
    hasher: str = "portable",
) -> tuple[DataFrame, DataFrame]:
    """Public index-build step for the persisted-index dedup flow:
    returns the two materializable artifacts — ``sh`` (doc_id,
    shingles, sig) and ``banded`` (doc_id, band, bhash) — that a
    production pipeline writes to storage once per snapshot and probes
    per batch (``minhash_dedup_incremental(snapshot_index=...)``).
    Both are plain parquet-writable tables. With
    ``max_shingle_df=None`` every artifact is a pure per-document
    function, so a frozen snapshot index unioned with freshly-computed
    delta artifacts is IDENTICAL to indexing snapshot ∪ delta — the
    property that makes the persisted flow's verdicts provably equal to
    the in-memory one's.

    Both artifacts carry the hasher name in COLUMN METADATA
    (``sig``/``bhash`` fields, key ``minhash_hasher``) — Spark persists
    field metadata through parquet round-trips, so a snapshot index
    read back months later still knows which hash built it.
    ``minhash_dedup_incremental`` / ``neardup_probe_stream`` validate
    the tag against their own hasher: band hashes from different
    hashers never collide, so a mismatch silently loses every
    cross-set near-duplicate (zero recall, no error) — the failure
    mode must be loud (ADVICE r5)."""
    sh, banded = _minhash_index(
        df, id_col, text_col, k, num_hashes, bands, max_shingle_df,
        hasher=hasher,
    )
    meta = {"minhash_hasher": hasher}
    sh = sh.withColumn("sig", F.col("sig").alias("sig", metadata=meta))
    banded = banded.withColumn(
        "bhash", F.col("bhash").alias("bhash", metadata=meta)
    )
    return sh, banded


def index_hasher(df: DataFrame, col: str) -> str | None:
    """The ``minhash_hasher`` tag stamped on a persisted index column
    by ``build_minhash_index`` (None for untagged/legacy artifacts).
    Schema-only — reads no data, triggers no job."""
    try:
        meta = df.schema[col].metadata
    except KeyError:
        return None
    return meta.get("minhash_hasher") if meta else None


def _require_index_hasher(df: DataFrame, col: str, expected: str) -> None:
    """Fail loudly when a persisted index was built with a different
    hasher than the probe side will use (ADVICE r5): the band keys
    would never collide across snapshot and delta, so every cross-set
    near-duplicate would be silently missed. Untagged (legacy)
    artifacts pass — the invariant is then the caller's to uphold."""
    tag = index_hasher(df, col)
    if tag is not None and tag != expected:
        raise ValueError(
            f"snapshot index was built with hasher={tag!r} but this"
            f" probe uses hasher={expected!r}: band hashes from"
            " different hashers never collide, so every cross-set"
            " near-duplicate would be silently missed. Rebuild the"
            " index or pass the matching hasher."
        )


def _pair_jaccard(cand: DataFrame, sh: DataFrame) -> DataFrame:
    """Exact-Jaccard verification of candidate (doc_a, doc_b) pairs
    against the filtered shingle sets in ``sh`` — candidates only, the
    corpus is never pairwise-compared. Returns (doc_a, doc_b, jaccard)
    unfiltered; callers apply their threshold."""
    sizes = sh.select("doc_id", F.size("shingles").alias("n_sh"))
    inv = sh.select("doc_id", F.explode("shingles").alias("shingle"))
    inter = (
        cand.join(
            inv.select(F.col("doc_id").alias("doc_a"), "shingle"), "doc_a"
        )
        .join(
            inv.select(F.col("doc_id").alias("doc_b"), "shingle"),
            ["doc_b", "shingle"],
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.try_divide(
                F.col("inter").cast("double"),
                (F.col("na") + F.col("nb") - F.col("inter")).cast("double"),
            ).alias("jaccard"),
        )
    )


def minhash_incremental_pairs(
    snapshot: DataFrame | None,
    delta: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    max_shingle_df: int | float | None = None,
    snapshot_index: tuple[DataFrame, DataFrame] | None = None,
    hasher: str = "portable",
) -> DataFrame:
    """The PAIR LIST of the incremental probe: every exact-verified
    near-dup pair (doc_a, doc_b, jaccard) with doc_a a DELTA document
    and doc_b anything in snapshot ∪ delta — the factored-out candidate
    + verify stages of ``minhash_dedup_incremental``, exposed because
    composed pipelines (ll100's incremental curation) need the pairs
    (to run connected components over the delta-touching subgraph),
    not just the greedy per-doc verdicts. Snapshot × snapshot
    candidates are never generated; delta-delta pairs appear in BOTH
    directions. With ``snapshot_index`` the snapshot corpus is never
    touched (``snapshot`` may be None)."""
    did = delta.select(F.col(id_col), F.col(text_col))
    if snapshot_index is not None:
        if max_shingle_df is not None:
            raise ValueError(
                "snapshot_index requires max_shingle_df=None: a df-cutoff"
                " is a corpus-level statistic, so a frozen snapshot index"
                " cannot reproduce it over snapshot ∪ delta"
            )
        sh_s, banded_s = snapshot_index
        _require_index_hasher(banded_s, "bhash", hasher)
        _require_index_hasher(sh_s, "sig", hasher)
        sh_d, banded_d = _minhash_index(
            did, id_col, text_col, k, num_hashes, bands, None,
            hasher=hasher,
        )
        sh = sh_s.unionByName(sh_d)
        banded = banded_s.unionByName(banded_d)
    else:
        if snapshot is None:
            raise ValueError("snapshot frame required without snapshot_index")
        sid = snapshot.select(F.col(id_col), F.col(text_col))
        sh, banded = _minhash_index(
            sid.unionAll(did), id_col, text_col, k, num_hashes, bands,
            max_shingle_df, hasher=hasher,
        )
    delta_ids = did.select(F.col(id_col).alias("doc_id"))
    banded_delta = banded.join(delta_ids, "doc_id", "left_semi")
    cand = (
        banded_delta.alias("x")
        .join(banded.alias("y"), ["band", "bhash"])
        .where(F.col("x.doc_id") != F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b")
        )
        .distinct()
    )
    return _pair_jaccard(cand, sh).where(F.col("jaccard") >= F.lit(threshold))


def minhash_dedup_incremental(
    snapshot: DataFrame,
    delta: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    max_shingle_df: int | float | None = None,
    snapshot_index: tuple[DataFrame, DataFrame] | None = None,
    hasher: str = "portable",
) -> DataFrame:
    """Incremental near-dup dedup: a verdict per DELTA document against
    the snapshot corpus plus the delta batch itself — WITHOUT ever
    generating snapshot x snapshot candidates. This is how a 100 TB
    corpus absorbs a daily batch: the snapshot's band index is a
    materialized table probed by the delta's bands (an equi-join on
    (band, bhash) whose left side is only the batch), so per-batch cost
    is O(delta signatures + bucket collisions), not O(corpus²).

    A delta doc is dropped iff it has a verified near-dup in the
    snapshot, or an earlier (lower-id) near-dup within its own batch —
    the same greedy keep-lowest rule as the semantic tier, so no
    iteration. dup_of is the smallest such neighbor, NULL for kept
    docs. Signatures (and the boilerplate df-cutoff, when enabled) are
    computed over snapshot ∪ delta, so the verdicts agree exactly with
    what the full self-join tier would decide about these pairs; in
    production the snapshot's index and df-stats are frozen
    materializations and only the delta side is computed per batch.

    ``snapshot_index`` is the persisted-index production path: pass the
    snapshot's (sh, banded) artifacts (``build_minhash_index``, e.g.
    read back from parquet) and ONLY the delta's artifacts are computed
    this batch — the snapshot corpus is never re-tokenized. Requires
    ``max_shingle_df=None``: with no corpus-level stats every artifact
    is a per-document function, so frozen-index verdicts are provably
    identical to the from-scratch ones.

    Returns (doc_id, dropped, dup_of) — one row per delta document.
    """
    did = delta.select(F.col(id_col), F.col(text_col))
    delta_ids = did.select(F.col(id_col).alias("doc_id"))
    pairs = minhash_incremental_pairs(
        snapshot, delta, id_col, text_col, k, num_hashes, bands, threshold,
        max_shingle_df, snapshot_index, hasher,
    )
    # doc_b disqualifies doc_a iff it's a snapshot doc or an earlier
    # batch-mate; delta-delta candidates exist in both directions, so
    # no pair is lost to the asymmetry
    is_delta_b = pairs.join(
        delta_ids.select(F.col("doc_id").alias("doc_b")).withColumn(
            "b_in_delta", F.lit(True)
        ),
        "doc_b",
        "left",
    )
    verdicts = (
        is_delta_b.where(
            F.col("b_in_delta").isNull() | (F.col("doc_b") < F.col("doc_a"))
        )
        .groupBy(F.col("doc_a").alias("doc_id"))
        .agg(F.min("doc_b").alias("dup_of"))
    )
    return delta_ids.join(verdicts, "doc_id", "left").select(
        "doc_id",
        F.col("dup_of").isNotNull().alias("dropped"),
        "dup_of",
    )


def simhash(token_hashes: Column, bits: int = 40) -> Column:
    """SimHash signature over pre-hashed tokens: each of the ``bits``
    hash bits votes ±1 per token; signature bit = sign of the vote sum.
    Returns BIGINT.

    Takes the per-token hash array (portable_hash40 — callers
    materialize it ONCE so the md5 isn't re-evaluated per bit), default
    width 40 bits to match that hash. Portable: DuckDB reproduces the
    identical signature, so simhash pairs are oracle-checked. Built as
    Σ_b (vote_b > 0) * 2^b with shiftright/bitwise-and — native
    expressions (the per-bit ``aggregate`` runs interpreted), no UDF.
    """
    def vote_fn(b: int):
        # closure factory: a default-arg lambda would surface as a
        # 3-parameter lambda to Spark's higher-order-function binder
        def merge(acc, h):
            return acc + F.when(
                F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1
            ).otherwise(-1)

        return merge

    votes = [
        F.aggregate(token_hashes, F.lit(0), vote_fn(b)) for b in range(bits)
    ]
    out = F.lit(0).cast("long")
    for b, v in enumerate(votes):
        # bit 63 is the sign bit of a signed long: adding -(2**63) sets
        # it without overflowing ANSI arithmetic
        const = 2**b if b < 63 else -(2**63)
        out = out + F.when(v > 0, F.lit(const).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return out


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    chunks: int = 4,
    bits: int = 40,
) -> DataFrame:
    """SimHash near-dup pairs: pigeonhole banding on bits/chunks-wide
    chunks (hamming <= 3 => at least one of 4 chunks identical), then
    exact hamming distance via bit_count(a XOR b). Returns
    (doc_a, doc_b, hamming)."""
    assert chunks > max_hamming, "pigeonhole needs chunks > max_hamming"
    width = bits // chunks
    hashed = df.select(
        F.col(id_col).alias("doc_id"),
        F.transform(tokenize(F.col(text_col)), portable_hash40).alias("th"),
    ).localCheckpoint(eager=True)
    # materialization boundaries keep Catalyst from re-inlining (a) the
    # md5 token hashes into all `bits` vote aggregates and (b) the
    # whole signature into every chunk of the explode below;
    # localCheckpoint, not cache(), so repeated invocations can't reuse
    # a plan-keyed cache entry (see _minhash_index)
    sh = hashed.select(
        "doc_id", simhash(F.col("th"), bits).alias("sh")
    ).localCheckpoint(eager=True)
    mask = (1 << width) - 1
    banded = sh.select(
        "doc_id",
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftrightunsigned(F.col("sh"), c * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("ckey"),
                    )
                    for c in range(chunks)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "sh", "bk.chunk", "bk.ckey")
    pairs = (
        banded.alias("x")
        .join(banded.alias("y"), ["chunk", "ckey"])
        .where(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("x.sh").bitwiseXOR(F.col("y.sh"))
            ).alias("hamming"),
        )
        .distinct()
    )
    return pairs.where(F.col("hamming") <= max_hamming)


# ---------------------------------------------------------------------------
# Winnowing (Schleimer/Wilkerson/Aiken, SIGMOD'03) — substring-level
# fingerprints for containment/plagiarism-style overlap detection
# ---------------------------------------------------------------------------

_WIN_POS_CAP = 1 << 20  # > max token position in any sane document
_WIN_SHIFT = 1 << 21


def winnowing_fingerprints(
    df: DataFrame, id_col: str, text_col: str, k: int = 4, window: int = 4
) -> DataFrame:
    """Winnowing document fingerprints: hash every word k-gram, slide a
    window of ``window`` consecutive hashes, select the minimum of each
    window (rightmost on ties — the canonical choice, so a shared
    substring yields the same selections in both documents), and dedup.
    Guarantees any shared run of ~window+k-1 tokens contributes at
    least one common fingerprint, at an expected density of 2/(window+1)
    fingerprints per token — the sublinear substring-dedup signal the
    full-text tiers (ll4-ll7) can't provide.

    The rightmost-min argmin is encoded arithmetically —
    hash * 2^21 + (2^20 - pos) minimized over the frame — so the whole
    selection is one codegen'd window aggregate over a (doc_id, pos)
    frame: one shuffle on doc_id, no UDFs, and an oracle can replay the
    identical integers. Returns (doc_id, fp_hash, fp_pos) distinct.
    """
    grams = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(word_ngrams(tokenize(F.col(text_col)), k)).alias(
            "pos", "gram"
        ),
    )
    combined = portable_hash40(F.col("gram")) * F.lit(_WIN_SHIFT) + (
        F.lit(_WIN_POS_CAP) - F.col("pos")
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(-(window - 1), 0)
    )
    return (
        grams.select("doc_id", "pos", combined.alias("c"))
        .withColumn("selc", F.min("c").over(w))
        .where(F.col("pos") >= window - 1)  # complete windows only
        .select(
            "doc_id",
            F.shiftright("selc", 21).alias("fp_hash"),
            (F.lit(_WIN_POS_CAP) - F.col("selc") % F.lit(_WIN_SHIFT)).alias(
                "fp_pos"
            ),
        )
        .distinct()
    )


def winnowing_overlap_pairs(
    fps: DataFrame, min_shared: int = 2, max_fp_df: int | None = 50
) -> DataFrame:
    """Cross-document overlap from winnowing fingerprints: documents
    sharing >= ``min_shared`` distinct fingerprint hashes, with the
    shared count. ``max_fp_df`` is the familiar hot-key guard (cf. the
    Jaccard/MinHash tiers): a fingerprint present in more than that
    many documents (ubiquitous boilerplate) is excluded from pairing,
    bounding any bucket's contribution at max_fp_df². Returns
    (doc_a, doc_b, n_shared)."""
    fp = fps.select("doc_id", "fp_hash").distinct()
    if max_fp_df is not None:
        keep = (
            fp.groupBy("fp_hash")
            .agg(F.count(F.lit(1)).alias("fdf"))
            .where(F.col("fdf") <= F.lit(int(max_fp_df)))
            .select("fp_hash")
        )
        fp = fp.join(keep, "fp_hash", "left_semi")
    a = fp.select(F.col("doc_id").alias("doc_a"), "fp_hash")
    b = fp.select(F.col("doc_id").alias("doc_b"), "fp_hash")
    return (
        a.join(b, "fp_hash")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= F.lit(int(min_shared)))
    )


def ngram_span_coverage(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    min_count: int = 2,
) -> DataFrame:
    """Duplicate n-gram SPAN coverage (the Lee et al. "Deduplicating
    Training Data" unit): for every document, the fraction of its
    tokens covered by some word n-gram that occurs >= min_count times
    anywhere in the corpus (other documents or repeats within the same
    one). Document-level tiers (exact/minhash/simhash) can't see a
    boilerplate paragraph pasted into otherwise-distinct documents;
    this is the span-level signal that drives span removal / doc
    down-weighting.

    Shape (all shuffle-bounded, no crossJoin): positional n-grams via
    sequence+transform (narrow; ``word_ngrams`` binds the token array
    once, since the transform runs interpreted) -> groupBy(gram) count
    with map-side partial agg -> semi-join flagged grams back (inverted-
    index equi-join, the ll20 shape) -> covered token positions via
    sequence-explode + distinct (one doc_id-keyed shuffle, cardinality
    <= corpus token count) -> per-doc count. Returns
    (doc_id, n_tokens, covered_tokens, dup_ratio).
    """
    base = df.select(
        F.col(id_col).alias("doc_id"), tokenize(F.col(text_col)).alias("toks")
    ).select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        word_ngrams(F.col("toks"), n).alias("grams"),
    )
    flat = base.select(
        "doc_id", F.posexplode("grams").alias("pos", "gram")
    )
    flagged = (
        flat.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") >= F.lit(int(min_count)))
        .select("gram")
    )
    covered = (
        flat.join(flagged, "gram", "left_semi")
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(n - 1))
            ).alias("tp"),
        )
        .distinct()
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("covered"))
    )
    return (
        base.select("doc_id", "n_tokens")
        .join(covered, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            F.coalesce(F.col("covered"), F.lit(0))
            .cast("bigint")
            .alias("covered_tokens"),
            F.when(
                F.col("n_tokens") > 0,
                F.round(
                    F.coalesce(F.col("covered"), F.lit(0))
                    / F.col("n_tokens").cast("double"),
                    6,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("dup_ratio"),
        )
    )


def remove_repeated_segments(
    df: DataFrame,
    id_col: str,
    text_col: str,
    seg_tokens: int = 10,
    min_count: int = 2,
) -> DataFrame:
    """Repeated-segment REMOVAL (the transform behind C4's duplicate-
    line drop and Lee et al.'s repeated-span excision): cut each
    document's token stream into non-overlapping ``seg_tokens``-token
    segments, count exact segment occurrences corpus-wide, DELETE every
    segment occurring >= ``min_count`` times from every document, and
    reassemble the survivors in order. Unlike the document-level tiers
    (drop whole near-dup docs) this cleans INSIDE documents — planted
    copies lose all their segments (both instances), boilerplate
    paragraphs vanish while their host docs survive.

    Scale shape: segmentation is narrow (sequence + slice over the
    projected token column ``t``, which the interpreted transform reads
    as an attribute, so it is never re-tokenized per segment); the
    segment count is one partial-agged shuffle on segment text
    (keys = distinct segments, not the corpus); the drop decision joins
    back on the segment key; reassembly is one doc-keyed grouped
    ``array_sort(collect_list)`` — the a7/o1 holistic-agg shape. Output
    carries an md5 of the cleaned text, not the text itself, so
    value-checking never hauls the corpus through the comparator.

    Returns (doc_id, n_segments, n_dropped, clean_md5) — clean_md5 =
    md5 of the surviving segments joined by single spaces ('' when
    everything dropped).
    """
    toks = df.select(
        F.col(id_col).alias("doc_id"), tokenize(F.col(text_col)).alias("t")
    )
    segs = toks.select(
        "doc_id",
        F.posexplode(
            F.when(
                F.size("t") > 0,
                F.transform(
                    F.sequence(
                        F.lit(0),
                        F.floor((F.size("t") - 1) / seg_tokens).cast("int"),
                    ),
                    lambda i: F.array_join(
                        F.slice(F.col("t"), i * seg_tokens + 1, seg_tokens),
                        " ",
                    ),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("seg_id", "seg"),
    )
    hot = (
        segs.groupBy("seg")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= min_count)
        .select("seg")
    )
    marked = segs.join(
        hot.withColumn("dropped", F.lit(True)), "seg", "left"
    ).select(
        "doc_id",
        "seg_id",
        "seg",
        F.coalesce("dropped", F.lit(False)).alias("dropped"),
    )
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.sum(F.when(F.col("dropped"), 1).otherwise(0)).alias("n_dropped"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.when(
                                    ~F.col("dropped"),
                                    F.struct(F.col("seg_id"), F.col("seg")),
                                )
                            )
                        ),
                        lambda s: s["seg"],
                    ),
                    " ",
                )
            ).alias("clean_md5"),
        )
        .select(
            "doc_id",
            F.col("n_segments").cast("bigint").alias("n_segments"),
            F.col("n_dropped").cast("bigint").alias("n_dropped"),
            "clean_md5",
        )
    )


def _gram_hasher(hasher: str):
    """Gram-key hash for the ExactSubstr tiers. "portable": 40-bit
    md5-derived (oracle-reproducible; at corpus scale — billions of
    distinct grams — birthday collisions against 2^40 keys make a few
    false shared-gram positions statistically expected, perturbing
    span boundaries slightly). "fast": FULL-WIDTH xxhash64 — 2^64 key
    space pushes the collision bound past any real corpus, and it is
    the cheap hash; the 100 TB default (ADVICE r5)."""
    if hasher == "fast":
        # a lambda, not F.xxhash64 itself: the higher-order-function
        # binder rejects VAR_POSITIONAL callables
        return lambda g: F.xxhash64(g)
    return _HASHERS[hasher]


def gram_doc_counts(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_len: int = 8,
    hasher: str = "portable",
) -> DataFrame:
    """Per-gram distinct-document counts over the same stride-1
    ``min_len``-gram hash table ``cross_doc_repeated_spans`` builds —
    the PERSISTABLE ExactSubstr state (g, nd): counts over disjoint
    corpora are ADDITIVE (distinct docs can't repeat across disjoint
    doc-id sets), so a frozen snapshot count table plus a fresh delta
    count table reproduces the union's shared-gram set exactly — the
    property the incremental curation pipeline (ll100) rests on, the
    gram-grain analog of ``build_minhash_index``'s frozen artifacts.
    One narrow gram pass + one gram-keyed map-side-combined count."""
    gram_hash = _gram_hasher(hasher)
    return (
        _spread(
            df.select(
                F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
            )
        )
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    word_ngrams(tokenize(F.col("text")), min_len), gram_hash
                )
            ).alias("g"),
        )
        .groupBy("g")
        .agg(F.count_distinct("doc_id").alias("nd"))
    )


def cross_doc_repeated_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_len: int = 8,
    min_docs: int = 2,
    hasher: str = "portable",
    snapshot_gram_counts: DataFrame | None = None,
) -> DataFrame:
    """Cross-document repeated-substring spans — the ExactSubstr dedup
    tier (Lee et al. 2022, "Deduplicating Training Data Makes Language
    Models Better"): per document, every MAXIMAL token span all of
    whose length-``min_len`` windows also occur in at least
    ``min_docs`` distinct documents. ll56 removes segments repeated
    ANYWHERE (including within one doc) on fixed boundaries; this tier
    finds arbitrary-offset runs shared ACROSS documents — the licence
    block pasted mid-file, the quoted paragraph — exactly, not
    fingerprint-sampled: any shared substring of >= min_len tokens is
    fully covered by shared min_len-grams, so reported spans are exact
    maximal unions (winnowing's sparse anchors would only approximate
    the boundaries). "Exact" is up to gram-HASH collisions: the
    default portable 40-bit key is oracle-reproducible but at
    billions of distinct grams birthday collisions produce occasional
    false shared positions — pass ``hasher="fast"`` (full-width
    xxhash64, 2^64 key space) on the scale path to push that bound
    past any real corpus (ADVICE r5).

    Dataflow (no pair join anywhere — candidate volume is POSITIONS,
    never doc pairs, so a boilerplate gram shared by a million
    documents costs a million linear rows, not a trillion pairs):
    one narrow pass computes each doc's stride-1 gram-hash array
    (40-bit portable hash, materialized — the array feeds one explode,
    and keeping it out of the scan keeps inferred generate filters
    from re-running tokenize there on sessions without the
    InferFiltersFromGenerate exclusion); positions shuffle once on the
    gram hash for a distinct-doc count; shared positions semi-join
    back; one gaps-and-islands window per doc (lag + running sum)
    merges consecutive positions into maximal spans.

    Returns (doc_id, span_start, span_end, span_tokens): 0-based
    inclusive token offsets, span_tokens = span_end - span_start + 1
    >= min_len. Docs with no shared spans are absent.

    ``snapshot_gram_counts`` is the INCREMENTAL path (ll100): a frozen
    (g, nd) table from ``gram_doc_counts`` over a disjoint snapshot
    corpus; a gram is then shared when its ``df``-side distinct-doc
    count PLUS the snapshot count reaches ``min_docs`` — exactly the
    union corpus's verdict for every gram present in ``df`` (disjoint
    doc-id sets make the counts additive), with only ``df`` tokenized.
    """
    gram_hash = _gram_hasher(hasher)
    gh = (
        _spread(
            df.select(
                F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
            )
        )
        .select(
            "doc_id",
            F.transform(
                word_ngrams(tokenize(F.col("text")), min_len), gram_hash
            ).alias("ghs"),
        )
        .localCheckpoint(eager=True)
    )
    grams = gh.select("doc_id", F.posexplode("ghs").alias("pos", "g"))
    own = grams.groupBy("g").agg(F.count_distinct("doc_id").alias("nd"))
    if snapshot_gram_counts is not None:
        own = own.join(
            snapshot_gram_counts.select(
                "g", F.col("nd").alias("nd_snap")
            ),
            "g",
            "left",
        ).select(
            "g",
            (F.col("nd") + F.coalesce("nd_snap", F.lit(0))).alias("nd"),
        )
    shared = own.where(F.col("nd") >= F.lit(int(min_docs))).select("g")
    hits = grams.join(shared, "g", "left_semi").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    islands = hits.withColumn(
        "brk",
        F.when(F.col("pos") - F.lag("pos").over(w) == 1, 0).otherwise(1),
    ).withColumn("island", F.sum("brk").over(w))
    return (
        islands.groupBy("doc_id", "island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(min_len - 1)).alias("span_end"),
        )
        .select(
            "doc_id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias(
                "span_tokens"
            ),
        )
    )


def gram_duplication_profile(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_len: int = 8,
    min_docs: int = 2,
    hasher: str = "portable",
) -> DataFrame:
    """Per-document duplication profile over the same stride-1 gram
    table as ``cross_doc_repeated_spans``: what fraction of a doc's
    length-``min_len`` token windows also occur in >= ``min_docs``
    distinct documents. The scalar the span tier's threshold decisions
    are made from — Lee et al. report corpora where >10% of tokens sit
    in cross-doc repeats; this measures exactly that per document, so
    a pipeline can rank documents by contamination before deciding to
    excise spans (ll65) or drop whole docs (ll4-ll7).

    Same scale shape as ll65: positions only, no pair join — one
    narrow gram-hash pass (materialized, explode-input rule), one
    distinct-doc count shuffled on the gram key, one semi-free
    aggregation back to doc grain. ``hasher``: "portable" (40-bit,
    oracle-reproducible; slight dup_ratio inflation possible from
    birthday collisions at billions of distinct grams) or "fast"
    (full-width xxhash64 — the collision-safe 100 TB path, ADVICE r5).

    Returns (doc_id, n_grams, n_shared, dup_ratio) for every doc with
    at least one gram; dup_ratio = n_shared / n_grams rounded to 6.
    """
    gram_hash = _gram_hasher(hasher)
    gh = (
        _spread(
            df.select(
                F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
            )
        )
        .select(
            "doc_id",
            F.transform(
                word_ngrams(tokenize(F.col("text")), min_len), gram_hash
            ).alias("ghs"),
        )
        .localCheckpoint(eager=True)
    )
    grams = gh.select("doc_id", F.explode("ghs").alias("g"))
    shared = (
        grams.groupBy("g")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .where(F.col("nd") >= F.lit(int(min_docs)))
        .select("g", F.lit(1).alias("is_shared"))
    )
    return (
        grams.join(shared, "g", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.coalesce("is_shared", F.lit(0)))
            .cast("bigint")
            .alias("n_shared"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_shared",
            F.round(
                F.col("n_shared") / F.col("n_grams"), 6
            ).alias("dup_ratio"),
        )
    )


def minhash_estimate_calibration(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    max_shingle_df: int | float | None = None,
    hasher: str = "portable",
) -> DataFrame:
    """MinHash estimator calibration — the dedup-tier analog of the ANN
    recall loop (ll52): for every LSH *candidate* pair (pre-threshold),
    the signature estimate of Jaccard (fraction of equal minhash
    components) next to the exact shingle-set Jaccard and their
    absolute error. This is the measurement a pipeline runs before
    trusting signature-only dedup at scale (skipping exact
    verification saves the shingle-set join, but only if the estimator
    error at the chosen (num_hashes, bands) is acceptably small —
    E[err] ~ 1/sqrt(num_hashes)).

    Candidates come from the same banded index as minhash_lsh_pairs
    (no threshold filter), so the frame is exactly the population the
    verify stage would score. Estimate = Σ[sig_a_i = sig_b_i] / k over
    the signature arrays (one zip_with/aggregate pass, multiples of
    1/num_hashes are exact in 6dp for num_hashes = 64); exact Jaccard
    via array_intersect on the df-filtered shingle sets. All hashes
    portable, so every column is oracle-reproducible.

    Returns (doc_a, doc_b, est_jaccard, exact_jaccard, abs_err).
    """
    sh, banded = _minhash_index(
        df, id_col, text_col, k, num_hashes, bands, max_shingle_df,
        hasher=hasher,
    )
    cand = (
        banded.alias("x")
        .join(banded.alias("y"), ["band", "bhash"])
        .where(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b")
        )
        .distinct()
    )
    a = sh.select(
        F.col("doc_id").alias("doc_a"),
        F.col("shingles").alias("sh_a"),
        F.col("sig").alias("sig_a"),
    )
    b = sh.select(
        F.col("doc_id").alias("doc_b"),
        F.col("shingles").alias("sh_b"),
        F.col("sig").alias("sig_b"),
    )
    eq = F.aggregate(
        F.zip_with(
            "sig_a",
            "sig_b",
            lambda x, y: F.when(x == y, F.lit(1)).otherwise(F.lit(0)),
        ),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    i = F.size(F.array_intersect("sh_a", "sh_b"))
    est = F.round(eq / F.lit(float(num_hashes)), 6)
    exact = F.round(i / (F.size("sh_a") + F.size("sh_b") - i), 6)
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            est.alias("est_jaccard"),
            exact.alias("exact_jaccard"),
            F.round(F.abs(est - exact), 6).alias("abs_err"),
        )
    )


def excise_repeated_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_len: int = 8,
    min_docs: int = 2,
    hasher: str = "portable",
    emit: str = "md5",
    snapshot_gram_counts: DataFrame | None = None,
) -> DataFrame:
    """The REMOVAL step of the ExactSubstr tier (Lee et al. 2022,
    §"substring deduplication"): take ``cross_doc_repeated_spans``'s
    maximal cross-document spans and materialize the cleaned corpus —
    every token inside any span is excised, the survivors are
    reassembled in order. ll56 does this for fixed-boundary segments;
    this is the arbitrary-offset completion, the operator a production
    pipeline actually runs after measuring with ll65/ll68.

    Scale shape: the span tier's audited positions-only dataflow, plus
    one covered-position explode (linear in span tokens), one
    (doc, idx) anti-join, and one per-doc ordered reassembly
    (sort_array(collect_list) — in-group sort, no global sort). The
    reassembled text is emitted as an md5 digest, not the string: at
    corpus scale the cleaned text is written to a sink, while the
    digest is what cross-engine verification hashes.

    Returns (doc_id, n_tokens, n_removed, cleaned_md5) for every doc
    with >= 1 token; cleaned_md5 is md5 of the space-joined surviving
    tokens, NULL when nothing survives. ``emit="text"`` returns the
    space-joined surviving tokens themselves as ``cleaned_text``
    instead of the digest — the form a composed pipeline (ll94) feeds
    to downstream text-scoring stages. ``snapshot_gram_counts`` is the
    incremental path (see ``cross_doc_repeated_spans``): spans are
    decided against frozen snapshot counts plus ``df``'s own, with
    only ``df`` tokenized.

    Precondition: ``id_col`` is unique in ``df``. The per-doc counts
    are joined back per input row, so a repeated id yields duplicate
    output rows whose ``n_removed`` mixes the copies' counts (it can go
    negative). Every caller passes a frame keyed by doc id."""
    if emit not in ("md5", "text"):
        raise ValueError(f"emit must be 'md5' or 'text', got {emit!r}")
    spans = cross_doc_repeated_spans(
        df, id_col, text_col, min_len=min_len, min_docs=min_docs,
        hasher=hasher, snapshot_gram_counts=snapshot_gram_counts,
    )
    covered = spans.select(
        "doc_id",
        F.explode(
            F.sequence(F.col("span_start"), F.col("span_end"))
        ).alias("idx"),
    ).distinct()
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(tokenize(F.col(text_col))).alias("idx", "tok"),
    )
    kept = toks.join(covered, ["doc_id", "idx"], "left_anti")
    # per-doc token count as a NARROW projection (guide §2.4, r14):
    # size(tokenize(text)) is exactly the posexplode row count
    # (tokenize filters empty artifacts), and the > 0 filter reproduces
    # the groupBy's docs-with->=1-token universe (NULL text sizes to
    # -1) — same rows, same values, one fewer tokenize pass and one
    # fewer exchange per excise call
    counts = df.select(
        F.col(id_col).alias("doc_id"),
        F.size(tokenize(F.col(text_col))).cast("bigint").alias("n_tokens"),
    ).where(F.col("n_tokens") > 0)
    body = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("idx", "tok"))),
            lambda p: p["tok"],
        ),
        " ",
    )
    out_col = "cleaned_md5" if emit == "md5" else "cleaned_text"
    reassembled = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_kept"),
        (F.md5(body) if emit == "md5" else body).alias(out_col),
    )
    return counts.join(reassembled, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        (F.col("n_tokens") - F.coalesce("n_kept", F.lit(0)))
        .cast("bigint")
        .alias("n_removed"),
        out_col,
    )
