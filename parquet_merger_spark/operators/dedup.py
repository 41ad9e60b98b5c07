"""Deduplication operators for large-scale training-data pipelines.

Beyond the reference surface (it has no data-value dedup; its only distinct
is on registered folders, src/main.rs:118): exact, MinHash-LSH, SimHash,
and n-gram-Jaccard near-dup.  Scans, joins, and shuffles are JVM-side
built-ins (``pyspark.sql.functions``); the per-document signature math
(minhash minima, simhash bit votes) runs in Arrow-batched numpy Pandas
UDFs — higher-order expression lambdas never enter whole-stage codegen,
and the vectorized path measured ~10x faster at sf0.1 (still row-local:
zero shuffle, arbitrarily partitionable).

Scale design (100 TB):
- exact dedup: hash-partitioned window/groupBy on the key — one shuffle,
  AQE handles skew.
- MinHash/SimHash: signatures are narrow (k longs per doc); the candidate
  join is an equi-join on (band_id, band_hash) buckets — shuffle size
  O(docs x bands), never O(docs^2).  Verification joins back only the
  candidate pairs.
- All hash functions are ``xxhash64`` with per-row-index salts —
  deterministic across runs/executors, no RNG state.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from parquet_merger_spark.barrier import materialize, materialize_lazy
from parquet_merger_spark.partitioning import fan_out


def tokens_col(text: Column | str, sep: str = " ") -> Column:
    return F.split(text, sep)


def exact_dedup(df: DataFrame, key_cols: list[str], order_col: str) -> DataFrame:
    """Keep exactly one row per key (the minimum ``order_col`` row) —
    deterministic, unlike ``dropDuplicates`` whose survivor depends on
    partition order.  One shuffle on the key.

    The window order is made TOTAL by appending every remaining
    ORDERABLE column after ``order_col``: rows tying on ``order_col``
    (same crawl timestamp, say) would otherwise be ranked by
    partition-arrival order — precisely the nondeterminism this operator
    exists to remove.  Map-typed columns (and containers holding maps)
    are skipped — Spark rejects them in an order specification
    (EXPRESSION_TYPE_IS_NOT_ORDERABLE), and a caller whose rows tie on
    every orderable column AND differ only inside a map keeps an
    arbitrary-but-single survivor among those residual ties.  Rows
    identical in every column remain interchangeable (either one IS the
    same surviving row).  The payload columns do enter the per-key sort
    key; when that cost matters, pre-project a narrower frame or make
    ``order_col`` unique upstream."""
    from pyspark.sql import types as T

    def _orderable(dt) -> bool:
        if isinstance(dt, T.MapType):
            return False
        if isinstance(dt, T.ArrayType):
            return _orderable(dt.elementType)
        if isinstance(dt, T.StructType):
            return all(_orderable(f.dataType) for f in dt.fields)
        return True

    tiebreak = [
        f.name
        for f in df.schema.fields
        if f.name not in key_cols
        and f.name != order_col
        and _orderable(f.dataType)
    ]
    w = Window.partitionBy(*key_cols).orderBy(order_col, *tiebreak)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def _distinct_shingle_hashes(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_words: int,
    fan_out_input: bool = True,
) -> DataFrame:
    """(id, sh_hashes): distinct word-shingle identities as LONGS, built
    WITHOUT materializing shingle strings — hash each token once, then
    hash the n adjacent token-hashes per gram (``xxhash64(h_i, .., h_j)``
    is order-sensitive, so "a b" != "b a").  Skipping the concat-string +
    string-rehash of a string-gram build nearly halves the
    signature pipeline's scan stage (measured at sf0.1).  Gram identity
    is exact up to xxhash64 collisions (~2^-64), same contract the
    downstream Jaccard verification already relies on.

    ``__th`` is materialized as its own column on purpose: each gram
    references it ``shingle_words`` times, and CollapseProject keeps
    multi-referenced non-cheap aliases in their own projection — inlined,
    the token array would be re-hashed once per gram.

    The input is :func:`~parquet_merger_spark.partitioning.fan_out`
    spread first: gram hashing is the CPU-heavy row-local stage of every
    consumer (minhash signatures, the exact-Jaccard inverted index, the
    contamination probes), and a single-row-group corpus file otherwise
    pins the whole build to ONE task (guide §2.5; measured at sf0.1:
    6.3s -> 1.2s for the downstream signature stage).  At scale the
    fan-out is a structural no-op (scan splits >= cores).
    ``fan_out_input=False`` opts out for callers where the input is
    latency-bound rather than throughput-bound (the streaming
    micro-batch dedup: a per-batch repartition added ~300ms/batch for
    batch-sized kernels — measured in STREAM_LATENCY)."""
    d = (fan_out(df) if fan_out_input else df).withColumn(
        "__th", F.transform(tokens_col(text_col), lambda t: F.xxhash64(t))
    )
    th = F.col("__th")
    num = F.size(th) - (shingle_words - 1)
    gram = lambda i: F.xxhash64(  # noqa: E731
        *[F.element_at(th, i + j) for j in range(shingle_words)]
    )
    grams = F.when(
        num >= 1, F.transform(F.sequence(F.lit(1), num), gram)
    ).otherwise(F.array().cast("array<bigint>"))
    return d.select(F.col(id_col), F.array_distinct(grams).alias("sh_hashes"))


# Fixed multiply-add constants for the k universal hash functions
# h_i(x) = (A[i]*x + C[i]) mod 2^64 (odd A => bijective; the MIN is taken
# in uint64 order, where the well-mixed HIGH bits of the product dominate).
# RandomState is numpy's frozen legacy generator: bit-identical constants
# on every numpy version, so signatures are stable across environments.
_MINHASH_MAX_K = 256
# minhash kernel slice size: bounds the transient (shingles x k) product
# matrix at ~32 MB for k=64 (see the row-sliced reduction in
# minhash_signatures); module-level so tests can force multi-slice runs
_SIG_CHUNK_SHINGLES = 65_536


def _minhash_constants(k: int):
    # ValueError, not assert: stripped under python -O, k beyond the
    # constant table would silently slice to fewer hashes than requested
    if k > _MINHASH_MAX_K:
        raise ValueError(f"k ({k}) exceeds _MINHASH_MAX_K ({_MINHASH_MAX_K})")
    rng = np.random.RandomState(0x5EED)
    a = rng.randint(1, 2**62, _MINHASH_MAX_K).astype(np.uint64) * 2 + 1
    c = rng.randint(0, 2**62, _MINHASH_MAX_K).astype(np.uint64)
    return a[:k], c[:k]


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    shingle_words: int = 2,
    fan_out_input: bool = True,
) -> DataFrame:
    """(id, sh_hashes, sig): sh_hashes = distinct shingle-identity longs,
    sig[i] = min over shingles of the i-th universal hash of the shingle
    long.  Deterministic (fixed constants, wrap-around uint64 arithmetic).

    The k minima are computed in ONE Arrow-batched Pandas UDF as a numpy
    broadcast + segmented ``minimum.reduceat`` over the whole batch —
    O(n*k) SIMD lane-ops instead of O(n*k) interpreted Catalyst evals.
    This is the sanctioned use of the Python path: higher-order
    expression lambdas never enter whole-stage codegen, and the measured
    interpreted fold was 6.8s at sf0.1 where the numpy version is
    indistinguishable from the scan cost (~0.1s marginal).  Row-local
    either way: zero shuffle, arbitrarily partitionable at 100 TB.

    Downstream Jaccard verification runs on the compact ``sh_hashes``
    long array (exact up to xxhash64 collisions, ~2^-64), which also
    keeps the persisted working set ~10x smaller than shingle strings.
    """
    from pyspark.sql.types import ArrayType, LongType

    A, C = _minhash_constants(num_hashes)
    maxl = np.iinfo(np.uint64).max
    # bound captured driver-side into the UDF closure (workers don't see
    # later module mutations — this also lets tests force multi-slice)
    budget = max(1, _SIG_CHUNK_SHINGLES)

    @F.pandas_udf(ArrayType(LongType()))
    def _sig(col: pd.Series) -> pd.Series:
        lens = np.fromiter((len(x) for x in col), dtype=np.int64, count=len(col))
        out = np.full((len(col), len(A)), maxl, dtype=np.uint64)
        nz = np.flatnonzero(lens)
        # Row-sliced reduction: the (shingles x k) product matrix is
        # bounded at ~_SIG_CHUNK_SHINGLES rows per slice (~32 MB at
        # k=64) instead of materializing the whole Arrow batch's matrix
        # in one transient — a 10k-doc batch averaging 1k shingles at
        # k=64 would otherwise allocate ~5 GB per concurrent task.
        # Slice boundaries respect row edges, so per-row minima (and
        # therefore signatures) are bit-identical to the unsliced form;
        # a single pathological document bigger than the budget gets its
        # own slice (its matrix is irreducibly len x k).
        i = 0
        while i < nz.size:
            j, tot = i, 0
            while j < nz.size and (tot == 0 or tot + lens[nz[j]] <= budget):
                tot += lens[nz[j]]
                j += 1
            rows = nz[i:j]
            arrs = [np.asarray(col.iat[r], dtype=np.int64) for r in rows]
            flat = np.concatenate(arrs).astype(np.uint64)
            with np.errstate(over="ignore"):  # mod-2^64 wrap is the hash
                m = flat[:, None] * A[None, :] + C[None, :]
            starts = np.zeros(rows.size, dtype=np.int64)
            np.cumsum(lens[rows][:-1], out=starts[1:])
            out[rows] = np.minimum.reduceat(m, starts, axis=0)
            i = j
        signed = out.astype(np.int64)
        return pd.Series(list(signed))

    sh = _distinct_shingle_hashes(
        df, id_col, text_col, shingle_words, fan_out_input=fan_out_input
    )
    return sh.select(id_col, "sh_hashes", _sig("sh_hashes").alias("sig"))


def lsh_band_buckets(
    sigs: DataFrame, id_col: str, num_hashes: int, bands: int
) -> DataFrame:
    """(id, band, bucket) rows from minhash signatures: bucket = xxhash64
    of the band's r = num_hashes/bands signature rows.  Row-local
    (explode of a per-row array) — the LSH "index key" generator shared
    by the batch pair join and the streaming incremental dedup.

    explode_outer dodges InferFiltersFromGenerate re-evaluating the
    band-hash array inside an inferred filter (band arrays are never
    empty — SURVEY §9 #1)."""
    # ValueError, not assert: a stripped guard (python -O) would silently
    # truncate the last band's rows — a recall bug, not an argument nit
    if num_hashes % bands != 0:
        raise ValueError(f"bands ({bands}) must divide num_hashes ({num_hashes})")
    rows_per_band = num_hashes // bands
    band_cols = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(
                    *[F.col("sig")[b * rows_per_band + r] for r in range(rows_per_band)]
                ).alias("bucket"),
            )
            for b in range(bands)
        ]
    )
    return sigs.select(
        F.col(id_col), F.explode_outer(band_cols).alias("bb")
    ).select(id_col, "bb.band", "bb.bucket")


def _wide_pair_distinct(pairs: DataFrame, *cols: str) -> DataFrame:
    """Dedup candidate pairs at EXPLICIT defaultParallelism width: the
    plain ``.distinct()`` exchange is ENSURE_REQUIREMENTS, which AQE
    coalesces by BYTES — and 16-byte id pairs coalesce to a handful of
    partitions while the stage directly above them is the CPU-heavy
    exact verify (array_intersect over the full gram sets, with both
    set joins broadcast, so the verify inherits THIS exchange's width).
    Measured at sf0.1 on dedup_containment: the verify stage ran 7.5s of
    CPU over 4 AQE-coalesced tasks (1.9s wall on a 32-core session).
    ``repartition(n, cols)`` is REPARTITION_BY_NUM — exempt from AQE
    coalescing — and hash-clusters exactly on the dedup keys, so
    ``dropDuplicates`` adds NO second exchange.  Trade-off: no map-side
    partial dedup (duplicate candidates ride the shuffle) — at 16 bytes
    a pair that is noise against the verify CPU it buys back.  At scale
    the exchange is large enough that AQE would not have coalesced it,
    and defaultParallelism tracks the cluster; the verification tier's
    documented contract (run on LSH candidates / audit samples at
    100 TB) bounds the volume either way."""
    n = pairs.sparkSession.sparkContext.defaultParallelism
    return pairs.repartition(n, *[F.col(c) for c in cols]).dropDuplicates(
        list(cols)
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_words: int = 2,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-duplicate pairs via MinHash + LSH banding, Jaccard-verified.

    Pipeline: shingle -> k minhashes -> b bands of r=k/b rows -> band-hash
    buckets -> candidate pairs = docs sharing any bucket (equi-join, no
    cross product) -> exact Jaccard on the distinct-shingle-hash sets of
    the candidates only.  Returns (id_a, id_b, jaccard) with id_a < id_b
    and jaccard >= threshold.

    Band tuning: the S-curve inflection sits at t* = (1/b)^(1/r); the
    defaults (k=64, b=16, r=4) put t* = 0.5 — the canonical operating
    point for threshold 0.5.  A shallower curve (r=2) drags in vast
    numbers of j~0.2-0.3 false candidates whose verification dominates
    runtime (measured 233k candidates for 256 true pairs at r=2 on the
    sf0.1 documents table); steeper r at fixed t* cuts candidates, and
    recall above t* stays ~1 (bounded in tests/test_recall.py).

    The signature table is persisted MEMORY_AND_DISK across its two
    consumers (bucket generation + Jaccard verification).  It lives until
    the session ends or the caller runs ``spark.catalog.clearCache()`` —
    in a long-lived service, clear it after materializing the result
    (same persist hygiene contract as :func:`ngram_jaccard_pairs`).
    """
    from pyspark import StorageLevel

    # ValueError, not assert: stripped under python -O this would silently
    # drop the trailing hashes from the last band (recall loss, no error)
    if num_hashes % bands != 0:
        raise ValueError(f"bands ({bands}) must divide num_hashes ({num_hashes})")
    # Shingle-eligibility is filtered on the CHEAP token-count predicate
    # BEFORE the signature pipeline: a post-hoc filter(size(sh_hashes)>0)
    # gets predicate-pushed below the gram-building projections, fully
    # inlining (= duplicating) the gram build inside the Filter predicate
    # (measured 2x the whole scan stage).  size(split())>=n is equivalent:
    # a doc has >=1 shingle iff it has >=shingle_words tokens.
    eligible = df.filter(F.size(tokens_col(text_col)) >= shingle_words)
    sigs = minhash_signatures(
        eligible, id_col, text_col, num_hashes, shingle_words
    ).persist(StorageLevel.MEMORY_AND_DISK)

    buckets = lsh_band_buckets(sigs, id_col, num_hashes, bands)

    left = buckets.alias("l")
    right = buckets.alias("r")
    cands = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b")
        )
        .transform(lambda p: _wide_pair_distinct(p, "id_a", "id_b"))
    )

    sh = sigs.select(F.col(id_col), F.col("sh_hashes"))
    verified = (
        cands.join(sh.withColumnsRenamed({id_col: "id_a", "sh_hashes": "sh_a"}), "id_a")
        .join(sh.withColumnsRenamed({id_col: "id_b", "sh_hashes": "sh_b"}), "id_b")
        # |A∪B| = |A| + |B| - |A∩B| for the distinct-hash sets: same
        # integers (hence the identical IEEE quotient) as an explicit
        # array_union, WITHOUT materializing a union array per pair —
        # array_union allocates and hashes |A|+|B| elements per
        # candidate, pure overhead next to three array-length reads
        # (guide §1.2: cheaper per-task work, same plan shape)
        .withColumn(
            "__inter", F.size(F.array_intersect("sh_a", "sh_b"))
        )
        .withColumn(
            "jaccard",
            F.col("__inter")
            / (F.size("sh_a") + F.size("sh_b") - F.col("__inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return verified


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_words: int = 2,
    threshold: float = 0.5,
    candidate_pairs: DataFrame | None = None,
) -> DataFrame:
    """EXACT n-gram Jaccard similarity join with prefix + positional
    filtering (AllPairs/PPJoin): identical output to the naive
    inverted-index join, but candidates come only from each document's
    *prefix* — its floor((1-t)*n)+1 globally-rarest shingles.  Any pair
    with Jaccard >= t must share a prefix shingle, so no pair is lost;
    joining on rare shingles kills the common-gram pair explosion that
    makes the naive join quadratic in practice.

    Three pruning filters run inside the candidate join (all conservative —
    verification recomputes exact Jaccard, so over-inclusion is harmless
    and over-pruning is guarded with an epsilon against FP boundary error):
    - length filter: t*max(|A|,|B|) <= min(|A|,|B|);
    - positional filter (PPJoin): for a gram matched at rarity positions
      (pa, pb), overlap <= min(pa,pb)-1 + 1 + min(|A|-pa, |B|-pb); prune
      when that upper bound < ceil(t/(1+t)*(|A|+|B|)), the minimum overlap
      Jaccard >= t requires.  Measured on the synthetic documents table at
      t=0.8: cuts distinct candidates ~7-8% beyond prefix+length (12,262
      vs 13,330 at sf0.01; 1.39M vs 1.50M at sf0.1) — modest here because
      the corpus has a small shared vocabulary (~27k distinct grams), so
      even prefix grams are common; on natural text with Zipfian gram
      frequencies the positional bound prunes far more.

    TIERING AT SCALE: this operator is the exact VERIFICATION tier.  At
    100 TB the headline near-dup path is :func:`minhash_lsh_pairs` (cost
    O(docs x bands)); exact pairwise Jaccard — even prefix-filtered — is
    run only on LSH candidates or sampled audits.  ``candidate_pairs``
    IS that bounded mode (the r06 scaling sweep measured the full-corpus
    prefix join at a 1.49 second-decade exponent — superlinear once data
    dominates fixed cost): pass an (id_a, id_b) frame (e.g. from
    :func:`minhash_lsh_pairs` / :func:`minhash_lsh_pairs_portable`) and
    the whole prefix/PPJoin candidate machinery is skipped — cost becomes
    one shingle-set build plus two equi-joins on the candidate ids,
    O(candidates), with the LSH recall bound (>0.99 at J>=0.8 for b=6,
    r=2) as the only approximation.  The shingle table is persisted
    MEMORY_AND_DISK across its four consumers.  It lives until the
    session ends or the caller runs ``spark.catalog.clearCache()`` — in a
    long-lived service, clear it after materializing the result.
    """
    from pyspark import StorageLevel

    # The whole pipeline runs on HASHED shingles (xxhash64 longs) built
    # WITHOUT materializing gram strings (:func:`_distinct_shingle_hashes`
    # hashes each token once then hashes the n adjacent token-hashes —
    # the same kernel the minhash path uses, measured ~2x faster than the
    # concat-string+rehash it replaces): the document-frequency groupBy,
    # the rarity join, the per-doc ranking window, the candidate join,
    # and the verification intersect/union all shuffle narrow longs
    # instead of strings (~10x less shuffle volume).  Exactness is
    # unaffected: the prefix filter only needs A consistent global rarity
    # order — (df, hash) is as valid as (df, gram) — and set
    # intersections over distinct-hash sets equal string-set
    # intersections up to xxhash64 collisions (~2^-64).
    #
    # The hashed arrays feed candidate generation AND both sides of the
    # verification join — persist so the text-parsing pipeline doesn't
    # re-run 4x.
    # token-count pre-filter, NOT filter(size(...)>0): the latter is
    # predicate-pushed below the gram-build projection and duplicates it
    # (see minhash_lsh_pairs)
    sh = (
        _distinct_shingle_hashes(
            df.filter(F.size(tokens_col(text_col)) >= shingle_words),
            id_col,
            text_col,
            shingle_words,
        )
        .select(
            F.col(id_col),
            "sh_hashes",
            F.size("sh_hashes").alias("n"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    if candidate_pairs is not None:
        # candidates-bounded mode: no inverted index, no prefix window,
        # no pair self-join — the caller-supplied pairs go straight to
        # the SAME exact intersect/union verification tail below (one
        # spelling of the jaccard expression, so the bounded and full
        # tiers can never disagree on a pair they both emit)
        cands = candidate_pairs.select("id_a", "id_b")
    else:
        inv = sh.select(F.col(id_col), "n", F.explode("sh_hashes").alias("gram"))

        # Global document frequency per shingle-hash -> rarity order
        # (df, gram).
        gram_df = inv.groupBy("gram").agg(F.count("*").alias("df"))
        ranked = inv.join(gram_df, "gram").withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy(id_col).orderBy("df", "gram")
            ),
        )
        # +1e-9: (1-t)*n can land infinitesimally BELOW an exact integer
        # in FP (e.g. 0.19999...96*10), which would shorten the prefix and
        # lose true pairs.  The epsilon only ever lengthens the prefix
        # (conservative).
        prefix_len = (
            F.floor((1.0 - threshold) * F.col("n") + F.lit(1e-9)).cast("int") + 1
        )
        # persisted + EAGERLY materialized: the candidate join references
        # prefix from BOTH aliased sides, and differently-aliased
        # projections defeat ReuseExchange — un-persisted, the whole
        # inverted-index + document-frequency + rarity-window pipeline
        # executed twice inside the one candidate job (measured ~1-2.5s
        # per extra pass at sf0.1).  The prefix table is small by
        # construction (floor((1-t)*n)+1 grams per doc, ~1/5 of the
        # inverted index at t=0.8); same persist-hygiene contract as
        # ``sh`` above (lives until clearCache / session end).
        prefix = (
            ranked.filter(F.col("rn") <= prefix_len)
            .select(id_col, "n", "gram", "rn")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        prefix.count()

        # Minimum overlap required for jaccard >= t (epsilon guards FP
        # landing infinitesimally ABOVE the exact rational, which would
        # raise the ceil).
        min_overlap = F.ceil(
            F.lit(threshold) / (1.0 + threshold) * (F.col("a.n") + F.col("b.n"))
            - F.lit(1e-9)
        )
        # Overlap upper bound from one matched prefix gram at positions
        # (pa, pb) in the shared rarity order: elements before the match
        # overlap at most min(pa,pb)-1, the match itself is 1, the
        # suffixes at most min(n_a-pa, n_b-pb).
        overlap_ub = F.least("a.rn", "b.rn") + F.least(
            F.col("a.n") - F.col("a.rn"), F.col("b.n") - F.col("b.rn")
        )
        cands = (
            prefix.alias("a")
            .join(
                prefix.alias("b"),
                (F.col("a.gram") == F.col("b.gram"))
                & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
                # length filter: jaccard >= t requires t*|larger| <= |smaller|
                # (epsilon: 0.8*5 > 4 in FP would wrongly prune an exact-0.8
                # pair)
                & (
                    F.greatest("a.n", "b.n") * threshold
                    <= F.least("a.n", "b.n") + F.lit(1e-9)
                )
                # positional filter (PPJoin)
                & (overlap_ub >= min_overlap),
            )
            .select(
                F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
            )
            .transform(lambda p: _wide_pair_distinct(p, "id_a", "id_b"))
        )

    sets = sh.select(F.col(id_col), "sh_hashes")
    return (
        cands.join(
            sets.withColumnsRenamed({id_col: "id_a", "sh_hashes": "sh_a"}), "id_a"
        )
        .join(sets.withColumnsRenamed({id_col: "id_b", "sh_hashes": "sh_b"}), "id_b")
        # |A∪B| via |A|+|B|-|A∩B| over the distinct-hash sets: identical
        # integers (identical IEEE quotient) without allocating a union
        # array per candidate pair — see the matching note in
        # minhash_lsh_pairs
        .withColumn(
            "__inter", F.size(F.array_intersect("sh_a", "sh_b"))
        )
        .withColumn(
            "jaccard",
            F.col("__inter")
            / (F.size("sh_a") + F.size("sh_b") - F.col("__inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_contamination(
    train: DataFrame,
    test: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_words: int = 3,
    min_shared: int = 5,
    max_train_df: int | None = 10_000,
    bloom_prefilter_bits: int | None = None,
) -> DataFrame:
    """Eval-set DECONTAMINATION primitive: (test_id, train_id,
    shared_grams) for every cross-split pair sharing at least
    ``min_shared`` distinct word n-grams — the standard "n-gram overlap"
    check run before training to catch benchmark leakage (exact-duplicate
    checks miss paraphrased/partial copies; n-gram overlap catches them).

    Shape: inverted-index equi-join (never a doc x doc cross product),
    count per pair, HAVING >= min_shared.  Two scale levers:
    - grams are joined as xxhash64 LONGS, not strings — same join
      cardinality, ~10x less shuffle volume (collision odds ~2^-64);
    - ``max_train_df`` drops grams present in more than that many train
      docs before the join (boilerplate n-grams are not leakage signal,
      and a single viral gram with df=d contributes d x |test matches|
      join rows — the fan-out killer at corpus scale).
    """
    # explode_OUTER on purpose: plain explode triggers
    # InferFiltersFromGenerate, whose size(arr)>0 filter gets
    # predicate-pushed below the projection and INLINES the whole
    # twice-nested gram build into the Filter (measured 18x slower at
    # sf0.1).  Outer generates infer no filter; the null g emitted for
    # gram-less docs can never match the equi-join.
    tr = _distinct_shingle_hashes(train, id_col, text_col, shingle_words).select(
        F.col(id_col).alias("train_id"),
        F.explode_outer("sh_hashes").alias("g"),
    )
    if max_train_df is not None:
        tr = _df_capped(tr, max_train_df)
    return contamination_probe(
        tr, test, id_col, text_col, shingle_words, min_shared,
        bloom_prefilter_bits=bloom_prefilter_bits,
    )


def _df_capped(tr: DataFrame, max_train_df: int) -> DataFrame:
    """Drop grams whose document frequency exceeds the cap, in ONE
    shuffle and with SPILL-SAFE buffers: an unordered count window over
    the gram key (Spark's window executor spills partitions to disk), so
    a viral boilerplate gram with millions of postings never materializes
    as a single in-memory row.  Rejected shapes: count-aggregate +
    semi-join consumed the gram-build lineage TWICE with two shuffles
    (the r02 run-to-run variance source); collect_list-then-filter is one
    shuffle but buffers each gram's FULL posting list in one aggregation
    row before the size check — the executor-OOM shape at corpus scale."""
    w = Window.partitionBy("g")
    return (
        tr.withColumn("__df", F.count(F.lit(1)).over(w))
        .filter(F.col("__df") <= max_train_df)
        .drop("__df")
    )


def contamination_probe(
    gram_index: DataFrame,
    test: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_words: int = 3,
    min_shared: int = 5,
    bloom_prefilter_bits: int | None = None,
) -> DataFrame:
    """Probe an inverted gram index — ``(g, train_id)`` rows, typically
    from :func:`load_gram_index` — with an eval set: (test_id, train_id,
    shared_grams) pairs sharing >= ``min_shared`` grams.  The probe side
    is usually orders of magnitude smaller than the train corpus, which
    is the whole point of persisting the index: build once over the
    100 TB train side, probe per eval-set release.

    ``bloom_prefilter_bits`` turns on the runtime Bloom semi-join
    reduction (the ``bloom_prefilter_join`` pattern promoted into the
    operator surface): the eval set's gram hashes — selective but
    unbounded, so not safely broadcast-joinable as a set — are packed
    into an m-bit Bloom filter (m/8 bytes, built fully in-plan),
    broadcast, and applied to the index scan ROW-LOCALLY, so index
    postings whose gram cannot match die before the equi-join's
    exchange.  Blooms have no false negatives, so the result is
    IDENTICAL to the plain probe (false positives only cost shuffle
    bytes and are removed by the join itself); at 100 TB this turns a
    full index-shuffle into a shuffle of the matching slice."""
    te = _distinct_shingle_hashes(test, id_col, text_col, shingle_words).select(
        F.col(id_col).alias("test_id"),
        F.explode_outer("sh_hashes").alias("g"),
    )
    if bloom_prefilter_bits:
        # local import: sketches imports dedup's portable-hash constants
        from parquet_merger_spark.operators.sketches import (
            bloom_build,
            bloom_filter_rows,
        )

        bloom = bloom_build(
            te.filter(F.col("g").isNotNull()),
            "g",
            m_bits=bloom_prefilter_bits,
        )
        gram_index = bloom_filter_rows(
            gram_index.crossJoin(F.broadcast(bloom)),
            "words",
            "g",
            m_bits=bloom_prefilter_bits,
        ).drop("words")
    return (
        te.join(gram_index, "g")
        .groupBy("test_id", "train_id")
        .agg(F.count(F.lit(1)).alias("shared_grams"))
        .filter(F.col("shared_grams") >= min_shared)
    )


def write_gram_index(
    train: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_words: int = 3,
    max_train_df: int | None = 10_000,
) -> None:
    """Persist the decontamination train-gram inverted index: df-capped
    ``(g, train_id)`` rows at ``<path>/grams``, build parameters at
    ``<path>/meta``.  Build once over the train corpus, probe many — the
    gram build + df-cap aggregation is the expensive part of
    :func:`ngram_contamination`, and rebuilding it per probe is both slow
    and high-variance (observed 1.7s<->8.2s at sf0.1).

    The index is hash-repartitioned on ``g`` at write time so each probe
    join starts from a gram-clustered layout."""
    sess = train.sparkSession
    tr = _distinct_shingle_hashes(train, id_col, text_col, shingle_words).select(
        F.col(id_col).alias("train_id"),
        F.explode_outer("sh_hashes").alias("g"),
    )
    # ONE spill-safe shuffle applies the cap and leaves the output
    # hash-clustered on g (see :func:`_df_capped` for the rejected
    # shapes — the 3-shuffle agg+semi-join+repartition chain and the
    # OOM-prone collect_list buffer).  With the cap disabled, the
    # clustering the docstring promises still needs an explicit shuffle.
    if max_train_df is not None:
        tr = _df_capped(tr, max_train_df)
    if max_train_df is None:
        tr = tr.repartition("g")
    tr.write.mode("overwrite").parquet(f"{path}/grams")
    sess.createDataFrame(
        [(shingle_words, max_train_df)],
        "shingle_words int, max_train_df long",
    ).write.mode("overwrite").parquet(f"{path}/meta")


def load_gram_index(spark: SparkSession, path: str) -> tuple[DataFrame, int]:
    """(grams, shingle_words) from :func:`write_gram_index` output —
    ``grams`` ready for :func:`contamination_probe`, ``shingle_words``
    so the probe tokenizes identically to the build."""
    meta = spark.read.parquet(f"{path}/meta").collect()[0]
    return spark.read.parquet(f"{path}/grams"), int(meta["shingle_words"])


def dup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 50,
    steps_per_round: int = 2,
) -> DataFrame:
    """Resolve near-duplicate PAIRS into CLUSTERS: connected components by
    iterative min-label propagation.  Returns (doc_id, cluster_id) for
    every doc that appears in a pair; cluster_id = the smallest doc id in
    the component (so cluster_id == doc_id identifies the canonical
    survivor).

    Each step every node takes min(own label, neighbors' labels); labels
    are monotonically non-increasing, so convergence is detected by a
    CHANGED-LABEL COUNT of zero (one cheap conditional aggregate per
    round — no row diff).  The count is type-safe for any id type: the
    earlier label-SUM check silently mis-converged on string ids (sum of
    strings is NULL every round, so round 1 "matched" round 0) and could
    overflow ANSI arithmetic on 64-bit hash-scale ids summed over
    millions of nodes.  Steps needed = graph diameter; near-dup graphs
    are mostly cliques and short chains, but LOW-threshold semantic
    graphs (semdedup at cosine 0.4) were measured at diameter ~17, so
    per-step barriers dominate wall clock.

    ``steps_per_round`` composes that many propagation steps — plus one
    POINTER-JUMPING shortcut (label := label(label), Shiloach-Vishkin
    style) — into ONE lazy plan between materialization barriers (a lazy
    ``localCheckpoint`` whose job is triggered by the convergence
    aggregate — one Spark job per round, not two).  The shortcut
    composes the reach of whole frontiers, so rounds needed drop from
    O(diameter / steps_per_round) to O(log diameter): measured at sf0.1
    on the semdedup graph (diameter 17): 9 rounds (r09 shape) -> 4
    rounds.  Per-step cost also fell (r10): self-loops are folded into
    the persisted adjacency, so each step is ONE min-aggregate —
    min(own, neighbors) in the same shuffle — with no label join-back,
    and the E-volume side never re-shuffles (hash-partitioned once,
    before the loop).  Intermediate steps are referenced exactly once by
    their successor, so composing steps no longer re-executes
    intermediates (the old 2^(k-1) caveat is gone).  Convergence is
    checked after every round, and ``max_iters`` bounds rounds
    (``max_iters * steps_per_round`` propagation steps, each round
    further accelerated by the shortcut).
    Deterministic: pure min over a fixed edge set — any step grouping,
    with or without shortcutting, reaches the same unique fixpoint
    (labels decrease monotonically to the component minimum).

    The symmetric edge list comes from ONE ``explode`` pass over
    ``pairs`` — the earlier self-union re-executed the (potentially
    expensive, un-persisted) upstream pair plan once per branch:
    measured 29.5s -> 10.0s on the un-persisted exact-Jaccard pair plan
    at sf0.1.  The pair plan is materialized exactly once (the edge
    persist), referenced by the self-loop-folded adjacency build, and
    released as soon as the adjacency cache is up.
    """
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col(id_a).alias("src"), F.col(id_b).alias("dst")
                    ),
                    F.struct(
                        F.col(id_b).alias("src"), F.col(id_a).alias("dst")
                    ),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .distinct()
        # EAGERLY MATERIALIZED on purpose: adj below references this
        # subtree THREE times (both union branches + the node set); a
        # lazy cache would re-run the upstream (potentially expensive,
        # un-persisted) pair plan once per branch (measured ~24s vs ~7s
        # on the exact-Jaccard pair plan at sf0.1).  persist (not
        # localCheckpoint) so the O(E) blocks are RELEASED at exit —
        # checkpoint blocks wait on the async ContextCleaner and
        # measurably poisoned later same-session queries at sf1 (see
        # triangle_count)
        .persist()
    )
    edges.count()
    nodes = edges.select(F.col("src").alias("node")).distinct()
    # adjacency WITH SELF-LOOPS, hash-partitioned on the probe key ONCE:
    # folding (v, v) into the edge set turns the per-step update into a
    # single min-aggregate — min(own, neighbors) needs no left-join-back
    # of the previous labels — and the persisted hash partitioning means
    # the O(E) side NEVER re-shuffles inside the loop (the pagerank
    # cached-invariant pattern): each step exchanges only the O(V) label
    # frame into the join plus the one unavoidable E-volume aggregate
    # shuffle.  The r09 shape re-shuffled E into the propagation join
    # EVERY step and paid a third exchange for the label join-back —
    # 3x the per-step exchange count of this form (guide §2.4).
    adj = (
        edges.unionAll(
            nodes.select(
                F.col("node").alias("src"), F.col("node").alias("dst")
            )
        )
        .repartition(F.col("src"))
        .persist()
    )
    adj.count()
    # adj is materialized; the loop never touches the pair plan again
    edges.unpersist()
    # initial labels from the CACHED adjacency (self-loops guarantee
    # every node appears as src), so label init costs a cache scan with
    # no extra exchange (hash(src) already satisfies the distinct)
    labels = (
        adj.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )

    def _step(lab: DataFrame) -> DataFrame:
        # one E-volume shuffle (the aggregate).  Join strategy stays
        # AQE's choice: small label frames ride a runtime broadcast
        # (zero exchange against cached adj); at scale the co-partitioned
        # shuffle join exchanges only the O(V) label side — the cached
        # hash(src) partitioning means adj itself never re-shuffles.
        return (
            adj.join(lab, adj.src == lab.node)
            .groupBy("dst")
            .agg(F.min("label").alias("label"))
            .withColumnRenamed("dst", "node")
        )

    def _shortcut(lab: DataFrame) -> DataFrame:
        # pointer jumping: label := label(label) — composes the reach of
        # two propagation frontiers, so rounds needed drop from
        # O(diameter / steps_per_round) to O(log diameter) (Shiloach-
        # Vishkin style shortcutting).  Labels are always ids of live
        # nodes (min over ids), so the self-join hits every row; the
        # left-join + coalesce form costs the same and stays total even
        # if that invariant were ever perturbed.  Monotone (label(u) <=
        # u), so convergence detection below is unaffected.
        nxt = lab.select(
            F.col("node").alias("__sn"), F.col("label").alias("__sl")
        )
        return lab.join(nxt, lab.label == F.col("__sn"), "left").select(
            "node", F.coalesce(F.col("__sl"), F.col("label")).alias("label")
        )

    converged = False
    for _ in range(max_iters):
        cur = labels
        for _ in range(max(1, steps_per_round)):
            cur = _step(cur)
        cur = _shortcut(cur)
        # Convergence is checked after EVERY round.  Composing two rounds
        # per check halves the barriers, but the shortcut references its
        # round's output twice, which is only free on a materialized
        # checkpoint: measured worse in r11 (semdedup min-of-5 at sf0.1,
        # 5.08 s -> 8.30 s with two rounds per check).
        prev = labels.select(
            F.col("node").alias("__pnode"), F.col("label").alias("__plabel")
        )
        labels = (
            cur.join(prev, cur.node == F.col("__pnode"))
            .select(
                "node",
                "label",
                (F.col("label") != F.col("__plabel")).alias("__changed"),
            )
            .transform(materialize_lazy)
        )
        n_changed = labels.agg(
            F.count_if(F.col("__changed")).alias("c")
        ).collect()[0][0]
        labels = labels.drop("__changed")
        if n_changed == 0:
            converged = True
            break
    if not converged:
        adj.unpersist()
        # Returning silently would split one true component into several
        # "clusters" — and the survivor pass downstream would then keep
        # multiple copies of the same duplicate.  Fail loudly instead.
        raise RuntimeError(
            f"dup_clusters did not converge within max_iters={max_iters} "
            "rounds (component diameter exceeds the iteration budget); "
            "raise max_iters"
        )
    # the final labels checkpoint is already materialized (the last
    # convergence aggregate ran it), so the result no longer needs the
    # adjacency cache — release the O(E) blocks now
    adj.unpersist()
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )


def near_dedup_survivors(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """The dedup ACTION: drop every non-canonical near-duplicate.  Keeps
    each document that is either untouched by any pair or the canonical
    (smallest-id) member of its cluster — one anti-join against the
    non-canonical cluster members."""
    clusters = dup_clusters(pairs, id_a, id_b)
    losers = clusters.filter(F.col("cluster_id") != F.col("doc_id")).select(
        F.col("doc_id").alias("__loser")
    )
    return df.join(
        losers, df[id_col] == losers["__loser"], "left_anti"
    )


def semdedup_tier(n_rows: int, exact_max_rows: int | None = 100_000) -> str:
    """The documented semdedup size cutoff: ``"exact"`` (blocked-GEMM
    full kNN) at or under ``exact_max_rows`` rows, ``"ann"`` (IVF
    semantic blocks) above — None disables auto-switching entirely."""
    if exact_max_rows is None or n_rows <= exact_max_rows:
        return "exact"
    return "ann"


def semdedup(
    df: DataFrame,
    threshold: float = 0.7,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = None,
    rows_per_block: int = 4096,
    max_iters: int = 50,
    exact_max_rows: int | None = 100_000,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): SEMANTIC
    deduplication over an embedding column — drop documents whose meaning,
    not wording, duplicates another's.  Composition of the existing
    primitives: kNN graph (:func:`~parquet_merger_spark.operators.
    simsearch.knn_graph`) -> threshold edges at ``cosine >= threshold``
    -> connected components (:func:`dup_clusters`) -> deterministic
    smallest-id survivor per semantic cluster.

    Returns one row PER INPUT ROW: ``(id_col, cluster_id, is_survivor)``
    — singletons (no neighbor above threshold) are their own cluster and
    always survive.  Downstream keeps ``is_survivor`` rows (or joins
    cluster_id for per-cluster diversity sampling).

    Tiers (inherited from knn_graph): ``block_col=None`` with the corpus
    at or under ``exact_max_rows`` is the EXACT tier — blocked integer
    GEMM, shuffle O(n*k*n_blocks), the verification path the DuckDB
    oracle checks; pass ``block_col`` (an IVF bucket, a shard) for an
    explicit ANN tier, where candidate pairs are confined within blocks
    and recall is bounded in tests instead.
    Note the block tier can both UNDER-merge (cross-block near-dups
    invisible) and, less obviously, OVER-merge: excluding cross-block
    vectors frees top-k slots, so a lower-cosine same-block neighbor can
    enter the kNN graph where the exact graph's k slots were filled by
    cross-block vectors — duplicate flags are approximate in both
    directions, which is why the recall test bounds agreement rather
    than asserting containment.

    AUTO CUTOFF (r06 verdict ask #7 — the 100 TB default must be the
    scalable arm): with ``block_col=None``, a corpus LARGER than
    ``exact_max_rows`` automatically switches to the ANN tier on
    IVF semantic buckets — a driver-trained coarse quantizer
    (:func:`~parquet_merger_spark.operators.simsearch.
    build_ivf_centroids`, sample-bounded Lloyd) with
    nlist ~ n/rows_per_block and 2-way multi-probe assignment, so each
    within-bucket pair join stays ~rows_per_block-bounded and total cost
    drops from the exact tier's O(n^2/blocks) GEMM to
    O(n * rows_per_block * 2).  Unlike an arbitrary
    shard key, IVF buckets are SEMANTIC blocks (near-dups land in the
    same bucket by construction), so duplicate recall is far above the
    random-block floor (pinned in tests/test_round7_fixes.py).  The
    default 100k cutoff keeps the exact tier for ~40 GB of fp32-64d
    pair space (~10^10 integer dot products — minutes on one executor
    wave) and routes anything bigger to the ANN arm; pass
    ``exact_max_rows=None`` to force exact at any size (the oracle /
    audit configuration).  Tier choice is :func:`semdedup_tier` — unit
    pinned.

    The threshold compares the ROUNDED cosine knn_graph emits (round 6)
    so Spark and the SQL oracle make identical boundary decisions —
    cosines are exact integer-grid dots, identical IEEE doubles in both
    engines.
    """
    from parquet_merger_spark.operators.simsearch import (
        assign_buckets,
        build_ivf_centroids,
        knn_graph,
    )

    kdf = df
    known_n = None
    if block_col is None and exact_max_rows is not None:
        n = df.count()  # one narrow scan; at cluster scale, table stats
        known_n = n  # threaded into knn_graph so the exact arm never recounts
        if semdedup_tier(n, exact_max_rows) == "ann":
            nlist = max(16, -(-n // rows_per_block))  # ceil div
            # 25k training rows bound the sample COLLECT (the default
            # 100k ships ~50M floats through py4j — measured ~18s of the
            # sf10 wall); Lloyd quality for <=100s-of-centroids models
            # saturates far below that
            cen = build_ivf_centroids(
                df, nlist=nlist, id_col=id_col, vec_col=vec_col,
                max_train_rows=25_000,
            )
            # n_assign=2 multi-probe: a near-dup pair straddling a bucket
            # boundary still meets in the second-nearest bucket (measured
            # duplicate recall 0.32 -> 0.81 on the sf0.01 fixture for 2x
            # candidate cost; knn_graph dedups multi-assigned pairs, so
            # ranks are never distorted).  The kNN runs on the bucketed
            # frame; the per-row output contract below stays on the
            # ORIGINAL df (multi-assignment must not duplicate rows).
            kdf = assign_buckets(
                df, cen, id_col=id_col, vec_col=vec_col, n_assign=2
            ).select(id_col, vec_col, F.col("bucket").alias("__semblk"))
            block_col = "__semblk"

    g = knn_graph(
        kdf,
        k=k,
        id_col=id_col,
        vec_col=vec_col,
        block_col=block_col,
        rows_per_block=rows_per_block,
        n=known_n if block_col is None else None,
    )
    pairs = g.filter(F.col("cosine") >= threshold).select(
        F.col("id").alias("id_a"), F.col("neighbor_id").alias("id_b")
    )
    # steps_per_round=4: low-threshold semantic graphs are HIGH-DIAMETER
    # by construction (measured ~17 at cosine 0.4, vs 2-3 for the
    # clique-like LSH/Jaccard graphs) — composing 4 propagation steps
    # per barrier cuts rounds 7 -> 4 on the sf0.1 graph (6.1s vs 7.1s
    # wall) and is free since r10's single-reference steps; at worst
    # k-1 steps run past convergence, cheap next to 3 extra barriers.
    clusters = dup_clusters(
        pairs, max_iters=max_iters, steps_per_round=4
    ).withColumnRenamed("doc_id", "__cid")
    out = df.select(F.col(id_col)).join(
        clusters, F.col(id_col) == F.col("__cid"), "left"
    )
    resolved = F.coalesce(F.col("cluster_id"), F.col(id_col))
    return out.select(
        F.col(id_col),
        resolved.alias("cluster_id"),
        (resolved == F.col(id_col)).alias("is_survivor"),
    )


def simhash_signatures(
    df: DataFrame, id_col: str, text_col: str, bits: int = 64
) -> DataFrame:
    """``bits``-bit SimHash per document: each token votes +1/-1 on every
    bit of xxhash64(token); the sign of each bit-sum becomes the
    fingerprint bit.

    The votes are computed entirely ROW-LOCALLY: one ``transform`` hashes
    the token array JVM-side (xxhash64 stays in codegen), then ONE
    Arrow-batched Pandas UDF computes all 64 bit-votes for the whole
    batch as a numpy ``unpackbits`` + segmented ``add.reduceat`` —
    zero shuffle, zero explode.  (The previous 64 higher-order
    ``aggregate`` folds were interpreted per-element Catalyst evals —
    measured 5.1s at sf0.1 vs ~0.2s for this path; same pattern as
    :func:`minhash_signatures`.)  The only shuffle in the whole SimHash
    pipeline is the downstream candidate equi-join.

    vote_j = sum over tokens of (bit_j(xxhash64(token)) ? +1 : -1)
           = 2*(count of set bit_j) - n_tokens;  fp bit_j = vote_j > 0.
    Bit-identical to the expression formulation (verified by tests)."""
    from pyspark.sql.types import LongType

    if bits != 64:  # not assert: must survive `python -O`
        raise ValueError("simhash_signatures computes 64-bit fingerprints")

    @F.pandas_udf(LongType())
    def _fp(col: pd.Series) -> pd.Series:
        lens = np.fromiter((len(x) for x in col), dtype=np.int64, count=len(col))
        out = np.zeros(len(col), dtype=np.uint64)
        nz = np.flatnonzero(lens)
        if nz.size:
            arrs = [np.asarray(col.iat[i], dtype=np.int64) for i in nz]
            flat = np.concatenate(arrs)
            # (n_tokens, 64) little-endian bit matrix of the hashes
            bitmat = np.unpackbits(
                flat.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little"
            )
            starts = np.zeros(nz.size, dtype=np.int64)
            np.cumsum(lens[nz][:-1], out=starts[1:])
            # dtype=int64 upcasts inside the reduction — the previous
            # bitmat.astype(int64) materialized an 8x transient (e.g.
            # ~140 MB for a 5k-doc batch) that the segmented sum never
            # needed; the output is only (n_docs, 64)
            set_counts = np.add.reduceat(bitmat, starts, axis=0, dtype=np.int64)
            fp_bits = (2 * set_counts - lens[nz][:, None]) > 0
            out[nz] = np.packbits(
                fp_bits.astype(np.uint8), axis=1, bitorder="little"
            ).view(np.uint64)[:, 0]
        return pd.Series(out.astype(np.int64))

    hashes = F.transform(tokens_col(text_col), lambda t: F.xxhash64(t))
    with_h = df.select(F.col(id_col), hashes.alias("__h"))
    return with_h.select(F.col(id_col), _fp("__h").alias("simhash"))


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    bands: int = 4,
    bits: int = 64,
) -> DataFrame:
    """Near-dup pairs with Hamming distance <= max_hamming on ``bits``-bit
    SimHash.

    Candidate generation: split the fingerprint into ``bands`` chunks; by
    pigeonhole any pair within distance < bands shares >= 1 exact chunk, so
    candidates come from an equi-join on (chunk_id, chunk_value).  Verify
    with bit_count(xor).

    The pigeonhole guarantee REQUIRES max_hamming < bands (a pair at
    distance == bands can differ in every chunk) — asserted, not silently
    recall-lossy.  At billions of docs, raise ``bands`` (narrower chunks ->
    more, smaller buckets) rather than accepting huge per-bucket self-joins.

    The signature table is persisted MEMORY_AND_DISK for its two
    consumers (chunk explode + verification join).  It lives until
    ``spark.catalog.clearCache()`` — same hygiene contract as
    :func:`ngram_jaccard_pairs`.
    """
    from pyspark import StorageLevel

    # ValueError, not assert: these two guard RECALL invariants — stripped
    # under python -O, a violating call would silently miss pairs
    if not max_hamming < bands:
        raise ValueError(
            f"pigeonhole needs max_hamming ({max_hamming}) < bands ({bands}); "
            "pairs at distance >= bands can evade every chunk bucket"
        )
    if bits % bands != 0:
        raise ValueError(f"bits ({bits}) must divide evenly into bands ({bands})")
    # input spread BEFORE the signature kernel (guide §2.5): a single-
    # row-group corpus otherwise computes every simhash on one task.
    # The fan-out lives here, not in simhash_signatures, so the
    # signature operator itself stays zero-Exchange as plan-pinned.
    sigs = simhash_signatures(fan_out(df), id_col, text_col, bits=bits).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    chunk_bits = bits // bands
    mask = (1 << chunk_bits) - 1
    chunks = sigs.select(
        F.col(id_col),
        F.col("simhash"),
        # explode_outer: no inferred size()>0 filter (array never empty)
        F.explode_outer(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("chunk_id"),
                        F.shiftrightunsigned("simhash", b * chunk_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("chunk"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("c"),
    ).select(id_col, "simhash", "c.chunk_id", "c.chunk")
    cands = (
        chunks.alias("a")
        .join(
            chunks.alias("b"),
            (F.col("a.chunk_id") == F.col("b.chunk_id"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    return (
        cands.withColumn(
            "hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def dup_passage_coverage(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
) -> DataFrame:
    """Per-document duplicate-PASSAGE coverage: the fraction of token
    positions covered by at least one word ``k``-gram that also occurs in
    some OTHER document (Lee et al. 2021, "Deduplicating Training Data
    Makes Language Models Better" — the exact-substring dedup signal, at
    k-gram granularity instead of suffix arrays).  Near-dup operators
    answer "which documents are copies"; this answers "how much of THIS
    document is boilerplate copied across the corpus", the signal used to
    drop or trim partially-duplicated documents.

    Output: (id, n_tokens, dup_tokens, dup_frac) for EVERY input row —
    docs shorter than ``k`` tokens report 0 coverage.

    Scale design (100 TB): positional grams are hashed longs (token-hash
    chain, no gram strings — same kernel as :func:`_distinct_shingle_hashes`
    but position-keyed and WITH duplicates kept); the only wide stages are
    one groupBy on the gram hash (min!=max replaces a count-distinct — no
    per-gram distinct map), the join back on the same key (AQE reuses the
    partitioning), and the per-doc coverage distinct.  Everything is
    O(total grams), never O(docs^2); no driver-side state.

    Cross-doc only by design: a gram repeated inside one document does not
    mark it (min(id) != max(id)), matching the dedup use case — in-doc
    repetition is :func:`with_repetition_stats`'s job.
    """
    toks = tokens_col(text_col)
    # fan_out (guide §2.5): the positional-gram build below is the CPU
    # stage; a single-row-group corpus would run it on one task
    df = fan_out(df)
    nt = df.select(F.col(id_col), F.size(toks).alias("n_tokens"))

    # Positional gram hashes for docs long enough to have one.  Pre-filter
    # on token count (NOT post-hoc size(grams) > 0) and explode with the
    # _outer variant: InferFiltersFromGenerate would otherwise clone the
    # whole gram build into a scan-level filter (pathology SURVEY §9.1).
    d = df.filter(F.size(toks) >= k).withColumn(
        "__th", F.transform(tokens_col(text_col), lambda t: F.xxhash64(t))
    )
    th = F.col("__th")
    gram = lambda i: F.xxhash64(  # noqa: E731
        *[F.element_at(th, i + j) for j in range(k)]
    )
    grams = F.transform(F.sequence(F.lit(1), F.size(th) - (k - 1)), gram)
    pos = d.select(
        F.col(id_col), F.posexplode_outer(grams).alias("pos0", "gram")
    )

    # Grams seen in >= 2 distinct docs: min != max instead of
    # count(distinct) — one ordinary agg, no distinct expansion.
    dup = (
        pos.groupBy("gram")
        .agg(F.min(id_col).alias("_mn"), F.max(id_col).alias("_mx"))
        .filter(F.col("_mn") != F.col("_mx"))
        .select("gram")
    )

    covered = (
        pos.join(dup, "gram")
        .select(
            F.col(id_col),
            F.explode(
                F.sequence(F.col("pos0") + 1, F.col("pos0") + k)
            ).alias("tp"),
        )
        .distinct()
        .groupBy(id_col)
        .agg(F.count("*").alias("dup_tokens"))
    )
    dup_tokens = F.coalesce("dup_tokens", F.lit(0)).cast("long")
    return nt.join(covered, id_col, "left").select(
        F.col(id_col),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        dup_tokens.alias("dup_tokens"),
        F.round(dup_tokens / F.col("n_tokens"), 6).alias("dup_frac"),
    )


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_words: int = 3,
    threshold: float = 0.6,
) -> DataFrame:
    """DIRECTIONAL containment near-dup pairs: C(A -> B) =
    |grams(A) & grams(B)| / |grams(A)| >= threshold.  Jaccard misses
    subset relationships (a paragraph quoted inside a 100x longer doc has
    tiny Jaccard but containment 1.0); containment is the right signal for
    quote/excerpt detection and asymmetric dedup (drop the contained doc).

    Output: (id, contained_in, containment) — one row per ordered pair,
    both directions evaluated independently.

    Candidate pruning (exact, no recall loss): a pair with
    C(A -> B) >= t must share one of A's floor((1-t)*|A|)+1 globally
    RAREST grams (at most (1-t)*|A| of A's grams fall outside B) — the
    asymmetric version of the PPJoin prefix filter, with the prefix taken
    only on the PROBE side and the full inverted index on the build side.
    A size filter (|B| >= t*|A|) prunes further; verification recomputes
    exact containment on the distinct-gram-hash sets.

    TIERING AT SCALE: verification tier, same contract as
    :func:`ngram_jaccard_pairs` — at 100 TB run it on LSH candidates or
    audit samples; the headline candidate generator stays MinHash-LSH.
    The shingle table is persisted MEMORY_AND_DISK as in that operator
    (lives until the session ends or ``spark.catalog.clearCache()``).
    """
    from pyspark import StorageLevel

    sh = (
        _distinct_shingle_hashes(
            df.filter(F.size(tokens_col(text_col)) >= shingle_words),
            id_col,
            text_col,
            shingle_words,
        )
        .select(F.col(id_col), "sh_hashes", F.size("sh_hashes").alias("n"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    inv = sh.select(F.col(id_col), "n", F.explode("sh_hashes").alias("gram"))

    gram_df = inv.groupBy("gram").agg(F.count("*").alias("df"))
    ranked = inv.join(gram_df, "gram").withColumn(
        "rn",
        F.row_number().over(Window.partitionBy(id_col).orderBy("df", "gram")),
    )
    # Probe-side prefix: the floor((1-t)*|A|)+1 rarest grams of A (epsilon
    # lengthens the prefix on FP boundary error — conservative only).
    prefix_len = (
        F.floor((1.0 - threshold) * F.col("n") + F.lit(1e-9)).cast("int") + 1
    )
    probe = ranked.filter(F.col("rn") <= prefix_len).select(id_col, "n", "gram")

    cands = (
        probe.alias("a")
        .join(
            inv.alias("b"),
            (F.col("a.gram") == F.col("b.gram"))
            & (F.col(f"a.{id_col}") != F.col(f"b.{id_col}"))
            # size filter: |A & B| >= t*|A| requires |B| >= t*|A|
            & (F.col("b.n") + F.lit(1e-9) >= F.col("a.n") * threshold),
        )
        .select(
            F.col(f"a.{id_col}").alias("id"),
            F.col(f"b.{id_col}").alias("contained_in"),
        )
        .transform(lambda p: _wide_pair_distinct(p, "id", "contained_in"))
    )

    sets = sh.select(F.col(id_col), "sh_hashes", "n")
    return (
        cands.join(
            sets.withColumnsRenamed(
                {id_col: "id", "sh_hashes": "sh_a", "n": "n_a"}
            ),
            "id",
        )
        .join(
            sets.select(
                F.col(id_col).alias("contained_in"),
                F.col("sh_hashes").alias("sh_b"),
            ),
            "contained_in",
        )
        .withColumn(
            "containment",
            F.size(F.array_intersect("sh_a", "sh_b")) / F.col("n_a"),
        )
        .filter(F.col("containment") >= threshold)
        .select("id", "contained_in", F.round("containment", 6).alias("containment"))
    )


def near_dedup_survivors_by(
    df: DataFrame,
    pairs: DataFrame,
    order_by: list[Column],
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Survivor-POLICY variant of :func:`near_dedup_survivors`: keep the
    best member of each near-dup cluster under an arbitrary ordering
    (longest text, highest quality score, newest crawl...) instead of the
    smallest id.  Production dedup pipelines almost never want
    "smallest id wins" — they keep the most complete or highest-quality
    copy; this makes the policy a first-class pluggable argument.

    ``order_by``: ordering columns over ``df``'s columns, best first
    (e.g. ``[F.desc("n_chars")]``); the id is always appended as the
    final tie-break so the winner is total-order deterministic.

    Scale: cluster resolution is the same iterative component pass;
    policy selection is ONE window over cluster members only (documents
    untouched by any pair bypass the window entirely via anti-join), so
    the added cost is O(clustered docs), not O(corpus).
    """
    clusters = dup_clusters(pairs, id_a, id_b).select(
        F.col("doc_id").alias("__m"), "cluster_id"
    )
    members = df.join(clusters, df[id_col] == F.col("__m"))
    w = Window.partitionBy("cluster_id").orderBy(*order_by, F.col(id_col))
    winners = (
        members.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(*df.columns)
    )
    untouched = df.join(clusters, df[id_col] == F.col("__m"), "left_anti")
    return untouched.unionByName(winners)


# ---------------------------------------------------------------------------
# Portable (cross-engine) near-dup twins
# ---------------------------------------------------------------------------
# The production MinHash/SimHash paths hash with xxhash64 + mod-2^64
# wrap-around — semantics no other SQL engine reproduces, which is why
# those keys carry rows-only correctness bounds.  The *_portable twins
# below certify the same ALGEBRA (dictionary-encode -> universal hash ->
# per-doc min / bit votes -> band bucket equi-join) with arithmetic every
# engine evaluates identically: ids from a deterministic rank, hashes
# h(x) = (a*x + c) mod p with every intermediate < 2^61 (exact BIGINT in
# Spark, DuckDB, Trino, ...).  Verification tier: run them on samples or
# candidates at 100 TB; the headline near-dup path stays xxhash64-based.

#: prime modulus for the portable universal hashes (~2^30: products
#: a*x stay < 2^61, inside exact int64 on every engine)
PORTABLE_MOD = 1_000_000_007

#: fixed (a, c) multiply-add constants, a odd, both < 2^30 — literal on
#: purpose so the DuckDB oracle embeds the identical numbers
PORTABLE_HASH_AC = (
    (387_420_489, 12_345_701),
    (536_870_909, 98_765_431),
    (268_435_399, 55_555_557),
    (805_306_457, 77_777_783),
    (402_653_189, 33_333_331),
    (671_088_637, 11_111_117),
    (934_586_471, 86_420_147),
    (112_358_133, 13_579_111),
    (314_159_257, 27_182_821),
    (161_803_393, 41_421_359),
    (577_215_661, 69_314_719),
    (707_106_781, 22_360_679),
)


def portable_term_code(term: Column) -> Column:
    """Deterministic small integer from a term's first two characters,
    used ONLY as the bucketing key for the distributed vocab rank (the
    full term is the tie-break, so ids are exact for ANY code).  Clamped
    to 127 per char: Spark ``ascii`` and DuckDB ``ord`` agree on ASCII
    and the clamp collapses any >127 disagreement into the tie-break."""
    c1 = F.when(F.length(term) >= 1, F.least(F.ascii(F.substring(term, 1, 1)), F.lit(127))).otherwise(F.lit(0))
    c2 = F.when(F.length(term) >= 2, F.least(F.ascii(F.substring(term, 2, 1)), F.lit(127))).otherwise(F.lit(0))
    return c1 * F.lit(128) + c2


def portable_vocab(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(term, term_id): dense 1-based ids over the corpus vocabulary in
    (prefix-code, term) order — the cross-engine dictionary encode.

    Scale: the rank runs over DISTINCT terms (vocabulary, not corpus —
    orders of magnitude smaller than the token stream) through the
    bucketed two-phase ranking (:func:`~parquet_merger_spark.operators.
    ranking.assign_row_ids`), so no single task ever sorts the whole
    vocab.  SQL twin: ``row_number() OVER (ORDER BY code, term)``."""
    from parquet_merger_spark.operators.ranking import assign_row_ids

    terms = df.select(F.explode(tokens_col(text_col)).alias("term")).distinct()
    coded = terms.withColumn("__code", portable_term_code(F.col("term")))
    return assign_row_ids(
        coded, "__code", ["term"], n_buckets=64, row_id_col="term_id"
    ).select("term", "term_id")


def _portable_doc_grams(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """(id, xm): distinct word-2-gram identities mod PORTABLE_MOD.

    Gram identity = id(w1) * (V+1) + id(w2) with V = vocab size — exact
    (injective) in int64 for V < 2^31, then reduced mod p once so the
    downstream multiply-add hashes stay < 2^61."""
    vocab = portable_vocab(df, text_col)
    vsz = vocab.agg(F.max("term_id").alias("__V"))
    tok = df.select(
        F.col(id_col), F.posexplode(tokens_col(text_col)).alias("pos", "term")
    ).join(vocab, "term")
    w = Window.partitionBy(id_col).orderBy("pos")
    grams = (
        tok.withColumn("__nid", F.lead("term_id").over(w))
        .where(F.col("__nid").isNotNull())
        .crossJoin(F.broadcast(vsz))
        .select(
            F.col(id_col),
            F.pmod(
                F.col("term_id") * (F.col("__V") + F.lit(1)) + F.col("__nid"),
                F.lit(PORTABLE_MOD),
            ).alias("xm"),
        )
        .distinct()
    )
    return grams


def minhash_lsh_pairs_portable(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 12,
    bands: int = 6,
) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b, distinct) from a fully
    cross-engine MinHash-LSH: k = ``num_hashes`` portable universal
    hashes over the doc's distinct word-2-gram identities, per-doc
    minima banded ``bands`` ways (r = k/bands rows per band), docs
    sharing any (band, band-signature) bucket become a pair.

    Same plan shape as the production :func:`minhash_lsh_pairs` — the
    banded bucket equi-join is O(docs x bands), never all-pairs — but
    every arithmetic step is engine-portable, so the whole pipeline has
    an exact DuckDB oracle (the production path's rows-only bound comes
    precisely from its xxhash64 + mod-2^64 hashing).  b=6, r=2 puts the
    LSH threshold near (1/b)^(1/r) ~ 0.41: recall on J >= 0.8 pairs is
    1-(1-s^2)^6 > 0.99 (asserted against exact Jaccard in tests)."""
    # ValueError, not assert (python -O): both halves guard recall —
    # truncated bands or missing hash constants silently lose pairs
    if num_hashes % bands != 0 or num_hashes > len(PORTABLE_HASH_AC):
        raise ValueError(
            f"num_hashes ({num_hashes}) must divide into bands ({bands}) and "
            f"stay within the portable constant table ({len(PORTABLE_HASH_AC)})"
        )
    r = num_hashes // bands
    grams = _portable_doc_grams(df, id_col, text_col)
    mins = [
        F.min(
            F.pmod(F.lit(a) * F.col("xm") + F.lit(c), F.lit(PORTABLE_MOD))
        ).alias(f"m{i}")
        for i, (a, c) in enumerate(PORTABLE_HASH_AC[:num_hashes])
    ]
    sig = grams.groupBy(id_col).agg(*mins)
    band_arr = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                *[F.col(f"m{b * r + j}").alias(f"h{j}") for j in range(r)],
            )
            for b in range(bands)
        ]
    )
    bb = sig.select(F.col(id_col), F.explode(band_arr).alias("bb")).select(
        F.col(id_col), F.col("bb.band").alias("band"),
        *[F.col(f"bb.h{j}").alias(f"h{j}") for j in range(r)],
    )
    a, b_ = bb.alias("a"), bb.alias("b")
    cond = (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")) & (
        F.col("a.band") == F.col("b.band")
    )
    for j in range(r):
        cond = cond & (F.col(f"a.h{j}") == F.col(f"b.h{j}"))
    return (
        a.join(b_, cond)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )


def simhash_signatures_portable(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 16,
) -> DataFrame:
    """(id, simhash): tf-weighted ``bits``-bit SimHash over portable term
    hashes — bit b's vote is sum over the TOKEN STREAM (multiplicity =
    term frequency, the classic Charikar weighting) of +-1 by bit b of
    h(term_id); the signature sets bit b iff the vote is >= 0.

    Fully engine-portable (rank-based term ids, (a*x+c) mod p hash, bit
    shifts on non-negative BIGINTs), hence exactly DuckDB-checkable —
    unlike the production :func:`simhash_signatures`' xxhash64 path.
    Row-local after the dictionary join: one groupBy(doc) shuffle."""
    if bits > 30:  # ValueError, not assert: h < PORTABLE_MOD ~ 2^30 —
        # stripped, bits > 30 would vote on constant-zero high bits
        raise ValueError(f"bits ({bits}) must be <= 30 (h < PORTABLE_MOD ~ 2^30)")
    a0, c0 = PORTABLE_HASH_AC[0]
    vocab = portable_vocab(df, text_col)
    tok = df.select(
        F.col(id_col), F.explode(tokens_col(text_col)).alias("term")
    ).join(vocab, "term")
    h = F.pmod(F.lit(a0) * F.col("term_id") + F.lit(c0), F.lit(PORTABLE_MOD))
    votes = [
        F.sum(
            F.shiftright(h, b).bitwiseAND(F.lit(1)) * F.lit(2) - F.lit(1)
        ).alias(f"v{b}")
        for b in range(bits)
    ]
    sig_expr = None
    for b in range(bits):
        term = F.when(F.col(f"v{b}") >= 0, F.lit(1 << b)).otherwise(F.lit(0))
        sig_expr = term if sig_expr is None else sig_expr + term
    return (
        tok.groupBy(id_col)
        .agg(*votes)
        .select(F.col(id_col), sig_expr.cast("long").alias("simhash"))
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    window: int = 4,
) -> DataFrame:
    """MOSS winnowing fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD
    2003): per document, hash every word ``k``-gram, slide a window of
    ``window`` consecutive gram hashes, and select the MINIMUM hash in
    each window (ties -> rightmost position).  The union of selections,
    deduplicated, is the document's fingerprint set — the local-algorithm
    guarantee is that any shared substring of at least ``k + window - 1``
    tokens between two documents yields at least one shared fingerprint,
    at an expected density of 2/(window+1) of all grams.  This is the
    copy-localising sibling of MinHash: MinHash answers "are these
    documents similar overall", winnowing answers "WHERE do they share
    passages" with position-level evidence, at a fraction of the
    positional-gram volume of :func:`dup_passage_coverage`.

    Output: one row per selected fingerprint, ``(id, fp_pos, fp)``, all
    BIGINT — ``fp_pos`` is the 0-based gram position selected, ``fp`` the
    portable gram hash.

    Fully engine-portable, hence exactly DuckDB-checkable: gram identity
    is the :func:`portable_vocab` term-id chain reduced mod
    ``PORTABLE_MOD`` (same kernel as :func:`_portable_doc_grams`, k-ary
    and positional), decorrelated through one (a*x+c) mod p universal
    hash; the rightmost-min tie-break is encoded arithmetically as
    ``min(h * 2^21 + (2^21-1-pos))`` so a single windowed MIN resolves
    both the value and the position (positions < 2^21 per document; the
    combined key stays < 2^51, exact int64 everywhere).

    Scale design (100 TB): everything after the dictionary join is
    row-local or per-document (lead/min windows partitioned by ``id``) —
    no cross-document shuffle at all; output volume is ~2/(window+1) of
    the gram stream.  Fingerprint matching downstream is a plain
    equi-join on ``fp``."""
    # ValueError, not assert: k=0/window=0 would build degenerate grams /
    # empty winnow windows silently under python -O
    if k < 1 or window < 1:
        raise ValueError(f"k ({k}) and window ({window}) must both be >= 1")
    a0, c0 = PORTABLE_HASH_AC[0]
    poscap = 1 << 21
    vocab = portable_vocab(df, text_col)
    vsz = vocab.agg(F.max("term_id").alias("__V"))
    tok = df.select(
        F.col(id_col), F.posexplode(tokens_col(text_col)).alias("pos", "term")
    ).join(vocab, "term")
    w = Window.partitionBy(id_col).orderBy("pos")
    cur = tok.crossJoin(F.broadcast(vsz))
    gid = F.col("term_id").cast("long")
    for i in range(1, k):
        cur = cur.withColumn(f"__n{i}", F.lead("term_id", i).over(w))
        gid = F.pmod(
            gid * (F.col("__V") + F.lit(1)) + F.col(f"__n{i}"),
            F.lit(PORTABLE_MOD),
        )
    grams = cur if k == 1 else cur.where(F.col(f"__n{k - 1}").isNotNull())
    grams = grams.select(
        F.col(id_col),
        F.col("pos").cast("long").alias("pos"),
        F.pmod(F.lit(a0) * gid + F.lit(c0), F.lit(PORTABLE_MOD)).alias("h"),
    )
    wv = Window.partitionBy(id_col).orderBy("pos").rowsBetween(0, window - 1)
    combined = F.col("h") * F.lit(poscap) + (F.lit(poscap - 1) - F.col("pos"))
    sel = (
        grams.withColumn("__c", combined)
        .withColumn("__m", F.min("__c").over(wv))
        .withColumn("__w", F.count(F.lit(1)).over(wv))
        # full windows only; a doc with fewer than `window` grams keeps
        # its single (pos == 0) short window so every doc with >= 1 gram
        # fingerprints at least once
        .where(
            (F.col("__w") == window)
            | ((F.col("pos") == 0) & (F.col("__w") < window))
        )
        .select(
            F.col(id_col),
            (F.lit(poscap - 1) - F.pmod(F.col("__m"), F.lit(poscap)))
            .cast("long")
            .alias("fp_pos"),
            F.expr(f"CAST(__m DIV {poscap} AS BIGINT)").alias("fp"),
        )
        .distinct()
    )
    return sel
