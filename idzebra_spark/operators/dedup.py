"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH,
SimHash — the scale path for training-data pipelines.

Cross-engine determinism: every hash is derived from md5 hex digits
(``conv(substr(md5(x),1,15),16,10)`` in Spark ==
``('0x'||substr(md5(x),1,15))::BIGINT`` in DuckDB), so the DuckDB
oracles reproduce signatures bit-for-bit.

Scale notes (100 TB): exact dedup is one hash-shuffle; MinHash/LSH is
shingle-explode → per-doc signature agg → band-key shuffle → bounded
candidate verification — no all-pairs stage ever materializes. The
exact-Jaccard verifier only runs on LSH candidates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from idzebra_spark.functions.tokenizer import tokenize_array

N_HASHES = 16
BAND_ROWS = 4  # 16 hashes → 4 bands of 4 rows


def _hash64(col) -> F.Column:
    """Deterministic 60-bit int from md5 hex (cross-engine stable)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def _widen(df: DataFrame) -> DataFrame:
    """Ensure the heavy map stage (shingle explode + hashing) runs at
    full parallelism: a small corpus often arrives as ONE parquet file
    → one partition → one core does all the work. Round-robin
    repartition is a cheap raw-doc shuffle; skipped when the input is
    already wide (the 100 TB case).

    Width is probed without a DataFrame→RDD conversion (which would
    add a deserialization boundary to the plan just to read a
    partition count): file-backed sources via ``inputFiles()`` (widen
    when the file count is low), non-file sources via the physical
    plan — an upstream Exchange means the frame is already at shuffle
    parallelism and another full shuffle of raw docs would be pure
    waste; only narrow in-memory frames (local relations, tests) get
    widened. Known blind spot: an explicit ``coalesce(1)`` over a
    many-file source reports many files and is not re-widened."""
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        n_files = len(df.inputFiles())
    except Exception:
        n_files = 0
    if n_files > 0:
        if n_files < max(2, target // 2):
            return df.repartition(target)
        return df
    try:
        plan = df._jdf.queryExecution().executedPlan().toString()
        # Only SHUFFLE exchanges mean the frame is already wide — a
        # BroadcastExchange feeds a broadcast join without
        # repartitioning its probe side, so matching bare "Exchange"
        # would misclassify a narrow frame with one broadcast join as
        # shuffle-wide and silently lose parallelism.
        if ("Exchange hashpartitioning" in plan
                or "Exchange rangepartitioning" in plan
                or "Exchange RoundRobin" in plan
                or "Exchange SinglePartition" in plan
                or "ShuffleQueryStage" in plan):
            return df  # already shuffle-wide
    except Exception:
        pass
    return df.repartition(target)


def exact_dup_groups(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups by content sha256 — one hash shuffle."""
    return (
        df.select(
            F.sha2(F.col(text_col), 256).alias("sha256"),
            F.col(id_col).alias("doc_id"),
        )
        .groupBy("sha256")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keep_doc"))
        .where(F.col("n_docs") > 1)
    )


def shingles(df: DataFrame, n: int = 3, text_col: str = "text",
             id_col: str = "doc_id", distinct: bool = True) -> DataFrame:
    """Word n-gram shingles per doc: (doc_id, shingle).

    ``distinct=False`` skips the dedup shuffle — correct wherever the
    consumer is duplicate-insensitive (MinHash takes a min over the
    shingle set; duplicates can't change it)."""
    # A projection boundary materializes the token array ONCE per row:
    # higher-order functions are interpreted (no codegen CSE), so
    # inlining tokenize_array inside the lambda would re-tokenize per
    # shingle. element_at is O(1) per token vs slice's O(n) copy.
    base = _widen(df).select(
        F.col(id_col).alias("doc_id"),
        tokenize_array(F.col(text_col)).alias("_toks"),
    )
    toks = F.col("_toks")
    # guard short docs: sequence(1, 0) would yield the DESCENDING
    # [1, 0] and element_at past the end throws — docs with < n
    # tokens have NO n-gram shingles
    sh = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, i + j) for j in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    if distinct:
        # per-doc distinct INSIDE the array: (doc_id, shingle) dedup
        # needs no corpus-wide shuffle because doc_id is part of the
        # key — array_distinct before the explode is set-identical to
        # .distinct() after it, and the plan loses one full Exchange
        # + hash-aggregate over every shingle occurrence
        sh = F.array_distinct(sh)
    return base.select("doc_id", F.explode(sh).alias("shingle"))


def jaccard_pairs(df: DataFrame, n: int = 3, threshold: float = 0.5,
                  text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact n-gram Jaccard similar pairs via shared-shingle join.

    (doc_a, doc_b, jacc_milli) with doc_a < doc_b, jaccard >= threshold.
    Quadratic only within shingle groups — use minhash_lsh_pairs at
    scale; this is the verifier/oracle-comparable form."""
    sh = shingles(df, n, text_col, id_col).cache()
    inter = (
        sh.alias("a")
        .join(sh.alias("b"),
              (F.col("a.shingle") == F.col("b.shingle"))
              & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("n_inter"))
    )
    return _jaccard_filter(inter, sh, threshold)


def _jaccard_filter(inter: DataFrame, sh: DataFrame,
                    threshold: float) -> DataFrame:
    """(doc_a, doc_b, n_inter) + shingle sets → thresholded
    (doc_a, doc_b, jacc_milli) — the ONE place the Jaccard formula,
    threshold and milli rounding live."""
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    j = (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a")
                   .withColumnRenamed("n_sh", "sz_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b")
              .withColumnRenamed("n_sh", "sz_b"), "doc_b")
        .withColumn(
            "jacc",
            F.col("n_inter")
            / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter")),
        )
        .where(F.col("jacc") >= threshold)
    )
    return j.select(
        "doc_a", "doc_b",
        F.round(F.col("jacc") * 10000, 0).cast("long").alias("jacc_milli"),
    )


def minhash_signatures_wide(sh: DataFrame,
                            n_hashes: int = N_HASHES) -> DataFrame:
    """(doc_id, m0..m{n-1}) from a shingle set — ONE groupBy with
    ``n_hashes`` min-aggregations (map-side combine shrinks the
    shuffle to n_docs × n_hashes values; no row explosion)."""
    aggs = [
        F.min(
            _hash64(F.concat(F.lit(f"{j}:"), F.col("shingle")))
        ).alias(f"m{j}")
        for j in range(n_hashes)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def minhash_lsh_pairs(df: DataFrame, n_hashes: int = N_HASHES,
                      band_rows: int = BAND_ROWS, n: int = 3,
                      threshold: float = 0.5, text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """MinHash + banded LSH near-dup pairs, verified by exact Jaccard.

    signature → bands of ``band_rows`` rows → band-key equality join
    produces candidates → exact n-gram Jaccard filters ≥ threshold.
    Only candidate pairs are verified (the 100 TB-safe shape).

    Signatures run on the RAW (non-distinct) shingle stream — min is
    duplicate-insensitive — so the signature path is one scan + one
    map-side-combined agg with NO distinct shuffle; the verifier
    re-shingles only the candidate docs (semi-join first, then
    explode)."""
    sh = shingles(df, n, text_col, id_col, distinct=False)
    # n_docs × n_hashes — tiny; caching stops the band self-join from
    # re-deriving the shingle+hash chain for each join side. Caches in
    # this operator are left to Spark's LRU (storage is evictable —
    # long sessions shed them under memory pressure); callers that
    # materialize the result may unpersist via spark.catalog.clearCache
    wide = minhash_signatures_wide(sh, n_hashes).cache()
    # ceil division keeps the trailing PARTIAL band when n_hashes is
    # not a band_rows multiple (the oracle's j // band_rows does too)
    n_bands = (n_hashes + band_rows - 1) // band_rows
    band_structs = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.md5(F.concat_ws(",", *[
                F.col(f"m{j}").cast("string")
                for j in range(b * band_rows,
                               min((b + 1) * band_rows, n_hashes))
            ])).alias("band_key"),
        )
        for b in range(n_bands)
    ])
    bands = wide.select(
        "doc_id", F.explode(band_structs).alias("s")
    ).select("doc_id", F.col("s.band").alias("band"),
             F.col("s.band_key").alias("band_key"))
    cand = (
        bands.alias("a")
        .join(bands.alias("b"),
              (F.col("a.band") == F.col("b.band"))
              & (F.col("a.band_key") == F.col("b.band_key"))
              & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    return verify_candidate_pairs(df, cand, n, threshold, text_col, id_col)


def verify_candidate_pairs(df: DataFrame, cand: DataFrame, n: int = 3,
                           threshold: float = 0.5, text_col: str = "text",
                           id_col: str = "doc_id") -> DataFrame:
    """Exact n-gram Jaccard restricted to a candidate-pair set.

    The 100 TB-safe verifier: shingles are semi-joined down to docs
    that appear in ``cand`` (doc_a/doc_b), and intersections are
    computed ONLY for candidate pairs — the corpus-wide shared-shingle
    self-join never happens. Work is O(sum over candidate pairs of
    shingle counts), bounded by the LSH band stage.
    """
    cand = cand.cache()
    cand_docs = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .union(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    # semi-join the CORPUS first, then shingle: the n-gram explode and
    # its distinct run over candidate docs only, not the whole corpus
    df_c = df.join(cand_docs.withColumnRenamed("doc_id", id_col),
                   id_col, "semi")
    sh_c = shingles(df_c, n, text_col, id_col).cache()
    inter = (
        cand
        .join(sh_c.select(F.col("doc_id").alias("doc_a"), "shingle"), "doc_a")
        .join(sh_c.select(F.col("doc_id").alias("doc_b"), "shingle"),
              ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_inter"))
    )
    return _jaccard_filter(inter, sh_c, threshold)


def cross_contamination(test: DataFrame, train: DataFrame, n: int = 5,
                        threshold: float = 0.3,
                        max_shingle_df: int | None = None,
                        text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """Train→test n-gram contamination (the decontamination pass a
    training pipeline runs before eval): for every test doc, the train
    docs sharing word n-grams, scored by CONTAINMENT
    |shingles(test) ∩ shingles(train)| / |shingles(test)| — the
    standard leakage metric (asymmetric on purpose: a short test doc
    fully quoted inside a long train doc must score 1.0, which Jaccard
    would dilute).

    Returns (test_id, train_id, n_shared, contain_milli) with
    containment ≥ threshold.

    Scale shape: one shingle-equality join (shuffle on shingle); with
    word n-grams of n ≥ 5 shared shingles are rare, so the join
    fan-out is small. ``max_shingle_df`` drops boilerplate shingles
    seen in more than that many TRAIN docs before the join (license
    headers, generated preambles) — the skew cap for the 100-TB run;
    leave None for the exact form the oracle mirrors.

    Cache lifecycle: the test-shingle frame (and the train frame when
    ``max_shingle_df`` is set) is ``.cache()``d because it feeds two
    branches of the returned plan. The CALLER owns release — call
    ``returned_df.sparkSession.catalog.clearCache()`` (or unpersist
    via the frame's lineage) after consuming the result when running
    many contamination passes in one session. Unreleased entries are
    MEMORY_AND_DISK and LRU-evicted under storage pressure, so leaks
    degrade to recompute, never OOM."""
    sht = (shingles(test, n, text_col, id_col)
           .withColumnRenamed("doc_id", "test_id").cache())
    shr = (shingles(train, n, text_col, id_col)
           .withColumnRenamed("doc_id", "train_id"))
    if max_shingle_df is not None:
        shr = shr.cache()
        hot = (shr.groupBy("shingle")
               .agg(F.count("*").alias("df"))
               .where(F.col("df") > max_shingle_df)
               .select("shingle"))
        shr = shr.join(hot, "shingle", "left_anti")
    inter = (
        sht.join(shr, "shingle")
        .groupBy("test_id", "train_id")
        .agg(F.count("*").alias("n_shared"))
    )
    sizes = sht.groupBy("test_id").agg(F.count("*").alias("n_sh"))
    return (
        inter.join(sizes, "test_id")
        .withColumn("contain", F.col("n_shared") / F.col("n_sh"))
        .where(F.col("contain") >= threshold)
        .select("test_id", "train_id", "n_shared",
                F.round(F.col("contain") * 10000, 0).cast("long")
                .alias("contain_milli"))
    )


def simhash(df: DataFrame, n_bits: int = 32, text_col: str = "text",
            id_col: str = "doc_id") -> DataFrame:
    """Tf-weighted SimHash over index tokens: bit k set iff
    sum over terms of tf * sign(bit k of hash64(term)) > 0."""
    toks = tokenize_array(F.col(text_col))
    tf = (
        _widen(df)
        .select(F.col(id_col).alias("doc_id"), F.explode(toks).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
        .withColumn("h", _hash64(F.col("term")))
    )
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("h"), k).bitwiseAND(1) == 1,
                   F.col("tf")).otherwise(-F.col("tf"))
        ).alias(f"b{k}")
        for k in range(n_bits)
    ]
    agg = tf.groupBy("doc_id").agg(*bit_sums)
    sim = None
    for k in range(n_bits):
        bit = F.when(F.col(f"b{k}") > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        term = F.shiftleft(bit, k)
        sim = term if sim is None else sim + term
    return agg.select("doc_id", sim.alias("simhash"))


def simhash_dup_groups(df: DataFrame, n_bits: int = 32,
                       text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """Docs sharing an identical simhash (near-dup buckets)."""
    return (
        simhash(df, n_bits, text_col, id_col)
        .groupBy("simhash")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keep_doc"))
        .where(F.col("n_docs") > 1)
    )


def simhash_near_pairs(df: DataFrame, n_bits: int = 32, n_bands: int = 4,
                       max_hamming: int = 3, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """SimHash near-duplicate pairs at Hamming distance ≤ max_hamming —
    the banded form exact-bucket grouping cannot provide (identical
    hashes only find distance-0 dups).

    Same band/verify shape as MinHash-LSH: the simhash is cut into
    ``n_bands`` contiguous bit bands; candidates share at least one
    band value (a band-key equality join — the only shuffle, never
    all-pairs); the exact Hamming distance then verifies candidates.
    Pigeonhole guarantee: with max_hamming < n_bands, any pair within
    distance ≤ max_hamming has ≥ 1 identical band, so recall within
    the budget is 100% — not probabilistic like MinHash bands.

    Returns (doc_a, doc_b, hamming), doc_a < doc_b."""
    if n_bits % n_bands:
        raise ValueError("n_bits must be divisible by n_bands")
    if max_hamming >= n_bands:
        raise ValueError(
            f"max_hamming={max_hamming} needs n_bands > max_hamming "
            f"(got {n_bands}): with one differing bit per band no band "
            "key matches and the pigeonhole recall guarantee is void")
    band_bits = n_bits // n_bands
    mask = (1 << band_bits) - 1
    sims = simhash(df, n_bits, text_col, id_col).cache()
    band_structs = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.shiftright(F.col("simhash"), b * band_bits)
            .bitwiseAND(F.lit(mask)).alias("key"),
        )
        for b in range(n_bands)
    ])
    bands = sims.select(
        "doc_id", F.explode(band_structs).alias("s")
    ).select("doc_id", F.col("s.band").alias("band"),
             F.col("s.key").alias("key"))
    cand = (
        bands.alias("a")
        .join(bands.alias("b"),
              (F.col("a.band") == F.col("b.band"))
              & (F.col("a.key") == F.col("b.key"))
              & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    ha = sims.select(F.col("doc_id").alias("doc_a"),
                     F.col("simhash").alias("ha"))
    hb = sims.select(F.col("doc_id").alias("doc_b"),
                     F.col("simhash").alias("hb"))
    return (
        cand.join(ha, "doc_a").join(hb, "doc_b")
        .select(
            "doc_a", "doc_b",
            F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
            .cast("long").alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
    )
