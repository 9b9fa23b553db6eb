"""Document deduplication operators for training-data pipelines
(task-brief first-class extensions; no reference counterpart — the
reference's only dedup is the row-level window W1/M2,
transform_load.sql:9-16).

All operators are pure Catalyst expression pipelines (no Python UDFs).
The execution shape is chosen for 100 TB, not just correctness:

- **Pre-partition, then compute.** Each pipeline starts with one
  explicit ``repartition(N, id)`` of the raw (id, text) pairs. That
  single shuffle of the *smallest* representation (raw text, not
  exploded shingles or hash arrays) buys three things: (1) every
  downstream stage runs at full cluster parallelism even when the scan
  yields few splits (small files / few row groups); (2) it is a
  materialization barrier, so the tokenize+shingle expression is never
  inlined and recomputed by projection collapse; (3) the later
  ``groupBy(id)`` reuses the hash partitioning — no second shuffle.
- **Explode + aggregate, not nested arrays.** Signatures are computed
  as ``explode(shingles) -> groupBy(id).agg(min(...))``. Plain
  (non-higher-order) expressions stay inside WholeStageCodegen where
  Spark's subexpression elimination evaluates each md5 exactly once per
  shingle; higher-order ``transform`` lambdas are interpreted and
  re-evaluate shared subtrees.
- **4 permutations per md5.** One md5 yields 32 hex chars = four
  8-hex-char slices, each an independent uniform hash. H permutations
  cost ceil(H/4) md5 calls per shingle. Lexicographic MIN over
  fixed-length lowercase hex equals numeric MIN, and is identical in
  Spark and DuckDB — signatures are cross-engine deterministic with no
  integer conversion.
- **LSH join, never n^2.** Candidate generation is a shuffle self-join
  on (band, bucket); bucket sizes are the LSH-bounded collision groups.
  Identical subplans under the two join sides are deduplicated by
  Spark's exchange reuse, so signatures are computed once. Skewed
  mega-buckets (boilerplate text) are split by AQE skew-join handling.
"""

from __future__ import annotations

from py4j.protocol import Py4JError
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# One md5 (32 lowercase hex chars) provides four independent 8-char hash
# slices; permutation j uses slice j%4 of md5('<j//4>|' || shingle).
SLICES_PER_MD5 = 4
SLICE_LEN = 8


_INFER_FILTERS_FROM_GENERATE = (
    "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
)


def _disable_generate_filter_inference(df: DataFrame) -> None:
    """InferFiltersFromGenerate puts ``size(e) > 0 AND isnotnull(e)``
    under every explode. When the generator input is a computed
    higher-order expression, predicate pushdown substitutes the FULL
    expression into that filter and re-evaluates it (twice) per scan row
    in interpreted mode — measured 20x slower on the shingle pipelines
    (21.8s -> 1.1s at sf0.1 with the rule excluded). Our shingle arrays
    are non-empty by construction (word-count pre-filter), so the
    inferred filter prunes nothing. Runtime-settable, idempotent."""
    spark = df.sparkSession
    key = "spark.sql.optimizer.excludedRules"
    current = spark.conf.get(key, None)
    if not current:
        spark.conf.set(key, _INFER_FILTERS_FROM_GENERATE)
    elif _INFER_FILTERS_FROM_GENERATE not in current:
        spark.conf.set(key, current + "," + _INFER_FILTERS_FROM_GENERATE)


def release_checkpoint(df: DataFrame | None) -> None:
    """Release the block-manager storage of a localCheckpointed DataFrame
    whose data is provably dead (a superseded loop iterate). Pinned
    checkpoint blocks otherwise survive until the py4j proxy is
    garbage-collected — across an iterative loop (or a long multi-query
    session) they accumulate and shrink execution memory (VERDICT r11
    #5/#7). Only call this on a checkpoint that (a) this code created and
    (b) no live DataFrame will read again: a localCheckpointed RDD has no
    lineage to recompute from, so a post-release read would fail.

    No-op on anything that is not a direct checkpoint handle (the
    analyzed plan must be the checkpoint's own LogicalRDD node)."""
    if df is None:
        return
    try:
        plan = df._jdf.queryExecution().analyzed()
        plan.rdd().unpersist(False)
    except (Py4JError, AttributeError):
        pass  # not a bare checkpoint handle (no rdd() on the plan / no _jdf)


def spread(df: DataFrame, *cols: str) -> DataFrame:
    """Repartition to full parallelism with an explicit partition count
    (an explicit N is exempt from AQE coalescing, which would otherwise
    shrink a small input back to one partition and serialize the heavy
    per-row compute that follows)."""
    n = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n, *[F.col(c) for c in cols]) if cols else df.repartition(n)


def words_col(text: Column) -> Column:
    return F.split(F.trim(F.lower(text)), r"\s+")


def shingles_col(text: Column, k: int = 3) -> Column:
    """Distinct k-word shingles; empty array when the doc has < k words."""
    w = words_col(text)
    n = F.size(w) - F.lit(k - 1)
    return F.when(
        n >= 1,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), n),
                lambda i: F.array_join(F.slice(w, i, k), " "),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))


def shingle_docs(df: DataFrame, id_col: str, text_col: str, k: int = 3) -> DataFrame:
    """(id, __sh: array<string>) with the shingle array computed exactly
    once per doc at full parallelism. Docs with < k words drop out (no
    signature).

    The short-doc filter is expressed on the word count, NOT on
    ``size(shingles) > 0``: a predicate over the shingle array gets
    pushed below the repartition exchange by Catalyst and re-evaluates
    the whole (interpreted, higher-order) shingle expression per row on
    the narrow scan side — measured 10-20x slower on this corpus. The
    word-count form is a cheap scan-side predicate and is equivalent
    (>= k words <=> >= 1 shingle), leaving exactly one shingle
    evaluation, post-exchange, at full parallelism."""
    _disable_generate_filter_inference(df)
    filtered = df.filter(F.size(words_col(F.col(text_col))) >= k)
    return spread(filtered, id_col).select(
        F.col(id_col), shingles_col(F.col(text_col), k).alias("__sh")
    )


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup by content hash: keep the minimum id per md5(text).

    Scale: one hash-partitioned groupBy on a 32-char key with map-side
    partial aggregation; no text comparison after the hash."""
    return (
        df.select(F.col(id_col), F.md5(F.col(text_col)).alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").alias("n_copies"),
        )
    )


def _perm_hash(j: int, shingle: Column) -> Column:
    """Permutation j's hash of a shingle: an 8-hex slice of a seeded md5.
    Slices j%4 of the same md5 share one evaluation via codegen
    subexpression elimination."""
    group, slot = divmod(j, SLICES_PER_MD5)
    seeded = F.md5(F.concat(F.lit(f"{group}|"), shingle))
    return F.substring(seeded, slot * SLICE_LEN + 1, SLICE_LEN)


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    bands: int = 4,
    rows_per_band: int = 2,
) -> DataFrame:
    """Per-doc LSH band buckets: (id, band, bucket) from raw documents."""
    return minhash_from_shingles(
        shingle_docs(df, id_col, text_col, k), id_col, bands, rows_per_band
    )


def minhash_from_shingles(
    shingled: DataFrame,
    id_col: str,
    bands: int = 4,
    rows_per_band: int = 2,
) -> DataFrame:
    """Per-doc LSH band buckets from a (id, __sh) shingle table.

    Shape: explode -> groupBy(id) with H = bands*rows_per_band MIN
    aggregates (each an 8-hex md5 slice, ceil(H/4) md5s per shingle
    after subexpression elimination) -> band bucket = md5 of its
    rows_per_band minima. The groupBy reuses shingle_docs' hash
    partitioning on id, so the explode never shuffles. Documents
    sharing >= 1 band bucket are near-dup candidates.
    """
    mins = minhash_minima(shingled, id_col, bands * rows_per_band)
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws(
                    "|", *[F.col(f"__m{b * rows_per_band + r}") for r in range(rows_per_band)]
                )
            ).alias("bucket"),
        )
        for b in range(bands)
    ]
    return mins.select(F.col(id_col), F.explode(F.array(*band_cols)).alias("bb")).select(
        id_col, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )


def minhash_minima(shingled: DataFrame, id_col: str, n_perms: int) -> DataFrame:
    """Per-doc raw minhash minima ``(id, __m0..__m{n_perms-1})`` from a
    (id, __sh) shingle table — the signature VECTOR itself, for
    estimate-style consumers (matching-minima fraction estimates
    Jaccard); band bucketing (:func:`minhash_from_shingles`) folds
    these into collision keys. One explode + one grouped n_perms-way
    MIN aggregate reusing shingle_docs' id partitioning (no shuffle)."""
    tokens = shingled.select(F.col(id_col), F.explode("__sh").alias("__s"))
    return tokens.groupBy(id_col).agg(
        *[F.min(_perm_hash(j, F.col("__s"))).alias(f"__m{j}") for j in range(n_perms)]
    )


def lsh_candidate_pairs(signatures: DataFrame, id_col: str) -> DataFrame:
    """Self-join band buckets -> distinct (id_a < id_b) candidate pairs.

    Scale: shuffle join keyed on (band, bucket); bucket sizes are the
    LSH-bounded collision groups, so the join never materializes the
    full n^2 pair space. Skewed mega-buckets are handled by AQE
    skew-join splitting.

    The signature subtree is materialized once via a lazy local
    checkpoint before the self-join (exchange reuse does not fire across
    the two aliased sides, so without it the whole shingle+hash pipeline
    runs twice — measured 4x slower). At cluster scale the same
    materialize-once-join-twice shape holds; swap the local checkpoint
    for a reliable checkpoint or an explicit table write when executor
    loss must be survivable."""
    signatures = signatures.localCheckpoint(eager=False)
    a = signatures.alias("a")
    b = signatures.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )


def ngram_jaccard(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    shingled: DataFrame | None = None,
) -> DataFrame:
    """Exact shingle-Jaccard for candidate pairs (verification stage).

    Jaccard = |A ∩ B| / |A ∪ B| over distinct k-shingles; integer sizes
    divide to a deterministic double on both engines. The shingle table
    feeds both join sides, so it is checkpointed once (pass `shingled`
    to share one materialization with the candidate-generation stage);
    the candidate `pairs` input is LSH-bounded, so the array intersect /
    union work is proportional to candidates, not n^2."""
    if shingled is None:
        shingled = shingle_docs(docs, id_col, text_col, k).localCheckpoint(eager=False)
    sh = shingled.withColumnRenamed(id_col, "__id")
    a = sh.alias("sa")
    b = sh.alias("sb")
    return (
        pairs.join(a, pairs.id_a == F.col("sa.__id"))
        .join(b, pairs.id_b == F.col("sb.__id"))
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("sa.__sh", "sb.__sh")).alias("n_common"),
            F.size(F.array_union("sa.__sh", "sb.__sh")).alias("n_total"),
        )
        .withColumn(
            "jaccard",
            F.round(F.col("n_common").cast("double") / F.col("n_total"), 6),
        )
    )


def shingle_containment(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    shingled: DataFrame | None = None,
) -> DataFrame:
    """Asymmetric shingle containment for candidate pairs:
    containment_a = |A ∩ B| / |A| (and symmetrically for B) — the
    measure that catches SUB-DOCUMENT duplication (a doc wholly quoted
    inside a larger one scores containment ≈ 1 while its Jaccard can be
    arbitrarily small). Same LSH-bounded join shape and shared shingle
    materialization as ``ngram_jaccard``; integer set sizes divide to a
    deterministic double on both engines."""
    if shingled is None:
        shingled = shingle_docs(docs, id_col, text_col, k).localCheckpoint(eager=False)
    sh = shingled.withColumnRenamed(id_col, "__id")
    a = sh.alias("ca")
    b = sh.alias("cb")
    return (
        pairs.join(a, pairs.id_a == F.col("ca.__id"))
        .join(b, pairs.id_b == F.col("cb.__id"))
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("ca.__sh", "cb.__sh")).alias("n_common"),
            F.size("ca.__sh").alias("n_a"),
            F.size("cb.__sh").alias("n_b"),
        )
        .withColumn(
            "containment_a",
            F.round(F.col("n_common").cast("double") / F.col("n_a"), 6),
        )
        .withColumn(
            "containment_b",
            F.round(F.col("n_common").cast("double") / F.col("n_b"), 6),
        )
    )


def simhash_fingerprint(
    df: DataFrame, id_col: str, text_col: str, k: int = 3, bits: int = 16
) -> DataFrame:
    """bits-bit SimHash: bit i is the majority vote over shingles of the
    high bit of md5 nibble i (hex char >= '8' — lexicographic compare is
    exact for lowercase hex). Returns (id, simhash string, n_shingles).

    Scale: repartition(id) -> explode(shingles) -> ONE groupBy(id) with
    `bits` conditional sums over substrings of a single md5 (codegen
    subexpression elimination: one md5 per shingle); the groupBy reuses
    the repartitioning, so nothing shuffles twice. The fingerprint is a
    plain string column ready for banding or Hamming joins.

    Fingerprint width: one md5 yields 32 nibbles = 32 bits; bits in
    (32, 64] draw the extra nibbles from a second, domain-separated md5.
    Width matters for the banded pair join (simhash_near_pairs): segment
    width ~ bits/(max_hamming+1) must stay >= log2(n_docs) or the
    pigeonhole buckets degenerate toward all-pairs — prefer 64-bit
    fingerprints for corpora beyond ~10^6 documents (Manku et al.,
    WWW'07 use 64-bit)."""
    assert bits <= 64  # two md5s = 64 hex chars
    h = (
        F.md5("__s")
        if bits <= 32
        else F.concat(F.md5("__s"), F.md5(F.concat(F.lit("x"), F.col("__s"))))
    )
    # Parse the hex digest into <=15-hex-char integer chunks ONCE per
    # shingle; each bit's vote input is then a shift/mask on a long.
    # The previous form evaluated `substring(h, i+1, 1) >= '8'` per bit
    # — `bits` UTF8String allocations + string compares per shingle row
    # inside the aggregate. Equivalence: hex char >= '8' is exactly the
    # high bit of that nibble, and vote = Σ(±1) = 2*ones − n, so
    # `2*ones_i > n` reproduces the original `vote_i > 0` integer for
    # integer ones/n — bit-identical fingerprints (oracle unchanged).
    n_chunks = -(-bits // 15)
    chunk_cols = []
    for c in range(n_chunks):
        ln = min(15, bits - 15 * c)
        chunk_cols.append(
            F.conv(F.substring("__h", 15 * c + 1, ln), 16, 10)
            .cast("bigint")
            .alias(f"__c{c}")
        )
    sh = (
        shingle_docs(df, id_col, text_col, k)
        .select(F.col(id_col), F.explode("__sh").alias("__s"))
        .select(F.col(id_col), h.alias("__h"))
        .select(F.col(id_col), *chunk_cols)
    )
    ones = []
    for i in range(bits):
        c, pos = divmod(i, 15)
        ln = min(15, bits - 15 * c)
        shift = 4 * (ln - 1 - pos) + 3
        ones.append(
            F.sum(
                F.shiftright(F.col(f"__c{c}"), shift).bitwiseAND(F.lit(1))
            ).alias(f"__o{i}")
        )
    agg = sh.groupBy(id_col).agg(*ones, F.count("*").alias("n_shingles"))
    bit_chars = [
        F.when(2 * F.col(f"__o{i}") > F.col("n_shingles"), F.lit("1")).otherwise(
            F.lit("0")
        )
        for i in range(bits)
    ]
    return agg.select(
        id_col, F.concat(*bit_chars).alias("simhash"), "n_shingles"
    )


def _hamming_col(a: str, b: str, n_bits: int) -> F.Column:
    """Hamming distance between two '0'/'1' fingerprint strings of
    length ``n_bits``: parse <=31-bit chunks to integers, XOR, popcount.

    The previous form — a sum of n_bits per-character substring
    comparisons — built an expression tree deep enough to fall out of
    whole-stage codegen, and (worse) the optimizer pushes the verify
    filter into the candidate join's condition, so the interpreted
    n_bits-term sum ran per CANDIDATE: measured ~2.6 s of the image
    query's 4.4 s at sf0.1 for ~90k candidates. The chunked
    conv/XOR/bit_count form is a shallow tree (3 terms at 64 bits) that
    stays inside codegen — same exact integer for any valid fingerprint
    (popcount of XOR IS the Hamming distance; chunking only splits the
    popcount), so verified pair sets are bit-identical. 31-bit chunks
    keep conv()'s parse comfortably inside a signed int64."""
    terms = []
    start = 1
    while start <= n_bits:
        ln = min(31, n_bits - start + 1)
        ca = F.conv(F.substring(F.col(a), start, ln), 2, 10).cast("long")
        cb = F.conv(F.substring(F.col(b), start, ln), 2, 10).cast("long")
        terms.append(F.bit_count(ca.bitwiseXOR(cb)))
        start += ln
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out.cast("int")


def simhash_near_pairs(
    fingerprints: DataFrame, id_col: str, max_hamming: int, n_bits: int = 16
) -> DataFrame:
    """Pairs whose SimHash Hamming distance <= max_hamming — banded form.

    Pigeonhole: split the fingerprint into max_hamming+1 contiguous
    segments; any pair within the distance differs in <= max_hamming
    bits, so it agrees EXACTLY on at least one segment. Candidates are
    an equi-join on (segment index, segment value) — the same
    bucket-join shape as lsh_candidate_pairs, never n^2 — then the full
    Hamming distance verifies each candidate once.

    Scale: explode fans each row out max_hamming+1 times (tiny, the
    fingerprint is n_bits chars); the self-join shuffles on short
    segment keys; distinct() collapses pairs that collide in several
    segments before verification. Carrying the fingerprint through the
    join keeps verification join-free. Key-width regime: segments are
    n_bits/(max_hamming+1) bits, so this form degenerates toward
    n²/2^width candidates once the corpus outgrows 2^width docs — use
    simhash_near_pairs_multitable past that (see its header for the
    measured cliff)."""
    n_seg = max_hamming + 1
    base, rem = divmod(n_bits, n_seg)
    segs, start = [], 1
    for i in range(n_seg):
        ln = base + (1 if i < rem else 0)
        segs.append(
            F.struct(
                F.lit(i).alias("seg"),
                F.substring("simhash", start, ln).alias("val"),
            )
        )
        start += ln
    return _banded_hamming_pairs(fingerprints, id_col, segs, max_hamming, n_bits)


def _banded_hamming_pairs(
    fingerprints: DataFrame, id_col: str, segs: list, max_hamming: int, n_bits: int
) -> DataFrame:
    """Shared candidate-join + verify tail of both banded Hamming
    forms: explode each fingerprint into its (table, key) rows, bucket
    equi-join, distinct pairs, full Hamming verification."""
    # Guard against a caller passing an n_bits that disagrees with how
    # the fingerprint was actually built (e.g. bits=32 fingerprints with
    # the default n_bits=16): segments and Hamming would silently be
    # computed over a PREFIX and wrong pairs returned. The check rides
    # the fingerprint expression itself — part of every segment key and
    # of verification, so no projection can prune it — and raises per
    # row via raise_error (runtime data, Catalyst cannot fold it away).
    fingerprints = fingerprints.withColumn(
        "simhash",
        F.when(F.length("simhash") == n_bits, F.col("simhash")).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        f"banded hamming pairs: n_bits={n_bits} does not match "
                        "fingerprint length "
                    ),
                    F.length("simhash").cast("string"),
                )
            )
        ),
    )
    # checkpoint before the self-join: exchange reuse does not fire across
    # aliased self-join sides, so without this the (expensive) fingerprint
    # aggregation under `fingerprints` runs twice (same measured fix as
    # lsh_candidate_pairs; on a cluster swap for reliable checkpoint)
    exploded = (
        fingerprints.select(
            F.col(id_col).alias("__id"), "simhash", F.explode(F.array(*segs)).alias("b")
        )
        .select("__id", "simhash", "b.seg", "b.val")
        .localCheckpoint(eager=False)
    )

    a = exploded.alias("a")
    b = exploded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.seg") == F.col("b.seg"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            F.col("a.simhash").alias("__sh_a"),
            F.col("b.simhash").alias("__sh_b"),
        )
        .distinct()
    )
    return (
        cand.withColumn("hamming", _hamming_col("__sh_a", "__sh_b", n_bits))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def simhash_near_pairs_multitable(
    fingerprints: DataFrame,
    id_col: str,
    max_hamming: int,
    n_bits: int = 64,
    n_blocks: int = 8,
) -> DataFrame:
    """Wide-corpus form of ``simhash_near_pairs`` (Manku, Jain & Das
    Sarma, WWW'07 §3): the contiguous-segment pigeonhole's key width is
    n_bits/(max_hamming+1) — 13 bits for a 64-bit hash at h=4 — so once
    the corpus outgrows 2^key_width, EVERY bucket holds n/2^13 docs and
    candidate volume degenerates toward n²/2^13 (measured: the 100×
    image corpus, 500k assets, drove the segment form to 2 873 s —
    460× over its 1× run — almost entirely candidate-join work).

    Fix: split the hash into ``n_blocks`` blocks and build one table
    per COMBINATION of (n_blocks − max_hamming) blocks, keyed by those
    blocks' concatenated bits. A pair within ``max_hamming`` corrupts
    at most max_hamming blocks, so at least (n_blocks − max_hamming)
    blocks are clean and SOME table's whole key matches — the same
    no-false-negative guarantee, but with C(8,4)=70 tables of 32-bit
    keys: random-collision candidates fall from n²/2^13 to 70·n²/2^32
    (negligible below ~10^8 docs) at the price of a 70-row-per-doc
    explode (vs 5). The explode overtakes the segment form's candidate
    volume only below n ≈ (tables·2^seg_width)/(h+1) ≈ 115k docs —
    callers dispatch on the corpus size (the repo's size-adaptive
    pattern; see image_near_dup_phash).

    Same verification tail as the segment form — the candidate set may
    differ, the verified RESULT is identical (both are exact
    generate-and-verify schemes)."""
    from itertools import combinations

    assert n_blocks > max_hamming, "need at least one clean block"
    base, rem = divmod(n_bits, n_blocks)
    bounds, start = [], 1
    for i in range(n_blocks):
        ln = base + (1 if i < rem else 0)
        bounds.append((start, ln))
        start += ln
    segs = [
        F.struct(
            F.lit(t).alias("seg"),
            F.concat(
                *[F.substring("simhash", bounds[b][0], bounds[b][1]) for b in combo]
            ).alias("val"),
        )
        for t, combo in enumerate(
            combinations(range(n_blocks), n_blocks - max_hamming)
        )
    ]
    return _banded_hamming_pairs(fingerprints, id_col, segs, max_hamming, n_bits)


def simhash_near_pairs_allpairs(
    fingerprints: DataFrame, id_col: str, max_hamming: int, n_bits: int = 16
) -> DataFrame:
    """All-pairs reference form of simhash_near_pairs — O(n^2), for
    verifying the banded form at test scale only."""
    a = fingerprints.alias("a")
    b = fingerprints.alias("b")
    hamming = sum(
        (
            F.substring(F.col("a.simhash"), i + 1, 1)
            != F.substring(F.col("b.simhash"), i + 1, 1)
        ).cast("int")
        for i in range(n_bits)
    )
    return (
        a.join(b, F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 25,
) -> DataFrame:
    """Cluster near-duplicate pairs into components: (node, component)
    where component is the minimum reachable id — the canonical doc to
    keep per duplicate group (every other member is dropped).

    This is the last step of a real dedup pipeline: LSH/SimHash emit
    PAIRS, but retention decisions need GROUPS (doc A~B, B~C must keep
    exactly one of {A,B,C}, which pairwise filtering gets wrong).

    Algorithm: iterative min-label propagation to a fixpoint —
    ``label(v) <- min(label(v), min over neighbors label(u))`` — the
    standard MapReduce-style CC (cf. Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14; GraphX/GraphFrames
    ship the same loop). Each round is one shuffle join (edges x labels,
    partitioned on the join key) plus a map-side-combined min-aggregate;
    an eager local checkpoint truncates the lineage so round N does not
    recompute rounds 1..N-1 (swap for ``checkpoint()`` on a cluster
    where executor loss must be survivable). Rounds needed = component
    diameter, which for near-dup clusters is tiny (LSH buckets make
    cliques, diameter ~2-3); the loop stops as soon as a round changes
    nothing. The result is the unique fixpoint (min reachable id), so
    it is deterministic regardless of execution order.

    The convergence probe per round is a ``changed -> limit(1).count()``
    driver action on the checkpointed labels — O(1) result per round,
    inherent to every iterative fixpoint on Spark (GraphX does the
    same); the data itself never visits the driver.
    """
    fwd = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    rev = pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
    edges = fwd.unionAll(rev).distinct().localCheckpoint(eager=True)
    # checkpoint-lifecycle (VERDICT r11 #7): once round N's probe has
    # materialized round N's checkpoint, round N-1's blocks are dead —
    # release them instead of letting them pin block-manager memory for
    # the rest of the session. The probe action runs doCheckpoint over
    # every partition, so the released predecessor is never read again.
    labels: DataFrame | None = None
    prev_ckpt: DataFrame | None = None
    for it in range(max_iterations):
        if it == 0:
            # ROUND-1 specialization (r12, guide §2.4): the initial labels
            # are the identity map (label(v) = v), so (a) the neighbor-min
            # join against the label table collapses to ONE aggregate over
            # the edge list (label(dst) = dst), (b) the left join back to
            # the node set is a no-op (the node set IS edges' distinct
            # srcs, and the aggregate emits exactly one row per src), and
            # (c) the pointer jump maps labels through the identity —
            # skipped. One exchange instead of five, and the separate
            # initial-labels checkpoint disappears entirely. Output is
            # bit-identical to the general round on identity labels:
            # least(v, min dst) per node, changed ⇔ the label dropped.
            stepped = (
                edges.groupBy("src")
                .agg(F.min("dst").alias("__m"))
                .select(
                    F.col("src").alias("node"),
                    F.least(F.col("src"), F.col("__m")).alias("new_component"),
                    (F.least(F.col("src"), F.col("__m")) < F.col("src")).alias(
                        "changed"
                    ),
                )
                .localCheckpoint(eager=False)
            )
        else:
            nbr_min = (
                edges.join(labels, F.col("dst") == F.col("node"))
                .groupBy("src")
                .agg(F.min("component").alias("nbr_min"))
            )
            prop = labels.join(
                nbr_min, F.col("node") == F.col("src"), "left"
            ).select(
                "node",
                F.col("component").alias("__old"),
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("nbr_min"), F.col("component")),
                ).alias("component"),
            )
            # Pointer jump (path compression): component <- label(component).
            # Every label is itself a node id, so mapping it through the
            # current label table halves the remaining path each round —
            # convergence in O(log diameter) rounds instead of O(diameter)
            # (the shortcutting idea of Kiveris et al. SoCC'14 large-star/
            # small-star). A 10^3-long chain converges in ~10 rounds, so the
            # default cap of 25 covers any graph of diameter < 2^25 rather
            # than < 25.
            jump = labels.select(
                F.col("node").alias("__jn"), F.col("component").alias("__jc")
            )
            stepped = (
                prop.join(jump, F.col("component") == F.col("__jn"), "left")
                .select(
                    "node",
                    F.least(
                        F.col("component"),
                        F.coalesce(F.col("__jc"), F.col("component")),
                    ).alias("new_component"),
                    F.col("__old"),
                )
                .withColumn("changed", F.col("new_component") < F.col("__old"))
                .drop("__old")
                # lazy: the convergence probe right below is the first action
                # and materializes the checkpoint as part of its own job —
                # one Spark job per round instead of two (eager checkpoint +
                # probe); the next round reads the persisted partitions
                .localCheckpoint(eager=False)
            )
        labels = stepped.select("node", F.col("new_component").alias("component"))
        done = stepped.filter(F.col("changed")).limit(1).count() == 0
        # stepped is now fully materialized (the probe's job ran
        # doCheckpoint over all partitions): its predecessor is dead
        release_checkpoint(prev_ckpt)
        prev_ckpt = stepped
        if done:
            # consumers read only the final stepped checkpoint; the edge
            # relation served its last round
            release_checkpoint(edges)
            return labels
    # no caller can read a non-converged result: free its blocks too
    release_checkpoint(prev_ckpt)
    release_checkpoint(edges)
    raise RuntimeError(
        f"connected_components did not converge in {max_iterations} rounds "
        "(component diameter exceeds 2^rounds under pointer jumping); "
        "raise max_iterations"
    )


def segment_dedup(
    df: DataFrame, id_col: str, text_col: str, seg_words: int = 20
) -> DataFrame:
    """Sub-document (paragraph-style) dedup: split each document into
    fixed ``seg_words``-word segments, drop every segment whose exact
    content already occurred earlier in the corpus (first occurrence by
    (doc_id, position) wins), and reassemble the surviving text.

    This is the CCNet/RefinedWeb-style paragraph dedup adapted to the
    testdata's single-line documents (no paragraph delimiters, so the
    unit is a fixed word window). Documents whose every segment is a
    duplicate vanish from the output entirely — full-document dedup
    falls out as the degenerate case.

    Shape at scale: one explode (segments are ~seg_words words, so the
    exploded relation is the corpus size, not a blow-up), one window
    shuffle hash-partitioned by md5(segment) — the global "seen before"
    decision — and one groupBy(doc) that rebuilds the text. No UDFs, no
    driver participation; the first-wins rule is a deterministic
    row_number over the unique (doc_id, position) order.
    """
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    n_segs = F.ceil(F.size(words) / F.lit(seg_words)).cast("int")
    segs = F.transform(
        F.sequence(F.lit(0), n_segs - 1),
        lambda i: F.array_join(F.slice(words, i * seg_words + 1, F.lit(seg_words)), " "),
    )
    exploded = (
        df.filter(F.length(F.trim(F.col(text_col))) > 0)
        .select(F.col(id_col), F.posexplode(segs).alias("seg_idx", "seg_text"))
    )
    from pyspark.sql import Window as W

    first_wins = W.partitionBy(F.md5(F.col("seg_text"))).orderBy(id_col, "seg_idx")
    kept = (
        exploded.withColumn("rn", F.row_number().over(first_wins))
        .filter(F.col("rn") == 1)
    )
    return kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("seg_idx", "seg_text"))),
                lambda s: s["seg_text"],
            ),
            " ",
        ).alias("dedup_text"),
        F.count(F.lit(1)).alias("n_kept"),
    )


def keep_best_per_component(
    labels: DataFrame,
    docs: DataFrame,
    id_col: str,
    score: Column,
) -> DataFrame:
    """Retention decision per duplicate cluster: keep the member with the
    highest ``score`` (ties broken by lowest id — fully deterministic).

    Completes the dedup pipeline: pairs -> components -> ONE survivor per
    component, chosen by quality instead of the arbitrary min-id. One
    window shuffle partitioned by component (clusters are small by
    construction, so no skew concern); both window functions share the
    single sort."""
    from pyspark.sql import Window as W

    member = labels.join(docs, F.col("node") == F.col(id_col)).select(
        "component", F.col(id_col), score.alias("__score")
    )
    w = W.partitionBy("component")
    ranked = member.select(
        "component",
        F.col(id_col),
        F.row_number()
        .over(w.orderBy(F.desc("__score"), F.col(id_col)))
        .alias("__rn"),
        F.count(F.lit(1)).over(w).alias("n_members"),
    )
    return ranked.filter(F.col("__rn") == 1).select(
        "component", F.col(id_col).alias("keep_id"), "n_members"
    )


def boilerplate_removal(
    df: DataFrame,
    id_col: str,
    text_col: str,
    seg_words: int = 20,
    max_doc_freq: int = 5,
) -> DataFrame:
    """Corpus-frequency boilerplate removal (CCNet/RefinedWeb-style):
    drop EVERY occurrence of any segment that appears in at least
    ``max_doc_freq`` distinct documents — headers, nav bars, license
    banners, cookie notices. Complements :func:`segment_dedup`, which
    keeps the first occurrence; boilerplate by definition has no
    "original" worth keeping.

    Segmentation matches segment_dedup (fixed ``seg_words``-word windows
    — the testdata has single-line documents, so the unit is a word
    window rather than a newline-delimited paragraph). Documents whose
    every segment is boilerplate survive with an empty ``clean_text``
    (so downstream can count them), with ``n_kept = 0``.

    Shape at scale: one explode (corpus-sized, not a blow-up), one
    hash aggregate on md5(segment) computing corpus-wide document
    frequency, one hash join back on the same key — Catalyst reuses the
    partitioning, so the df-lookup adds no extra shuffle of the segment
    stream — and one groupBy(doc) to reassemble. The document-frequency
    relation is segment-cardinality-sized (unbounded), so it is NOT
    broadcast; the join is a co-partitioned shuffle join on the hash.
    No UDFs, no driver participation.
    """
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    n_segs = F.ceil(F.size(words) / F.lit(seg_words)).cast("int")
    segs = F.transform(
        F.sequence(F.lit(0), n_segs - 1),
        lambda i: F.array_join(F.slice(words, i * seg_words + 1, F.lit(seg_words)), " "),
    )
    exploded = (
        df.filter(F.length(F.trim(F.col(text_col))) > 0)
        .select(F.col(id_col), F.posexplode(segs).alias("seg_idx", "seg_text"))
        .withColumn("__h", F.md5("seg_text"))
        # one materialization feeds both the frequency aggregate and the
        # join probe side (self-join sides don't share scans otherwise)
        .localCheckpoint(eager=False)
    )
    freq = exploded.groupBy("__h").agg(F.count_distinct(id_col).alias("__df"))
    keep = F.col("__df") < max_doc_freq
    return (
        exploded.join(freq, "__h")
        .groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(keep, F.struct("seg_idx", "seg_text"))
                        )
                    ),
                    lambda s: s["seg_text"],
                ),
                " ",
            ).alias("clean_text"),
            F.sum(keep.cast("long")).alias("n_kept"),
            F.sum((~keep).cast("long")).alias("n_dropped"),
        )
    )
