"""Deduplication operators for large-scale corpus curation.

The reference has no corpus-dedup surface (its nearest relative is the
order-preserving coordinate dedup parse_xml.py:38-41); these are the
engine's training-data-pipeline extensions, designed shuffle-first:

- ``exact_dedup_groups``: hash-groupBy on md5(text). One shuffle on a
  uniformly distributed 128-bit key — no skew by construction; partial
  aggregation (map-side combine) makes the shuffle carry one row per
  distinct hash per partition, not per input row.
- MinHash + LSH: shingle → 16 minhashes via ONE groupBy with 16 min()
  aggregates (single shuffle, map-side combinable — NOT an explode×16,
  which would multiply shuffle volume 16x at 100 TB) → 4 bands of 4 →
  band-bucket self-join on (band, band_key) → exact-Jaccard verify of
  the (tiny) candidate set, CANDIDATE-FIRST (r7): shingles are joined
  onto the candidate pairs, never onto each other. The expensive
  all-pairs shingle join never happens anywhere in the LSH path.
- ``pairwise_jaccard`` without candidates: exact all-pairs baseline
  (shingle self-join). Quadratic per hot shingle — correct at test
  scale, kept ONLY as the oracle-verifiable baseline (d5).

All hashing is md5-derived (8-hex-char slices for MinHash, a 15-char
60-bit prefix for SimHash) so every stage is reproducible in any
ANSI-SQL engine (DuckDB oracle equality).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cellphe_data_pipeline_spark.functions.scalars import nondeterministic_zero, round_z

from cellphe_data_pipeline_spark.checkpoint import cut_lineage


def exact_dedup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups: md5 content hash → (keep_id = min id, n_copies)."""
    return (
        df.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def _distinct_gram_rows(
    df: DataFrame, text_col: str, id_col: str, n: int
):
    """ONE home for the shingle tokenizer + n-gram transform (r17, per
    the r16 ADVICE): returns ``(toks, grams)`` where ``toks`` is the
    (doc_id, t=token array) frame already filtered to ``size(t) >= n``
    and ``grams`` is the DISTINCT per-doc gram-array Column over it.
    :func:`shingle_arrays` and :func:`word_shingles` both compose this,
    so the two expressions cannot drift — drift would silently corrupt
    :func:`incremental_near_duplicates`, whose band keys and verify
    arrays come from the two functions respectively."""
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.split(F.trim(F.regexp_replace(F.col(text_col), r"\s+", " ")), " ").alias("t"),
    ).filter(F.size("t") >= n)
    joined = F.transform(
        F.sequence(F.lit(0), F.size("t") - n),
        lambda i: F.concat_ws(" ", *[F.element_at("t", i + j + 1) for j in range(n)]),
    )
    return toks, F.array_distinct(joined)


def shingle_arrays(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """Per-doc DISTINCT word n-gram shingle SET as ONE array row:
    (doc_id, sh_set array<string>). The set form of
    :func:`word_shingles` — same tokenizer, same per-doc distinct —
    kept un-exploded so set-algebra consumers (the minhash verify's
    ``array_intersect``, per-doc set sizes) can run ROW-WISE with no
    explode, no aggregation and no shuffle (r16, guide §2.4).

    Docs with < n tokens produce no row (guard required: Spark's
    ``sequence`` would otherwise emit a *descending* range)."""
    toks, grams = _distinct_gram_rows(df, text_col, id_col, n)
    return toks.select("doc_id", grams.alias("sh_set"))


def word_shingles(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """Distinct word n-gram shingles: (id, shingle) rows.

    Docs with < n tokens produce no shingles (guard required: Spark's
    ``sequence`` would otherwise emit a *descending* range).

    The dedup is ``array_distinct`` on the per-doc gram array BEFORE
    the explode (r16, guide §2.4 "remove shuffles outright"; the array
    stage is :func:`shingle_arrays`): a doc's shingles all live in one
    row at that point, so the per-row distinct produces exactly the set
    the old row-level ``.distinct()`` did — but with ZERO shuffle,
    where the old form paid a full Exchange + two hash aggregates over
    every (doc_id, shingle) in the corpus before any consumer had
    filtered anything. This is the largest single shuffle in the
    MinHash chain (d2/d3/d7/c23/c24 and the containment/incremental
    paths all sit on it); measured at sf0.1 it takes d3's plan from 3
    corpus-wide exchanges to 2. Contract note: row-level and per-doc
    distinct coincide because every caller feeds one row per ``id_col``
    (the documents-table key) — a caller with duplicate id rows would
    previously have had cross-row dedup, which no engine path relies on
    (all feed keyed doc tables).

    NOT expressed as ``shingle_arrays(...).select(explode(sh_set))``
    (r16): exploding an ATTRIBUTE triggers InferFiltersFromGenerate,
    whose inferred ``size(sh_set) > 0`` guard is pushed below the
    token-count filter and — because the array expression then appears
    twice in the pushed predicate — codegen's common-subexpression
    elimination evaluates the gram transform EAGERLY on unguarded rows,
    where a < n-token doc's descending ``sequence`` indexes past the
    token array (runtime ArrayIndexOutOfBounds). Exploding the
    expression directly keeps the generator input non-trivial, which
    that rule skips. (Exploding a CHECKPOINTED sh_set attribute — the
    minhash path — is safe: the inferred guard lands on the checkpoint
    scan, where size() is cheap and the transform no longer exists.)
    """
    toks, grams = _distinct_gram_rows(df, text_col, id_col, n)
    return toks.select("doc_id", F.explode(grams).alias("sh"))


def pairwise_jaccard(shingles: DataFrame, threshold: float, candidates: DataFrame | None = None) -> DataFrame:
    """Exact Jaccard over shingle sets; optionally restricted to a
    candidate-pair DataFrame (doc_a, doc_b) from LSH.

    Join order matters at corpus scale (r7). With candidates, the
    verify is CANDIDATE-FIRST — attach doc_a's shingles to the
    (distinct) candidate pairs, then equi-join the doc_b side on
    (doc_b, shingle) — so the intermediate is bounded by
    |candidates| x shingles-per-doc, the same O(candidates) contract
    as :func:`incremental_near_duplicates`. The r1-r6 form joined
    shingles-on-shingles FIRST and only then applied the candidate
    restriction; the semi join cannot be pushed below a join whose
    keys span both sides, so the intermediate was Σ_sh count(sh)² —
    quadratic in hot-shingle frequency (one trigram common to 10⁶
    docs alone yields ~10¹² rows). The candidate distinct here is a
    shuffle over the PAIR set (small by LSH construction) and is
    required: an inner join against duplicated cross-band candidates
    would double-count intersections, which the old semi form was
    immune to.

    Without candidates: the exact all-pairs baseline (shingle
    self-join) — quadratic per hot shingle, kept ONLY as the
    oracle-verifiable baseline for capped test corpora (d5)."""
    sizes = shingles.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    if candidates is not None:
        # orientation guard (r7 review): the r6 semi-join form silently
        # IGNORED reversed/self candidate rows; the candidate-first
        # inner join would compute them, so restore that contract
        # explicitly before the distinct
        cand = (
            candidates.select("doc_a", "doc_b")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .distinct()
        )
        a = cand.join(
            shingles.withColumnsRenamed({"doc_id": "doc_a"}), "doc_a"
        )
        inter = (
            a.join(
                shingles.withColumnsRenamed({"doc_id": "doc_b"}),
                ["doc_b", "sh"],
            )
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("ni"))
        )
    else:
        a = shingles.withColumnsRenamed({"doc_id": "doc_a", "sh": "sh_a"})
        b = shingles.withColumnsRenamed({"doc_id": "doc_b", "sh": "sh_b"})
        pairs = a.join(
            b, (F.col("sh_a") == F.col("sh_b")) & (F.col("doc_a") < F.col("doc_b"))
        )
        inter = pairs.groupBy("doc_a", "doc_b").agg(F.count(F.lit(1)).alias("ni"))
    jacc = (
        inter.join(sizes.withColumnsRenamed({"doc_id": "doc_a", "n": "na"}), "doc_a")
        .join(sizes.withColumnsRenamed({"doc_id": "doc_b", "n": "nb"}), "doc_b")
        .withColumn(
            "jaccard",
            F.col("ni").cast("double") / (F.col("na") + F.col("nb") - F.col("ni")),
        )
        .filter(F.col("jaccard") >= F.lit(threshold))
    )
    return jacc.select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))


def minhash_band_keys(
    shingles: DataFrame, num_hashes: int = 16, band_size: int = 4
) -> DataFrame:
    """MinHash signature → LSH band keys, in ONE aggregation pass.

    groupBy(doc_id) with `num_hashes` independent min() aggregates; band
    key is an order-independent weighted sum of the band's minhashes
    (weights 1..band_size) so no collect_list/sort is needed — every
    aggregate is map-side combinable, the shuffle carries one row per doc.
    """
    # 4 hash values per md5 digest (the 32 hex chars sliced into 8-char
    # windows) instead of one md5 per hash function: 4x less hashing in
    # the dominant map stage, still fully ANSI-SQL-reproducible.
    digests = {
        g: F.md5(F.concat(F.lit(f"g{g}"), F.col("sh")))
        for g in range(-(-num_hashes // 4))
    }

    def hash_s(s: int):
        window = F.substring(digests[s // 4], 1 + 8 * (s % 4), 8)
        return F.conv(window, 16, 10).cast("bigint")

    mins = shingles.groupBy("doc_id").agg(
        *[F.min(hash_s(s)).alias(f"h{s}") for s in range(num_hashes)]
    )
    n_bands = num_hashes // band_size
    band_cols = []
    for b in range(n_bands):
        key = sum(
            (F.col(f"h{b * band_size + i}") * F.lit(i + 1) for i in range(band_size)),
            start=F.lit(0),
        )
        band_cols.append(F.struct(F.lit(b).alias("band"), key.cast("bigint").alias("band_key")))
    return mins.select(
        "doc_id", F.explode(F.array(*band_cols)).alias("bk")
    ).select("doc_id", F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key"))


def lsh_candidate_pairs(band_keys: DataFrame, dedup: bool = True) -> DataFrame:
    """Docs sharing any (band, band_key) bucket → ordered pairs.
    The join key is a 64-bit bucket id: hash-partitioned, no broadcast,
    collision lists short by construction (near-dups only).
    ``dedup=False`` skips the cross-band distinct — correct whenever
    the consumer collapses multiplicity itself (pairwise_jaccard's
    candidate-first verify distincts the pair set once), avoiding a
    duplicated shuffle over the pairs (r6/r7)."""
    a = band_keys.withColumnRenamed("doc_id", "doc_a")
    b = band_keys.withColumnRenamed("doc_id", "doc_b")
    pairs = (
        a.join(b, ["band", "band_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
    )
    return pairs.distinct() if dedup else pairs


def _verify_intersection_size(cast_type: str = "int"):
    """``|A ∩ B|`` of the verify rows' two per-doc DISTINCT shingle-set
    arrays ``_sa``/``_sb``, with the O(1) equal-set witness (r17) shared
    by every row-wise verify (d3, d10, d14): equal xxhash64 set hashes
    (``_hha``/``_hhb``, computed once per doc inside its cut), equal
    sizes AND equal first elements give ``|A|`` — exact whenever the
    sets ARE equal — and anything else falls through to
    ``size(array_intersect)``. A wrong count needs a 64-bit hash
    collision between two different sets of the same size that also
    start with the same shingle. ``try_element_at`` keeps empty sets
    (NULL first element) on the intersect arm instead of raising under
    ANSI mode.

    The ``nondeterministic_zero`` term (cast to ``cast_type``) makes the
    projected size evaluate exactly ONCE (r17): without it
    CollapseProject re-inlines the intersect into the jaccard ratio and
    every filter conjunct — ~4x per row on the c24 verify, 3.57s vs
    0.91s."""
    size = F.when(
        (F.col("_hha") == F.col("_hhb"))
        & (F.size("_sa") == F.size("_sb"))
        & (F.try_element_at("_sa", F.lit(1)) == F.try_element_at("_sb", F.lit(1))),
        F.size("_sa"),
    ).otherwise(F.size(F.array_intersect("_sa", "_sb")))
    return size + nondeterministic_zero().cast(cast_type)


def _spread_docs(df: DataFrame, id_col: str) -> DataFrame:
    """Keyed repartition of the doc table to defaultParallelism — ONLY
    when the input has fewer partitions than cores (r17). The spread
    repairs single-/small-file scan parallelism for the md5-heavy
    signature map phase (the bench's one-file corpus = one scan task);
    a production table with real file counts must not pay a
    full-corpus text-byte shuffle for parallelism it already has.
    Returns ``df`` ITSELF (identity, pinned by test) when no spread is
    needed."""
    para = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < para:
        return df.repartition(para, F.col(id_col))
    return df


def minhash_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 16,
    band_size: int = 4,
    threshold: float = 0.3,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: shingle → sign → band-join →
    exact-Jaccard verify. Output: (doc_a, doc_b, jaccard).

    Restructured r16 (guide §2.3/§2.4) around a per-doc shingle-SET
    checkpoint (:func:`shingle_arrays`, one array row per doc) instead
    of the old exploded (doc_id, sh) checkpoint. What that removes,
    with the r15 plan's operator count at sf0.1 in brackets:

    - the band-key signature subtree is computed ONCE behind its own
      lazy cut — the LSH self-join's two sides previously each re-ran
      the scan→partial-min→explode chain [2 aggregation passes → 1];
    - the per-doc set SIZES are ``F.size(sh_set)`` carried by the
      verify join rows — previously two full corpus scans + two
      partial-count aggregations + two broadcast join-backs
      [2 passes + 2 joins → 0];
    - the exact-Jaccard intersection is row-wise
      ``size(array_intersect(sa, sb))`` on the candidate pairs —
      previously a join of the exploded corpus keyed (doc_b, sh),
      which at cluster scale shuffles EVERY shingle row by a compound
      key LSH never partitioned by (at bench scale it only survived as
      a broadcast because the corpus fits) [corpus-wide exchange → a
      candidate-sized join];
    - the checkpoint materialises 1 row/doc (same string bytes, no
      per-shingle row headers, no explode in the write job).

    The signature aggregation itself deliberately KEEPS the
    explode + groupBy row form: per-row md5 is whole-stage-codegen'd
    and the 16 mins are one map-side-combinable hash aggregate whose
    exchange carries partial states (1 row/doc/map-partition), while
    the HOF array form evaluates on the interpreted expression path —
    measured 5x slower (r8 note in :func:`minhash_band_key_rows`).

    Equivalence to the pairwise_jaccard verify (oracle-reproven r16):
    both arrays are per-doc DISTINCT sets, so size(array_intersect) is
    exactly the old per-pair match count; na/nb = size() equal the old
    per-doc counts; the ni >= 1 gate reproduces the old inner
    shingle-join's "pairs sharing at least one shingle" row set for
    ANY threshold; the jaccard double is the same exact-integer
    division. At cluster scale prefer the durable form of the cuts:
    publish to parquet (S15) and read back, which survives executor
    loss where a localCheckpoint's unreplicated blocks do not."""
    # Spread the DOC rows across cores before shingling (r16):
    # shingle_arrays is shuffle-free, so without this the shingle sets
    # inherit the SCAN's partitioning — and a small-file corpus (the
    # bench's documents table is one parquet file = one task) runs the
    # md5-heavy signature map phase serial. The keyed repartition moves
    # ~1x the text bytes where the pre-r16 shingle distinct moved ~n x
    # (every token sits in n grams). Measured on d3 at sf0.1, 6-rep
    # interleaved: distinct 2.9s / array_distinct-alone 4.1s (serial
    # hashing) / repartitioned 2.26s median.
    #
    # GATED on actual scan parallelism (r17, verdict item 3): the
    # repartition repairs a SMALL-FILE pathology — a production table
    # with >= cores scan partitions already hashes in parallel, and the
    # unconditional form would buy a full-corpus text-byte shuffle for
    # nothing at 100 TB. getNumPartitions() is a driver-side plan
    # probe (no job runs); the checkpoint reports UnknownPartitioning
    # either way, so the repartition never elided a downstream
    # exchange — parallelism is all it ever bought (r16 record, 8b).
    spread = _spread_docs(df, id_col)
    # _ha: array hash computed ONCE per doc inside the
    # cut (r17, verdict item 5) — an O(1) exact-duplicate witness for
    # the verify below. The r16 attempt short-circuited on ARRAY
    # equality and measured no gain (array compare is itself O(n) on
    # the equal-heavy candidate workload); the precomputed hash makes
    # the equal branch constant-time, so a K-copy boilerplate doc's
    # K² candidate pairs cost O(K²) row handling instead of
    # O(K² · shingles-per-doc) intersect compute. xxhash64 hashes the
    # ARRAY natively (element boundaries included — no separator
    # ambiguity, no concat materialisation; measured cheaper than an
    # md5-of-concat in the cut); the size and first-element compares
    # stay as cheap further witnesses (_verify_intersection_size states
    # the collision bound; _ha never reaches the oracle — it gates an
    # internal branch whose two arms agree whenever the sets ARE equal).
    arr = cut_lineage(
        shingle_arrays(spread, text_col, id_col, n).withColumn(
            "_ha", F.xxhash64(F.col("sh_set"))
        ),
        eager=False,
        name="shingle_arrays",
    )
    sh = arr.select("doc_id", F.explode("sh_set").alias("sh"))
    # band keys behind their own lazy cut: the LSH self-join references
    # this table TWICE, and a localCheckpoint reports
    # UnknownPartitioning, so without the cut each side re-runs the
    # signature aggregation over the full shingle set (duplicate
    # subtree — Catalyst does not CSE across self-join branches). The
    # cut is 4 narrow rows per doc.
    bk = cut_lineage(
        minhash_band_keys(sh, num_hashes, band_size),
        eager=False,
        name="band_keys",
    )
    # dedup=True: the row-wise verify computes each pair ONCE, so the
    # cross-band multiplicity must collapse here (the old
    # candidate-first pairwise_jaccard did the same distinct itself)
    cand = lsh_candidate_pairs(bk, dedup=True)
    a = cand.join(
        arr.withColumnsRenamed({"doc_id": "doc_a", "sh_set": "_sa", "_ha": "_hha"}),
        "doc_a",
    )
    ab = a.join(
        arr.withColumnsRenamed({"doc_id": "doc_b", "sh_set": "_sb", "_ha": "_hhb"}),
        "doc_b",
    )
    # identical sets skip the O(n) intersect, and the intersect is
    # projected ONCE (both: _verify_intersection_size).
    scored = ab.select(
        "doc_a",
        "doc_b",
        _verify_intersection_size().alias("_ni"),
        (F.size("_sa") + F.size("_sb")).alias("_nab"),
    ).withColumn(
        "jaccard",
        F.col("_ni").cast("double") / (F.col("_nab") - F.col("_ni")),
    )
    return scored.filter(
        (F.col("_ni") >= 1) & (F.col("jaccard") >= F.lit(threshold))
    ).select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))


def simhash_codes(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_bits: int = 16,
) -> DataFrame:
    """SimHash document fingerprint: bit j of the code = sign of the
    token-count-weighted sum of (±1 per bit j of each token's hash).

    One explode to (doc, token, count) and ONE groupBy(doc) with
    ``n_bits`` conditional sums — the same single-shuffle shape as the
    MinHash signature; near-duplicate docs (small token-multiset edits)
    land on codes within a small Hamming distance. md5-derived hashing
    keeps it ANSI-SQL-reproducible (oracle equality).

    ``n_bits`` may be up to 60 (r7): the token hash is the first 15
    hex chars of md5 (60 independent bits, the widest prefix that
    stays inside SIGNED bigint range in both Spark and DuckDB — 16
    hex chars can exceed 2^63 and wrap), and the code accumulation
    1<<j stays far below the signed-64 boundary at j<=59. Wide codes
    matter for the PAIRING use (:func:`simhash_near_duplicates`):
    band selectivity at corpus scale needs band widths >= log2(N)
    bits, which 16/32-bit codes cannot provide.
    """
    if not 1 <= n_bits <= 60:
        raise ValueError(f"n_bits must be in [1, 60], got {n_bits}")
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.split(F.trim(F.regexp_replace(F.col(text_col), r"\s+", " ")), " ")
        ).alias("tok"),
    ).filter(F.col("tok") != "")
    counted = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("cnt"))
    # 60-bit token hash (15 md5 hex chars): portable_hash64's 8-char
    # prefix is only 32 bits — bits 32+ of every token would be zero,
    # silently degenerating wide codes (r7)
    h = F.conv(F.substring(F.md5(F.col("tok")), 1, 15), 16, 10).cast("bigint")
    weights = [
        F.sum(
            F.when(F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, F.col("cnt")).otherwise(
                -F.col("cnt")
            )
        )
        for j in range(n_bits)
    ]
    bits = [
        F.when(w >= 0, F.lit(1 << j)).otherwise(F.lit(0)) for j, w in enumerate(weights)
    ]
    code = bits[0]
    for b in bits[1:]:
        code = code + b
    return counted.groupBy("doc_id").agg(code.cast("bigint").alias("simhash"))


def simhash_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_bits: int = 48,
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-dup PAIRING (r6) — the Manku/Jain/Das Sarma 2007
    web-crawl dedup design (public technique): two codes within
    Hamming distance k must agree EXACTLY on at least one of k+1
    disjoint bit bands (pigeonhole), so candidates come from k+1
    band-equality self-joins — never an all-pairs scan — and the exact
    popcount(xor) verify runs on candidates only. Completes the
    SimHash family to parity with the MinHash path (d3): codes (d4)
    were previously emitted without a scale pairing step.

    Band width is floor(n_bits/(k+1)) with the LAST band absorbing the
    remainder, preserving the pigeonhole guarantee. Output:
    (doc_a, doc_b, hamming), hamming <= max_hamming.

    BAND SELECTIVITY is what makes this survive corpus scale (r7):
    a band of w bits has 2^w distinct values, so band buckets hold
    ~N/2^w docs and the band self-join emits ~(k+1)·N²/2^(w+1)
    candidates — near-quadratic unless w >= log2(N) + margin. The
    r6 registration (n_bits=32, k=3 → 8-bit bands, 256 values)
    already emitted 96k candidates from 5,000 docs (SCALE.md); the
    default is now 48 bits → 12-bit bands (selective to N~10⁵; at
    web scale use n_bits=60 → 15-bit bands, and raise k+1 only with
    width kept >= log2 N). Manku's production design uses 64-bit
    fingerprints for exactly this reason; 60 is this engine's max
    (signed-bigint portability, see :func:`simhash_codes`).

    Scale: one code aggregation (simhash_codes), k+1 explode rows per
    doc, one equi-join on (band, band_value), verify = two id-keyed
    joins + a codegen popcount; the final distinct runs over the tiny
    near-dup pair set. Every shuffle is keyed; no cartesian."""
    codes = cut_lineage(simhash_codes(df, text_col, id_col, n_bits), eager=False, name="simhash")
    return hamming_code_pairs(
        codes, id_col="doc_id", code_col="simhash",
        n_bits=n_bits, max_hamming=max_hamming,
    )


def hamming_code_pairs(
    codes: DataFrame,
    id_col: str = "doc_id",
    code_col: str = "simhash",
    n_bits: int = 48,
    max_hamming: int = 3,
) -> DataFrame:
    """Manku pigeonhole pairing over ANY integer-code relation (r7 —
    factored out of :func:`simhash_near_duplicates` so the same scale
    machinery serves every fingerprint family: text SimHash (d13),
    image dHash (mm6), audio fingerprints). Codes within Hamming
    distance ``max_hamming`` must agree exactly on one of the
    ``max_hamming + 1`` disjoint bit bands; candidates come from the
    band-equality self-join, the exact popcount(xor) verify runs on
    candidates only. Band-selectivity contract as documented on
    :func:`simhash_near_duplicates`. Output: (doc_a, doc_b, hamming).

    CONTRACT: ``id_col`` must identify exactly ONE code row — the
    verify joins back on ``id_col`` alone, so a relation carrying
    several codes per id (e.g. :func:`frame_dhash` output, one row per
    (path, frame_index)) would emit duplicated and mutually
    contradictory (doc_a, doc_b, hamming) rows the final distinct
    cannot collapse. Callers with multi-code inputs must key on a
    composite id first (mm6 uses ``path || '#' || frame_index``); the
    contract is asserted eagerly when the input is multi-code
    (r8 ADVICE fix).
    """
    if n_bits // (max_hamming + 1) < 1:
        raise ValueError(
            f"n_bits={n_bits} yields zero-width bands for max_hamming={max_hamming}"
            " (need n_bits >= max_hamming + 1): every pair would collide"
            " in the zero-width bands — an all-pairs explosion, not a filter"
        )
    codes = codes.select(F.col(id_col).alias("doc_id"), F.col(code_col).alias("simhash"))
    # Plan-embedded one-code-per-id guard (r8 ADVICE fix): a keyed
    # window count folded into the code value via the repo's
    # coalesce(assert_true) idiom (pipeline.py spot-id overflow guard)
    # so column pruning cannot drop it — a multi-code id fails loudly
    # at execution instead of emitting contradictory pairs. Costs one
    # keyed shuffle of an (id, int64) relation, cheap next to the band
    # self-join it protects.
    _per_id = Window.partitionBy("doc_id")
    codes = codes.select(
        "doc_id",
        (
            F.col("simhash")
            + F.coalesce(
                F.assert_true(
                    F.count(F.lit(1)).over(_per_id) == 1,
                    F.concat(
                        F.lit("hamming_code_pairs: multiple code rows for id "),
                        F.col("doc_id").cast("string"),
                        F.lit(" — key on a composite id (see docstring)"),
                    ),
                ).cast("long"),
                F.lit(0).cast("long"),
            )
        ).alias("simhash"),
    )
    n_bands = max_hamming + 1
    width = n_bits // n_bands
    band_cols = []
    for b in range(n_bands):
        w = width if b < n_bands - 1 else n_bits - width * (n_bands - 1)
        val = F.shiftright(F.col("simhash"), b * width).bitwiseAND(
            F.lit((1 << w) - 1)
        )
        band_cols.append(
            F.struct(F.lit(b).alias("band"), val.cast("bigint").alias("bv"))
        )
    bands = codes.select(
        "doc_id", F.explode(F.array(*band_cols)).alias("bk")
    ).select("doc_id", F.col("bk.band").alias("band"), F.col("bk.bv").alias("bv"))
    a = bands.withColumnRenamed("doc_id", "doc_a")
    b = bands.withColumnRenamed("doc_id", "doc_b")
    cand = (
        a.join(b, ["band", "bv"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
    )
    ca = codes.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("ha"))
    cb = codes.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("hb"))
    return (
        cand.join(ca, "doc_a")
        .join(cb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
            .cast("bigint")
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def embedding_near_duplicates(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
) -> DataFrame:
    """Embedding-cosine near-dup pairs: (a, b, cos_sim) with a < b and
    cos >= threshold. Exact theta-join form (the oracle-checkable
    baseline); at corpus scale route through ``similarity.srp_topk``
    buckets first — same verify expression, candidate set from LSH."""
    from cellphe_data_pipeline_spark.operators.similarity import with_norm

    a = with_norm(df, vec_col).select(
        F.col(id_col).alias("doc_a"), F.col("_emb").alias("a_emb"), F.col("_norm").alias("a_norm")
    )
    b = with_norm(df, vec_col).select(
        F.col(id_col).alias("doc_b"), F.col("_emb").alias("b_emb"), F.col("_norm").alias("b_norm")
    )
    dot = F.aggregate(
        F.zip_with(F.col("a_emb"), F.col("b_emb"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return (
        a.join(b, F.col("doc_a") < F.col("doc_b"))
        .withColumn("cos_sim", round_z(dot / (F.col("a_norm") * F.col("b_norm")), 5))
        .filter(F.col("cos_sim") >= F.lit(threshold))
        .select("doc_a", "doc_b", "cos_sim")
    )


def _srp_cosine_pairs(
    left: DataFrame,
    right: DataFrame | None,
    dim: int,
    id_col: str,
    vec_col: str,
    threshold: float,
    n_bits: int,
    n_bands: int,
    seed: int,
    left_name: str,
    right_name: str,
) -> DataFrame:
    """Shared SRP candidate + exact-cosine-verify core (r8 review:
    d6b and c16 carried two copies of this machinery). ``right=None``
    = self-join (ordered ``left_name < right_name`` pairs, the d6b
    shape); a second relation = the cross-relation bucket join (the
    c16 shape, no ordering — left never pairs with itself). Seeds
    step ``seed..seed+n_bands-1`` per band; the verify is the rounded
    5dp cosine on candidates only. Output: (left_name, right_name,
    cos_sim >= threshold)."""
    from cellphe_data_pipeline_spark.operators.similarity import (
        srp_bucket_codes,
        with_norm,
    )

    self_join = right is None
    cands: DataFrame | None = None
    for band in range(n_bands):
        coded_l = srp_bucket_codes(left, dim, id_col, vec_col, n_bits, seed + band)
        a = coded_l.select("bucket", F.col("vec_id").alias(left_name))
        coded_r = (
            coded_l
            if self_join
            else srp_bucket_codes(right, dim, id_col, vec_col, n_bits, seed + band)
        )
        b = coded_r.select("bucket", F.col("vec_id").alias(right_name))
        p = a.join(b, "bucket")
        if self_join:
            p = p.filter(F.col(left_name) < F.col(right_name))
        p = p.select(left_name, right_name)
        cands = p if cands is None else cands.union(p)
    assert cands is not None
    cands = cands.distinct()

    nl = with_norm(left, vec_col)
    nr = nl if self_join else with_norm(right, vec_col)
    dot = F.aggregate(
        F.zip_with(F.col("_l_emb"), F.col("_r_emb"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return (
        cands.join(
            nl.select(
                F.col(id_col).alias(left_name),
                F.col("_emb").alias("_l_emb"),
                F.col("_norm").alias("_l_norm"),
            ),
            left_name,
        )
        .join(
            nr.select(
                F.col(id_col).alias(right_name),
                F.col("_emb").alias("_r_emb"),
                F.col("_norm").alias("_r_norm"),
            ),
            right_name,
        )
        .withColumn(
            "cos_sim", round_z(dot / (F.col("_l_norm") * F.col("_r_norm")), 5)
        )
        .filter(F.col("cos_sim") >= F.lit(threshold))
        .select(left_name, right_name, "cos_sim")
    )


def embedding_near_duplicates_srp(
    df: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    n_bits: int = 4,
    n_bands: int = 4,
    seed: int = 7,
) -> DataFrame:
    """Embedding near-dup at corpus scale: the LSH-bucketed candidate
    path for :func:`embedding_near_duplicates` (whose theta join is the
    O(N²) oracle baseline). ``n_bands`` independent SRP codes (seeds
    ``seed..seed+n_bands-1``) each bucket the corpus; candidate pairs
    share a bucket in ANY band (union + distinct — MinHash-banding
    economics applied to cosine space); the exact cosine check runs on
    candidates only.

    Every shuffle is keyed (bucket, then pair), nothing is broadcast or
    collected: N² never materialises. Recall is tunable — fewer bits /
    more bands = more candidates; at the driver's synthetic sf0.01
    corpus the 4-bit × 4-band default recovers ~half the true ≥0.4
    pairs (a production deployment tunes to its threshold; the verify
    expression is shared with the exact form either way)."""
    return _srp_cosine_pairs(
        df, None, dim, id_col, vec_col, threshold, n_bits, n_bands, seed,
        "doc_a", "doc_b",
    )


def semantic_decontaminate(
    corpus: DataFrame,
    evals: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    n_bits: int = 4,
    n_bands: int = 4,
    seed: int = 7,
) -> DataFrame:
    """SEMANTIC decontamination (r8): flag corpus examples whose
    embedding has a >= ``threshold`` cosine neighbor in the eval
    suite — the paraphrase-robust complement of the exact-text paths
    (c5's broadcast join on md5, c12's Bloom bitmap): a benchmark
    answer reworded or lightly edited hashes differently but still
    lands next to its source in embedding space (the Phi/GPT-4
    era decontamination practice, e.g. Yang et al. 2023
    "Rethinking Benchmark and Contamination" — embedding-similarity
    screening).

    Candidates come from ``n_bands`` independent SRP bucketings of
    BOTH relations joined on (band, bucket) — the d6b economics with
    the self-join replaced by a corpus x eval bucket join, so the
    corpus never pairs with itself and N_corpus x N_eval never
    materialises; the exact cosine verify runs on candidates only,
    and one per-corpus-id aggregation + a left join back emits every
    corpus row. Recall is tunable via bits/bands exactly as d6b
    documents. Output: (vec_id, n_eval_hits, max_eval_cos,
    contaminated) — clean rows carry 0 / NULL / false.
    """
    hits = (
        _srp_cosine_pairs(
            corpus, evals, dim, id_col, vec_col, threshold, n_bits, n_bands,
            seed, "corpus_id", "eval_id",
        )
        .groupBy("corpus_id")
        .agg(
            F.count(F.lit(1)).alias("n_eval_hits"),
            F.max("cos_sim").alias("max_eval_cos"),
        )
    )
    return (
        corpus.select(F.col(id_col).alias("vec_id"))
        .join(hits.withColumnRenamed("corpus_id", "vec_id"), "vec_id", "left")
        .select(
            "vec_id",
            F.coalesce(F.col("n_eval_hits"), F.lit(0)).cast("bigint").alias(
                "n_eval_hits"
            ),
            "max_eval_cos",
            F.col("n_eval_hits").isNotNull().alias("contaminated"),
        )
    )


def dedup_clusters(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
) -> DataFrame:
    """Near-dup pairs → transitive duplicate clusters → canonical pick.

    The step every production dedup needs after pair detection: A~B and
    B~C must collapse to ONE keep-doc even when A~C was never scored.
    Runs the distributed alternating-star CC (operators/graph.py) over
    the pair graph — component label = min doc id = the canonical doc —
    then annotates cluster size with one component-partitioned window
    (no join-back). Only docs that appear in some pair are emitted;
    the keep-set semantics match the reference's unique-filter shape
    (bin/qc.py analogue P6) applied post-closure.

    Scale: the pair graph is tiny relative to the corpus (near-dups
    only), and CC's shuffles are keyed on node ids — no driver state,
    no broadcast. Output: (doc_id, cluster_id, is_canonical,
    cluster_size).
    """
    from cellphe_data_pipeline_spark.operators.graph import connected_components

    edges = pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
    comps = connected_components(edges, "src", "dst")
    w = Window.partitionBy("component")
    return comps.select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("cluster_id"),
        (F.col("node") == F.col("component")).alias("is_canonical"),
        F.count(F.lit(1)).over(w).alias("cluster_size"),
    )


def dedup_keep_list(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    quality_col: str = "n_chars",
    **minhash_kwargs,
) -> DataFrame:
    """Full-corpus dedup KEEP-LIST with quality-based canonical pick
    (r6): near-dup pairs (MinHash-LSH) → transitive clusters → keep the
    HIGHEST-QUALITY member of each cluster (max ``quality_col``, ties
    to the lowest doc id), drop the rest with a pointer to their
    replacement. Unlike :func:`dedup_clusters` (which labels only docs
    that appear in some pair and picks min-id canonicals), this is the
    materialisable corpus edit a production dedup applies: EVERY doc
    gets a row — (doc_id, keep, replaced_by) — so
    ``filter(keep)`` is the deduped corpus and ``replaced_by`` is the
    redirect map. Quality-based canonicals are what the public dedup
    recipes keep (e.g. the longest/cleanest member), not the
    smallest id.

    Scale: the pair graph and its clusters are tiny relative to the
    corpus (near-dups only); the canonical pick is ONE combinable
    min(struct(is_null, -quality, id)) per cluster; the corpus touches only two left joins on
    its own id (AQE broadcasts the cluster/canonical maps when they fit,
    which they do by construction at healthy dup rates).
    """
    pairs = minhash_near_duplicates(df, text_col, id_col, **minhash_kwargs)
    # the cluster table (dup members only, << corpus) feeds THREE
    # consumers (quality join, canonical pick, corpus label join);
    # checkpoint it so the minhash+CC lineage runs once, not three
    # times (sf0.01: 7.7s -> ~2.5s warm)
    clusters = cut_lineage(
        dedup_clusters(pairs).select("doc_id", "cluster_id"),
        name="dedup-clusters",
    )
    members = clusters.join(
        df.select(F.col(id_col).alias("doc_id"), F.col(quality_col).alias("_q")),
        "doc_id",
    )
    # max quality, tie -> LOWEST doc id: one combinable aggregate via
    # min(struct(is_null, -q, doc_id)) — no window, no second shuffle.
    # The NEGATED-QUALITY form (rather than negating the id) keeps the
    # id opaque, so string-keyed corpora (valid throughout the minhash
    # path) work; only ``quality_col`` must be numeric, which a quality
    # SCORE is by construction. The leading is-null flag makes NULL
    # quality LOSE to any scored member (r7 review: a bare min() would
    # rank the NULL struct field first, crowning the unscored dup);
    # all-NULL clusters fall through to the lowest id.
    canon = (
        members.groupBy("cluster_id")
        .agg(
            F.min(
                F.struct(
                    F.col("_q").isNull().cast("int").alias("_qnull"),
                    (-F.col("_q")).alias("_nq"),
                    F.col("doc_id").alias("_id"),
                )
            ).alias("m")
        )
        .select("cluster_id", F.col("m._id").alias("canonical"))
    )
    labeled = clusters.join(canon, "cluster_id").select(
        "doc_id", "canonical"
    )
    return (
        df.select(F.col(id_col).alias("doc_id"))
        .join(labeled, "doc_id", "left")
        .select(
            "doc_id",
            (F.col("canonical").isNull() | (F.col("doc_id") == F.col("canonical"))).alias("keep"),
            F.when(
                F.col("canonical").isNotNull() & (F.col("doc_id") != F.col("canonical")),
                F.col("canonical"),
            ).alias("replaced_by"),
        )
    )


def shingle_novelty(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Per-document n-gram NOVELTY score (r6): the fraction of a doc's
    distinct word n-grams whose FIRST corpus occurrence (minimum doc id
    over the whole corpus) is this doc. The dedup-aware curation signal
    between exact dup detection and span dedup: a doc full of shingles
    first seen elsewhere is boilerplate/near-copy even when no single
    pair crosses a Jaccard threshold; novelty ~1 marks genuinely new
    text worth keeping (first-occurrence attribution is how suffix-
    array dedup pipelines credit content to its earliest source).

    Scale shape: ONE combinable groupBy(shingle) min() for the
    first-occurrence table, one equi-join back on the shingle (both
    sides hash-partitioned on the same key), one combinable
    groupBy(doc). No pair emission at all — cost is linear in total
    shingle volume. Output: (doc_id, n_shingles, n_novel, novelty);
    docs with < n tokens emit nothing (they have no shingles).
    """
    sh = word_shingles(df, text_col, id_col, n)
    first = sh.groupBy("sh").agg(F.min("doc_id").alias("first_doc"))
    return (
        sh.join(first, "sh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum((F.col("doc_id") == F.col("first_doc")).cast("bigint"))
            .cast("bigint")
            .alias("n_novel"),
        )
        .withColumn(
            "novelty",
            F.round(F.col("n_novel").cast("double") / F.col("n_shingles"), 6),
        )
    )


def drop_common_lines(
    df: DataFrame,
    lines_col: str = "lines",
    id_col: str = "doc_id",
    min_count: int = 3,
) -> DataFrame:
    """C4-style LINE-level dedup (r6; Raffel et al. 2020 §2.2 — "we
    discarded ... any line that occurred more than [k] times in the
    data set"): the boilerplate killer that removes repeated nav bars,
    cookie banners and footers WITHIN otherwise-unique documents, the
    granularity neither doc-level pair dedup (d3) nor span detection
    (d8) covers. Input: (id, array<string> lines); output ONE ROW PER
    INPUT DOC — including docs whose lines array is empty/NULL/
    all-empty, which come back as (0, 0, '') rather than vanishing
    (the full-corpus-edit contract, like d11's keep-list) — with the
    surviving lines rejoined in original order ('\\n').

    Scale shape: posexplode → ONE combinable groupBy(line md5) count →
    frequency table (distinct-lines-sized, << corpus) equi-joined back
    on the ONCE-computed hash column → one doc-keyed ordered
    re-aggregation → one id-keyed left join restoring line-less docs.
    Empty-line entries are dropped up front (they'd all collide).
    Counting is by md5 of the line, so the frequency table carries no
    raw text."""
    lines = (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.posexplode(F.col(lines_col)).alias("pos", "line"),
        )
        .filter(F.col("line") != "")
        .withColumn("h", F.md5(F.col("line")))
    )
    freq = (
        lines.groupBy("h")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= min_count)
        .select(F.col("h").alias("ch"))
    )
    agg = (
        lines.join(freq, lines["h"] == freq["ch"], "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.col("ch").isNotNull().cast("bigint")).alias("n_dropped"),
            F.concat_ws(
                "\n",
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("ch").isNull(),
                            F.struct(F.col("pos"), F.col("line")),
                        )
                    )
                ).getField("line"),
            ).alias("text_clean"),
        )
    )
    return (
        df.select(F.col(id_col).alias("doc_id"))
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_lines"), F.lit(0)).alias("n_lines"),
            F.coalesce(F.col("n_dropped"), F.lit(0)).alias("n_dropped"),
            F.coalesce(F.col("text_clean"), F.lit("")).alias("text_clean"),
        )
    )


def flag_contaminated(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination (r5): flag training documents sharing
    any word n-gram with a held-out benchmark/eval set — the standard
    overlap gate for training corpora (GPT-3-style 13-gram matching;
    ``n`` is a parameter, the registered query uses the corpus's 3-gram
    shingle machinery). Returns (doc_id, n_contaminated_shingles) for
    flagged docs; anti-join the result against the corpus to drop them.

    Scale shape: shingle explode on both sides, ONE equi-join on the
    shingle string. The benchmark side is orders of magnitude smaller
    than a 100 TB corpus (eval sets are MBs), so it is BROADCAST —
    the corpus streams through map-side hash probes with no shuffle of
    the training side at all; the only shuffle carries the MATCHED
    shingles. The corpus side deliberately skips ``word_shingles``'s
    per-doc distinct (r16, guide §2.3 "project before the exchange"):
    that distinct was a full corpus-shingle Exchange paid before the
    broadcast probe had filtered anything, while matches against an
    eval set are the rare case — probing the RAW shingles map-side and
    counting DISTINCT matched shingles per doc afterwards computes the
    identical number (a within-doc repeat still counts once) with the
    only shuffle sized by the contamination hits, not the corpus.
    Measured at the c24 bench shape: the contamination side 3.1s →
    1.2s, corpus-wide Exchange eliminated from the plan.
    """
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.split(F.trim(F.regexp_replace(F.col(text_col), r"\s+", " ")), " ").alias("t"),
    ).filter(F.size("t") >= n)
    grams = F.transform(
        F.sequence(F.lit(0), F.size("t") - n),
        lambda i: F.concat_ws(" ", *[F.element_at("t", i + j + 1) for j in range(n)]),
    )
    d = toks.select("doc_id", F.explode(grams).alias("sh"))
    b = (
        word_shingles(benchmark, text_col, id_col, n)
        .select("sh")
        .distinct()
    )
    return (
        d.join(F.broadcast(b), "sh")
        .groupBy("doc_id")
        .agg(F.count_distinct(F.col("sh")).alias("n_contaminated_shingles"))
    )


def positioned_shingles(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """Word n-gram shingles WITH their 0-based token position:
    (doc_id, pos, sh) rows. Unlike :func:`word_shingles` this keeps
    every occurrence (no distinct) — span detection needs positions,
    not set semantics. Same tokenizer (whitespace-normalised split)."""
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.split(F.trim(F.regexp_replace(F.col(text_col), r"\s+", " ")), " ").alias("t"),
    ).filter(F.size("t") >= n)
    grams = F.transform(
        F.sequence(F.lit(0), F.size("t") - n),
        lambda i: F.struct(
            i.cast("bigint").alias("pos"),
            F.concat_ws(" ", *[F.element_at("t", i + j + 1) for j in range(n)]).alias("sh"),
        ),
    )
    return toks.select("doc_id", F.explode(grams).alias("g")).select(
        "doc_id", F.col("g.pos").alias("pos"), F.col("g.sh").alias("sh")
    )


def duplicated_spans(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """Exact duplicated-SUBSTRING detection (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"-style):
    find, per document, the maximal token spans covered by word
    n-grams that also occur in at least one OTHER document. The paper
    builds a monolithic suffix array; the distributed re-expression is
    positioned shingles + a shingle-frequency semi-join + a per-doc
    interval merge (gaps-and-islands) — every stage shuffles on a key
    whose group size is bounded (shingle occurrence list / one doc's
    hits), so it scales where a suffix array over 100 TB cannot.

    Returns (doc_id, span_start, span_end, span_len) with token-index
    bounds, one row per maximal duplicated span. All-integer output =>
    bit-exact across engines.

    Scale shape: one combinable groupBy(sh) for cross-doc frequency
    (count distinct docs), one shuffle join of occurrences against the
    duplicated-shingle keys, ONE window shuffle on doc_id for the
    interval merge. No self-join of documents ever happens.
    """
    grams = positioned_shingles(df, text_col, id_col, n)
    dup_sh = (
        grams.groupBy("sh")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("sh")
    )
    hits = grams.join(dup_sh, "sh").select(
        "doc_id", "pos", (F.col("pos") + F.lit(n - 1)).alias("end")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    prev_max_end = F.max("end").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = hits.withColumn(
        "new_span",
        F.when(prev_max_end.isNull() | (F.col("pos") > prev_max_end), 1).otherwise(0),
    ).withColumn(
        "span_id",
        F.sum("new_span").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        flagged.groupBy("doc_id", "span_id")
        .agg(
            F.min("pos").alias("span_start"),
            F.max("end").alias("span_end"),
        )
        .select(
            "doc_id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_len"),
        )
    )


def minhash_band_key_rows(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    passthrough: tuple[str, ...] = (),
    num_hashes: int = 16,
    band_size: int = 4,
    n: int = 3,
) -> DataFrame:
    """STAGED-PROJECTION expression-form band keys (r8): the same
    (doc_id, band, band_key) rows as :func:`minhash_band_keys`
    (bit-identical, equality-tested) — same hash family and band-key
    formula (md5("g{g}"||shingle) sliced into 8-hex windows;
    order-independent weighted band sums) — but zero shuffle and
    stateless: the only shape a streaming source can use, since a
    per-doc groupBy would be a stateful aggregation. Each pipeline
    level — shingle array, md5 digest arrays, per-window mins, band
    structs — is its own ``select`` so downstream levels reference
    ATTRIBUTES instead of re-inlined expressions.

    Why this matters (r8 measurement, sf0.1, noop sink): higher-order
    functions (transform/array_min/aggregate) are NOT
    whole-stage-codegen'd — they evaluate on the interpreted expression
    path with no common subexpression elimination, so a single-Column
    form, which inlines the shingle/digest sub-expressions into every
    one of the 16 mins, re-runs every copy: ~150s. Staging across
    Project boundaries (CollapseProject keeps non-cheap multi-referenced
    aliases materialised) cuts that to ~13s. The explode+groupBy row
    form (:func:`minhash_band_keys`) is still ~5x faster again (~2.7s):
    per-row md5 IS codegen'd and the mins are one map-side-combinable
    hash aggregate — it stays the batch default.

    `passthrough` columns (e.g. the event-time column a streaming
    join needs) ride alongside doc_id through every stage. Docs with
    < n tokens vanish at the explode (empty band array), so callers
    need no post-explode filter — one would be optimizer-rewritten into
    a per-element predicate re-running the signature per band
    (measured 64x; plan-pinned by test).
    """
    t = F.split(F.trim(F.regexp_replace(F.col(text_col), r"\s+", " ")), " ")
    sh = F.when(
        F.size(t) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(t) - n),
            lambda i: F.concat_ws(
                " ", *[F.element_at(t, i + j + 1) for j in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    keep = [F.col(id_col).alias("doc_id"), *[F.col(c) for c in passthrough]]
    keep_names = ["doc_id", *passthrough]
    p1 = df.select(*keep, sh.alias("_sh"))

    def dig_fn(g: int):
        # single-arg lambda factory: a second lambda parameter would
        # receive the element INDEX from F.transform, clobbering a
        # default-bound loop variable
        return lambda c: F.md5(F.concat(F.lit(f"g{g}"), c))

    n_digests = -(-num_hashes // 4)
    p2 = p1.select(
        *keep_names,
        *[
            F.transform(F.col("_sh"), dig_fn(g)).alias(f"_d{g}")
            for g in range(n_digests)
        ],
    )

    def min_fn(w: int):
        return lambda dg: F.conv(F.substring(dg, 1 + 8 * w, 8), 16, 10).cast(
            "bigint"
        )

    p3 = p2.select(
        *keep_names,
        *[
            F.array_min(F.transform(F.col(f"_d{s // 4}"), min_fn(s % 4))).alias(
                f"_h{s}"
            )
            for s in range(num_hashes)
        ],
    )
    n_bands = num_hashes // band_size
    bands = []
    for b in range(n_bands):
        key = sum(
            (
                F.col(f"_h{b * band_size + i}") * F.lit(i + 1)
                for i in range(band_size)
            ),
            start=F.lit(0),
        )
        bands.append(
            F.struct(F.lit(b).alias("band"), key.cast("bigint").alias("band_key"))
        )
    # short docs: empty _sh -> array_min over empty = NULL mins; guard
    # the band array on the (attribute, cheap) first min so they
    # vanish at the explode — no post-filter, at zero re-evaluation
    # cost
    band_arr = F.when(F.col("_h0").isNotNull(), F.array(*bands)).otherwise(
        F.array().cast("array<struct<band:int,band_key:bigint>>")
    )
    return p3.select(*keep_names, F.explode(band_arr).alias("_bk")).select(
        *keep_names,
        F.col("_bk.band").alias("band"),
        F.col("_bk.band_key").alias("band_key"),
    )


def incremental_near_duplicates(
    index_docs: DataFrame,
    new_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 16,
    band_size: int = 4,
    threshold: float = 0.3,
) -> DataFrame:
    """Incremental MinHash-LSH dedup (r5c): a NEW batch checked against
    an EXISTING corpus index — the daily-ingest production shape, where
    recomputing the full corpus self-join per batch (what
    :func:`minhash_near_duplicates` does) would be O(corpus) every day
    instead of O(batch).

    Candidates = new-batch band keys equi-joined against the index's
    band keys (in production the index side is the PERSISTED band-key
    table from previous runs — S15 parquet, bucketed by (band,
    band_key) so the daily join co-locates; here it is computed from
    the index docs). Exact-Jaccard verify runs only on candidate pairs,
    shingles drawn from each side. Output: (doc_a=index id,
    doc_b=new id, jaccard) — a new doc with any hit is a known
    near-dup; the miss set is safe to append to the index.

    Scale: the batch side is small by definition — every stage is
    O(batch + matched index rows); the index band table is never
    self-joined.
    """
    # Tokenize ONCE per side (r17, per the r16 ADVICE): each side's
    # shingle-set arrays are cut once, and both consumers — the band
    # keys (via exploding the CHECKPOINTED sh_set attribute, the
    # containment_near_duplicates pattern, safe post-cut) and the
    # row-wise verify — read the cut. The pre-r17 form ran
    # word_shingles AND shingle_arrays per side, i.e. the full index
    # text was regexp/split/grammed twice per batch (the r6
    # "checkpoint saved nothing" measurement predates that duplicated
    # subtree). In the real daily-ingest deployment the index side
    # comes from the PERSISTED band-key/shingle tables (S15) anyway,
    # so only the small batch side ever recomputes.
    # _ha: the r17 O(1) exact-duplicate witness (see
    # minhash_near_duplicates) — a re-ingested identical doc is the
    # COMMON case for the daily-ingest shape, so its verify pairs skip
    # the O(shingles) intersect entirely
    arr_idx = cut_lineage(
        shingle_arrays(index_docs, text_col, id_col, n).withColumn(
            "_ha", F.xxhash64(F.col("sh_set"))
        ),
        eager=False,
        name="inc-idx-arrays",
    )
    arr_new = cut_lineage(
        shingle_arrays(new_docs, text_col, id_col, n).withColumn(
            "_ha", F.xxhash64(F.col("sh_set"))
        ),
        eager=False,
        name="inc-new-arrays",
    )
    sh_idx = arr_idx.select("doc_id", F.explode("sh_set").alias("sh"))
    sh_new = arr_new.select("doc_id", F.explode("sh_set").alias("sh"))
    bk_idx = minhash_band_keys(sh_idx, num_hashes, band_size).withColumnRenamed(
        "doc_id", "doc_a"
    )
    bk_new = minhash_band_keys(sh_new, num_hashes, band_size).withColumnRenamed(
        "doc_id", "doc_b"
    )
    cand = (
        bk_idx.join(bk_new, ["band", "band_key"])
        .select("doc_a", "doc_b")
        .distinct()
    )
    # Row-wise set-algebra verify (r16, the minhash_near_duplicates 8b
    # shape): attach each side's per-doc DISTINCT shingle-set ARRAY to
    # the candidate pairs and compute |A∩B| as size(array_intersect) —
    # one row per candidate instead of |candidates| x shingles-per-doc
    # exploded rows, no (doc_b, shingle) compound-key join of the
    # batch side, and the two per-side size aggregations collapse to
    # row-wise size(). The pre-r16 candidate-first exploded join is
    # preserved in spirit: work is still bounded by the candidate set,
    # never by shingle-frequency quadratics. The ``_inter >= 1`` gate
    # reproduces the old inner shingle-join's row set (pairs sharing
    # at least one shingle) for ANY threshold.
    a = cand.join(
        arr_idx.withColumnsRenamed(
            {"doc_id": "doc_a", "sh_set": "_sa", "_ha": "_hha"}
        ),
        "doc_a",
    )
    ab = a.join(
        arr_new.withColumnsRenamed(
            {"doc_id": "doc_b", "sh_set": "_sb", "_ha": "_hhb"}
        ),
        "doc_b",
    )
    # intersect projected ONCE (_verify_intersection_size)
    scored = ab.select(
        "doc_a",
        "doc_b",
        _verify_intersection_size().alias("_inter"),
        (F.size("_sa") + F.size("_sb")).alias("_nab"),
    )
    # threshold on the RAW ratio, round after — the same order as
    # pairwise_jaccard, so the incremental result is exactly the full
    # self-join result restricted to (index, new) pairs even at the
    # rounding boundary
    jac = F.col("_inter") / (F.col("_nab") - F.col("_inter")).cast("double")
    return (
        scored.filter((F.col("_inter") >= 1) & (jac >= threshold))
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


def containment_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    max_shingle_freq: int = 5,
    n: int = 3,
) -> DataFrame:
    """Shingle-CONTAINMENT near-dup pairs (r7): C(A,B) =
    |A∩B| / min(|A|,|B|) — the asymmetric-duplication detector.
    Jaccard (d3) misses a document nearly contained in a much larger
    one (boilerplate-wrapped reposts, quote-heavy aggregators): the
    union term crushes the score, and MinHash banding — which
    approximates Jaccard — won't even emit the candidate. Containment
    is the measure the dedup literature uses for that case (Broder's
    original resemblance/containment pair, CACM 1997).

    Candidate generation is RARE-SHINGLE BLOCKING, not MinHash: docs
    pair iff they share a shingle with corpus frequency <=
    ``max_shingle_freq``. The frequency cap bounds the blocking
    self-join by sum over rare shingles of freq^2 <= max_freq * |rare
    shingle occurrences| — LINEAR in corpus size at fixed cap, no
    hot-shingle quadratics (the d3 lesson, applied at candidate time).
    A contained copy shares ALL its shingles with its container, so
    any (almost-)unique shared shingle blocks the pair; only pairs
    whose entire overlap is corpus-common boilerplate are missed,
    and those are d12 line-dedup's territory, not containment's.

    Verify is candidate-first (the incremental_near_duplicates
    contract): shingles attach to the (distinct) candidate pairs, so
    the intermediate is |candidates| x shingles-per-doc. Output:
    (doc_a, doc_b, n_inter, containment) with doc_a < doc_b.
    """
    # Checkpoint the per-doc shingle-set ARRAYS (r16, the 8b shape):
    # the rare-shingle blocking still needs exploded rows (derived
    # here by exploding the CHECKPOINTED attribute — safe, unlike
    # exploding the raw expression's attribute, see word_shingles),
    # but the verify attaches the arrays to the candidate pairs and
    # computes |A∩B| row-wise — no (doc_b, shingle) compound-key
    # corpus join, no per-pair aggregation, no sizes passes.
    arr = cut_lineage(
        shingle_arrays(df, text_col, id_col, n).withColumn(
            "_ha", F.xxhash64(F.col("sh_set"))
        ),
        eager=False,
        name="cont-shingle-arrays",
    )
    sh = arr.select("doc_id", F.explode("sh_set").alias("sh"))
    rare = (
        sh.groupBy("sh")
        .agg(F.count(F.lit(1)).alias("freq"))
        .filter(F.col("freq") <= max_shingle_freq)
        .select("sh")
    )
    blocked = sh.join(rare, "sh")
    cands = (
        blocked.withColumnRenamed("doc_id", "doc_a")
        .join(
            blocked.withColumnsRenamed({"doc_id": "doc_b"}),
            "sh",
        )
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    ab = (
        cands.join(
            arr.withColumnsRenamed(
                {"doc_id": "doc_a", "sh_set": "_sa", "_ha": "_hha"}
            ),
            "doc_a",
        )
        .join(
            arr.withColumnsRenamed(
                {"doc_id": "doc_b", "sh_set": "_sb", "_ha": "_hhb"}
            ),
            "doc_b",
        )
        # bigint: the pre-r16 count aggregate emitted long — the
        # oracle gate compares numeric TYPES, not just values.
        # Equal sets (r17): |A∩A| = |A| exactly, O(1)
        # and the intersect is projected ONCE
        # (_verify_intersection_size).
        .select(
            "doc_a",
            "doc_b",
            _verify_intersection_size("bigint").alias("n_inter"),
            F.least(F.size("_sa"), F.size("_sb")).alias("_minab"),
        )
    )
    return (
        ab
        # threshold on the RAW ratio; round only in the final select —
        # rounding first admits pairs in [threshold - 5e-7, threshold)
        # that the oracle (raw-ratio HAVING) rejects (r8 ADVICE fix,
        # same divergence class the r6 d10 fix removed). Every
        # candidate shares its blocking rare shingle, so n_inter >= 1
        # holds by construction — the old inner-join row set is
        # preserved with no extra gate.
        .withColumn(
            "containment_raw",
            F.col("n_inter").cast("double") / F.col("_minab"),
        )
        .filter(F.col("containment_raw") >= F.lit(threshold))
        .select(
            "doc_a",
            "doc_b",
            "n_inter",
            F.round("containment_raw", 6).alias("containment"),
        )
    )


def semantic_dedup(
    df: DataFrame,
    centroids: DataFrame | None = None,
    k: int = 8,
    threshold: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540) — SEMANTIC
    deduplication: cluster the embedding space, then inside each
    cluster drop every example that has a >= ``threshold`` cosine
    neighbor of higher keep-priority, where priority follows the
    paper's rule of keeping the example LEAST similar to its cluster
    centroid (low centroid-similarity examples are the informative
    ones; the near-centroid copies are the semantic redundancy).

    The clustering is the IVF coarse assignment (``kmeans_assign``,
    broadcast-k, corpus never shuffles on a foreign key): by default
    against the k lowest-id seed vectors (deterministic +
    oracle-expressible); pass ``centroids`` = ``kmeans_lloyd`` output
    reshaped to (cluster_id, cvec) for the paper's trained clustering
    — the operator is agnostic.

    DOCUMENTED DEVIATION: the reference implementation walks each
    cluster sequentially in priority order, keeping an example iff its
    max-cosine to the already-KEPT set is < threshold. That greedy is
    inherently order-serial; this operator uses the order-free
    DOMINANCE form — drop x iff ANY higher-priority y in the cluster
    has cos(x, y) >= threshold, kept or not. Identical on
    transitively-closed duplicate groups; on chain topologies
    (a~b, b~c, a!~c) the greedy keeps {a, c} while dominance keeps
    only {a} — dominance is the strictly-more-aggressive, one-anti-join
    relational fixed point.

    Scale shape: assignment is map-side x k + one argmin groupBy; the
    pair stage is a SELF-JOIN KEYED ON cluster_id — work is
    sum over clusters of |cluster|^2, which the paper bounds by taking
    k proportional to N (their LAION run: 50k clusters) so cluster
    size, and per-key join fan-out, stays O(1); AQE skew-join splits
    oversized clusters. Cosines are the engine-portable sequential
    fold (similarity._dot), rounded to 5 dp BEFORE thresholding and
    priority comparison so keep decisions are bit-identical across
    engines.

    Output: one row per input vector — (vec_id, cluster_id,
    centroid_sim, kept). The kept corpus is ``WHERE kept``.
    """
    from cellphe_data_pipeline_spark.operators.similarity import (
        _as_double,
        _dot,
        _k_lowest_ids,
        kmeans_assign,
    )

    if centroids is None:
        seed_ids = _k_lowest_ids(df, id_col, k, "semantic_dedup")
        centroids = df.filter(F.col(id_col).isin(seed_ids)).select(
            F.col(id_col).alias("cluster_id"), F.col(vec_col).alias("cvec")
        )
    assigned = kmeans_assign(df, centroids, vec_col, id_col)
    cent = F.broadcast(
        centroids.select(
            "cluster_id", _as_double(F.col("cvec")).alias("c")
        ).withColumn("c_norm", F.sqrt(_dot(F.col("c"), F.col("c"))))
    )
    m = (
        assigned.join(cent, "cluster_id")
        .withColumn("nrm", F.sqrt(_dot(F.col("v"), F.col("v"))))
        .select(
            "vec_id",
            "cluster_id",
            "v",
            "nrm",
            round_z(
                _dot(F.col("v"), F.col("c")) / (F.col("nrm") * F.col("c_norm")),
                5,
            ).alias("centroid_sim"),
        )
    )
    # the member table feeds three consumers (both self-join sides +
    # the final keep join); without a cut each re-runs the assignment
    # corpus pass — same rationale as the d11 cluster-table cut
    m = cut_lineage(m, name="semdedup-members")
    x = m.select(
        "cluster_id",
        F.col("vec_id").alias("x_id"),
        F.col("v").alias("x_v"),
        F.col("nrm").alias("x_n"),
        F.col("centroid_sim").alias("x_cs"),
    )
    y = m.select(
        "cluster_id",
        F.col("vec_id").alias("y_id"),
        F.col("v").alias("y_v"),
        F.col("nrm").alias("y_n"),
        F.col("centroid_sim").alias("y_cs"),
    )
    # norms precomputed once per member (above), not per pair — the
    # pair stage evaluates one dot product per candidate, nothing else
    cos = F.round(
        _dot(F.col("x_v"), F.col("y_v")) / (F.col("x_n") * F.col("y_n")), 5
    )
    dominated = (
        x.join(y, "cluster_id")
        .filter(F.col("x_id") != F.col("y_id"))
        .filter(
            F.struct(F.col("y_cs"), F.col("y_id"))
            < F.struct(F.col("x_cs"), F.col("x_id"))
        )
        .filter(cos >= F.lit(threshold))
        .select(F.col("x_id").alias("vec_id"))
        .distinct()
    )
    return (
        m.join(dominated.withColumn("_d", F.lit(1)), "vec_id", "left")
        .select(
            "vec_id",
            "cluster_id",
            "centroid_sim",
            F.col("_d").isNull().alias("kept"),
        )
    )


def bloom_decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    m_bits: int = 1024,
    k_hashes: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Bloom-filter benchmark decontamination — the 100 TB scale path
    for :func:`flag_contaminated`. c5 broadcasts the DISTINCT benchmark
    shingle set (strings); at web-corpus eval-suite sizes that
    broadcast is tens/hundreds of MB per executor and grows with every
    benchmark added. This variant compresses the bench side to an
    ``m_bits``-bit Bloom bitmap (m_bits=2^20 is 128 KB for millions of
    bench shingles) and gates the corpus with pure map-side expression
    probes — the corpus side needs NO join at all, just one broadcast
    of a one-row bitmap.

    Determinism contract: hash h of shingle s is
    ``int(md5(f"{h}:{s}")[:8], 16) % m_bits`` — the repo's portable
    md5-bucket idiom — so the bitmap, the false-positive SET (not just
    the rate), and therefore the output are bit-identical in any
    engine. False positives are INHERENT to the structure (each
    flagged shingle may be a phantom with probability ~(1-e^{-kb/m})^k)
    — acceptable for decontamination because the gate errs toward
    dropping training docs, never toward leaking bench data; callers
    needing exactness re-verify flagged docs with c5's exact join
    (candidate-first, same idiom as d3's verify ordering).

    Bitmap layout: 32-bit lanes (lane = pos div 32, bit = pos % 32) —
    shifts stay far from the signed-64 edge, where DuckDB raises an
    overflow on ``1 << 63`` (probed; the engines disagree at bit 63,
    so the layout keeps both in safe range). Lanes are bit_or-combined
    (combinable aggregate), collected into ONE map row, broadcast via
    the one-row crossJoin idiom.

    Output: (doc_id, n_flagged_shingles) per training doc with >= 1
    maybe-contaminated shingle — the same (doc_id, count) shape as
    flag_contaminated (whose column is n_contaminated_shingles: the
    distinct names mark that this count may include phantoms).
    """
    if k_hashes < 1 or m_bits < 1:
        raise ValueError(
            f"bloom_decontaminate requires k_hashes >= 1 and m_bits >= 1,"
            f" got k_hashes={k_hashes} m_bits={m_bits}"
        )

    def pos(h, sh_col):
        return (
            F.conv(
                F.substring(F.md5(F.concat(F.lit(f"{h}:"), sh_col)), 1, 8), 16, 10
            ).cast("bigint")
            % m_bits
        )

    b = word_shingles(benchmark, text_col, id_col, n).select("sh").distinct()
    lanes = (
        b.select(
            F.explode(
                F.array(*[pos(h, F.col("sh")) for h in range(k_hashes)])
            ).alias("p")
        )
        .select(
            F.expr("p div 32").alias("lane"),
            F.expr("shiftleft(1L, cast(p % 32 as int))").alias("mask"),
        )
        .groupBy("lane")
        .agg(F.expr("bit_or(mask)").alias("bits"))
    )
    bloom = lanes.groupBy().agg(
        F.map_from_entries(F.collect_list(F.struct("lane", "bits"))).alias("bm")
    )
    d = word_shingles(docs, text_col, id_col, n)
    probed = d.crossJoin(F.broadcast(bloom))
    for h in range(k_hashes):
        probed = probed.withColumn(f"_p{h}", pos(h, F.col("sh")))
    all_hit = None
    for h in range(k_hashes):
        hit = F.expr(
            f"(shiftright(coalesce(element_at(bm, _p{h} div 32), 0L),"
            f" cast(_p{h} % 32 as int)) & 1) = 1"
        )
        all_hit = hit if all_hit is None else (all_hit & hit)
    return (
        # word_shingles already normalized the id column to doc_id
        probed.filter(all_hit)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_flagged_shingles"))
    )


def remove_duplicated_spans(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """Duplicated-substring REMOVAL (r7) — the fix half of
    :func:`duplicated_spans` (Lee et al. 2022 ExactSubstr: after
    finding cross-document duplicated spans, CUT them out of every
    document rather than dropping whole docs). Tokens covered by any
    detected span are removed; survivors reassemble in original order.

    Pipeline: d8's detection (positioned shingles -> combinable
    cross-doc frequency -> occurrence join -> one doc-keyed window
    interval merge) + ONE doc-keyed left join of tokens against the
    (few, disjoint) spans per doc + ONE doc-keyed aggregation that
    computes counts and the ordered reassembly together — the d12
    line-dedup single-agg shape at token granularity. No document
    self-join anywhere; every shuffle is keyed on doc_id or the
    shingle.

    Output: one row per INPUT doc (the d12 contract): (doc_id,
    n_tokens, n_removed, text_clean); a fully-duplicated doc comes
    back with text_clean = ''."""
    spans = duplicated_spans(df, text_col, id_col, n).select(
        F.col("doc_id").alias("s_doc"), "span_start", "span_end"
    )
    toks = (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.split(
                F.trim(F.regexp_replace(F.col(text_col), r"\s+", " ")), " "
            ).alias("t"),
        )
        .select("doc_id", F.posexplode("t").alias("pos", "tok"))
        .withColumn("pos", F.col("pos").cast("bigint"))
    )
    # spans are disjoint merged intervals, so the left join matches each
    # token at most once (no row multiplication) and the covered flag +
    # ONE aggregation computes everything — the d12 single-agg shape
    # (conditional collect_list skips NULLs). Every doc tokenizes to
    # >= 1 token (split('') = ['']), so no doc drops out of the groupBy.
    flagged = toks.join(
        spans,
        (F.col("doc_id") == F.col("s_doc"))
        & F.col("pos").between(F.col("span_start"), F.col("span_end")),
        "left",
    ).withColumn("covered", F.col("span_start").isNotNull())
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.sum(F.when(F.col("covered"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_removed"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(~F.col("covered"), F.struct("pos", "tok"))
                    )
                ),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("text_clean"),
    )
