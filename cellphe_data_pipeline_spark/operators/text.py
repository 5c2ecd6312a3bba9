"""Text-analysis operators (training-data-pipeline extensions).

Language-ID (stopword-hit heuristic), quality scoring, token counting,
and document fingerprinting — all pure Column expressions (regexp +
arithmetic inside whole-stage codegen; zero Python per row, so the hot
path scans 100 TB at parquet-read speed with full column pruning).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from cellphe_data_pipeline_spark.functions.scalars import nondeterministic_zero
from cellphe_data_pipeline_spark.sources.io import from_driver_rows

#: Language set matches the driver's `documents.lang` domain (en/de/fr/es/zh).
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is"],
    "de": ["der", "und", "die", "das", "nicht", "ein"],
    "fr": ["le", "la", "et", "les", "des", "une"],
    "es": ["el", "la", "de", "que", "y", "en", "los"],
    "zh": ["的", "是", "了", "我", "不", "在"],
}

#: Fixed argmax tie-break preference (first wins on >=).
LANG_ORDER = ("en", "de", "fr", "es", "zh")

TOKEN_RE = "[a-zA-Z0-9]+"


def _hit_count(text: Column, words: list[str], boundaries: bool = True) -> Column:
    """Stopword hits on LOWERCASED text. `boundaries=False` for scripts whose
    chars are non-word in ASCII regex semantics (zh) — \\b behaviour there
    differs between regex engines, so plain substring counting is used."""
    alt = "|".join(words)
    pat = rf"\b({alt})\b" if boundaries else f"({alt})"
    return F.size(F.regexp_extract_all(F.lower(text), F.lit(pat), 0)).cast("bigint")


def token_count(text: Column) -> Column:
    return F.size(F.regexp_extract_all(text, F.lit(TOKEN_RE), 0)).cast("bigint")


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality metrics: token count, punctuation ratio,
    stopword ratio, average token length, and a bounded linear quality
    score (deliberately exp-free: libm vs JVM transcendentals differ in
    the last ulp, which would break oracle hash equality)."""
    text = F.col(text_col)
    n_tok = token_count(text)
    n_chars = F.length(text).cast("bigint")
    stripped = F.regexp_replace(text, "[^a-zA-Z0-9 ]", "")
    # nullif-style guards: empty text / zero tokens yield NULL ratios (not
    # Infinity/NaN) so results are well-defined and oracle-comparable.
    n_tok_nz = F.when(n_tok == 0, F.lit(None)).otherwise(n_tok)
    n_chars_nz = F.when(n_chars == 0, F.lit(None)).otherwise(n_chars)
    punct_ratio = (n_chars - F.length(stripped)).cast("double") / n_chars_nz
    stop_ratio = _hit_count(text, STOPWORDS["en"]).cast("double") / n_tok_nz
    return df.withColumns(
        {
            "n_tokens": n_tok,
            "n_chars_calc": n_chars,
            "punct_ratio": F.round(punct_ratio, 6),
            "stopword_ratio": F.round(stop_ratio, 6),
            "avg_token_len": F.round(n_chars.cast("double") / n_tok_nz, 6),
            "quality_score": F.round(
                F.least(F.lit(1.0), n_tok.cast("double") / 400.0) * (1.0 - punct_ratio), 6
            ),
        }
    )


def language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic stopword language ID over the driver's 5-language domain:
    case-insensitive hit counts per wordlist, argmax with the fixed
    tie-break preference LANG_ORDER (earlier wins ties)."""
    text = F.col(text_col)
    hits = {
        lang: _hit_count(text, STOPWORDS[lang], boundaries=(lang != "zh"))
        for lang in LANG_ORDER
    }
    pred = F.lit(LANG_ORDER[-1])
    # build the argmax back-to-front: lang wins if >= every later lang
    for i in range(len(LANG_ORDER) - 2, -1, -1):
        lang = LANG_ORDER[i]
        cond = None
        for later in LANG_ORDER[i + 1 :]:
            c = hits[lang] >= hits[later]
            cond = c if cond is None else (cond & c)
        pred = F.when(cond, F.lit(lang)).otherwise(pred)
    cols = {f"{lang}_hits": hits[lang] for lang in LANG_ORDER}
    cols["lang_pred"] = pred
    return df.withColumns(cols)


def fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Canonical-form content fingerprint: lowercase, strip non-alnum,
    md5. `fp_band` (first 4 hex chars) gives 65k shard buckets for
    distributing fingerprint joins without skew."""
    canon = F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9]", "")
    return df.withColumns(
        {
            "fp": F.md5(canon),
            "fp_band": F.substring(F.md5(canon), 1, 4),
        }
    )


#: BPE-ish pre-tokenisation pattern (GPT-2-style, lookahead-free so it
#: behaves identically under Java regex and RE2): contractions, letter
#: runs, digit runs, punctuation runs, whitespace runs.
BPE_ISH_RE = r"'s|'t|'re|'ve|'m|'ll|'d| ?[a-zA-Z]+| ?[0-9]+| ?[^\sa-zA-Z0-9]+"


def bpe_ish_token_count(text: Column) -> Column:
    """Training-data token estimate: counts GPT-2-style pre-tokens —
    the standard proxy for LLM token budgets when the real BPE merges
    are not needed (whitespace-only counting undercounts punctuation-
    heavy text badly). Pure regexp, codegen-side."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_ISH_RE), 0)).cast("bigint")


EMAIL_RE = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
URL_RE = r"https?://[^\s]+"


def redact(df: DataFrame, text_col: str = "text") -> DataFrame:
    """PII/boilerplate scrub: emails -> <EMAIL>, URLs -> <URL>, with
    per-document redaction counts (the audit column a curation pipeline
    keeps). Pure regexp_replace — codegen, order: URLs first so an email
    inside a URL is counted once as a URL."""
    text = F.col(text_col)
    n_urls = F.size(F.regexp_extract_all(text, F.lit(URL_RE), 0)).cast("bigint")
    no_urls = F.regexp_replace(text, URL_RE, "<URL>")
    n_emails = F.size(F.regexp_extract_all(no_urls, F.lit(EMAIL_RE), 0)).cast("bigint")
    return df.withColumns(
        {
            "text_redacted": F.regexp_replace(no_urls, EMAIL_RE, "<EMAIL>"),
            "n_urls": n_urls,
            "n_emails": n_emails,
        }
    )


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    size: int = 200,
    overlap: int = 50,
) -> DataFrame:
    """Fixed-size overlapping chunking with character offsets — the LLM
    preprocessing staple (context-window packing, RAG indexing). One
    codegen `sequence`+`explode`: (doc_id, chunk_id, chunk_start,
    chunk_text); the final chunk is the remainder (never empty, always
    covers the tail). Step = size - overlap, so size must exceed
    overlap: step <= 0 would make the chunk-count division yield null
    and silently truncate every document to its first `size` chars."""
    if not (isinstance(size, int) and isinstance(overlap, int)):
        raise TypeError("size and overlap must be ints")
    if not size > overlap >= 0:
        raise ValueError(
            f"chunk_documents requires size > overlap >= 0, got size={size} overlap={overlap}"
        )
    step = size - overlap
    n_chunks = F.greatest(
        F.lit(1),
        (F.ceil((F.length(F.col(text_col)) - F.lit(overlap)) / F.lit(step))).cast("int"),
    )
    idx = F.sequence(F.lit(0), n_chunks - 1)
    out = df.select(
        F.col(id_col).alias("doc_id"),
        F.col(text_col).alias("_t"),
        F.explode(idx).alias("chunk_id"),
    )
    start = F.col("chunk_id") * step
    return out.select(
        "doc_id",
        "chunk_id",
        start.cast("bigint").alias("chunk_start"),
        F.substring(F.col("_t"), start + 1, size).alias("chunk_text"),
    )


def repetition_features(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Within-document repetition signals — the Gopher-style quality
    gates a curation pipeline filters on (Rae et al. 2021 §A1.1):
    duplicate-line fraction and top-bigram fraction. EVERY pass is a
    codegen expression over the row itself (r16): the top-bigram mode
    used to explode bigrams into a per-(doc, bigram) count — one
    explode, two exchanges and a join-back for a statistic that never
    leaves its own document. Sorting the per-row bigram array and
    taking the longest equal run computes the same max count (a run in
    the sorted array IS a bigram's multiplicity) with zero shuffle;
    the whole operator is now a single map-side projection like t1's
    quality gates. Plan: 3 Exchanges + 1 join → 0 (bench t6 median
    1.25s → see plans/r16/t6_repetition_after.txt); scales with token
    volume per row, no vocabulary-wide aggregation state at all."""
    text = F.col(text_col)
    lines = F.filter(F.split(text, "\n"), lambda x: F.length(F.trim(x)) > 0)
    n_lines = F.size(lines)
    n_uniq = F.size(F.array_distinct(lines))
    bg = F.when(
        F.size("_toks") >= 2,
        F.expr(
            "transform(sequence(0, size(_toks)-2),"
            " i -> concat(_toks[i], ' ', _toks[i+1]))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    # longest equal run in the SORTED bigram array == max bigram count;
    # null-safe <=> seeds the first element (prev starts NULL). The
    # division mirrors the old max(c)/sum(c) exactly: both operands are
    # integral counts (< 2^53, exact in double), sum(c) == size(bg).
    best = F.expr(
        "aggregate(array_sort(_bg),"
        " named_struct('prev', cast(null as string), 'run', 0L, 'best', 0L),"
        " (acc, x) -> named_struct("
        "   'prev', x,"
        "   'run', IF(acc.prev <=> x, acc.run + 1L, 1L),"
        "   'best', GREATEST(acc.best, IF(acc.prev <=> x, acc.run + 1L, 1L))),"
        " acc -> acc.best)"
    )
    return (
        df.select(
            F.col(id_col).alias("doc_id"),
            n_lines.alias("n_lines"),
            F.when(
                n_lines > 0,
                F.round(F.lit(1.0) - n_uniq.cast("double") / n_lines, 6),
            )
            .otherwise(F.lit(0.0))
            .alias("dup_line_frac"),
            F.split(F.trim(F.regexp_replace(text, r"\s+", " ")), " ").alias("_toks"),
        )
        .withColumn("_bg", bg)
        .withColumn(
            "top_bigram_frac",
            F.when(
                F.size("_bg") > 0,
                F.round(best.cast("double") / F.size("_bg"), 6),
            ).otherwise(F.lit(0.0)),
        )
        .drop("_toks", "_bg")
    )


def token_budget_shards(
    df: DataFrame,
    budget_tokens: int = 2048,
    text_col: str = "text",
    id_col: str = "doc_id",
    stream_col: str = "source",
) -> DataFrame:
    """Context-window sharding — assign documents (in deterministic
    (stream, doc_id) order) to consecutive training shards by cumulative
    token budget: ``shard_id = floor(preceding_tokens / budget)`` within
    each stream. The SQL-expressible fixed-budget form of greedy
    packing: a document belongs to the shard where its tokens START, so
    a shard overflows by at most one document (the standard streaming-
    packing contract).

    Scale shape: ONE window shuffle partitioned by ``stream_col`` (the
    natural packing unit — corpus source/domain); no global ordering
    anywhere, so a million-source corpus keeps every reducer bounded by
    its stream. Token counting is the BPE-ish codegen estimator."""
    if budget_tokens <= 0:
        raise ValueError(f"budget_tokens must be positive, got {budget_tokens}")
    from pyspark.sql import Window

    base = df.select(
        F.col(id_col).alias("doc_id"),
        F.col(stream_col).alias("stream"),
        bpe_ish_token_count(F.col(text_col)).alias("n_tokens"),
    )
    w = (
        Window.partitionBy("stream")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    pre = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return base.withColumns(
        {
            "shard_id": F.floor(pre / budget_tokens).cast("bigint"),
            "shard_start_tok": pre.cast("bigint"),
        }
    )


def hash_stratified_sample(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    quotas: dict[str, float],
    default_rate: float = 0.1,
    buckets: int = 10_000,
) -> DataFrame:
    """Deterministic per-stratum corpus sampling (r5): keep a row iff
    its id's md5-derived bucket falls below the stratum's quota —
    "sample 50% of English, 20% of Chinese, 10% of everything else"
    as a pure MAP over the corpus.

    Why hash-gated instead of `sample()`/`sampleBy()`: RNG sampling is
    run-dependent (fractions drift per partitioning) and cannot be
    oracle-checked; the md5 gate keeps the SAME documents in every run,
    on every engine, at every scale — reproducible training-corpus
    snapshots, rebalance-by-editing-quotas, and an exact ANSI-SQL twin.
    Scale shape: zero shuffle, codegen md5 (~100ns/row), quota CASE is
    a broadcast-free literal expression; the 100 TB corpus streams
    through map tasks untouched by any exchange.
    """
    from cellphe_data_pipeline_spark.functions.scalars import portable_hash64

    bucket = portable_hash64(F.col(id_col).cast("string")) % buckets
    # round, don't truncate: 0.29*10000 is 2899.999... in floats, and a
    # truncated threshold would drift one bucket below the requested
    # rate (and disagree with a literal CASE ... THEN 2900 SQL oracle)
    thr: Column = F.lit(round(default_rate * buckets))
    for value, rate in sorted(quotas.items()):
        thr = F.when(F.col(strata_col) == value, round(rate * buckets)).otherwise(thr)
    return df.filter(bucket < thr)


def _doc_token_array(text_col: str = "text") -> Column:
    """The token-ARRAY form of the engine's word tokenization — THE
    single expression (shared by _doc_tokens, the d12 line builder;
    dedup.word_shingles and the DuckDB oracles'
    string_split(trim(regexp_replace(text,'\\s+',' ','g'))) CTEs
    mirror it — change them in lockstep)."""
    return F.split(F.trim(F.regexp_replace(F.col(text_col), r"\s+", " ")), " ")


def _doc_tokens(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "tok",
) -> DataFrame:
    """Exploded non-empty whitespace tokens: (doc_id, <out_col>) —
    the row form of :func:`_doc_token_array` (shared by tfidf_topk and
    vocab_oov)."""
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(_doc_token_array(text_col)).alias(out_col),
    ).filter(F.col(out_col) != "")


def tfidf_topk(
    df: DataFrame,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document top-k keyword extraction by TF-IDF (rational-idf
    variant): score = tf * N / df, i.e. the idf FACTOR is the raw
    rarity ratio N/df rather than log(N/df). Chosen deliberately:
    tf, df, N are exact integers, so the score is ONE IEEE division of
    identical operands in any engine — bit-exact oracle equality,
    where log() (libm vs JVM last-ulp) is not. The variant keeps the
    rare-term-boosting semantics; only the idf damping curve differs.

    Scale shape: explode (map) -> two combinable groupBys (doc-term tf;
    term df as count_distinct) -> one shuffle join on term -> ONE
    window shuffle on doc_id for the top-k. N (corpus doc count) joins
    in as a broadcast 1-row aggregate, never a driver collect(). The
    term-df table is vocabulary-sized (<< corpus), the doc-term table
    shuffles once; at 100 TB the per-key group sizes stay bounded by
    doc length and term document-frequency.
    """
    from pyspark.sql import Window

    toks = _doc_tokens(df, text_col, id_col, out_col="term")
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = toks.groupBy("term").agg(F.count_distinct("doc_id").alias("df"))
    n_docs = df.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .join(F.broadcast(n_docs))
        .withColumn(
            "score",
            (F.col("tf") * F.col("n_docs")).cast("double") / F.col("df"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("doc_id", "term", "tf", "df", "score", "rank")
    )


def html_to_text(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """HTML → plain text extraction (r6) — the web-corpus front door
    (the WET-file step every crawl-based training corpus starts from).
    Pure codegen regexp/replace chain, zero shuffle, portable across
    Java regex and RE2 (no lookarounds; (?s)+non-greedy only):

    1. drop <script>/<style> ELEMENTS wholesale (their text content is
       code, not prose) and comments;
    2. strip remaining tags to a space (block boundaries become word
       boundaries rather than concatenating adjacent words);
    3. decode the core entities AFTER tag stripping — so literal
       &lt;script&gt; text in the source can never become an active
       element during processing;
    4. collapse whitespace.

    Output: (doc_id, n_tags, text_clean) — n_tags (tags stripped in
    step 2) is the "was this even HTML" signal a router can gate on.
    NULL text is treated as '' (n_tags 0), so the router signal stays
    two-valued; element matching is case-insensitive ((?i) — uppercase
    <SCRIPT> is common in older crawls); the tag pattern requires a
    tag-like start (<letter, </, <!), so prose like "price < 10 and
    x > 2" is NOT eaten as a pseudo-tag.

    Tag heads are QUOTE-TOLERANT: a '>' inside a quoted attribute
    value (``<script data-x="a>b">``) does not end the tag — the head
    pattern skips quoted runs (``"[^"]*"`` / ``'[^']*'``) before
    looking for the closer, so script bodies behind such tags are
    still dropped wholesale. An UNTERMINATED <script>/<style> opener
    drops everything to end-of-document (a truncated crawl record's
    tail is code, not prose) — matching browser tokeniser behaviour.
    Known limit (documented, not handled): an UNCLOSED quote inside a
    tag head can extend the head to the next quote character.
    """
    t = F.coalesce(F.col(text_col), F.lit(""))
    # tag-head body: anything but '>' outside quotes; quoted runs may
    # contain '>'. Portable across Java regex and RE2 (no lookarounds).
    head = "(?:[^>\"']|\"[^\"]*\"|'[^']*')*"
    for pat in (
        rf"(?is)<script\b{head}>.*?</script\s*>",
        rf"(?is)<style\b{head}>.*?</style\s*>",
        r"(?s)<!--.*?-->",
        # unterminated element: opener with no closer left -> drop tail
        rf"(?is)<script\b{head}>.*$",
        rf"(?is)<style\b{head}>.*$",
    ):
        t = F.regexp_replace(t, pat, " ")
    tag = rf"</?[a-zA-Z!]{head}>"
    n_tags = F.size(F.split(t, tag)) - F.lit(1)
    t = F.regexp_replace(t, tag, " ")
    for ent, rep in (
        ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
        ("&#39;", "'"), ("&nbsp;", " "), ("&amp;", "&"),  # &amp; LAST
    ):
        t = F.replace(t, F.lit(ent), F.lit(rep))
    t = F.trim(F.regexp_replace(t, r"\s+", " "))
    return df.select(
        F.col(id_col).alias("doc_id"),
        n_tags.cast("bigint").alias("n_tags"),
        t.alias("text_clean"),
        # keep_cols (r12, c24): pass-through payload columns so a
        # composed pipeline stays one zero-shuffle projection instead
        # of paying a join-back to re-attach them
        *[F.col(c) for c in (keep_cols or [])],
    )


def vocab_oov(
    df: DataFrame,
    vocab_size: int = 100,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-trained vocabulary + per-document OOV rate (r6): the
    tokenizer-prep signal — build the top-``vocab_size`` token
    vocabulary by corpus frequency (ties broken by token text, so the
    vocabulary is deterministic in any engine/partitioning), then score
    every document by the fraction of its token OCCURRENCES that fall
    outside it. High OOV flags docs a fixed tokenizer would shred into
    bytes (wrong language, mojibake, code in a prose corpus); the same
    two-pass shape computes real coverage stats when sizing a BPE
    vocabulary.

    Scale shape: token counts are ONE combinable groupBy(token); the
    vocabulary is a TakeOrdered over the (vocabulary-sized, << corpus)
    count table; membership is a BROADCAST left join of the vocabulary
    against the exploded token stream — the corpus shuffles ONCE, on
    doc_id, for the final per-doc aggregate. Output:
    (doc_id, n_tokens, n_oov, oov_rate); empty-token docs emit nothing.
    """
    toks = _doc_tokens(df, text_col, id_col, out_col="tok")
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    vocab = (
        counts.orderBy(F.col("n").desc(), F.col("tok"))
        .limit(vocab_size)
        .select("tok", F.lit(True).alias("in_vocab"))
    )
    return (
        toks.join(F.broadcast(vocab), "tok", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.col("in_vocab").isNull().cast("bigint"))
            .cast("bigint")
            .alias("n_oov"),
        )
        .withColumn(
            "oov_rate",
            F.round(F.col("n_oov").cast("double") / F.col("n_tokens"), 6),
        )
    )


def char_bigram_rarity(
    df: DataFrame,
    common_permille: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-trained character-bigram language-model quality gate
    (CCNet-style LM filtering re-expressed exp-free): train bigram
    conditional frequencies P(c2|c1) on the corpus itself, then score
    each document by the fraction of its bigrams that are corpus-COMMON
    (P(c2|c1) >= common_permille/1000). Gibberish / wrong-charset docs
    score low. The threshold test is pure integer arithmetic
    (1000 * n(c1c2) >= permille * n(c1.)) and the output fraction is a
    single division of exact integers — bit-exact in any engine, no
    log-prob transcendentals.

    Scale shape: ONE bigram explode over the corpus; the model is two
    combinable groupBys collapsing to |alphabet|^2 rows -> BROADCAST
    back against the same exploded stream; the only per-corpus-size
    shuffle is the final per-doc count. At 100 TB the explode is a map
    stage and the model stays KB-sized.
    """
    # length>=2 guard BEFORE sequence(): Spark's sequence(1, 0) emits a
    # DESCENDING range (same pitfall word_shingles documents).
    big = (
        df.filter(F.length(text_col) >= 2)
        .select(
            F.col(id_col).alias("doc_id"),
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.length(text_col) - 1),
                    lambda i: F.col(text_col).substr(i, F.lit(2)),
                )
            ).alias("bg"),
        )
    )
    pair_counts = big.groupBy("bg").agg(F.count(F.lit(1)).alias("n_pair"))
    first_counts = (
        pair_counts.groupBy(F.substring("bg", 1, 1).alias("c1"))
        .agg(F.sum("n_pair").alias("n_first"))
    )
    model = pair_counts.join(
        first_counts, F.substring(F.col("bg"), 1, 1) == F.col("c1")
    ).select(
        "bg",
        (F.lit(1000) * F.col("n_pair") >= F.lit(common_permille) * F.col("n_first"))
        .alias("is_common"),
    )
    return (
        big.join(F.broadcast(model), "bg")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(F.col("is_common").cast("bigint")).alias("n_common"),
        )
        .withColumn(
            "common_frac",
            F.col("n_common").cast("double") / F.col("n_bigrams"),
        )
    )


def epoch_shuffle(
    df: DataFrame,
    epochs: int = 2,
    seed: int = 17,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic multi-epoch training-order shuffle: every epoch is
    a reproducible pseudo-random permutation of the corpus (keyed
    md5(seed, epoch, id)), materialised as an explicit position column
    — the shuffled-shard manifest a trainer consumes. RNG-free, so the
    order is identical on every run/engine/partitioning (resumable
    training: epoch 2 is the same epoch 2 after a restart).

    Scale shape: the ordering uses global_row_number (scale.py) — range
    repartition + per-partition offsets — NEVER a single-partition
    row_number() window; the epoch fan-out is a map-side explode. Output
    (doc_id, epoch, global_pos, epoch_pos) where global_pos runs over
    the concatenated epoch stream and epoch_pos within the epoch.
    """
    from cellphe_data_pipeline_spark.operators.scale import global_row_number

    eps = F.explode(F.array(*[F.lit(i) for i in range(1, epochs + 1)])).alias("epoch")
    keyed = df.select(F.col(id_col).alias("doc_id"), eps).withColumn(
        "h",
        F.md5(F.concat_ws("-", F.lit(f"s{seed}"), F.col("epoch"), F.col("doc_id"))),
    )
    numbered = global_row_number(keyed, ["epoch", "h", "doc_id"], out_col="global_pos")
    n_docs = df.agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        numbered.join(F.broadcast(n_docs))
        .select(
            "doc_id",
            "epoch",
            "global_pos",
            (F.col("global_pos") - (F.col("epoch") - 1) * F.col("n_docs")).alias(
                "epoch_pos"
            ),
        )
    )


def mixture_rebalance(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    buckets: int = 10_000,
) -> DataFrame:
    """DATA-DRIVEN mixture rebalancing (r5c): downsample every stratum
    to the SMALLEST stratum's size — the uniform-mixture construction a
    multi-source training corpus runs when one source dwarfs the others
    (c4's cousin with rates COMPUTED from corpus stats, not given).

    Keep-rate per stratum is the exact integer
    ``min(buckets, (min_count * buckets) div count)`` in basis points —
    integer arithmetic end-to-end, so the thresholds (and therefore the
    kept set, gated by the same md5 bucket as hash_stratified_sample)
    are bit-identical on any engine. Expected kept size per stratum ≈
    min_count (hash-uniform, not exact-count — the price of a
    zero-shuffle stateless gate; exact-count trimming needs a per-group
    rank, one window shuffle — that is `limit_per_group`).

    Scale shape: ONE combinable groupBy(strata) count (a handful of
    rows) broadcast back over the corpus; the corpus itself never
    shuffles. Output: kept rows + their stratum's `rate_bp`.
    """
    from cellphe_data_pipeline_spark.functions.scalars import portable_hash64

    counts = df.groupBy(strata_col).agg(F.count(F.lit(1)).alias("_n"))
    min_n = counts.agg(F.min("_n").alias("_min_n"))
    rates = F.broadcast(
        counts.crossJoin(F.broadcast(min_n)).select(
            strata_col,
            F.least(
                F.lit(buckets).cast("bigint"),
                F.expr(f"_min_n * {buckets} div _n"),
            ).alias("rate_bp"),
        )
    )
    bucket = portable_hash64(F.col(id_col).cast("string")) % buckets
    return df.join(rates, strata_col).filter(bucket < F.col("rate_bp"))


#: mojibake tell-tales: UTF-8 bytes re-decoded as Latin-1 ("café" ->
#: "cafÃ©", smart quote -> "â€™", NBSP -> "Â "). Substring CONTAINS
#: checks — portable across engines, unlike regex-flavor edge cases.
MOJIBAKE_MARKERS = ("Ã", "â€", "Â°", "Â ")

#: typographic -> ASCII normalisation pairs (curly quotes, dashes,
#: ellipsis, NBSP) — the pre-tokenisation cleanup most corpora run
NORMALIZE_PAIRS = (
    ("‘", "'"), ("’", "'"),
    ("“", '"'), ("”", '"'),
    ("–", "-"), ("—", "-"),
    ("…", "..."), (" ", " "),
)


def normalize_text(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Unicode hygiene for a text corpus (r5c): flag mojibake
    (UTF-8-decoded-as-Latin-1 tell-tales) and normalise typographic
    punctuation to ASCII — the cleanup pass that runs before
    tokenisation so quote/dash variants don't fragment the vocabulary.

    Pure codegen: a chain of `contains` ORs for the flag and `replace`
    calls for the normalisation — no regex (Java vs RE2 flavor drift),
    no UDF, no shuffle; a 100 TB corpus streams through map tasks.
    Output: (id, has_mojibake, normalized, norm_hash md5) — the hash
    gives downstream exact-dedup a normalised key for free."""
    flag = F.lit(False)
    for m in MOJIBAKE_MARKERS:
        flag = flag | F.contains(F.col(text_col), F.lit(m))
    norm = F.col(text_col)
    for frm, to in NORMALIZE_PAIRS:
        norm = F.replace(norm, F.lit(frm), F.lit(to))
    return df.select(
        F.col(id_col).alias("doc_id"),
        flag.alias("has_mojibake"),
        norm.alias("normalized"),
        F.md5(norm).alias("norm_hash"),
    )


def normalize_urls(
    df: DataFrame, url_col: str = "url", id_col: str = "doc_id"
) -> DataFrame:
    """URL canonicalisation (r7) — stage 1 of every web-corpus
    pipeline (the RefinedWeb/CCNet recipe dedups on canonical URL
    before any content hashing, because the same page is crawled under
    dozens of surface forms). Canonical form:

    - scheme and host lowercased; a leading ``www.`` dropped;
    - default ports stripped (``:80`` for http, ``:443`` for https);
    - the fragment (``#…``) dropped — never sent to the server;
    - tracking params dropped (``utm_*``, ``fbclid``, ``gclid``,
      ``msclkid``, ``ref``) and the survivors SORTED — param order is
      not semantic, and sorting makes ``?a=1&b=2`` ≡ ``?b=2&a=1``;
    - a trailing ``/`` on a non-root path dropped; the root path
      itself normalises to '' (``http://x.com/`` ≡ ``http://x.com``).

    Pure codegen (regexp_extract + array filter/sort/join) with no
    lookarounds, so the identical chain runs on Java regex and RE2 —
    a 100 TB crawl streams through map tasks, zero shuffle. Output:
    (doc_id, url, url_canonical); malformed URLs (no ``scheme://``)
    canonicalise to NULL rather than a half-parsed guess.
    """
    u = F.col(url_col)
    scheme = F.lower(F.regexp_extract(u, r"^([a-zA-Z][a-zA-Z0-9+.-]*)://", 1))
    hostport = F.lower(F.regexp_extract(u, r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)", 1))
    host = F.regexp_replace(hostport, r"^www\.", "")
    host = F.when(scheme == "http", F.regexp_replace(host, ":80$", "")).otherwise(
        F.when(scheme == "https", F.regexp_replace(host, ":443$", "")).otherwise(host)
    )
    path = F.regexp_extract(u, r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    path = F.regexp_replace(path, r"/$", "")
    rawq = F.regexp_extract(u, r"^[^#?]*\?([^#]*)", 1)
    params = F.array_sort(
        F.filter(
            F.split(rawq, "&"),
            lambda p: (p != "")
            & ~p.rlike(r"^(utm_[^=]*|fbclid|gclid|msclkid|ref)(=|$)"),
        )
    )
    query = F.array_join(params, "&")
    canon = F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(query != "", F.concat(F.lit("?"), query)).otherwise(F.lit("")),
    )
    return df.select(
        F.col(id_col).alias("doc_id"),
        u.alias("url"),
        F.when(scheme != "", canon).alias("url_canonical"),
    )


def url_dedup(
    df: DataFrame, url_col: str = "url", id_col: str = "doc_id"
) -> DataFrame:
    """Canonical-URL exact dedup (r7): every doc keeps a row with its
    canonical URL, whether it is the group's keeper (min doc id over
    the canonical key) and the group size. ONE shuffle on the canonical
    key (a window, so rows are kept — the P2 HAVING-keep-rows shape);
    NULL canonicals (malformed URLs) are their own keepers with group
    size 1, never merged. Output: (doc_id, url_canonical, keep,
    n_group)."""
    normed = normalize_urls(df, url_col, id_col)
    # NULL canonicals (malformed URLs — a non-trivial fraction of any
    # real crawl) would all land in the window's single NULL partition
    # even though their keep/n_group are constant-overridden below: a
    # straggler task at scale (r7 review). Partitioning by a per-doc
    # salted key for NULLs spreads them while leaving real groups
    # untouched; \0 prefix cannot collide with a canonical URL.
    w = Window.partitionBy(
        F.coalesce(
            F.col("url_canonical"),
            F.concat(F.lit("\x00malformed:"), F.col("doc_id").cast("string")),
        )
    )
    return normed.select(
        "doc_id",
        "url_canonical",
        F.when(
            F.col("url_canonical").isNull(), F.lit(True)
        ).otherwise(F.col("doc_id") == F.min("doc_id").over(w)).alias("keep"),
        F.when(F.col("url_canonical").isNull(), F.lit(1).cast("bigint"))
        .otherwise(F.count(F.lit(1)).over(w))
        .alias("n_group"),
    )


def dsir_importance(
    df: DataFrame,
    target_pred: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 1024,
) -> DataFrame:
    """Hashed-token importance weights for data selection (r7) — the
    DSIR recipe (Xie et al., "Data Selection for Language Models via
    Importance Resampling", NeurIPS 2023): score every document by how
    much more likely its tokens are under a TARGET distribution (the
    high-quality slice selected by ``target_pred``) than under the raw
    corpus, using hashed bag-of-token models; resampling keeps raw
    docs with probability proportional to the weight.

    Two documented deviations from the paper, both for engine-exact
    reproducibility (the repo-wide no-transcendentals policy — see
    quality_features / tfidf_topk): (1) the per-token log-ratio is
    replaced by the Laplace-smoothed COUNT RATIO in ppm,
    ``(tgt_n+1)*1e6 div (raw_n+1)``, and the per-doc score is the MEAN
    over token occurrences; (2) the corpus-constant totals term
    ((raw_total+B)/(tgt_total+B)) is omitted. Deviation (2) IS
    rank-preserving (a positive constant factor). Deviation (1) is
    NOT in general — a monotone per-token transform does not commute
    with the per-doc mean, so heavy-tailed documents (one extreme
    bucket) can rank differently than under the paper's log form,
    which compresses outlier tokens. It is a deliberately different,
    documented scoring rule with the same direction of signal,
    chosen so every intermediate is bigint-exact (no float summation
    order-dependence, no libm divergence).

    Scale shape: bucket counts are ONE combinable groupBy over the
    n_buckets-sized key space with conditional sums (raw + target in
    the same pass — the corpus is read once); the bucket table
    (n_buckets rows, corpus-independent size) BROADCAST-joins back to
    the token stream; the only doc-keyed shuffle is the final per-doc
    aggregate. Output: (doc_id, n_tokens, dsir_ppm).
    """
    toks = df.select(
        F.col(id_col).alias("doc_id"), target_pred.alias("_is_tgt"),
        F.explode(_doc_token_array(text_col)).alias("tok"),
    ).filter(F.col("tok") != "")
    bucket = (
        F.conv(F.substring(F.md5(F.col("tok")), 1, 8), 16, 10).cast("bigint")
        % n_buckets
    ).alias("bucket")
    counts = (
        toks.select(bucket, "_is_tgt")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("raw_n"),
            F.sum(F.col("_is_tgt").cast("bigint")).alias("tgt_n"),
        )
    )
    weights = counts.select(
        "bucket",
        F.expr("CAST((tgt_n + 1) * 1000000 AS BIGINT) div CAST(raw_n + 1 AS BIGINT)").alias("w_ppm"),
    )
    return (
        toks.select("doc_id", bucket)
        .join(F.broadcast(weights), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.expr("CAST(sum(w_ppm) AS BIGINT) div count(1)").alias("dsir_ppm"),
        )
    )


#: Gopher rule-set stopwords (Rae et al. 2021 §A1.1): a doc must
#: contain at least 2 DISTINCT of these to pass the stop-word rule.
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_rules(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_cols: list[str] | None = None,
    gate_mask: int | None = None,
) -> DataFrame:
    """The Gopher quality rule set (r7) — the published heuristic gates
    (Rae et al., "Scaling Language Models: ... Gopher", 2021 §A1.1)
    that complement t1's continuous scores and t6's repetition
    fractions with hard KEEP/DROP decisions:

    - word count in [50, 100000];
    - mean word length in [3, 10];
    - '#'-to-word and '...'-to-word symbol ratios <= 0.1;
    - <= 90% of lines starting with a bullet ('-', '*', '•');
    - <= 30% of lines ending with an ellipsis ('...' or '…');
    - >= 80% of words containing at least one alphabetic character;
    - >= 2 distinct stop words from the published 8-word list.

    Output: (doc_id, n_words, mean_word_len, keep, fail_mask) where
    ``fail_mask`` is a bitmask (1=word-count, 2=mean-word-length,
    4=symbol-ratio, 8=bullet-lines, 16=ellipsis-lines, 32=alpha-words,
    64=stop-words) — the audit column telling a curation run WHY each
    doc fell, which the boolean alone cannot. Zero shuffle; a 100 TB
    corpus streams through map tasks at scan speed.

    STAGED PROJECTIONS (r16, guide §4/§1.2 — the r8
    ``minhash_band_key_rows`` lesson applied here): the rule set leans
    on higher-order functions (filter/aggregate/transform over the
    token and line arrays), which do not participate in whole-stage
    codegen — the projection evaluates on the interpreted expression
    path, where re-inlined sub-expressions are NOT common-subexpression
    eliminated. The r7-r15 single-select form therefore re-ran the
    whitespace regexp + split per HOF reference (4x for the token
    array, 3x for the line array, per row). Staging the normalised
    text / token array / line array into their OWN select makes every
    downstream reference an attribute; CollapseProject keeps non-cheap
    multi-referenced aliases materialised. Measured at the c24 corpus
    shape (sf0.1, noop sink): see OPTIMIZATION_r16.md. Values are
    bit-identical (same expressions over the same inputs; the staged
    aliases carry a ``_gq_`` prefix reserved against keep_cols
    collisions).

    ``gate_mask`` (r16): when set, rows whose ``fail_mask & gate_mask``
    is non-zero are dropped INSIDE the operator, on the staged count
    attributes. This exists because a downstream
    ``.filter(fail_mask & m == 0)`` on the returned frame is pushed
    below every projection by PushPredicateThroughProject, which
    re-inlines the ENTIRE tokenise/count tree into one giant predicate
    — and predicates containing higher-order functions evaluate on the
    interpreted path with NO common-subexpression elimination, so the
    whole document parse runs once for the filter and again for the
    projection (measured 3.0x at the c24 corpus shape: 0.88s unfiltered
    vs 2.64s with the pushed filter, sf0.1 noop). The in-operator gate
    filters on the ALREADY-STAGED counts; its statically false
    ``nondeterministic_zero() > 1.0`` disjunct blocks the pushdown —
    guide §4.4's asNondeterministic() remedy, applied to a native
    expression tree. Row set and all output values are
    identical to the external-filter form (oracle-reproven: c24, e32).
    """
    t = F.coalesce(F.col(text_col), F.lit(""))
    toks = F.filter(F.split(F.trim(F.regexp_replace(t, r"\s+", " ")), " "),
                    lambda x: x != "")
    lines = F.filter(F.split(t, "\n"), lambda x: F.length(F.trim(x)) > 0)
    keep_names = list(keep_cols or [])
    # the _gq_ staged-alias prefix is documented as reserved — enforce
    # it (r17, per the r16 ADVICE): a keep col named e.g. _gq_nw would
    # otherwise produce duplicate/ambiguous columns in the staged selects
    bad = [c for c in keep_names if c.startswith("_gq_")]
    if bad:
        raise ValueError(
            f"keep_cols may not start with the reserved '_gq_' prefix: {bad}"
        )
    p1 = df.select(
        F.col(id_col).alias("doc_id"),
        *[F.col(c) for c in keep_names],
        t.alias("_gq_t"),
        toks.alias("_gq_toks"),
        lines.alias("_gq_lines"),
    )

    tA, toksA, linesA = F.col("_gq_t"), F.col("_gq_toks"), F.col("_gq_lines")
    n_words = F.size(toksA).cast("bigint")
    total_chars = F.aggregate(
        toksA, F.lit(0).cast("bigint"), lambda acc, x: acc + F.length(x)
    )
    n_hash = (F.length(tA) - F.length(F.replace(tA, F.lit("#"), F.lit("")))).cast("bigint")
    n_ell = ((F.length(tA) - F.length(F.replace(tA, F.lit("..."), F.lit("")))) / 3).cast("bigint")
    n_ell = n_ell + (
        F.length(tA) - F.length(F.replace(tA, F.lit("…"), F.lit("")))
    ).cast("bigint")
    n_lines = F.size(linesA).cast("bigint")
    n_bullet = F.size(
        F.filter(linesA, lambda x: F.trim(x).rlike(r"^([-*•])( |$)"))
    ).cast("bigint")
    n_ell_end = F.size(
        F.filter(linesA, lambda x: F.rtrim(x).rlike(r"(\.\.\.|…)$"))
    ).cast("bigint")
    n_alpha = F.size(F.filter(toksA, lambda x: x.rlike("[a-zA-Z]"))).cast("bigint")
    # ONE lowercase pass + set intersection (r7 review: a per-stopword
    # filter lambda re-evaluated transform(toks, lower) 8x per row —
    # Catalyst does not CSE across higher-order-function lambdas)
    n_stop = F.size(
        F.array_intersect(
            F.array_distinct(F.transform(toksA, F.lower)),
            F.array(*[F.lit(w) for w in GOPHER_STOPWORDS]),
        )
    ).cast("bigint")
    p2 = p1.select(
        "doc_id",
        *keep_names,
        n_words.alias("_gq_nw"),
        total_chars.alias("_gq_tc"),
        n_hash.alias("_gq_nhash"),
        n_ell.alias("_gq_nell"),
        n_lines.alias("_gq_nl"),
        n_bullet.alias("_gq_nb"),
        n_ell_end.alias("_gq_ne"),
        n_alpha.alias("_gq_na"),
        n_stop.alias("_gq_ns"),
    )

    nw = F.col("_gq_nw")
    n_words_nz = F.when(nw == 0, F.lit(None)).otherwise(nw)
    mean_wl = F.round(F.col("_gq_tc").cast("double") / n_words_nz, 6)
    n_lines_nz = F.when(F.col("_gq_nl") == 0, F.lit(None)).otherwise(F.col("_gq_nl"))
    fail_wc = (nw < 50) | (nw > 100_000)
    fail_wl = (mean_wl.isNull()) | (mean_wl < 3.0) | (mean_wl > 10.0)
    fail_sym = F.coalesce(
        (F.col("_gq_nhash").cast("double") / n_words_nz > 0.1)
        | (F.col("_gq_nell").cast("double") / n_words_nz > 0.1),
        F.lit(True),
    )
    fail_bullet = F.coalesce(
        F.col("_gq_nb").cast("double") / n_lines_nz > 0.9, F.lit(True)
    )
    fail_ell = F.coalesce(
        F.col("_gq_ne").cast("double") / n_lines_nz > 0.3, F.lit(True)
    )
    fail_alpha = F.coalesce(
        F.col("_gq_na").cast("double") / n_words_nz < 0.8, F.lit(True)
    )
    fail_stop = F.col("_gq_ns") < 2
    mask = (
        fail_wc.cast("bigint") * 1
        + fail_wl.cast("bigint") * 2
        + fail_sym.cast("bigint") * 4
        + fail_bullet.cast("bigint") * 8
        + fail_ell.cast("bigint") * 16
        + fail_alpha.cast("bigint") * 32
        + fail_stop.cast("bigint") * 64
    )
    if gate_mask is not None:
        # Gate on the STAGED count attributes, through a projected gate
        # COLUMN carrying the never-true nondeterministic_zero() > 1.0
        # disjunct. Spark 4 pushes even NON-deterministic filter
        # conditions through deterministic projects, so the barrier
        # must be a nondeterministic PROJECT FIELD; the filter then
        # stays ABOVE this projection instead of being re-inlined into
        # one giant un-CSE'd scan predicate (guide §4.4; measured 3.0x
        # — see docstring). The row set is exactly
        # fail_mask & gate_mask == 0.
        gate = (mask.bitwiseAND(F.lit(gate_mask)) == 0) | (
            nondeterministic_zero() > F.lit(1.0)
        )
        p2 = (
            p2.withColumn("_gq_gate", gate)
            .filter(F.col("_gq_gate"))
            .drop("_gq_gate")
        )
    return p2.select(
        "doc_id",
        nw.alias("n_words"),
        mean_wl.alias("mean_word_len"),
        (mask == 0).alias("keep"),
        mask.alias("fail_mask"),
        # keep_cols (r12, c24): payload pass-through — the composed
        # pipeline filters on `keep` and continues with the text in
        # the same zero-shuffle projection, no join-back
        *[F.col(c) for c in keep_names],
    )


def dsir_resample(
    df: DataFrame,
    target_pred: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 1024,
    seed: str = "dsir-v1",
) -> DataFrame:
    """Importance RESAMPLING over DSIR weights (r7) — the second half
    of the Xie et al. 2023 recipe: keep each raw document with
    probability proportional to its importance weight (clipped at 1).
    The acceptance test is a SEEDED-HASH Bernoulli draw —
    ``md5(seed || doc_id)`` mapped to [0, 1e6) and compared against
    the ppm weight — so the sample is deterministic across engines,
    runs, partitionings and scale factors (the c4/c9 seeded-md5
    contract; changing ``seed`` versions the sample). Docs with
    weight >= 1e6 ppm (more likely under target than raw) are always
    kept; a doc at 250k ppm survives with p=0.25.

    Scale: dsir_importance's shapes (one bucket groupBy + broadcast
    join + doc-keyed shuffle) plus a pure-codegen accept column — no
    extra shuffle. Output: (doc_id, n_tokens, dsir_ppm, draw_ppm,
    keep); ``filter(keep)`` is the resampled corpus.
    """
    w = dsir_importance(df, target_pred, text_col, id_col, n_buckets)
    draw = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(seed), F.col("doc_id").cast("string"))), 1, 8),
            16,
            10,
        ).cast("bigint")
        % 1_000_000
    )
    return w.select(
        "doc_id",
        "n_tokens",
        "dsir_ppm",
        draw.alias("draw_ppm"),
        (draw < F.least(F.lit(1_000_000).cast("bigint"), F.col("dsir_ppm"))).alias("keep"),
    )


def split_sentences(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Sentence segmentation (r7) — the unit-of-dedup prep for
    sentence-level pipelines (CCNet dedups paragraphs/sentences, not
    documents): split on terminal-punctuation runs followed by
    whitespace. Deliberately lookaround-free (``[.!?]+\\s+`` as the
    separator — RE2 has no lookbehind, so the "keep the punctuation"
    variant would not be oracle-portable); terminal punctuation is
    dropped, which is exactly what a dedup hash wants anyway
    (trailing-punctuation variants should collide).

    Output: (doc_id, sent_id 1-based, sentence, sent_hash md5) — the
    hash column feeds exact/line-style dedup (d1/d12) at sentence
    granularity for free. One codegen split + posexplode, zero
    shuffle; empty/whitespace sentences are dropped.
    """
    sents = F.filter(
        F.transform(
            F.split(F.coalesce(F.col(text_col), F.lit("")), r"[.!?]+\s+"),
            # strip the document-final sentence's terminal run too, so
            # every sentence is punctuation-normalised identically
            lambda x: F.regexp_replace(F.trim(x), "[.!?]+$", ""),
        ),
        lambda x: x != "",
    )
    return (
        df.select(F.col(id_col).alias("doc_id"), F.posexplode(sents))
        .select(
            "doc_id",
            (F.col("pos") + 1).cast("bigint").alias("sent_id"),
            F.col("col").alias("sentence"),
            F.md5(F.col("col")).alias("sent_hash"),
        )
    )


def bpe_reference(word: str, merges: list[tuple[str, str]]) -> list[str]:
    """Plain-python reference BPE apply (greedy, merge-rank order,
    left-to-right non-overlapping within each rank) — the independent
    implementation the oracles and tests check the expression form
    against."""
    toks = list(word)
    for a, b in merges:
        out: list[str] = []
        for t in toks:
            if out and out[-1] == a and t == b:
                out[-1] = a + b
            else:
                out.append(t)
        toks = out
    return toks


def bpe_priority_reference(
    word: str, merges: list[tuple[str, str]]
) -> list[str]:
    """Plain-python reference for the GPT-2 PRIORITY-loop BPE apply
    (repeatedly merge the lowest-rank adjacent pair, left-to-right
    non-overlapping per pass) — the semantics
    :func:`bpe_token_counts_arrow` implements. Agrees with
    :func:`bpe_reference` (the rank-order fold) exactly on
    rank-closed tables; see the arrow docstring for the divergence
    on arbitrary ones."""
    ranks = {tuple(m): i for i, m in enumerate(merges)}
    rules = [tuple(m) for m in merges]
    return _priority_merge_loop(word, ranks, rules)


def _priority_merge_loop(
    word: str, ranks: dict[tuple[str, str], int], rules: list[tuple[str, str]]
) -> list[str]:
    """The GPT-2 priority-merge inner loop, shared by
    :func:`bpe_priority_reference` (per-word convenience wrapper) and
    :func:`bpe_token_counts_arrow`'s batch kernel (which prebuilds
    ranks/rules once per task) — r8 review: the kernel carried a
    verbatim copy that could drift."""
    toks = list(word)
    while len(toks) > 1:
        best = None
        for i in range(len(toks) - 1):
            rk = ranks.get((toks[i], toks[i + 1]))
            if rk is not None and (best is None or rk < best):
                best = rk
        if best is None:
            break
        a, b = rules[best]
        out: list[str] = []
        i = 0
        while i < len(toks):
            if i + 1 < len(toks) and toks[i] == a and toks[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(toks[i])
                i += 1
        toks = out
    return toks


def bpe_token_counts(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """REAL BPE tokenization as pure Catalyst expressions (r7): apply a
    learned merge list (rank order; left-to-right non-overlapping
    within a rank — the GPT-2 greedy semantics) to every word and
    count the resulting subword tokens. Unlike bpe_ish_token_count
    (a regex APPROXIMATION of a tokenizer), this runs the actual merge
    algorithm — per merge rule, one ``F.aggregate`` fold over the
    word's token array that joins the last accumulated token with the
    current one when they match the rule. No UDF, no Python per row:
    the whole tokenizer is codegen'd column expressions, so the token
    budget of a 100 TB corpus is computed at scan speed.

    Cost scales with |merges| x |DISTINCT words| (one fold per rule,
    evaluated over the vocabulary table only — see the in-body cache
    note); for production-size merge tables (10k+ rules) use an
    Arrow-batched UDF with a trie over the same distinct-word shape.
    Output: (doc_id, n_words, n_bpe_tokens); docs with no tokens are
    absent.
    """

    def chars(w: Column) -> Column:
        return F.filter(F.split(w, ""), lambda c: c != "")

    def one_merge(toks: Column, a: str, b: str) -> Column:
        return F.aggregate(
            toks,
            F.array().cast("array<string>"),
            # F.get returns NULL (not an ANSI error) on the empty
            # accumulator, falling through to the otherwise branch
            lambda acc, x: F.when(
                (F.get(acc, F.size(acc) - 1) == F.lit(a)) & (x == F.lit(b)),
                F.concat(
                    F.slice(acc, F.lit(1), F.size(acc) - 1), F.array(F.lit(a + b))
                ),
            ).otherwise(F.concat(acc, F.array(x))),
        )

    def bpe_len(w: Column) -> Column:
        t = chars(w)
        for a, b in merges:
            t = one_merge(t, a, b)
        return F.size(t)

    # Tokenize the DISTINCT word table, not every occurrence — the
    # relational form of the per-word cache every real BPE tokenizer
    # keeps (GPT-2's encoder lru-caches whole words): the merge folds
    # run |vocabulary| times instead of |corpus tokens| times, and the
    # occurrence stream just hash-joins the counts back (AQE broadcasts
    # the vocabulary when it fits, which real vocabularies do).
    # Measured at sf0.1 (5k docs x ~150 words, 12 merges): 15.2s for
    # the per-occurrence fold -> 0.79s for this form (SCALE.md),
    # identical output. NOTE the groupBy keys on doc_id: rows sharing
    # a doc_id are merged into one summed output row (one row per
    # DISTINCT doc_id, not per input row) — dedupe or re-key first if
    # a unioned/re-chunked corpus carries repeated ids.
    occurrences = _doc_tokens(df, text_col, id_col)
    vocab = occurrences.select("tok").distinct().withColumn(
        "n_sub", bpe_len(F.col("tok")).cast("bigint")
    )
    return (
        occurrences.join(vocab, "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_sub").cast("bigint").alias("n_bpe_tokens"),
        )
    )


def bpe_token_counts_arrow(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The PRODUCTION-SCALE BPE apply path (r8 — closing
    :func:`bpe_token_counts`'s documented handoff "for 10k+ rule
    tables use an Arrow-batched kernel"): the expression form builds
    one Catalyst ``aggregate`` fold PER RULE, so plan size, analysis
    time and codegen grow linearly with |merges| — fine at tens of
    rules, pathological at a real 30-50k-rule vocabulary. This path
    ships the rank dict once per task and tokenizes with the GPT-2
    priority-merge loop (repeatedly merge the lowest-rank adjacent
    pair, left-to-right non-overlapping per pass) — per-word cost
    governed by word length, INDEPENDENT of |merges|.

    Same relational shape as the expression form (the per-word-cache
    insight: tokenize the DISTINCT word table, hash-join counts
    back). Bit-identical to the rank-order fold **for RANK-CLOSED
    merge tables** — every multi-char rule side is the output of an
    earlier rule, which every table produced by BPE *learning*
    (bpe_learn_merges, Sennrich 2016) is by construction. Under
    rank-closure, merging rule i's pair creates adjacencies only for
    rules that consume token a_i||b_i, all of which rank AFTER i, so
    the fold's single forward pass never misses a resurrected
    earlier rule. On an arbitrary (non-learned) table the two
    semantics genuinely diverge — e.g. ``[("ac","c"), ("a","c")]``
    on "acc": the priority loop merges rank 1 then the newly-enabled
    rank 0 → 1 token, while the fold has already passed rank 0 → 2
    tokens. This path always implements the priority loop (the GPT-2
    apply semantics); equality on rank-closed tables and
    priority-loop behaviour on arbitrary ones are both pinned by
    hypothesis tests, and the t24 driver query shares t17's oracle
    over the rank-closed BPE_MERGES table.
    Output: (doc_id, n_words, n_bpe_tokens).
    """
    ranks = {tuple(m): i for i, m in enumerate(merges)}
    rules = [tuple(m) for m in merges]

    def tokenize_batch(batches):
        import pandas as pd  # worker-side; text.py is otherwise pandas-free

        # no per-word memo (r8 review): the input is the globally
        # DISTINCT vocab table, so a cache can never hit — it only
        # grew to hold every word in the partition
        for pdf in batches:
            ns = [
                len(_priority_merge_loop(w, ranks, rules)) for w in pdf["tok"]
            ]
            yield pd.DataFrame({"tok": pdf["tok"], "n_sub": ns})

    occurrences = _doc_tokens(df, text_col, id_col)
    vocab = occurrences.select("tok").distinct().mapInPandas(
        tokenize_batch, "tok string, n_sub bigint"
    )
    return (
        occurrences.join(vocab, "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_sub").cast("bigint").alias("n_bpe_tokens"),
        )
    )


def _bpe_state_pairs(state: DataFrame, s2: str) -> DataFrame:
    """Adjacent-pair counts (l, r, c) of a sentinel-delimited BPE
    vocabulary state (cnt, s) — one explode + one map-side combinable
    groupBy; shared by both bpe_learn_merges strategies (full recount
    scans the whole state, delta scans only the affected slice)."""
    return (
        state.withColumn(
            "t", F.split(F.expr("substring(s, 2, length(s) - 2)"), s2)
        )
        .filter(F.size("t") >= 2)
        .select(
            "cnt",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t) - 1), i -> "
                    "struct(element_at(t, i) AS l, "
                    "element_at(t, cast(i + 1 AS int)) AS r))"
                )
            ).alias("p"),
        )
        .select("cnt", "p.l", "p.r")
        .groupBy("l", "r")
        .agg(F.sum("cnt").alias("c"))
    )


def _bpe_select_batch(
    fetched: list, truncated: bool, max_take: int
) -> list[tuple[str, str, int]]:
    """Driver-side selection of a SERIAL-EQUIVALENT merge batch from
    the top-W pair rows (sorted (c DESC, l, r)).

    Greedy prefix scan; candidate p_j joins the batch iff
      (a) p_j's symbols AND its merged token are string-disjoint from
          every earlier selection's {lhs, rhs, lhs||rhs} — then
          count(p_j) is textually unchanged by applying them
          (delimited cells: a pattern occurrence IS a symbol
          adjacency, and none of p_j's symbols can be consumed or
          spoofed); and
      (b) c_j > (1 + |selected|) * H, where H bounds every count an
          earlier selection could raise: a merge (a,b)->ab only
          creates occurrences of pairs CONTAINING ab, each new
          occurrence consuming an old (x,a)/(b,y) occurrence, so any
          pair's post-batch count <= its old count + one creator-pair
          count per selected merge — every term a pair sharing a
          symbol with the selected set, hence <= H (max fetched
          sharing count, or the fetch floor when truncated).
    The scan STOPS at the first rejection (serial order beyond it is
    unknowable from this snapshot). The first candidate is always
    taken, so progress is guaranteed; conservatism only shrinks the
    batch, never changes the learned table.

    Returns ``(selected, stop_reason)`` — the reason names why the
    scan ended ("max_take" budget, "exhausted" fetch, "overlap" next
    candidate, "hazard" bound) and is emitted verbatim into the
    round log the SCALE.md stage measurements read; returning it from
    the selector itself keeps one source of truth (r9 review: a
    separate classifier re-deriving the break order would silently
    misreport if the acceptance rule ever changed)."""
    if not fetched:
        return [], "exhausted"
    floor = int(fetched[-1]["c"]) if truncated else 0
    selected: list[tuple[str, str, int]] = []
    sel_keys: set[tuple[str, str]] = set()
    sel_syms: set[str] = set()
    reason = "exhausted"
    for row in fetched:
        if len(selected) >= max_take:
            reason = "max_take"
            break
        l, r, c = row["l"], row["r"], int(row["c"])
        if not selected:
            selected.append((l, r, c))
            sel_keys.add((l, r))
            sel_syms |= {l, r, l + r}
            continue
        if l in sel_syms or r in sel_syms or (l + r) in sel_syms:
            reason = "overlap"
            break
        hazard = floor
        for q in fetched:
            if (q["l"], q["r"]) in sel_keys:
                continue
            if q["l"] in sel_syms or q["r"] in sel_syms:
                hazard = max(hazard, int(q["c"]))
                break  # fetched is count-sorted: first hit is the max
        if c <= (1 + len(selected)) * hazard:
            reason = "hazard"
            break
        selected.append((l, r, c))
        sel_keys.add((l, r))
        sel_syms |= {l, r, l + r}
    else:
        # loop consumed the whole fetch: if it ALSO exactly filled the
        # budget, the stop is budget-bound, not fetch-bound — report
        # max_take so the SCALE round log doesn't under-count
        # budget-bound rounds at the boundary (r9 advisor)
        reason = "max_take" if len(selected) >= max_take else "exhausted"
    return selected, reason


# observability for tests/SCALE measurements: how many driver rounds
# (argmax fetch + delta fold) the last delta-strategy learn used —
# < n_merges whenever batching engaged
_last_learn_rounds = 0

# per-round log of the last delta-strategy learn (r9, the SCALE.md
# later-stage batching measurement): one dict per round with the batch
# size and why the greedy selector stopped — "max_take" (budget),
# "exhausted" (took every fetched pair), "overlap" (next candidate
# shares a symbol with the batch) or "hazard" (next candidate's count
# cleared neither the serial-equivalence bound)
_last_learn_round_log: list[dict] = []


def bpe_learn_merges(
    df: DataFrame,
    n_merges: int = 6,
    text_col: str = "text",
    id_col: str = "doc_id",
    strategy: str = "delta",
    fetch_width: int = 64,
) -> DataFrame:
    """LEARN a BPE merge table from the corpus (r7) — the training
    half of the tokenizer whose APPLICATION half is
    :func:`bpe_token_counts`: Sennrich et al. 2016's algorithm, k
    iterations of (count adjacent-pair frequencies over the
    vocabulary, weighted by word count; merge the argmax pair
    everywhere).

    Distributed shape (how real parallel BPE trainers work — e.g. the
    HF tokenizers train loop): the corpus collapses ONCE into the
    distinct-word table with counts (the t17 insight: folds over
    |vocab|, not |corpus tokens|). Two strategies, bit-identical
    output:

    - ``strategy="delta"`` (default, r8): maintain the pair-count
      table INCREMENTALLY — real trainers' delta trick lifted to
      relational form. Per round: top-``fetch_width`` pairs fetched,
      a provably serial-equivalent batch of disjoint merges selected
      driver-side (:func:`_bpe_select_batch`), then ONLY the words
      containing a selected pattern are re-exploded; their old pairs
      enter the count table negatively, their new pairs positively,
      one keyed groupBy folds the delta in. Per-round shuffle volume
      is proportional to the AFFECTED slice (which shrinks as
      training proceeds), not the vocabulary, and batching amortises
      driver round-trips — the full recount's linear-in-k
      vocabulary-explode cost (the r7 verdict's ⚠, dead at 30k-merge
      vocabs) becomes sub-linear (measured in SCALE.md at k=200).
    - ``strategy="recount"``: the r7 full recount, one whole-state
      pair explode + argmax per merge — kept as the equivalence
      oracle for tests and the SCALE.md comparison.

    Corpus passes: exactly one, at the start, either way.

    The tokenization state is a SENTINEL-DELIMITED STRING
    ``\\x1f tok \\x1f\\x1f tok \\x1f`` rather than a token array: applying
    merge (l, r) is then literal ``replace(s, '\\x1f l \\x1f\\x1f r \\x1f',
    '\\x1f lr \\x1f')`` — every token cell carries its OWN delimiters, so
    replace's left-to-right non-overlapping scan implements exactly
    the greedy BPE pass ([a,a,a,a] -> [aa,aa]) with no fold, and the
    same expression runs verbatim in any SQL engine. Tokens containing
    the \\x1f sentinel are excluded up front (both engines, same
    filter) — a character that never occurs in natural text since \\x1f
    is not regex-\\s whitespace and would otherwise corrupt cell
    boundaries.

    Ties on pair count break (lhs, rhs) lexicographic — deterministic
    across engines/partitionings. Output: (merge_rank, lhs, rhs,
    pair_count), rank-ordered; feed `[(lhs, rhs), ...]` straight into
    bpe_token_counts. Stops early (fewer rows) if the vocabulary runs
    out of pairs."""
    import functools
    import operator

    from cellphe_data_pipeline_spark.checkpoint import cut_lineage

    if strategy not in ("delta", "recount"):
        raise ValueError(f"unknown strategy {strategy!r}")
    if fetch_width < 1:
        raise ValueError(
            f"fetch_width must be >= 1 (got {fetch_width}): limit(0) would "
            "end training after zero merges, indistinguishable from a "
            "pair-less corpus"
        )
    sep = "\x1f"
    s2 = sep + sep
    words = (
        _doc_tokens(df, text_col, id_col)
        .filter(~F.col("tok").contains(sep))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    chars = F.filter(F.split(F.col("tok"), ""), lambda c: c != "")
    state = words.select(
        "cnt",
        F.concat(F.lit(sep), F.array_join(chars, s2), F.lit(sep)).alias("s"),
    )
    merges: list[tuple[int, str, str, int]] = []

    if strategy == "recount":
        for i in range(n_merges):
            top = (
                _bpe_state_pairs(state, s2)
                .orderBy(F.col("c").desc(), "l", "r")
                .limit(1)
                .collect()
            )
            if not top:
                break
            l, r, c = top[0]["l"], top[0]["r"], top[0]["c"]
            merges.append((i + 1, l, r, int(c)))
            if i + 1 < n_merges:
                # apply the merge only when another iteration will
                # read it (the oracle's CTE chain does the same) —
                # the final state is dead output
                state = cut_lineage(
                    state.withColumn(
                        "s",
                        F.replace(
                            F.col("s"),
                            F.lit(sep + l + s2 + r + sep),
                            F.lit(sep + l + r + sep),
                        ),
                    ),
                    name=f"bpe-learn-{i}",
                )
        return from_driver_rows(
            df.sparkSession,
            merges,
            "merge_rank bigint, lhs string, rhs string, pair_count bigint",
        )

    # delta strategy: the ONLY whole-state pair explode is this
    # initial one; every later round touches the affected slice only
    global _last_learn_rounds
    _last_learn_rounds = 0
    _last_learn_round_log.clear()
    state = cut_lineage(state, name="bpe-state-init")
    counts = cut_lineage(_bpe_state_pairs(state, s2), name="bpe-counts-init")
    while len(merges) < n_merges:
        _last_learn_rounds += 1
        fetched = (
            counts.orderBy(F.col("c").desc(), "l", "r")
            .limit(fetch_width)
            .collect()
        )
        if not fetched:
            break
        batch, stop = _bpe_select_batch(
            fetched, len(fetched) == fetch_width, n_merges - len(merges)
        )
        _last_learn_round_log.append(
            {
                "round": _last_learn_rounds,
                "fetched": len(fetched),
                "batch": len(batch),
                "stop": stop,
            }
        )
        for l, r, c in batch:
            merges.append((len(merges), l, r, c))
        if len(merges) >= n_merges:
            break  # final state/counts are dead output
        pats = [
            (sep + l + s2 + r + sep, sep + l + r + sep) for l, r, _ in batch
        ]
        replaced = functools.reduce(
            lambda col, p: F.replace(col, F.lit(p[0]), F.lit(p[1])),
            pats,
            F.col("s"),
        )
        affected = state.filter(
            functools.reduce(
                operator.or_, (F.col("s").contains(p) for p, _ in pats)
            )
        )
        delta = _bpe_state_pairs(affected, s2).select(
            "l", "r", (-F.col("c")).alias("c")
        ).unionByName(
            _bpe_state_pairs(affected.withColumn("s", replaced), s2)
        )
        counts = cut_lineage(
            counts.unionByName(delta)
            .groupBy("l", "r")
            .agg(F.sum("c").alias("c"))
            .filter(F.col("c") > 0),
            name=f"bpe-counts-{len(merges)}",
        )
        state = cut_lineage(
            state.withColumn("s", replaced), name=f"bpe-state-{len(merges)}"
        )
    merges = [(i + 1, l, r, c) for i, (_, l, r, c) in enumerate(merges)]
    return from_driver_rows(
        df.sparkSession,
        merges,
        "merge_rank bigint, lhs string, rhs string, pair_count bigint",
    )


def pack_context_windows(
    df: DataFrame,
    window_tokens: int = 512,
    text_col: str = "text",
    id_col: str = "doc_id",
    stream_col: str = "source",
) -> DataFrame:
    """GPT-style CONTEXT-WINDOW PACKING (r7) — the pretraining step
    after sharding: concatenate documents (in deterministic
    (stream, doc_id) order) into one token stream and slice it into
    fixed-length windows, emitting one row per (window, document)
    OVERLAP with in-window span offsets. Unlike
    :func:`token_budget_shards` (which assigns each doc to the shard
    where it starts), documents here genuinely STRADDLE window
    boundaries — a doc spanning windows w..w+2 yields three rows with
    clipped spans, exactly the sample/attention-boundary manifest a
    training loader needs.

    Scale shape: the cumulative offset is ONE window shuffle
    partitioned by ``stream_col`` (the c3 contract — streams are the
    parallel unit, no global ordering); the boundary explode emits
    ceil(n_tokens / L) + 1 rows per doc — output volume is
    corpus_tokens / L, independent of doc-count skew. Token counting
    is the BPE-ish codegen estimator. Zero-token docs emit nothing
    (they occupy no stream positions).

    Output: (stream, window_id, doc_id, n_tokens, tok_start,
    tok_end) — tok_* are inclusive in-window offsets in [0, L-1].
    """
    if window_tokens <= 0:
        raise ValueError(f"window_tokens must be positive, got {window_tokens}")
    base = df.select(
        F.col(id_col).alias("doc_id"),
        F.col(stream_col).alias("stream"),
        bpe_ish_token_count(F.col(text_col)).alias("n_tokens"),
    )
    w = (
        Window.partitionBy("stream")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    pos = base.withColumn(
        "start", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("bigint")
    ).filter(F.col("n_tokens") > 0)
    return explode_token_windows(pos, window_tokens)


def explode_token_windows(pos: DataFrame, window_tokens: int) -> DataFrame:
    """The window-slicing tail of :func:`pack_context_windows`,
    factored out (r13) so the STREAMING packer (tracker.
    streaming_corpus_ingest_drain) shares the identical boundary
    arithmetic instead of a copy: given (stream, doc_id, n_tokens,
    start) — `start` being the doc's GLOBAL token offset in its
    stream, however it was computed (batch cumulative window, or
    carried offset + in-batch cumsum) — emit one row per
    (window, doc) overlap with clipped in-window spans."""
    L = F.lit(window_tokens)
    pos = pos.withColumn("end", F.col("start") + F.col("n_tokens") - 1)
    out = pos.withColumn(
        "window_id",
        F.explode(F.sequence(F.expr("start div " + str(window_tokens)),
                             F.expr("end div " + str(window_tokens)))),
    )
    return out.select(
        "stream",
        F.col("window_id").cast("bigint").alias("window_id"),
        "doc_id",
        "n_tokens",
        F.greatest(F.lit(0), F.col("start") - F.col("window_id") * L)
        .cast("bigint")
        .alias("tok_start"),
        F.least(L - 1, F.col("end") - F.col("window_id") * L)
        .cast("bigint")
        .alias("tok_end"),
    )


def pack_samples_nosplit(
    df: DataFrame,
    window_tokens: int = 512,
    text_col: str = "text",
    id_col: str = "doc_id",
    stream_col: str = "source",
) -> DataFrame:
    """NO-SPLIT sample packing (r12, c25) — the SFT/instruction-tuning
    counterpart of :func:`pack_context_windows`: samples must stay
    WHOLE (a split conversation is a corrupted training example), so
    docs are packed NEXT-FIT into fixed-capacity bins — in
    deterministic (stream, doc_id) order, a doc goes into the current
    bin if it fits, else opens a new one; a doc longer than the bin
    gets a bin of its own, TRUNCATED to capacity (flagged — the
    loader's drop-or-truncate policy decision, surfaced not hidden).
    This is the packing HF's `group_by_length`/packed-SFT loaders do;
    c13 remains the pretraining form (docs straddle, no padding at
    all). Padding waste = capacity − fill, directly measurable from
    the output (the efficiency lever that motivates packing).

    Next-fit is a SEQUENTIAL fold (each decision depends on the
    running fill — not expressible as a frame-based window), so the
    kernel runs per stream via applyInPandas over a stream-keyed
    shuffle, integer-only state (bit-replayable by an unrolled
    recursive-CTE oracle — the g7/j16 discipline). Scale: streams are
    the parallel unit, cost O(docs-per-stream) sequential each; a
    mega-stream is the recorded hazard (shard it upstream into
    sub-streams — packing quality loss is one partially-filled bin
    per shard, negligible at corpus scale). First-fit-decreasing
    would pack ~2-5% tighter but destroys doc-order locality and
    needs a global sort per stream — recorded trade, next-fit chosen.

    Output: (stream, bin_id, doc_id, n_tokens, tok_start, tok_end,
    truncated) — tok_* inclusive in-bin offsets; zero-token docs emit
    nothing."""
    import pandas as pd

    if window_tokens <= 0:
        raise ValueError(f"window_tokens must be positive, got {window_tokens}")
    W = window_tokens
    base = df.select(
        F.col(id_col).alias("doc_id"),
        F.col(stream_col).alias("stream"),
        bpe_ish_token_count(F.col(text_col)).alias("n_tokens"),
    ).filter(F.col("n_tokens") > 0)

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        bin_ids, starts, ends, truncs = [], [], [], []
        bin_id, fill = -1, W  # sentinel: first doc always opens bin 0
        for n in pdf["n_tokens"]:
            eff = min(int(n), W)
            if fill + eff <= W:
                start = fill
                fill += eff
            else:
                bin_id += 1
                start = 0
                fill = eff
            bin_ids.append(bin_id)
            starts.append(start)
            ends.append(start + eff - 1)
            truncs.append(int(n) > W)
        out = pdf[["stream", "doc_id", "n_tokens"]].copy()
        out["bin_id"] = bin_ids
        out["tok_start"] = starts
        out["tok_end"] = ends
        out["truncated"] = truncs
        return out[
            ["stream", "bin_id", "doc_id", "n_tokens",
             "tok_start", "tok_end", "truncated"]
        ]

    return base.groupBy("stream").applyInPandas(
        fold,
        schema=(
            "stream string, bin_id bigint, doc_id bigint, "
            "n_tokens bigint, tok_start bigint, tok_end bigint, "
            "truncated boolean"
        ),
    )


#: Program-keyword alternation for code detection — language-agnostic
#: common keywords; word-bounded, RE2-portable (no lookaround).
CODE_KEYWORD_RE = (
    r"\b(def|return|import|class|void|int|function|var|const|let|"
    r"public|static|struct|elif|lambda|print|printf|include|fn)\b"
)


def code_detect(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Code-vs-prose detection (r7) — the corpus-router gate every
    mixed web/code crawl runs (The Stack / StarCoder-style corpus
    splits route code to a different pipeline than prose: different
    dedup granularity, different quality rules, different tokenizer).
    Heuristic surface signals, ALL pure codegen expressions (zero
    shuffle, scan-speed at 100 TB):

    - ``keyword_hits``: word-bounded program-keyword matches
    - ``symbol_ratio``: brackets/operators per character
    - ``code_line_frac``: fraction of non-empty lines that end in
      ``;``/``{``/``}`` or start indented 4+ spaces / a tab
    - ``is_code``: >= 2 of the 3 signals over their thresholds — an
      integer vote, no float weighting, so the decision is
      bit-identical in any engine

    Thresholds follow the published heuristics' spirit (symbol ratio
    and line shape are the classic signals); they are knobs, not
    learned weights. Output keeps every input row."""
    text = F.col(text_col)
    n_chars = F.length(text).cast("bigint")
    n_chars_nz = F.when(n_chars == 0, F.lit(None)).otherwise(n_chars)
    kw = F.size(F.regexp_extract_all(F.lower(text), F.lit(CODE_KEYWORD_RE), 0)).cast(
        "bigint"
    )
    sym = F.size(
        F.regexp_extract_all(text, F.lit(r"[{}()\[\];=<>+*/|&^%#]"), 0)
    ).cast("bigint")
    sym_ratio = F.round(sym.cast("double") / n_chars_nz, 6)
    lines = F.filter(F.split(text, "\n"), lambda x: F.length(F.trim(x)) > 0)
    code_lines = F.filter(
        lines,
        lambda x: x.rlike(r"[;{}]\s*$") | x.rlike(r"^(    |\t)"),
    )
    n_lines = F.size(lines).cast("bigint")
    n_lines_nz = F.when(n_lines == 0, F.lit(None)).otherwise(n_lines)
    code_line_frac = F.round(F.size(code_lines).cast("double") / n_lines_nz, 6)
    votes = (
        F.when(kw >= 2, 1).otherwise(0)
        + F.when(sym_ratio >= 0.03, 1).otherwise(0)
        + F.when(code_line_frac >= 0.3, 1).otherwise(0)
    )
    return df.select(
        F.col(id_col).alias("doc_id"),
        kw.alias("keyword_hits"),
        sym_ratio.alias("symbol_ratio"),
        n_lines.alias("n_lines"),
        code_line_frac.alias("code_line_frac"),
        (votes >= 2).alias("is_code"),
    )


def fim_transform(
    df: DataFrame,
    rate_bp: int = 5000,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Fill-in-the-middle transformation (r7; Bavarian et al. 2022,
    arXiv:2207.14255) — the code-training data prep that moves a random
    middle span to the end in PSM order
    (``<PRE>prefix<SUF>suffix<MID>middle``) so an autoregressive model
    learns infilling. Deterministic engine-portable randomness
    throughout (the c4/c11 seeded-md5 contract): the apply gate is an
    exact basis-point Bernoulli draw on md5(doc_id), and the two cut
    points are md5-derived offsets in [0, len] — same doc, same cuts,
    any engine, any partitioning. Pure codegen string arithmetic, zero
    shuffle. Output keeps every row: (doc_id, fim_applied, cut_lo,
    cut_hi, fim_text) with fim_text = the original text when the draw
    says no."""
    if not 0 <= rate_bp <= 10000:
        raise ValueError(f"rate_bp must be in [0, 10000], got {rate_bp}")

    def h(salt: str) -> Column:
        return F.conv(
            F.substring(
                F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt))), 1, 8
            ),
            16,
            10,
        ).cast("bigint")

    n = F.length(F.col(text_col))
    p1 = h(":fim1") % (n + 1)
    p2 = h(":fim2") % (n + 1)
    lo = F.least(p1, p2)
    hi = F.greatest(p1, p2)
    applied = (h(":fimgate") % 10000) < F.lit(rate_bp)
    fim = F.concat(
        F.lit("<PRE>"),
        F.expr(f"substring({text_col}, 1, cast(_lo as int))"),
        F.lit("<SUF>"),
        F.expr(f"substring({text_col}, cast(_hi as int) + 1)"),
        F.lit("<MID>"),
        F.expr(
            f"substring({text_col}, cast(_lo as int) + 1, cast(_hi - _lo as int))"
        ),
    )
    return (
        df.withColumn("_lo", lo)
        .withColumn("_hi", hi)
        .select(
            F.col(id_col).alias("doc_id"),
            applied.alias("fim_applied"),
            F.when(applied, F.col("_lo")).cast("bigint").alias("cut_lo"),
            F.when(applied, F.col("_hi")).cast("bigint").alias("cut_hi"),
            F.when(applied, fim).otherwise(F.col(text_col)).alias("fim_text"),
        )
    )


def _cm_bucket(row: int, tok_col: Column, width: int) -> Column:
    """Count-min bucket hash (portable md5 idiom, shared by sketch
    build and probe): int(md5(f"{row}:{tok}")[:8], 16) % width."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{row}:"), tok_col)), 1, 8),
        16,
        10,
    ).cast("bigint") % width


def count_min_cells(
    toks: DataFrame, depth: int, width: int, tok_col: str = "tok"
) -> DataFrame:
    """Build the count-min cell relation (row, col, cell_n) from a
    token stream — the MERGEABLE surface: sketches of shards or
    stream micro-batches combine by unioning cell relations and
    summing cell_n per (row, col) (pinned by test). One explode x
    depth + one map-side combinable groupBy; output is depth x width
    rows regardless of corpus size."""
    return (
        toks.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(r).alias("row"),
                            _cm_bucket(r, F.col(tok_col), width).alias("col"),
                        )
                        for r in range(depth)
                    ]
                )
            ).alias("rc")
        )
        .select("rc.row", "rc.col")
        .groupBy("row", "col")
        .agg(F.count(F.lit(1)).alias("cell_n"))
    )


def count_min_heavy_hitters(
    df: DataFrame,
    k: int = 50,
    depth: int = 4,
    width: int = 256,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Count-min sketch frequency estimation for the corpus token
    stream (r8; Cormode & Muthukrishnan 2005) — the third member of
    the engine's sketch family (a7's HLL cardinality, c12's Bloom
    membership; this one answers FREQUENCY): ``depth`` x ``width``
    int64 counters, token t incrementing cell
    (row, md5(row:t) % width) per occurrence, estimate = min over
    rows. The sketch is a fixed-size MERGEABLE aggregate — shards and
    stream micro-batches sum cell-wise, which is why a 100 TB ingest
    keeps one per shard instead of a vocabulary-sized count table;
    the estimate NEVER undercounts (min of sums that each include
    every true occurrence), overcounts only by collisions bounded by
    e*N/width with probability 1 - e^-depth.

    Determinism contract: the bucket hash is the repo's portable
    md5 idiom (``int(md5(f"{row}:{t}")[:8], 16) % width``) and
    counters are exact int64 sums — the sketch, every estimate, and
    the output are bit-identical in any engine at any partitioning.

    Relational shape: ONE token explode -> ONE map-side combinable
    groupBy on (row, bucket) — the sketch materializes as
    depth x width rows, NOT a driver structure; the exact top-``k``
    vocabulary (one combinable token groupBy + TakeOrdered) probes it
    with a broadcast-able join. Output: (tok, exact_n, est_n) for the
    true top-k by (count DESC, tok), with est_n >= exact_n always.
    """
    if depth < 1 or width < 2 or k < 1:
        raise ValueError(
            f"need depth >= 1, width >= 2, k >= 1; got {depth}, {width}, {k}"
        )
    from cellphe_data_pipeline_spark.checkpoint import cut_lineage

    # toks feeds two consumers (the sketch build and the exact top-k);
    # pin it so the scan + regexp split + explode run once (the repo's
    # multi-consumer hub-table rule)
    toks = cut_lineage(
        _doc_tokens(df, text_col, id_col), eager=False, name="cm_toks"
    )
    cells = count_min_cells(toks, depth, width)
    top = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .orderBy(F.col("exact_n").desc(), "tok")
        .limit(k)
    )
    probes = top.select(
        "tok",
        "exact_n",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("row"),
                        _cm_bucket(r, F.col("tok"), width).alias("col"),
                    )
                    for r in range(depth)
                ]
            )
        ).alias("rc"),
    ).select("tok", "exact_n", "rc.row", "rc.col")
    return (
        probes.join(cells, ["row", "col"])
        .groupBy("tok", "exact_n")
        .agg(F.min("cell_n").alias("est_n"))
        .select("tok", "exact_n", "est_n")
    )


def span_corruption(
    df: DataFrame,
    block_tokens: int = 8,
    rate_pct: int = 40,
    max_span: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: str = "t5-v1",
) -> DataFrame:
    """T5/UL2-style SPAN CORRUPTION (r8; Raffel et al. 2020 §3.1.4 —
    the denoising objective's data prep): mask contiguous token spans
    and emit the (input, target) pair an encoder-decoder or prefix-LM
    trains on — input = text with each span replaced by a numbered
    sentinel ``<Xi>``, target = each sentinel followed by the tokens
    it hides, closed by a final sentinel.

    DOCUMENTED VARIANT (relational-friendly determinism): instead of
    the paper's sequential random span sampling (inherently
    order-serial with overlap rejection), positions are partitioned
    into fixed ``block_tokens``-sized blocks and each block
    independently draws (gate, offset, length) from seeded md5 — so
    spans never overlap BY CONSTRUCTION, every draw is reproducible
    per (doc, block) in any engine at any partitioning (the c4/c11
    seeded-hash contract), and the corruption rate is
    rate_pct/100 x E[len]/block_tokens tokens. Same output SHAPE as
    the paper's sampler, with two documented divergences from the
    canonical sampler's distribution: spans never cross a block
    boundary, and a span ending at a boundary with the next block's
    span starting at offset 0 emits TWO sentinels for contiguous
    masked tokens (``<Xi> <Xi+1>`` with nothing between) where T5's
    serial sampler would merge them into one — consumers expecting
    strictly alternating sentinel/text should be tolerant of
    adjacent sentinels (probability ~(rate/100)²·1/(B·(B−M)) per
    boundary).

    Scale shape: one token explode, one (doc, block) groupBy, one
    doc-keyed window for sentinel numbering, one doc groupBy for
    assembly — the window and final aggregate share the doc hash
    partitioning, so two shuffles total over the token stream.
    Output: (doc_id, n_spans, n_masked_tokens, input_text,
    target_text); docs with no tokens are absent.
    """
    if block_tokens < 2 or not 0 <= rate_pct <= 100 or max_span < 1:
        raise ValueError(
            f"need block_tokens >= 2, rate_pct in [0, 100], max_span >= 1; "
            f"got {block_tokens}, {rate_pct}, {max_span}"
        )
    B, M = block_tokens, max_span

    def h(salt: str) -> Column:
        return F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("doc_id").cast("string"),
                        F.lit(":"),
                        F.col("blk").cast("string"),
                        F.lit(f":{seed}:{salt}"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")

    toks = (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.posexplode(
                F.filter(_doc_token_array(text_col), lambda x: x != "")
            ).alias("pos", "tok"),
        )
        .withColumn("blk", F.expr(f"pos div {B}"))
        .withColumn("inb", F.col("pos") % B)
    )
    # group FIRST, then draw: the (gate, offset, length) draws depend
    # only on (doc_id, blk), so computing them on the grouped relation
    # costs 3 md5 per BLOCK instead of 3 per token (r8 review — a
    # block_tokens-fold hash-cost cut at corpus scale), with the mask
    # derived per element inside one transform over the sorted array.
    gate = h("g") % 100 < F.lit(rate_pct)
    off = h("o") % B
    lim = off + 1 + h("l") % M
    s = F.col("s")
    msk = F.filter(s, lambda e: e.masked)
    first_masked = F.get(msk, 0).pos
    blocks = (
        toks.groupBy("doc_id", "blk")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("pos", "inb", "tok"))
            ).alias("raw")
        )
        .select(
            "doc_id",
            "blk",
            F.transform(
                F.col("raw"),
                lambda e: F.struct(
                    e["pos"].alias("pos"),
                    e["tok"].alias("tok"),
                    (gate & (e["inb"] >= off) & (e["inb"] < lim)).alias(
                        "masked"
                    ),
                ),
            ).alias("s"),
        )
        .select(
            "doc_id",
            "blk",
            (F.size(msk) > 0).alias("has"),
            F.size(msk).cast("bigint").alias("n_masked"),
            F.transform(
                F.filter(s, lambda e: ~e.masked & (e.pos < F.coalesce(first_masked, F.lit(-1)))),
                lambda e: e.tok,
            ).alias("pre"),
            F.transform(
                F.filter(s, lambda e: ~e.masked & (e.pos > F.coalesce(first_masked, F.lit(-1)))),
                lambda e: e.tok,
            ).alias("suf"),
            F.transform(s, lambda e: e.tok).alias("all_toks"),
            F.transform(msk, lambda e: e.tok).alias("msk_toks"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy("blk")
    has_i = F.col("has").cast("int")
    sent = F.concat(F.lit("<X"), (F.sum(has_i).over(w) - has_i).cast("string"), F.lit(">"))
    parts = blocks.select(
        "doc_id",
        "blk",
        "has",
        "n_masked",
        F.when(
            F.col("has"),
            F.array_join(
                F.concat(F.col("pre"), F.array(sent), F.col("suf")), " "
            ),
        )
        .otherwise(F.array_join(F.col("all_toks"), " "))
        .alias("in_str"),
        F.when(
            F.col("has"),
            F.array_join(F.concat(F.array(sent), F.col("msk_toks")), " "),
        ).alias("tgt_str"),
    )
    p = F.col("p")
    tgt_parts = F.transform(
        F.filter(p, lambda e: e.has), lambda e: e.tgt_str
    )
    n_spans = F.size(tgt_parts).cast("bigint")
    final_sent = F.concat(F.lit("<X"), n_spans.cast("string"), F.lit(">"))
    return (
        parts.groupBy("doc_id")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct("blk", "has", "n_masked", "in_str", "tgt_str")
                )
            ).alias("p")
        )
        .select(
            "doc_id",
            n_spans.alias("n_spans"),
            F.aggregate(
                p, F.lit(0).cast("bigint"), lambda acc, e: acc + e.n_masked
            ).alias("n_masked_tokens"),
            F.array_join(
                F.transform(p, lambda e: e.in_str), " "
            ).alias("input_text"),
            F.when(
                n_spans > 0,
                F.concat(F.array_join(tgt_parts, " "), F.lit(" "), final_sent),
            )
            .otherwise(final_sent)
            .alias("target_text"),
        )
    )


def pmi_phrases(
    df: DataFrame,
    min_count: int = 5,
    delta: int = 3,
    k: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Phrase detection by corpus PMI (r7) — the word2vec phrase-merge
    score (Mikolov et al. 2013, §4: score(a,b) =
    (count(ab) - delta) * N / (count(a) * count(b))): adjacent word
    pairs that co-occur far above chance become single tokens in the
    next tokenizer pass (the BPE-adjacent vocabulary-building step
    over WORDS instead of bytes). ALL-INTEGER scoring: the score is
    emitted in parts-per-million via exact integer arithmetic
    ((c_ab - delta) * N * 1e6 div (c_a * c_b)) so ordering and values
    are bit-identical in any engine — no float PMI logs. The numerator
    is computed in decimal(38,0) (mirrored by HUGEINT in the DuckDB
    oracle): in bigint it silently wraps once c_ab * N > 9.2e12 —
    reached at ~1e8-token corpora, far below this operator's target
    scale. The final score itself fits bigint (score ≤
    N * 1e6 / min_count, i.e. < 9.2e18 for any corpus under ~46
    trillion tokens at the default min_count=5).

    Scale shape: one combinable groupBy for bigram counts, one for
    unigram counts (both map-side combined, vocabulary-sized outputs),
    two hash joins of the bigram table against the unigram table, one
    TakeOrdered top-k. The corpus token stream is scanned once.
    Output: (w1, w2, n_pair, n_w1, n_w2, score_ppm) — top k by
    (score_ppm DESC, w1, w2).

    Requires ``min_count > delta``: that keeps every numerator
    positive, where Spark's ``div`` (truncate toward zero) and
    floor-division engines (DuckDB ``//``) agree; a negative score
    would divide differently per engine."""
    if min_count <= delta:
        raise ValueError(
            f"pmi_phrases requires min_count > delta (integer-division"
            f" portability), got min_count={min_count} delta={delta}"
        )
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        _doc_token_array(text_col).alias("t"),
    ).select(
        "doc_id", F.filter(F.col("t"), lambda x: x != "").alias("t")
    )
    uni = (
        toks.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    bi = (
        toks.filter(F.size("t") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t) - 1), i -> "
                    "struct(element_at(t, i) AS w1, "
                    "element_at(t, cast(i + 1 AS int)) AS w2))"
                )
            ).alias("p")
        )
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .filter(F.col("n_pair") >= min_count)
    )
    # corpus size as a LAZY one-row broadcast (the repo's one-row
    # aggregate crossJoin idiom) — no separate driver action
    tot = uni.groupBy().agg(F.sum("n").alias("n_total"))
    scored = (
        bi.join(uni.select(F.col("w").alias("w1"), F.col("n").alias("n_w1")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("n").alias("n_w2")), "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            "n_pair",
            "n_w1",
            "n_w2",
            F.expr(
                f"(cast(n_pair as decimal(38,0)) - {delta})"
                " * n_total * 1000000"
                " div (cast(n_w1 as decimal(38,0)) * n_w2)"
            ).alias("score_ppm"),
        )
    )
    return scored.orderBy(
        F.col("score_ppm").desc(), "w1", "w2"
    ).limit(k)


def token_coverage_curve(
    df: DataFrame,
    vocab_sizes: tuple[int, ...] = (100, 500, 1000, 5000),
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Vocabulary coverage curve (r9) — the tokenizer-design profile:
    for each candidate vocab size k, what fraction of all corpus token
    OCCURRENCES the top-k types cover (the curve that picks BPE merge
    counts and OOV budgets; Zipf's law makes it concave, and the knee
    is the economical vocab size).

    Scale shape: ONE map-combinable groupBy(token) (|vocab| rows out),
    a distributed TakeOrdered for the max threshold (constant-size
    result — NEVER a global rank window, whose single-partition sort
    is the classic scale-killer this formulation exists to avoid),
    then the per-threshold sums reduce the max(k)-row slice with a
    one-row broadcast total. The rank window inside the slice IS
    unpartitioned — legitimate only because the slice is
    parameter-bounded (max(vocab_sizes) rows), never data-sized. Ties at the k-boundary break (count desc,
    token) — deterministic across engines.

    Integer exactness (the t21 discipline): coverage is emitted as
    ppm via DECIMAL(38,0)*1000000 DIV total — exact at any corpus
    size an int64 row count can describe.

    Output: (vocab_size, covered_tokens, total_tokens, coverage_ppm),
    one row per requested size.
    """
    counts = (
        _doc_tokens(df, text_col, id_col)
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    total = counts.agg(
        F.sum("cnt").alias("total_tokens")
    )
    top = (
        counts.orderBy(F.col("cnt").desc(), F.col("tok"))
        .limit(max(vocab_sizes))
        .withColumn(
            "rank",
            F.row_number().over(
                Window.orderBy(F.col("cnt").desc(), F.col("tok"))
            ),
        )
    )
    sums = top.agg(
        *[
            F.sum(F.when(F.col("rank") <= k, F.col("cnt")).otherwise(F.lit(0)))
            .alias(f"_c{k}")
            for k in vocab_sizes
        ]
    )
    wide = sums.crossJoin(F.broadcast(total))
    # one STACK over the single wide row (r9 review: a per-k union of
    # selects embedded the whole count/TakeOrdered pipeline once per
    # threshold — 4x the corpus aggregation unless ReuseExchange saved
    # it at runtime); the empty-corpus guard keeps the engine aligned
    # with the oracle's empty join (a global agg on empty input yields
    # one NULL row, the oracle yields none)
    stack_args = ", ".join(
        f"CAST({k} AS BIGINT), _c{k}" for k in vocab_sizes
    )
    return (
        wide.select(
            F.expr(
                f"stack({len(vocab_sizes)}, {stack_args})"
                " AS (vocab_size, covered_tokens)"
            ),
            "total_tokens",
        )
        .filter(F.col("total_tokens").isNotNull())
        .select(
            "vocab_size",
            "covered_tokens",
            "total_tokens",
            F.expr(
                "CAST(CAST(covered_tokens AS DECIMAL(38,0)) * 1000000"
                " DIV total_tokens AS BIGINT)"
            ).alias("coverage_ppm"),
        )
    )


def token_chunker_udtf():
    """Sliding-window token chunker as a Python UDTF (r11, t29) — the
    one table-function surface the engine had not exercised: a Python
    class whose ``eval`` yields ZERO OR MORE rows per input row,
    applied with LATERAL in SQL (the UDTF twin of explode, for row
    expansions whose logic is imperative). Window/stride follow the
    training-data convention (c13's packing consumes chunks shaped
    like these): chunks of ``window`` tokens every ``stride`` tokens,
    last chunk ragged, one chunk minimum for any non-empty document,
    NO rows for an empty one (the zero-row case explode cannot express
    without a guard). Chunking itself is expressible relationally (c2
    does chars with explode+sequence) — this registers the UDTF
    SURFACE against the same oracle family, the j16-vs-j9 discipline:
    same semantics, second physical strategy, hash-pinned. Scale note:
    UDTFs run Python per PARTITION with batched Arrow transfer when
    ``spark.sql.execution.pythonUDTF.arrow.enabled`` is on — still the
    slow path vs codegen explode; reach for a UDTF only when the
    expansion logic is genuinely imperative (stateful parsers,
    tokenizer libraries, per-row decoders)."""
    from pyspark.sql.functions import udtf

    @udtf(returnType=(
        "doc_id bigint, chunk_id int, n_tokens int, chunk_text string"
    ))
    class TokenChunker:
        WINDOW = 8
        STRIDE = 6

        def eval(self, doc_id, text):
            toks = (text or "").split()
            if not toks:
                return
            i, cid = 0, 0
            while True:
                chunk = toks[i : i + self.WINDOW]
                yield (doc_id, cid, len(chunk), " ".join(chunk))
                if i + self.WINDOW >= len(toks):
                    break
                i += self.STRIDE
                cid += 1

    return TokenChunker


def arrow_doc_stats(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-document byte/char/word stats via ``mapInArrow`` (r11, t31)
    — the last Python execution surface the engine had not exercised
    (scalar pandas_udf, grouped applyInPandas, cogroup, mapInPandas,
    grouped-agg, UDTF are all covered elsewhere): the callback
    receives pyarrow RecordBatches and computes with ``pyarrow.
    compute`` kernels — vectorized C++ end to end, ZERO
    pandas/numpy materialisation, no per-row Python. That is the
    niche: mapInPandas pays Arrow→pandas→Arrow conversion per batch
    (object boxing for strings — the expensive part); mapInArrow
    keeps the data in Arrow buffers, so a pure-columnar transform
    runs at kernel speed with only the Python call overhead per
    BATCH. Still the slow path vs JVM codegen (t1 computes similar
    stats natively) — reach for it when the logic needs an Arrow-only
    library (tokenizers' batched encode is the canonical case; this
    kernel is the plumbing proof with a hash-checkable payload).
    Semantics pinned against the oracle: Arrow's split_whitespace
    keeps EDGE empties (" x " → ['', 'x', '']) — trim first, then
    empty-string ⇒ 0 words; inner whitespace runs collapse like
    Python's str.split()."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def stats(batches):
        for b in batches:
            text = b.column(text_col)
            trimmed = pc.utf8_trim_whitespace(text)
            words = pc.list_value_length(pc.utf8_split_whitespace(trimmed))
            n_words = pc.if_else(
                pc.equal(trimmed, ""), pa.scalar(0, pa.int32()), words
            )
            yield pa.RecordBatch.from_arrays(
                [
                    b.column(id_col),
                    pc.utf8_length(text),
                    pc.binary_length(text),
                    n_words,
                ],
                names=[id_col, "n_chars", "n_bytes", "n_words"],
            )

    return df.select(id_col, text_col).mapInArrow(
        stats, schema=f"{id_col} bigint, n_chars int, n_bytes int, n_words int"
    )
