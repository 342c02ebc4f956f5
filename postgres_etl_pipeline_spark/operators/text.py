"""Text-analysis operators for large-scale training-data pipelines
(SURVEY §7 Phase 5; north-star extensions beyond the reference).

All hot-path logic is built-in ``pyspark.sql.functions`` (JVM-side,
whole-stage codegen) — no Python UDFs. Every op is a narrow map over the
documents table, so it scales linearly with input splits: no shuffle until
an explicit aggregation.

Cross-engine canon: tokenization = collapse whitespace → trim → split on a
single space. Identical semantics in Spark and DuckDB (regex classes like
``\\s`` agree between Java regex and DuckDB's RE2 for this usage).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import local_frame

# Tiny deterministic stopword lists for the language-ID heuristic.
# Heuristic quality is secondary; determinism and scale are the point.
STOPWORDS = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "it", "that", "for"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "los", "se", "por"),
    "fr": ("le", "la", "de", "et", "les", "des", "un", "une", "du", "est"),
    "de": ("der", "die", "und", "das", "von", "zu", "mit", "den", "ein", "ist"),
}

PUNCT_CLASS = r"[.,!?;:'\"()\-]"


def normalize_ws(col: str | Column) -> Column:
    """Collapse runs of whitespace to single spaces and trim."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(c, r"\s+", " "))


def tokens(col: str | Column) -> Column:
    """Whitespace tokenization (normalized first, so no empty tokens)."""
    return F.split(normalize_ws(col), " ")


def token_count(col: str | Column) -> Column:
    return F.size(tokens(col))


def chunk_documents(
    df: "DataFrame",
    chunk_tokens: int = 128,
    overlap: int = 32,
    text_col: str = "text",
) -> "DataFrame":
    """Split documents into overlapping fixed-token-budget chunks — the
    context-window prep step of a training pipeline (long docs → model-
    sized pieces; ``overlap`` tokens of continuity between neighbors).

    Chunk starts are ``0, stride, 2·stride, …`` (stride = chunk_tokens −
    overlap) for every start ≤ max(n_tokens − overlap − 1, 0), so the
    tail is always covered and a short doc yields exactly one chunk.

    Scale: pure scan-time ``sequence``+``explode`` — no shuffle, no UDF;
    output rows ≈ input tokens / stride regardless of document length,
    and each chunk row re-slices the SAME bound token array (single
    evaluation via the lambda idiom), never re-tokenizes.
    """
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    stride = chunk_tokens - overlap
    chunks = F.flatten(
        F.transform(
            F.array(tokens(text_col)),
            lambda t: F.transform(
                F.sequence(
                    F.lit(0),
                    F.greatest(F.size(t) - overlap - 1, F.lit(0)),
                    F.lit(stride),
                ),
                lambda s: F.struct(
                    (s / stride).cast("long").alias("chunk_idx"),
                    F.size(F.slice(t, s + 1, chunk_tokens)).alias("chunk_n_tokens"),
                    F.array_join(F.slice(t, s + 1, chunk_tokens), " ").alias(
                        "chunk_text"
                    ),
                ),
            ),
        )
    )
    return df.select("doc_id", F.explode(chunks).alias("c")).select(
        "doc_id", "c.chunk_idx", "c.chunk_n_tokens", "c.chunk_text"
    )


def fingerprint(col: str | Column) -> Column:
    """Document fingerprint: md5 of the lowercased, whitespace-normalized
    text. The canonical exact-dedup key (md5 agrees with DuckDB's)."""
    return F.md5(F.lower(normalize_ws(col)))


def stopword_hits(toks: Column, lang: str) -> Column:
    """Count of tokens that are stopwords of ``lang`` (array intersection
    size, duplicates counted — JVM-side ``filter`` + ``size``)."""
    words = STOPWORDS[lang]
    return F.size(
        F.filter(toks, lambda x: F.lower(x).isin(*words))
    )


def language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Language-ID via stopword-overlap scoring.

    Adds ``pred_lang``: the language with the most stopword hits; ties break
    in the fixed order en > es > fr > de; zero hits ⇒ 'und'. Deterministic
    and cheap (one pass, no shuffle); at 100 TB this runs as a scan-time map.
    """
    toks = tokens(text_col)
    hit_cols = {lang: stopword_hits(toks, lang) for lang in STOPWORDS}
    e, s, fr, de = hit_cols["en"], hit_cols["es"], hit_cols["fr"], hit_cols["de"]
    pred = (
        F.when((e >= s) & (e >= fr) & (e >= de) & (e > 0), F.lit("en"))
        .when((s >= fr) & (s >= de) & (s > 0), F.lit("es"))
        .when((fr >= de) & (fr > 0), F.lit("fr"))
        .when(de > 0, F.lit("de"))
        .otherwise(F.lit("und"))
    )
    return df.withColumn("pred_lang", pred)


def quality_features(
    df: DataFrame, text_col: str = "text", keep: tuple[str, ...] = ()
) -> DataFrame:
    """Quality-scoring features: token count, mean token length, punctuation
    ratio, digit ratio, and a composite [0,1] quality score.

    All row-level double arithmetic (deterministic regardless of
    partitioning). The score formula is a simple interpretable heuristic:
    long-enough docs with low punctuation/digit noise score high.
    ``keep`` carries extra input columns (e.g. ``source``) through the
    projection so downstream grouping doesn't need a join back.
    """
    txt = normalize_ws(text_col)
    toks = tokens(text_col)
    n_chars = F.length(txt).cast("double")
    n_tokens = F.size(toks).cast("double")
    punct = (
        n_chars - F.length(F.regexp_replace(txt, PUNCT_CLASS, "")).cast("double")
    )
    digits = n_chars - F.length(F.regexp_replace(txt, r"[0-9]", "")).cast("double")
    mean_tok_len = (n_chars - (n_tokens - 1)) / n_tokens  # chars minus spaces
    punct_ratio = punct / n_chars
    digit_ratio = digits / n_chars
    length_score = F.least(n_tokens / F.lit(20.0), F.lit(1.0))
    score = length_score * (1 - punct_ratio) * (1 - digit_ratio)
    return df.select(
        "doc_id",
        *keep,
        n_tokens.cast("long").alias("n_tokens"),
        F.round(mean_tok_len, 4).alias("mean_token_len"),
        F.round(punct_ratio, 4).alias("punct_ratio"),
        F.round(digit_ratio, 4).alias("digit_ratio"),
        F.round(score, 4).alias("quality"),
    )


def per_source_quota(
    df: DataFrame,
    quota: int,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Domain balancing: keep at most ``quota`` documents per source,
    ranked by composite quality (ties broken by doc_id — total order).

    The corpus-assembly step between filtering and mixing: rate-based
    sampling (:data:`source_mixture_sample`) cannot stop one enormous
    domain from dominating the corpus NOR guarantee small domains
    survive; a hard quality-ranked cap does both (the C4/RefinedWeb-style
    per-domain limit).

    Scale: quality is computed scan-side (row-local expressions, no
    pre-pass), then ONE shuffle keyed by source for the ranking window.
    Spark 3.5+ plans the ``row_number() <= quota`` filter as
    WindowGroupLimit: each map task forwards at most ``quota`` rows per
    source, so the exchange carries O(sources × quota × tasks), not the
    corpus — and a hot domain costs what every domain costs.
    """
    from pyspark.sql import Window

    feat = quality_features(df, text_col, keep=(source_col,))
    w = Window.partitionBy(source_col).orderBy(
        F.col("quality").desc(), F.col("doc_id")
    )
    return (
        feat.select("doc_id", source_col, "quality")
        .withColumn("src_rank", F.row_number().over(w))
        .filter(F.col("src_rank") <= int(quota))
    )


def unigram_logprob_scores(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-doc mean token log-probability under the corpus's own unigram
    MLE distribution — the CCNet/Dolma-style LM-quality signal: docs full
    of corpus-typical tokens score high (closer to 0), gibberish and
    out-of-register docs score low (more negative). No smoothing is
    needed because the model is estimated on the scored corpus itself, so
    every token has freq ≥ 1.

    Output: (doc_id, n_tokens, mean_logprob) — mean over token INSTANCES
    of ln(freq(token) / total_tokens), rounded to 4 dp (engine-portable).

    Scale (same skew-safe shape as :func:`tf_idf_top_terms`): one
    (doc, token) explode aggregated to per-doc term counts (map-side
    combined), global term frequencies reduced from that compact relation
    and BROADCAST back — the instance-level relation is never shuffled by
    token, so 'the'/'of' never pile onto one reducer. If the vocabulary
    outgrows broadcast, drop the hint and AQE plans a skew-split join.
    """
    tok = df.select("doc_id", F.explode(tokens(text_col)).alias("token"))
    tf = (
        tok.groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=False)
    )
    gfreq = tf.groupBy("token").agg(F.sum("tf").alias("gf"))
    total = tf.agg(F.sum("tf").alias("total"))
    return (
        tf.join(F.broadcast(gfreq), "token")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("long").alias("n_tokens"),
            F.round(
                F.sum(
                    F.col("tf")
                    * F.log(F.col("gf").cast("double") / F.col("total"))
                )
                / F.sum("tf"),
                4,
            ).alias("mean_logprob"),
        )
    )


def tf_idf_top_terms(df: DataFrame, k: int = 3, text_col: str = "text") -> DataFrame:
    """Top-k TF-IDF terms per document.

    tf = in-doc term count; idf = ln(N / df) with df = docs containing the
    term; ties broken by token so the ordering is total.

    Shape chosen for vocabulary skew: document frequency is aggregated
    (map-side combined — stopword rows collapse per task before the
    shuffle) and BROADCAST back, so the big (doc, token) relation is never
    shuffled by token. The tempting alternative — `count() over (partition
    by token)` — is one shuffle cheaper on paper but ships every tf row to
    a token-keyed reducer, where 'the'/'of' pile onto single partitions at
    corpus scale. tf is checkpointed so the explode+count runs once, not
    once per consumer (docfreq + final scoring). If the corpus vocabulary
    outgrows broadcast (billion-token web vocab), drop the hint: AQE plans
    a skew-split shuffle join and the rest of the shape is unchanged.
    """
    tok = df.select("doc_id", F.explode(tokens(text_col)).alias("token"))
    tf = (
        tok.groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=False)
    )
    docfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.select(F.countDistinct("doc_id").alias("n"))
    scored = (
        tf.join(F.broadcast(docfreq), "token")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "token",
            "tf",
            F.round(
                F.col("tf") * F.log(F.col("n").cast("double") / F.col("df")), 4
            ).alias("tfidf"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("token")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("doc_id", "token", "tf", "tfidf", "rank")
    )


def ngram_udtf():
    """Python UDTF (Spark 3.5+) emitting (ngram, n) rows per document —
    the lateral-join escape hatch of §2.9, for when per-row logic must
    produce a variable number of OUTPUT ROWS and can't be an explode over
    a built-in array expression.

    Registered on demand (``spark.udtf.register("ngrams", ngram_udtf())``)
    and used as ``SELECT ... FROM docs, LATERAL ngrams(text, 2)``. The
    row-materializing Python loop makes this the slow path — the engine's
    own n-gram ops stay expression-level (see dedup.shingles); this exists
    to keep the UDTF surface tested.
    """
    from pyspark.sql.functions import udtf

    @udtf(returnType="ngram: string, n: int")
    class NGrams:
        def eval(self, text: str, n: int = 2):
            if not text:
                return
            toks = text.split()
            for i in range(max(0, len(toks) - n + 1)):
                yield (" ".join(toks[i : i + n]), n)

    return NGrams

def repetition_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style per-document repetition metrics.

    Per doc: total/distinct token counts, the most-frequent-token share,
    and the duplicate-bigram share — the standard web-corpus repetition
    filters (a doc that is one phrase looped scores near 1.0 on both).

    Shape: explode → (doc, token) hash-agg → per-doc rollup, and the same
    keyed on bigrams, joined on doc_id. Explode + hash aggregate is chosen
    over per-row array folds deliberately: counting duplicates inside an
    array with higher-order functions is interpreted and O(n²) per row,
    while the exploded aggregation is whole-stage-codegen'd, map-side
    combined, and keyed by doc_id — it scales with splits and never
    concentrates a hot key (doc_id is unique per row group).

    Fractions are emitted as ONE double division of exact integer parts
    (partition-invariant; oracle-comparable bit-for-bit at %.6g).
    """
    toks = tokens(text_col)
    base = df.select("doc_id", toks.alias("toks"))
    tok = base.select("doc_id", F.explode("toks").alias("tok"))
    tok_stats = (
        tok.groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.count(F.lit(1)).cast("long").alias("n_distinct_tokens"),
            F.max("c").cast("long").alias("top_c"),
        )
    )
    # bigrams from the bound token array (see _raw_shingles note on HOF
    # re-evaluation: the slice/element_at lambda binds t once)
    bg = base.select(
        "doc_id",
        F.explode(
            F.flatten(
                F.transform(
                    F.array("toks"),
                    lambda t: F.transform(
                        F.slice(t, 1, F.greatest(F.size(t) - 1, F.lit(0))),
                        lambda x, i: F.concat_ws(" ", x, F.element_at(t, i + 2)),
                    ),
                )
            )
        ).alias("bg"),
    )
    bg_stats = (
        bg.groupBy("doc_id", "bg")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_bigrams"),
            F.count(F.lit(1)).cast("long").alias("n_distinct_bigrams"),
        )
    )
    out = tok_stats.join(bg_stats, "doc_id", "left")
    return out.select(
        "doc_id",
        "n_tokens",
        "n_distinct_tokens",
        (F.col("top_c").cast("double") / F.col("n_tokens")).alias("top_token_fraction"),
        F.when(
            F.col("n_bigrams") > 0,
            (F.col("n_bigrams") - F.col("n_distinct_bigrams")).cast("double")
            / F.col("n_bigrams"),
        ).alias("dup_bigram_fraction"),
    )


def heavy_hitter_tokens(df: DataFrame, k: int = 20, text_col: str = "text") -> DataFrame:
    """Exact corpus-wide heavy hitters: top-k tokens by frequency.

    Explode → map-side-combined hash aggregate → global top-k via
    TakeOrderedAndProject (no full sort: each task keeps its local top-k,
    the driver merges k·tasks rows). (count DESC, token ASC) is a total
    order, so the cutoff is deterministic.

    At 100 TB the exact pass stays one shuffle of the *aggregated*
    (token, count) pairs; the approximate sibling (`DataFrame.freqItems`,
    Karp/Misra-Gries) finds the same hitters in one pass with NO shuffle —
    its superset guarantee vs this exact op is pinned in
    tests/test_text_ops.py.
    """
    tok = df.select(F.explode(tokens(text_col)).alias("token"))
    return (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("token"))
        .limit(k)
    )


NUM_PATTERN = r"-?\d+(?:\.\d+)?"


def redact_numbers(col: str | Column) -> Column:
    """Replace every numeric literal with the placeholder ``<NUM>`` —
    the PII-scrub primitive (ids, phone-ish digit runs, amounts).
    Built-in regexp_replace: JVM-side, codegen, no UDF."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(c, NUM_PATTERN, "<NUM>")


def redaction_stats(df: DataFrame, col: str, group_by: str) -> DataFrame:
    """Per-group redaction audit for a PII-style scrub of ``col``:
    how many numeric literals were redacted, how many rows had any,
    and how many distinct post-redaction templates remain.

    The template cardinality is the useful signal at corpus scale: a
    column whose million raw values collapse to a handful of ``<NUM>``
    templates is machine-generated, not natural text. One scan, one
    hash-agg shuffle keyed by the (low-cardinality) group column —
    count-distinct expands to a two-phase aggregate, never a collect.
    """
    red = redact_numbers(col)
    n_matches = F.regexp_count(F.col(col), F.lit(NUM_PATTERN))
    return (
        df.select(F.col(group_by), n_matches.alias("m"), red.alias("template"))
        .groupBy(group_by)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("m").cast("long").alias("n_redacted"),
            F.sum(F.when(F.col("m") > 0, 1).otherwise(0)).cast("long").alias("rows_with_pii"),
            F.countDistinct("template").cast("long").alias("n_templates"),
        )
    )


def dsir_weights(
    df: DataFrame,
    is_target: Column,
    n_buckets: int = 1024,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """DSIR importance weights over hashed token buckets (Xie et al.,
    "Data Selection for Language Models via Importance Resampling",
    NeurIPS 2023): score every NON-target document by how much its hashed
    unigram profile looks drawn from the target-domain distribution
    rather than the raw-corpus distribution.

    Model: feature = md5-portable token hash mod ``n_buckets``; the
    target and raw corpora each induce a Laplace-smoothed categorical
    distribution over buckets, and a document's weight is its
    log-likelihood ratio

        w(d) = Σ_b count_d(b) · ln( p_target(b) / p_raw(b) )

    with p(b) = (count(b) + 1) / (total + n_buckets). The per-bucket
    log-ratio is rounded to 4 dp and carried as DECIMAL(18,4) BEFORE the
    per-document summation, so every weight is an exact decimal sum —
    partition-order-invariant and engine-portable (the same pre-round
    contract tfidf_cosine_topk / bm25_doc_topk pin for ln()).

    Scale shape (100 TB): the bucket space is FIXED (n_buckets), so both
    distributions and the joined log-ratio relation are bounded-size and
    broadcast back onto the per-doc bucket counts — the token stream is
    aggregated once by (doc, bucket) with map-side combine and never
    shuffled by token. Cost: one (doc, bucket) shuffle + one per-doc
    shuffle, both linear in corpus size; no global sort.

    Returns (id_col, weight_dec DECIMAL) for every non-target document.
    Empty/whitespace-only texts are still scored: ``tokens('')`` is the
    single empty-string token (split semantics), which hashes into a
    bucket like any other — both engines agree, and the oracle depends on
    it (filtering empty tokens here would silently diverge from the SQL
    twin). Callers layer selection policy (top-k resample, threshold
    gate) on top.

    NULL semantics: a document whose ``is_target`` predicate evaluates
    NULL (e.g. a NULL source column) joins NEITHER distribution and is
    never scored — ``when(NULL, …)`` falls to the otherwise-branch and
    ``filter(~NULL)`` drops the row, exactly matching SQL's CASE/WHERE
    treatment of NULL, so both engines agree by construction.
    """
    from .dedup import _token_hash60

    tok = df.select(
        F.col(id_col),
        is_target.alias("is_target"),
        F.explode(tokens(F.col(text_col))).alias("token"),
    )
    doc_bucket = (
        tok.select(
            id_col,
            "is_target",
            (_token_hash60(F.col("token")) % n_buckets).alias("bucket"),
        )
        .groupBy(id_col, "is_target", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    dist = doc_bucket.groupBy("bucket").agg(
        F.sum(F.when(F.col("is_target"), F.col("cnt")).otherwise(0)).alias("cnt_t"),
        F.sum(F.when(~F.col("is_target"), F.col("cnt")).otherwise(0)).alias("cnt_r"),
    )
    # Corpus totals as an unbounded window over dist (≤ n_buckets rows, so
    # the SinglePartition pass is trivial) rather than a separate scalar
    # aggregate: a second consumer of dist would re-derive the whole
    # tokenize→aggregate lineage (measured: one full extra Generate branch
    # in the physical plan).
    from pyspark.sql import Window as _W

    _all = _W.partitionBy()
    lam = (
        dist.select(
            "bucket",
            "cnt_t",
            "cnt_r",
            F.sum("cnt_t").over(_all).cast("double").alias("tot_t"),
            F.sum("cnt_r").over(_all).cast("double").alias("tot_r"),
        )
        .select(
            "bucket",
            F.round(
                F.log(
                    (F.col("cnt_t") + F.lit(1.0))
                    / (F.col("tot_t") + F.lit(float(n_buckets)))
                )
                - F.log(
                    (F.col("cnt_r") + F.lit(1.0))
                    / (F.col("tot_r") + F.lit(float(n_buckets)))
                ),
                4,
            )
            .cast("decimal(18,4)")
            .alias("lam"),
        )
    )
    return (
        doc_bucket.filter(~F.col("is_target"))
        .join(F.broadcast(lam), "bucket")
        .groupBy(id_col)
        .agg(F.sum(F.col("cnt") * F.col("lam")).alias("weight_dec"))
    )


def bigram_logprob_scores(
    df: DataFrame, lam: float = 0.75, text_col: str = "text"
) -> DataFrame:
    """Per-doc mean BIGRAM log-probability under an interpolated corpus
    LM — the next-order CCNet/Wenzek-style quality signal above
    :func:`unigram_logprob_scores`: ``p(wᵢ|wᵢ₋₁) = λ·P_mle(wᵢ|wᵢ₋₁) +
    (1−λ)·P_mle(wᵢ)``. The bigram term scores local word-order typicality
    (scrambled or template-stitched text drops hard even when its token
    MIX is corpus-typical — exactly what the unigram score cannot see);
    the unigram interpolation term is the standard backoff mass. Trained
    on the scored corpus itself, every scored bigram has count ≥ 1, so
    the interpolation is a smoothing convention, not a zero-guard.

    Output: (doc_id, n_bigrams, mean_logprob) over token positions 2..n;
    docs with < 2 tokens have no bigrams and are absent (callers treat
    missing as unscoreable). 4-dp round = the engine-portable contract.

    Scale (the :func:`tf_idf_top_terms` skew discipline, one order up):
    bigram INSTANCES aggregate to per-doc (prev, cur) counts map-side;
    corpus bigram counts, prefix counts, unigram frequencies, and the
    scalar total all reduce from compact relations and BROADCAST back —
    the instance relation is never shuffled by token, so hot collocations
    never pile onto one reducer. If the bigram vocabulary outgrows
    broadcast, drop the hints and AQE plans skew-split joins.
    """
    l = tokens(text_col)
    n1 = F.greatest(F.size(l) - 1, F.lit(0))
    pairs = F.arrays_zip(
        F.slice(l, 1, n1).alias("prev"), F.slice(l, 2, n1).alias("cur")
    )
    bi = df.select("doc_id", F.explode(pairs).alias("p")).select(
        "doc_id", F.col("p.prev").alias("prev"), F.col("p.cur").alias("cur")
    )
    tf2 = (
        bi.groupBy("doc_id", "prev", "cur")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=False)
    )
    bg = tf2.groupBy("prev", "cur").agg(F.sum("tf").alias("bgc"))
    pc = tf2.groupBy("prev").agg(F.sum("tf").alias("pfc"))
    tok = df.select(F.explode(l).alias("cur"))
    uni = tok.groupBy("cur").agg(F.count(F.lit(1)).alias("gf"))
    total = tok.agg(F.count(F.lit(1)).alias("total"))
    p = (
        F.lit(float(lam)) * F.col("bgc").cast("double") / F.col("pfc")
        + F.lit(float(1 - lam)) * F.col("gf").cast("double") / F.col("total")
    )
    return (
        tf2.join(F.broadcast(bg), ["prev", "cur"])
        .join(F.broadcast(pc), "prev")
        .join(F.broadcast(uni), "cur")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("long").alias("n_bigrams"),
            F.round(F.sum(F.col("tf") * F.log(p)) / F.sum("tf"), 4).alias(
                "mean_logprob"
            ),
        )
    )


BPE_PRETOKEN_PATTERN = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]+"
"""The BPE-ish pre-tokenizer regex the token_counts_bpe catalog entry
canonized (letter runs / single digits / punctuation runs — the
pre-merge token stream a byte-pair tokenizer starts from); shared here
so packing can measure MODEL tokens with the same rule (verdict r12
item 6)."""


def bpe_token_count(col: str | "Column") -> "Column":
    """Per-row BPE-ish token count (one regexp_extract_all + size,
    JVM-side)."""
    return F.size(F.regexp_extract_all(col, F.lit(BPE_PRETOKEN_PATTERN), 0))


def pack_sequences(
    df: "DataFrame",
    seq_len: int = 512,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_parts: int | None = None,
    shuffle_seed: int | None = None,
    count_mode: str = "ws",
    n_tok_col: str | None = None,
    order_col: str | None = None,
) -> "DataFrame":
    """GPT-style concat-and-chunk SEQUENCE PACKING — the step between a
    cleaned corpus and a training run: documents are laid end-to-end in
    a deterministic global order (ascending ``id_col``) and the token
    stream is cut into fixed-``seq_len`` training sequences; a document
    crossing a boundary contributes one span per sequence it touches.
    Output: ``(seq_id, doc_id, doc_start_tok, seq_off, n_tok)`` — the
    span map a loader needs to assemble batch tensors (and the
    attention-mask boundaries, since doc edges inside a sequence are
    exactly the span edges). Every sequence except the last is exactly
    ``seq_len`` tokens; spans partition both the token stream and each
    document with no gaps or overlaps (property-pinned).

    Scale shape — the interesting part: a global running offset is
    normally ONE window over a total order, i.e. a single-partition
    sort (the classic driver-sized bottleneck that makes naive packing
    un-runnable at 100 TB). Here it is the textbook two-phase
    distributed prefix sum, expressed in DataFrame ops:

    1. ``repartitionByRange(id_col)`` — ascending partition index IS
       ascending id order (RangePartitioner's contract), pinned by an
       eager ``localCheckpoint`` so the partition ids the cumsum and
       the totals see are the same physical partitioning;
    2. one per-partition window cumsum (each partition sorts only its
       own slice — fully parallel);
    3. per-partition token totals collected as BOUNDED driver metadata
       (``n_parts`` rows), their exclusive prefix broadcast back as a
       map-literal lookup — O(n_parts) driver state, never O(rows).

    The span set is partitioning-INDEPENDENT (offsets derive from the
    total id order, whatever ``n_parts`` is), which is what lets the
    catalog entry hash-pin it against a single-window SQL oracle.
    Boundary arithmetic stays in exact integer ``div`` — no floating
    floor at 10^14-token offsets. ``id_col`` must be unique (ties would
    make the within-partition order, hence the packing, ambiguous).

    ``shuffle_seed`` (verdict r12 item 5): fixed corpus order is a
    known training-bias footgun — real GPT pipelines shuffle document
    order per epoch. A non-None seed lays documents out in the order of
    a DETERMINISTIC keyed hash, ``md5(seed || ':' || doc_id)`` (doc_id
    tiebreak for the negligible digest-collision case), instead of
    ascending id. The scale shape is IDENTICAL — the range partition
    and the per-partition cumsum just key on the hash — so the packing
    stays a two-phase prefix sum with no single-partition window, and a
    different seed per epoch is a different deterministic permutation.

    Token accounting (verdict r12 item 6): ``count_mode='ws'`` (default)
    measures whitespace tokens — the cross-engine canon the original
    oracle states; ``count_mode='bpe'`` measures MODEL tokens with the
    BPE-ish pre-tokenizer the token_counts_bpe entry canonized (one
    extra regexp pass over ``text_col``, still linear — the tokenize
    cost the docstring of token_counts_bpe prices). ``n_tok_col`` wins
    over both: pass a PRECOMPUTED per-doc token-count column (e.g. a
    real tokenizer's counts landed by an upstream Arrow pass) and
    packing never touches ``text_col`` at all.

    ``order_col`` (round 13): CURRICULUM ordering — lay documents out
    ascending by a caller-supplied key column (with doc_id tiebreak)
    instead of id order; e.g. a negated quality-classifier score packs
    highest-quality documents first. Mutually exclusive with
    ``shuffle_seed``; same two-phase prefix-sum shape either way."""
    from pyspark.sql import Window

    L = int(seq_len)
    if L <= 0:
        raise ValueError(f"seq_len must be positive, got {seq_len}")
    if count_mode not in ("ws", "bpe"):
        raise ValueError(
            f"count_mode must be 'ws' or 'bpe', got {count_mode!r}"
        )
    if n_tok_col is not None:
        n_tok = F.col(n_tok_col)
    elif count_mode == "bpe":
        n_tok = bpe_token_count(text_col)
    else:
        n_tok = token_count(text_col)
    if order_col is not None and shuffle_seed is not None:
        raise ValueError(
            "order_col and shuffle_seed are mutually exclusive orderings"
        )
    n = int(n_parts) if n_parts else df.sparkSession.sparkContext.defaultParallelism
    sel = [F.col(id_col).alias("doc_id"), n_tok.cast("long").alias("n_tok")]
    if order_col is not None:
        # CURRICULUM ordering: documents laid out ascending by a
        # caller-supplied key (quality/difficulty score, a date, ...)
        # with doc_id tiebreak. The scale shape is unchanged — the range
        # partition and per-partition cumsum just key on (order_col,
        # doc_id), so the two-phase prefix sum still has no
        # single-partition window. The key must be a pure function of
        # the row for the packing to stay deterministic.
        sel.append(F.col(order_col).alias("okey"))
    docs = df.select(*sel).filter(F.col("n_tok") > 0)
    if order_col is not None:
        order = ["okey", "doc_id"]
    elif shuffle_seed is None:
        order = ["doc_id"]
    else:
        docs = docs.withColumn(
            "okey",
            F.md5(
                F.concat_ws(
                    ":",
                    F.lit(str(int(shuffle_seed))),
                    F.col("doc_id").cast("string"),
                )
            ),
        )
        order = ["okey", "doc_id"]
    parted = (
        docs.repartitionByRange(n, *order)
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    w = Window.partitionBy("pid").orderBy(*order)
    local = parted.withColumn("local_end", F.sum("n_tok").over(w))
    totals = {
        int(r["pid"]): int(r["t"])
        for r in parted.groupBy("pid").agg(F.sum("n_tok").alias("t")).collect()
    }
    if not totals:
        # empty corpus: zero spans (an argless map literal is untyped —
        # and there is nothing to pack anyway)
        return local_frame(
            df.sparkSession,
            [],
            "seq_id long, doc_id long, doc_start_tok long, "
            "seq_off long, n_tok long",
        )
    offs, acc = {}, 0
    for p in sorted(totals):
        offs[p] = acc
        acc += totals[p]
    off_map = F.create_map(
        *[F.lit(int(v)) for p in sorted(offs) for v in (p, offs[p])]
    )
    base = local.select(
        "doc_id",
        "n_tok",
        (off_map[F.col("pid")] + F.col("local_end") - F.col("n_tok")).alias(
            "start_off"
        ),
    ).withColumn("end_off", F.col("start_off") + F.col("n_tok") - 1)
    spans = base.withColumn(
        "seq_id",
        F.explode(
            F.sequence(F.expr(f"start_off div {L}"), F.expr(f"end_off div {L}"))
        ),
    )
    span_start = F.greatest(F.col("start_off"), F.col("seq_id") * L)
    span_end = F.least(
        F.col("start_off") + F.col("n_tok"), (F.col("seq_id") + F.lit(1)) * L
    )
    return spans.select(
        F.col("seq_id").cast("long").alias("seq_id"),
        "doc_id",
        (span_start - F.col("start_off")).cast("long").alias("doc_start_tok"),
        (span_start - F.col("seq_id") * L).cast("long").alias("seq_off"),
        (span_end - span_start).cast("long").alias("n_tok"),
    )
