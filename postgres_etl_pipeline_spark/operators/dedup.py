"""Deduplication operators for training-data pipelines (SURVEY §7 Phase 5).

Four tiers, each a different cost/recall point at 100 TB:

1. exact           — md5 fingerprint group-by. One shuffle on the hash.
2. ngram Jaccard   — exact set similarity over 3-gram shingles via an
                     inverted-index self-join. Quadratic in the worst case;
                     fine when the shingle index prunes candidates well.
3. MinHash + LSH   — signatures + banding: candidates meet only if a band
                     collides. Near-linear; THE scale path for near-dedup.
4. SimHash         — 64-bit fingerprints; hamming-adjacent buckets.

Everything is built-in DataFrame ops (explode / groupBy / join) — hashing
uses md5 so results are engine-portable (Spark's ``hash()`` / ``xxhash64``
are not reproducible in other systems).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..session import local_frame
from .text import fingerprint, normalize_ws, tokens

# Fixed affine-permutation constants for MinHash (deterministic across runs
# and engines; same role as the seeded rng in the reference's datagen,
# mock_pos_api/app.py:15-17).
MINHASH_PRIME = 4294967311  # smallest prime > 2^32
# a_i < 2^31 so a*h < 2^63 with h < 2^32 — no int64 overflow under ANSI mode.
_A = [
    1122334455, 2046822519, 1166489917, 668265263, 374761393,
    994160413, 570797501, 1618033988, 1234567891, 823682425,
    1931833831, 1423945275, 1442695041, 1664525013, 715449907,
    1788075352,
]
_B = [
    1013904223, 1779033703, 3144134277, 1013904242, 2773480762,
    1359893119, 2600822924, 528734635, 1541459225, 1654467373,
    1111111111, 2222222223, 3333333335, 444444447, 555555559,
    666666671,
]


def exact_dedup_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup: md5-fingerprint group-by. Returns one row per distinct
    fingerprint with the keeper (min doc_id) and copy count.

    Scale: one shuffle keyed by a uniformly-distributed hash — no skew by
    construction. 100 TB note: group on the fingerprint only (never the full
    text) so shuffle rows stay ~48 bytes.
    """
    return (
        df.select("doc_id", fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def _raw_shingles(t: Column, n: int = 3) -> Column:
    """Word n-gram shingles from a BOUND token-array lambda variable ``t``
    (verdict r12 item 7: ``n`` parametrized — any n ≥ 1 shares the same
    slice-and-concat machinery the 3-gram catalog default uses).

    ``t`` must be a lambda variable (already-evaluated value), never a raw
    expression: it is referenced ``n + 1`` times here, and Catalyst's
    CollapseProject would otherwise inline — and re-evaluate — the whole
    tokenize expression at every reference (higher-order functions are
    interpreted, so no codegen subexpression elimination rescues it).
    """
    return F.transform(
        F.slice(t, 1, F.greatest(F.size(t) - (n - 1), F.lit(0))),
        lambda x, i: F.concat_ws(
            " ", x, *[F.element_at(t, i + j) for j in range(2, n + 1)]
        ),
    )


def _check_shingle_n(n: int) -> int:
    n = int(n)
    if n < 1:
        raise ValueError(f"shingle size n must be >= 1, got {n}")
    return n


def shingles(text_col: str = "text", n: int = 3) -> Column:
    """Word n-gram shingles as an array column (built-in transform over the
    token array — JVM-side, no UDF). ``n`` is any positive size (n=1 is
    the token stream itself); the catalog entries use the 3-gram default.

    The token array is bound once via the ``transform(array(toks), t → …)``
    idiom, so the regexp/split tokenization runs exactly once per row no
    matter how many times the shingle logic references it.
    """
    n = _check_shingle_n(n)
    toks = tokens(text_col)
    return F.flatten(F.transform(F.array(toks), lambda t: _raw_shingles(t, n)))


def doc_shingles(df: DataFrame, text_col: str = "text", n: int = 3) -> DataFrame:
    """doc_id → exploded DISTINCT shingle rows (the inverted-index input)."""
    return (
        df.select("doc_id", F.explode(F.array_distinct(shingles(text_col, n))).alias("shingle"))
    )


def shingle_arrays(df: DataFrame, text_col: str = "text", n: int = 3) -> DataFrame:
    """doc_id → DISTINCT shingle array (one row per doc, no explode)."""
    return df.select("doc_id", F.array_distinct(shingles(text_col, n)).alias("shs"))


def shingle_rows(df: DataFrame, text_col: str = "text") -> DataFrame:
    """doc_id → exploded (shingle, set_size) rows with the DISTINCT set size
    stamped on every row.

    set_size rides inside the exploded struct — computed in the same
    single-evaluation lambda chain as the shingles themselves — so consumers
    (Jaccard) need no size aggregation and no size join afterwards.
    """
    structs = F.flatten(
        F.flatten(
            F.transform(
                F.array(tokens(text_col)),
                lambda t: F.transform(
                    F.array(F.array_distinct(_raw_shingles(t))),
                    lambda d: F.transform(
                        d,
                        lambda x: F.struct(
                            x.alias("shingle"), F.size(d).alias("set_size")
                        ),
                    ),
                ),
            )
        )
    )
    return df.select("doc_id", F.explode(structs).alias("p")).select(
        "doc_id", "p.shingle", "p.set_size"
    )


def stop_shingle_hashes(
    sh: DataFrame,
    n_docs_df: DataFrame,
    max_df_frac: float | None,
    min_df: int,
    max_df: int | None = None,
) -> DataFrame:
    """Shingle hashes whose document frequency exceeds the cap — the
    "stop shingles" (boilerplate shared across a large fraction of the
    corpus) that would otherwise quadratically explode an inverted-index
    self-join.

    Two cap flavors, usable together (a shingle is hot if it crosses the
    TIGHTER one):

    - fractional: ``max(min_df, ceil(max_df_frac * n_docs))`` — "df above
      x% of the corpus is boilerplate". Assumes df fractions are
      scale-invariant; a corpus whose diversity grows with size dilutes
      fractions and lets yesterday's stop shingles back under the cap
      (the measured adversary in SCALE.md: 19 GB of revived postings).
    - absolute (``max_df``): "a posting list longer than K rows carries no
      discriminating signal at ANY corpus size" — the scale-robust guard,
      since each surviving key's join fan-out is bounded by K² regardless
      of corpus growth.

    The result is provably SMALL under either: sum of document
    frequencies ≤ total shingle instances S, so at most S / cap shingles
    can exceed it — broadcastable at any corpus size (e.g. 10^12
    instances / (0.25 · 10^9 docs) = 4000 hashes).

    ``sh`` must be (doc_id, hs) rows with one row per DISTINCT shingle per
    doc; ``n_docs_df`` a 1-row (n_docs) aggregate (kept as a plan node and
    broadcast so the whole computation stays lazy/distributed).
    """
    if max_df_frac is None and max_df is None:
        raise ValueError("set max_df_frac, max_df, or both")
    caps = []
    if max_df_frac is not None:
        caps.append(
            F.greatest(
                F.lit(int(min_df)),
                F.ceil(F.lit(float(max_df_frac)) * F.col("n_docs")),
            )
        )
    if max_df is not None:
        caps.append(F.lit(int(max_df)))
    cap = F.least(*caps) if len(caps) > 1 else caps[0]
    return (
        sh.groupBy("hs")
        .agg(F.count(F.lit(1)).alias("df_ct"))
        .join(F.broadcast(n_docs_df))
        .filter(F.col("df_ct") > cap)
        .select("hs")
    )


def _hash_triples(t: Column, n: int = 3) -> Column:
    """n-gram shingle HASHES from a bound token-array lambda variable:
    ``xxhash64(tok_i, …, tok_i+n-1)`` per position — the multi-arg
    form hashes the n-gram directly, so no shingle string is ever built
    (verdict r12 item 7: ``n`` parametrized, default 3)."""
    return F.transform(
        F.slice(t, 1, F.greatest(F.size(t) - (n - 1), F.lit(0))),
        lambda x, i: F.xxhash64(
            x, *[F.element_at(t, i + j) for j in range(2, n + 1)]
        ),
    )


def hashed_shingle_rows(
    df: DataFrame, text_col: str = "text", n: int = 3
) -> DataFrame:
    """doc_id → exploded (hs, set_size) over DISTINCT n-gram shingle hashes.

    The jaccard join path never needs the shingle STRING — only equality —
    so this skips ``concat_ws`` string construction entirely: tokens are
    hashed in place (``xxhash64`` over the three token columns) and
    distinctness runs over 8-byte longs instead of text (measured ~35%
    cheaper per pass than :func:`shingle_rows` + xxhash64-of-string at
    sf0.1 — which matters twice, since the stop-shingle document-frequency
    pass re-derives the same hashes). Distinct-by-hash vs distinct-by-
    string differ only on 64-bit collisions (see :func:`jaccard_pairs`
    collision note). Same single-evaluation lambda-binding discipline as
    :func:`shingle_rows`: set_size rides inside the exploded struct.
    """
    n = _check_shingle_n(n)
    structs = F.flatten(
        F.flatten(
            F.transform(
                F.array(tokens(text_col)),
                lambda t: F.transform(
                    F.array(F.array_distinct(_hash_triples(t, n))),
                    lambda d: F.transform(
                        d,
                        lambda x: F.struct(
                            x.alias("hs"), F.size(d).alias("set_size")
                        ),
                    ),
                ),
            )
        )
    )
    return df.select("doc_id", F.explode(structs).alias("p")).select(
        "doc_id", "p.hs", "p.set_size"
    )


def jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    stop_max_df_frac: float | None = None,
    stop_min_df: int = 64,
    stop_max_df: int | None = None,
    n: int = 3,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via inverted-index self-join.

    ``n`` is the shingle size (verdict r12 item 7 — retired the 3-only
    guard): n=2/5 run the SAME capped posting-list machinery as the
    3-gram catalog default; the stop-shingle caps apply per n-gram key
    whatever n is, so every fan-out bound below holds unchanged.

    plan: explode distinct shingles → drop stop-shingles (document
    frequency above ``max(stop_min_df, stop_max_df_frac · n_docs)``) →
    self-join on shingle (doc_a < doc_b) → count intersections → Jaccard
    ≥ threshold over the precomputed set sizes.

    Scale: the self-join shuffle is keyed by shingle; one boilerplate
    shingle shared by k docs yields k²/2 candidate rows — the classic
    skew/scale-killer on boilerplate-heavy corpora. The stop-shingle cap
    bounds every key's fan-out at the cap value, making the candidate count
    linear in corpus size for fixed ``stop_max_df_frac``. Semantics when
    the cap bites: set sizes still count ALL distinct shingles, but stop
    shingles no longer contribute intersections, so similarity from
    corpus-wide boilerplate is (deliberately) not counted — a conservative
    Jaccard. Because of that, the LIBRARY default is ``stop_max_df_frac=
    None`` (exact n-gram Jaccard, what the function name promises); scale
    call sites — including the registered catalog entry — opt INTO the cap
    explicitly. ``stop_max_df`` is the ABSOLUTE variant (posting lists
    longer than K rows are dropped regardless of corpus size) — the
    scale-robust guard for corpora whose df fractions dilute as they grow
    (SCALE.md "measured adversary"); both caps may be set, the tighter
    one wins per shingle. On corpora where no shingle crosses the cap (all sf
    testdata tiers — asserted by the oracle harness) the capped result is
    bit-identical to the exact join. Beyond the cap,
    :func:`minhash_lsh_candidates` is the sub-quadratic path. Jaccard itself is exact integer arithmetic + one
    double division — engine-portable.

    Set sizes ride along with the exploded rows (computed row-wise inside
    the shingle lambda chain, pre-explode), so the query is the shingle-
    keyed self-join exchange (reused for both sides), the pair-keyed
    aggregation, and — only when the cap is on — one map-side-combined
    document-frequency aggregation feeding a broadcast anti join (the hot
    set is provably tiny, see :func:`stop_shingle_hashes`).

    Round-13 A/B, deliberately NOT materialized: the shingle relation
    feeds both self-join sides and the stop-list pass, and ReuseExchange/
    AQE never deduplicate the aliased subtrees — but pinning it with an
    eager ``localCheckpoint`` measured SLOWER end-to-end (1.427 s vs
    1.327 s warm best-of-3 at sf0.1/local[32]; minhash's pin was 1.929 s
    vs 1.291 s recomputed). The repeated subtrees are pure scan→explode
    lineage whose independent stages overlap across cores, while the
    checkpoint is a serializing barrier that writes the full exploded
    relation — the same measured asymmetry bm25_doc_topk documents
    (recompute map-lineage, materialize only shuffle-join lineage).
    """
    # join key = xxhash64 of the token triple, never the shingle string:
    # the inverted-index shuffle is the biggest exchange in the pipeline
    # and an 8-byte key shuffles ~4x fewer bytes than a 3-gram text key
    # (measured 15% end-to-end at sf0.1; the gap widens with shuffle
    # volume), and hashing tokens in place skips string construction
    # entirely (see hashed_shingle_rows). Collision risk: a false
    # intersection needs two distinct shingles with equal 64-bit hashes in
    # the SAME doc pair — P ≈ (distinct shingles)²/2^65, ~1e-7 at 2M
    # shingles; at 10^12-shingle scale switch to a 128-bit variant (two
    # seeded hashes) or the raw string key.
    sh = hashed_shingle_rows(df, text_col, n)
    if stop_max_df_frac is not None or stop_max_df is not None:
        n_docs_df = df.agg(F.count(F.lit(1)).alias("n_docs"))
        hot = stop_shingle_hashes(
            sh.select("doc_id", "hs"),
            n_docs_df,
            stop_max_df_frac,
            stop_min_df,
            stop_max_df,
        )
        sh = sh.join(F.broadcast(hot), "hs", "left_anti")
    a = sh.select(
        F.col("doc_id").alias("doc_a"), F.col("set_size").alias("size_a"), "hs"
    )
    b = sh.select(
        F.col("doc_id").alias("doc_b"), F.col("set_size").alias("size_b"), "hs"
    )
    # SHUFFLE_HASH: the exploded index is big on BOTH sides — Catalyst's
    # size estimate under-counts post-Generate rows and would broadcast one
    # side (OOM at scale, and double-computes the explode; the shuffle join
    # hash-partitions both sides identically so the exchange is computed
    # once and reused)
    pairs = (
        a.hint("SHUFFLE_HASH")
        .join(b.hint("SHUFFLE_HASH"), "hs")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b", "size_a", "size_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    jac = F.col("inter") / (F.col("size_a") + F.col("size_b") - F.col("inter"))
    return (
        pairs.select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def containment_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    text_col: str = "text",
    stop_max_df_frac: float | None = None,
    stop_min_df: int = 64,
    stop_max_df: int | None = None,
) -> DataFrame:
    """Exact shingle-containment pairs: ORDERED (doc_a, doc_b) where
    C(A→B) = |A∩B| / |A| ≥ threshold and doc_a ≠ doc_b — the asymmetric
    sibling of :func:`jaccard_pairs` that catches SUBSET duplication
    (a short doc quoted wholesale inside a longer one, boilerplate page
    wrappers around reposted articles) which symmetric Jaccard misses:
    a 100-shingle doc fully contained in a 10,000-shingle doc has
    Jaccard ≈ 0.01 but containment 1.0. Broder's containment measure;
    the near-dup notion used by CC-style crawl dedup when one side is a
    fragment of the other.

    plan: the SAME shingle-keyed inverted-index self-join as
    :func:`jaccard_pairs` (one exchange, computed once and hash-shared
    across both sides), with two containment-specific changes: the pair
    filter keeps BOTH orientations (doc_a ≠ doc_b, not <) since
    containment is directional, and a size bound prunes candidates
    BEFORE the pair aggregation: |A∩B| ≤ min(|A|,|B|), so C(A→B) ≥ t
    forces |B| ≥ t·|A| — any candidate with size_b below that is
    provably under threshold and never reaches the groupBy (1e-6 slack
    absorbs IEEE error at exact-integer boundaries, widening only).

    Scale: identical posting-list skew profile to :func:`jaccard_pairs`
    — the stop-shingle caps (fractional and absolute) bound per-key
    fan-out the same way, with the same conservative semantics when they
    bite (set sizes count all shingles; capped shingles contribute no
    intersections, so containment from corpus-wide boilerplate is not
    counted). Containment itself is exact integer arithmetic + one
    double division — engine-portable.
    """
    sh = hashed_shingle_rows(df, text_col)
    if stop_max_df_frac is not None or stop_max_df is not None:
        n_docs_df = df.agg(F.count(F.lit(1)).alias("n_docs"))
        hot = stop_shingle_hashes(
            sh.select("doc_id", "hs"),
            n_docs_df,
            stop_max_df_frac,
            stop_min_df,
            stop_max_df,
        )
        sh = sh.join(F.broadcast(hot), "hs", "left_anti")
    a = sh.select(
        F.col("doc_id").alias("doc_a"), F.col("set_size").alias("size_a"), "hs"
    )
    b = sh.select(
        F.col("doc_id").alias("doc_b"), F.col("set_size").alias("size_b"), "hs"
    )
    pairs = (
        a.hint("SHUFFLE_HASH")
        .join(b.hint("SHUFFLE_HASH"), "hs")
        .filter(
            (F.col("doc_a") != F.col("doc_b"))
            & (
                F.col("size_b")
                >= F.lit(threshold) * F.col("size_a") - F.lit(1e-6)
            )
        )
        .groupBy("doc_a", "doc_b", "size_a")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    cont = F.col("inter") / F.col("size_a")
    return (
        pairs.select("doc_a", "doc_b", F.round(cont, 4).alias("containment"))
        .filter(F.col("containment") >= threshold)
    )


def _hash_ngrams(t: Column, n: int) -> Column:
    """n-gram hashes from a bound token-array lambda variable: one
    ``xxhash64(tok_i, …, tok_i+n-1)`` per position — the general-n sibling
    of :func:`_hash_triples` (multi-arg hash, no n-gram string built)."""
    return F.transform(
        F.slice(t, 1, F.greatest(F.size(t) - (n - 1), F.lit(0))),
        lambda x, i: F.xxhash64(
            x, *[F.element_at(t, i + j + 1) for j in range(1, n)]
        ),
    )


def ngram_hash_rows(df: DataFrame, n: int, text_col: str = "text") -> DataFrame:
    """doc_id → exploded DISTINCT n-gram hashes (single-evaluation lambda
    binding as in :func:`hashed_shingle_rows`)."""
    hashes = F.flatten(
        F.transform(
            F.array(tokens(text_col)),
            lambda t: F.array_distinct(_hash_ngrams(t, n)),
        )
    )
    return df.select("doc_id", F.explode(hashes).alias("hs"))


def decontaminate(
    corpus: DataFrame,
    eval_df: DataFrame,
    n: int = 8,
    min_hits: int = 1,
    text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing ≥
    ``min_hits`` distinct n-grams with ANY eval-set document — the
    C4/Dolma-style leakage gate every training pipeline runs before a
    model sees the corpus. Returns (doc_id, n_hits) for flagged docs;
    anti-join the result against the corpus to drop them.

    Scale: the EVAL side is small by definition (benchmarks are thousands
    of docs, the corpus is the 100 TB side), so its distinct n-gram hash
    set BROADCASTS; the corpus side is one scan → broadcast hash-join →
    per-doc count. No corpus-sized shuffle of n-grams ever happens — only
    matching (doc, gram) rows reach the aggregation, and those are
    bounded by actual contamination. Hashes are 8-byte xxhash64 over the
    token tuple (collision math as in :func:`jaccard_pairs`)."""
    eval_grams = ngram_hash_rows(eval_df, n, text_col).select("hs").distinct()
    corpus_grams = ngram_hash_rows(corpus, n, text_col)
    return (
        corpus_grams.join(F.broadcast(eval_grams), "hs")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
        .filter(F.col("n_hits") >= min_hits)
    )


def _shingle_hash32(col: Column) -> Column:
    """32-bit shingle hash for MinHash: low 32 bits of xxhash64.

    Native JVM hash (whole-stage codegen, no md5 string materialization —
    measured 13% end-to-end vs md5+conv at sf0.1). Cross-engine portability
    is NOT needed here: signature values are internal; the oracle-checked
    output of the minhash pipeline is the exact-Jaccard-verified pair set,
    which is hash-independent given full banding recall (empirically 100%:
    asserted vs the exact-pair oracle at sf0.001/0.01 by the harness, and
    verified equal to exact Jaccard at sf0.1). Masked to 32 bits so
    a_i*h + b_i below stays < 2^63 under ANSI mode.
    """
    return F.xxhash64(col).bitwiseAND(F.lit(0xFFFFFFFF))


def minhash_signatures(
    df: DataFrame, num_hashes: int = 16, text_col: str = "text"
) -> DataFrame:
    """MinHash signatures: sig[i] = min over shingles of (a_i*h + b_i) mod p.

    Explode + hash-aggregate: the md5/affine arithmetic sits in a plain
    post-Generate projection (whole-stage codegen), and the 16 ``min``
    aggregates combine map-side, so the shuffle is one short row per
    (doc, partition). This beats the tempting "row-wise array_min over the
    shingle array" formulation, whose higher-order functions are interpreted
    AND get inlined per signature column by CollapseProject (16x the hash
    work -- measured 2x slower end-to-end).
    """
    return _signatures_from_shingle_rows(doc_shingles(df, text_col), num_hashes)


def _signatures_from_shingle_rows(sh: DataFrame, num_hashes: int) -> DataFrame:
    """Signatures from an already-exploded ``(doc_id, shingle)`` relation
    (one row per DISTINCT shingle per doc) — the shared kernel, so callers
    holding a materialized shingle relation need not re-tokenize."""
    sh = sh.withColumn("h", _shingle_hash32("shingle"))
    aggs = [
        F.min((F.lit(_A[i]) * F.col("h") + F.lit(_B[i])) % F.lit(MINHASH_PRIME)).alias(f"mh_{i}")
        for i in range(num_hashes)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def minhash_band_rows(
    df: DataFrame,
    num_hashes: int = 16,
    bands: int = 8,
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, band_key) rows — each doc's LSH band keys, one row per
    band. This IS the persistable MinHash index relation: store it for
    admitted documents and each future increment joins its own band rows
    against the stored ones instead of re-banding the corpus
    (:func:`incremental_minhash_dedup`). ``band_key`` embeds the band
    number, so keys never collide across bands."""
    if num_hashes % bands:
        raise ValueError("bands must divide num_hashes")
    return _band_rows_from_signatures(
        minhash_signatures(df, num_hashes, text_col), num_hashes, bands
    )


def _band_rows_from_signatures(
    sig: DataFrame, num_hashes: int, bands: int
) -> DataFrame:
    """Band rows from an already-computed signature relation (the shared
    kernel behind :func:`minhash_band_rows`)."""
    r = num_hashes // bands
    band_cols = [
        F.concat_ws(
            "_",
            F.lit(b),
            *[F.col(f"mh_{b * r + j}") for j in range(r)],
        ).alias(f"band_{b}")
        for b in range(bands)
    ]
    banded = sig.select("doc_id", *band_cols)
    return banded.select(
        "doc_id",
        F.explode(F.array(*[F.col(f"band_{b}") for b in range(bands)])).alias(
            "band_key"
        ),
    )


def minhash_lsh_candidates(
    df: DataFrame,
    num_hashes: int = 16,
    bands: int = 8,
    text_col: str = "text",
) -> DataFrame:
    """LSH banding over MinHash signatures → candidate pairs (doc_a < doc_b).

    Signature split into ``bands`` bands of r = num_hashes/bands rows; docs
    collide if ANY band matches exactly. Probability a pair with Jaccard s
    collides: 1 - (1 - s^r)^b — with (16, 8) → r=2, steep around s≈0.3.

    Scale: band buckets are the join key — shuffle is linear in docs, never
    quadratic. Dedup of pair duplicates across bands happens via distinct.
    """
    return _candidates_from_band_rows(
        minhash_band_rows(df, num_hashes, bands, text_col)
    )


def _candidates_from_band_rows(stacked: DataFrame) -> DataFrame:
    """Candidate pairs from an already-computed band-row relation (the
    shared kernel behind :func:`minhash_lsh_candidates`)."""
    a, b = stacked.alias("a"), stacked.alias("b")
    # SHUFFLE_HASH for the same reason as jaccard_pairs: both sides are the
    # full banded relation — broadcast would double-compute the explode and
    # under-counts post-Generate sizes
    return (
        a.hint("SHUFFLE_HASH")
        .join(
            b.hint("SHUFFLE_HASH"),
            (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def minhash_near_dups(
    df: DataFrame,
    threshold: float = 0.5,
    num_hashes: int = 16,
    bands: int = 8,
    text_col: str = "text",
) -> DataFrame:
    """Near-dup pairs = LSH candidates verified with EXACT Jaccard.

    The verify step restores precision lost to banding; recall < 1 only for
    pairs whose every band differs (rare above the S-curve knee).

    Verification joins the candidate pairs back to the per-doc shingle
    ARRAYS and computes ``array_intersect`` sizes — candidates are a tiny
    fraction of the cross product, so shipping two arrays per candidate is
    cheap and avoids a second inverted-index shuffle. (If candidate volume
    ever dwarfs doc count — pathological banding — switch the verify to the
    exploded-join form of :func:`jaccard_pairs`.)

    Round-13 A/B, deliberately left as recompute: the tokenize + shingle
    pass appears four times in the executed plan (both band self-join
    sides, both verify sides — ReuseExchange/AQE never deduplicate the
    aliased subtrees), and pinning it once with an eager
    ``localCheckpoint`` was tried and measured SLOWER end-to-end:
    1.929 s pinned (1.791 s pinning only the tiny band-row relation,
    1.474 s pinned + broadcast-candidates verify) vs **1.291 s plain
    recompute**, warm best-of-3 at sf0.1/local[32]. The duplicated
    subtrees are pure scan→explode→aggregate lineage whose independent
    stages overlap across cores; the eager pin serializes a barrier and
    writes the full shingle-array relation through the block manager —
    the same measured recompute-vs-materialize asymmetry bm25_doc_topk
    documents. (At a scale where the four passes saturate the cluster,
    persist the BAND-ROW relation as the index instead — that is what
    :func:`incremental_minhash_dedup` does across increments.)
    """
    cands = minhash_lsh_candidates(df, num_hashes, bands, text_col)
    arr = shingle_arrays(df, text_col).filter(F.size("shs") > 0)
    a = arr.select(F.col("doc_id").alias("doc_a"), F.col("shs").alias("shs_a"))
    b = arr.select(F.col("doc_id").alias("doc_b"), F.col("shs").alias("shs_b"))
    joined = cands.join(a, "doc_a").join(b, "doc_b")
    inter = F.size(F.array_intersect("shs_a", "shs_b"))
    jac = inter / (F.size("shs_a") + F.size("shs_b") - inter)
    return (
        joined.select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def _token_hash60(col: Column) -> Column:
    """Portable 60-bit token hash (15 hex chars of md5 → positive long)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def simhash(
    df: DataFrame,
    text_col: str = "text",
    bits: int = 60,
    distinct_tokens: bool = False,
) -> DataFrame:
    """SimHash document fingerprints (60-bit, md5-portable).

    Per doc: for each bit j, sum ±1 over tokens (by token's hash bit j);
    fingerprint bit j = 1 iff the sum > 0. Implemented as explode(tokens) ×
    explode(bit positions) → two hash-aggregations. Near-dup docs differ in
    few bits (hamming distance).

    ``distinct_tokens=True`` is the set-of-words variant: each distinct
    token contributes ONCE regardless of its in-doc frequency. Default
    (bag-of-words) signatures collapse on repetition-dominated documents —
    a token making up half of every doc's mass drags all signatures
    together and band buckets then hold entire corpora (measured:
    112M candidate pairs on the SCALE.md boilerplate-adversary corpus).
    The distinct variant caps any single token's pull at 1/|vocab(doc)|.
    The default stays bag-of-words = the classic Charikar weighting.

    Scale: rows = docs × tokens × bits — at 100 TB use fewer bits per pass
    or pack the per-token contribution into an array and aggregate
    element-wise; the shuffle is still linear in input tokens.
    """
    tok = df.select(
        "doc_id", F.explode(tokens(text_col)).alias("token")
    )
    if distinct_tokens:
        tok = tok.distinct()
    tok = tok.withColumn("h", _token_hash60("token"))
    bit = tok.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(bits - 1))).alias("j"),
        F.col("h"),
    ).withColumn(
        # pyspark's shiftright/shiftleft only take int shift amounts —
        # column shifts must go through SQL expressions.
        "contrib",
        F.when(F.expr("(h >> j) & 1") == 1, F.lit(1)).otherwise(F.lit(-1)),
    )
    per_bit = bit.groupBy("doc_id", "j").agg(F.sum("contrib").alias("s"))
    return per_bit.groupBy("doc_id").agg(
        F.sum(
            F.when(F.col("s") > 0, F.expr("shiftleft(CAST(1 AS BIGINT), j)")).otherwise(
                F.lit(0).cast("long")
            )
        )
        .cast("long")
        .alias("simhash")
    )


def simhash_near_dups(
    df: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    bits: int = 60,
    bands: int = 4,
    distinct_tokens: bool = False,
) -> DataFrame:
    """Dedup tier 4 complete: SimHash near-dup pairs within a hamming
    radius, via band-bucketed candidates + exact bit_count verify.

    The fingerprint is split into ``bands`` contiguous bit-bands; candidates
    share at least one exact band. By pigeonhole, any pair with hamming
    distance ≤ bands-1 (here ≤ 3) MUST agree on some band — recall is 1.0
    by construction, not empirically. Verification is exact
    ``bit_count(xor)``.

    Scale: same shape as MinHash-LSH — band-keyed self-join, linear shuffle;
    the verify compares two longs per candidate (cheapest of all tiers).
    """
    if bits % bands:
        raise ValueError("bands must divide bits")
    width = bits // bands
    sig = simhash(df, text_col, bits, distinct_tokens)
    stacked = sig.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.concat_ws(
                        "_",
                        F.lit(b),
                        F.expr(f"(simhash >> {b * width}) & {(1 << width) - 1}"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band_key"),
    )
    a, b = stacked.alias("a"), stacked.alias("b")
    cands = (
        a.hint("SHUFFLE_HASH")
        .join(
            b.hint("SHUFFLE_HASH"),
            (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sim_a"),
            F.col("b.simhash").alias("sim_b"),
        )
        .distinct()
    )
    hd = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return cands.select(
        "doc_a", "doc_b", hd.cast("long").alias("hamming")
    ).filter(F.col("hamming") <= max_hamming)


def _raw_spans(t: Column, n: int) -> Column:
    """Word n-gram SPANS (positional, duplicates kept) from a bound token
    array ``t`` — unlike shingles these are not dedup'd, because span
    dedup counts every occurrence. Same lambda-binding rule as
    ``_raw_shingles``: ``t`` must be a lambda variable."""
    parts = lambda x, i: F.concat_ws(
        " ", x, *[F.element_at(t, i + j) for j in range(2, n + 1)]
    )
    return F.transform(
        F.slice(t, 1, F.greatest(F.size(t) - (n - 1), F.lit(0))), parts
    )


def span_dup_coverage(df: DataFrame, n: int = 8, text_col: str = "text") -> DataFrame:
    """C4/RefinedWeb-style exact span dedup audit: for every document,
    what fraction of its word ``n``-gram spans also occurs elsewhere in
    the corpus (another doc, or repeated within this one)?

    Pipeline: explode positional spans → global span occurrence counts
    (map-side combined) → join the counts back → per-doc rollup. The join
    keys on the span string; at 100 TB the span-count relation is far
    smaller than the positional one (aggregation first), and both sides
    are hash-partitioned on the span — a plain shuffle join with no
    skewed key (natural-language spans have long-tail frequencies; the
    few hot spans are exactly the duplicated boilerplate we're measuring,
    bounded by corpus copies, not by key-space collapse).

    Emits per doc: total spans, spans with a global duplicate, and the
    duplicated fraction (one double division of exact longs). The actual
    *removal* op this audits is the same plan with a filter on
    ``global_c == 1`` feeding a reconstruction — the audit is the
    expensive part.
    """
    toks = tokens(text_col)
    spans = df.select(
        "doc_id",
        F.explode(
            F.flatten(F.transform(F.array(toks), lambda t: _raw_spans(t, n)))
        ).alias("span"),
    )
    # SHUFFLE_HASH hint: Catalyst sizes the post-explode aggregate from the
    # pre-explode scan stats and happily BROADCASTS the span-count relation
    # — which at corpus scale is every distinct span (plan-shape test pins
    # this). Shuffle-hash keys both sides on the span; the build side per
    # partition is distinct-spans/N, which scales with the partition count.
    span_counts = (
        spans.groupBy("span")
        .agg(F.count(F.lit(1)).alias("global_c"))
        .hint("SHUFFLE_HASH")
    )
    per_doc = (
        spans.join(span_counts, "span")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_spans"),
            F.sum(F.when(F.col("global_c") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_dup_spans"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_spans",
        "n_dup_spans",
        (F.col("n_dup_spans").cast("double") / F.col("n_spans")).alias(
            "dup_span_fraction"
        ),
    )


def _merge_intervals(ivs: Column) -> Column:
    """Merge a (possibly overlapping) array<struct<s,e>> of closed token
    intervals into disjoint islands — pure expression work (array_sort +
    aggregate), no shuffle, no Python. Adjacent intervals (``x.s ==
    last.e + 1``) merge too: the covered SET is what matters and fewer
    islands make the per-token containment check below cheaper."""
    def step(acc: Column, x: Column) -> Column:
        last = F.element_at(acc, -1)
        grown = F.struct(
            last["s"].alias("s"), F.greatest(last["e"], x["e"]).alias("e")
        )
        return F.when(
            F.size(acc) == 0, F.array(x)
        ).otherwise(
            F.when(
                x["s"] > last["e"] + 1, F.concat(acc, F.array(x))
            ).otherwise(
                F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(grown))
            )
        )

    zero = F.array().cast("array<struct<s:int,e:int>>")
    return F.aggregate(F.array_sort(ivs), zero, step)


def span_dedup_rewrite(
    df: DataFrame, n: int = 8, text_col: str = "text"
) -> DataFrame:
    """Exact substring dedup that REWRITES the corpus (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): every
    word ``n``-gram span that occurs more than once corpus-wide keeps its
    globally-first occurrence (min ``(doc_id, pos)``) and is CUT from
    every other occurrence — the removal op that :func:`span_dup_coverage`
    audits. Overlapping duplicated spans union into one removed region, so
    a wholesale-copied passage keeps exactly one full copy (in the
    canonical document) and vanishes elsewhere; an exact-duplicate
    document comes back with ``cleaned_text = ''``.

    Plan, scale-first: the positional span relation aggregates to span
    stats FIRST (map-side combined count + min-occurrence), joins back
    SHUFFLE_HASH on the span string (same rationale as
    :func:`span_dup_coverage` — the stats relation is every distinct
    span, never broadcast-sized), and collapses to ONE doc-keyed row of
    merged removal intervals per touched document. The token relation is
    never shuffled: reconstruction is scan-side expression work — a
    higher-order ``filter`` over the token array against the broadcast-
    shaped interval list (islands, so the per-token containment check is
    bounded by removed-region count, not removal count). At 100 TB the
    shuffled volume is the span index (linear in corpus tokens) plus the
    duplicated-occurrence relation (linear in duplicated volume) — the
    documents themselves stay put. (The interval relation is one bounded
    row per *touched* document; if duplication is so pervasive that it
    outgrows the broadcast threshold, AQE falls back to a single
    doc_id-keyed exchange — the one case where the corpus moves, once.)

    Emits one row per input document: ``doc_id``, ``n_tokens`` (original),
    ``n_removed``, ``cleaned_text``. Documents shorter than ``n`` tokens
    pass through untouched. No reference twin: the reference engine has no
    substring-level dedup; this extends its exact-dedup story
    (fingerprints, `grocery_etl_dag.py`-style staging) to the span level.
    """
    base = df.select("doc_id", tokens(text_col).alias("l"))
    spans = base.select(
        "doc_id",
        F.posexplode(
            F.flatten(
                F.transform(F.array("l"), lambda t: _raw_spans(t, n))
            )
        ).alias("p", "span"),
    )
    stats = (
        spans.groupBy("span")
        .agg(
            F.count(F.lit(1)).alias("global_c"),
            F.min(F.struct("doc_id", "p")).alias("canon"),
        )
        .hint("SHUFFLE_HASH")
    )
    removals = (
        spans.join(stats, "span")
        .filter(
            (F.col("global_c") > 1)
            & ~(
                (F.col("doc_id") == F.col("canon.doc_id"))
                & (F.col("p") == F.col("canon.p"))
            )
        )
        .select(
            "doc_id",
            F.struct(
                F.col("p").cast("int").alias("s"),
                (F.col("p") + (n - 1)).cast("int").alias("e"),
            ).alias("iv"),
        )
    )
    per_doc = removals.groupBy("doc_id").agg(
        _merge_intervals(F.collect_list("iv")).alias("ivs")
    )
    ivs = F.coalesce(F.col("ivs"), F.array().cast("array<struct<s:int,e:int>>"))
    kept = F.filter(
        "l",
        lambda tk, i: ~F.exists(
            ivs, lambda iv: (iv["s"] <= i) & (i <= iv["e"])
        ),
    )
    return (
        base.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.size("l").cast("long").alias("n_tokens"),
            (F.size("l") - F.size(kept)).cast("long").alias("n_removed"),
            F.array_join(kept, " ").alias("cleaned_text"),
        )
    )


def incremental_exact_dedup(
    new_docs: DataFrame, index_fps: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Incremental corpus dedup: admit only new documents whose fingerprint
    is (a) absent from the historical index and (b) first within the
    incoming batch (min doc_id keeps the tie-break deterministic).

    This is the production shape for a continuously-growing corpus: the
    index is a compact (fp) relation maintained across runs — the
    admitted batch's fingerprints are appended to it afterwards — so each
    increment costs one anti-join against the index plus an intra-batch
    group-by, never a re-scan of the historical corpus text. Both
    relations are keyed by the uniform md5 fingerprint: no skew, and the
    anti-join degrades gracefully from broadcast (small index) to shuffle
    (web-scale index) under AQE.
    """
    new_fp = new_docs.select("doc_id", fingerprint(text_col).alias("fp"))
    keeper = new_fp.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
    idx = index_fps.select("fp").distinct()
    return keeper.join(idx, "fp", "left_anti").select("doc_id", "fp")


def bloom_bit_words(
    index_fps: DataFrame,
    num_bits: int,
    num_hashes: int,
    fp_col: str = "fp",
) -> DataFrame:
    """Build a Bloom filter over ``index_fps[fp_col]`` as a RELATION of
    packed 64-bit words: one ``(word_idx, bits)`` row per word with at
    least one set bit, at most ``num_bits / 64`` rows total regardless of
    index cardinality.

    Positions are ``pmod(xxhash64(fp, seed_i), num_bits)`` for
    ``seed_i in 0..num_hashes-1`` — k independent hashes via the seed
    column, packed with ``shiftleft`` + ``bit_or`` so the filter costs
    ~1 word bit per Bloom bit instead of 64 (a row per SET BIT would be
    8 bytes each; a row per WORD is the honest dense representation).
    The aggregation is map-side combined on ``word_idx`` (an int key,
    uniform by construction — no skew), and the result is a build-once /
    probe-many artifact: persist it alongside the fingerprint index and
    append the admitted increment's words with the same ``bit_or``.
    """
    return (
        _bloom_position_rows(index_fps, num_bits, num_hashes, fp_col, [])
        .groupBy("word_idx")
        .agg(F.bit_or("mask").alias("bits"))
    )


def _bloom_position_rows(
    df: DataFrame,
    num_bits: int,
    num_hashes: int,
    fp_col: str,
    carry_cols: list[str],
) -> DataFrame:
    """Shared position/mask pipeline for the Bloom BUILD and the
    relational PROBE (review finding r07: written twice, the two copies
    could silently diverge — and any divergence between build and probe
    hashing is a FALSE NEGATIVE, a duplicate leaking past the gate).

    Explodes ``df`` to one row per (fp, hash seed) with the packed
    coordinates: ``word_idx = pos / 64`` and the single-bit ``mask``,
    where ``pos = pmod(xxhash64(fp, seed_i), num_bits)`` for
    ``seed_i in 0..num_hashes-1``. ``carry_cols`` ride along (the probe
    keeps fp/doc_id; the build keeps nothing).
    """
    seeds = F.array(*[F.lit(i) for i in range(num_hashes)])
    pos = df.select(
        *carry_cols,
        F.explode(
            F.transform(
                seeds,
                lambda s: F.pmod(
                    F.xxhash64(F.col(fp_col), s), F.lit(num_bits)
                ),
            )
        ).alias("pos"),
    )
    return pos.select(
        *carry_cols,
        (F.col("pos") / 64).cast("long").alias("word_idx"),
        # SQL form: the Python F.shiftleft only takes an int literal
        # for the shift amount, the expression form takes a column
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pmod(pos, 64) AS INT))").alias(
            "mask"
        ),
    )


def merge_bloom_words(existing: DataFrame, delta: DataFrame) -> DataFrame:
    """OR-merge two packed Bloom word relations (the per-increment index
    maintenance step: after a batch is admitted, fold its
    :func:`bloom_bit_words` into the persisted filter).

    ``bit_or`` is associative/commutative/idempotent, so merging is one
    map-side-combined aggregate over the union — re-merging the same
    delta is a no-op (safe under at-least-once orchestration), and the
    result stays bounded by ``num_bits / 64`` rows. Both inputs must
    share (num_bits, num_hashes); key uniformity makes the word_idx
    shuffle skew-free.
    """
    return (
        existing.unionByName(delta)
        .groupBy("word_idx")
        .agg(F.bit_or("bits").alias("bits"))
    )


# Largest Bloom filter shippable as a plan-literal bit string (16 MiB of
# '0'/'1' chars). Larger filters must stay relational (bloom_bit_words).
BLOOM_LITERAL_MAX_BITS = 1 << 24


def bloom_bit_string(words: DataFrame, num_bits: int) -> str:
    """Collect a packed word relation into a ``num_bits``-char '0'/'1'
    Python string (index = bit position). Bounded driver-side metadata by
    construction — the same contract as centroid/scale collections in the
    similarity operators — sized by the BIT BUDGET, never by index
    cardinality (1 << 17 bits → 128 KiB).

    Why a bit STRING and not an array-of-longs literal: the probe embeds
    this value in the plan, and Catalyst's cost there is expression NODE
    COUNT, not bytes — a ``CreateArray`` of 2,048 long literals is ~2k
    nodes that every analyzer/optimizer rule re-walks (measured: ~14 s of
    driver time per fresh plan at 1 << 17 bits), while one string literal
    is ONE node and a ``substr`` probe is O(1) per row. The 8× byte
    overhead vs packed words is irrelevant at literal-appropriate sizes;
    beyond 2^24 bits (a 16 MiB plan literal, and a driver unpack loop in
    the hundreds of millions of iterations) this raises — ship the
    filter relationally (:func:`bloom_bit_words` + the join probe)
    instead of as a literal (verdict r07 nit 3a: the bound was
    documented but unenforced)."""
    if num_bits > BLOOM_LITERAL_MAX_BITS:
        raise ValueError(
            f"num_bits={num_bits} exceeds the literal-filter bound "
            f"2^24 ({BLOOM_LITERAL_MAX_BITS}): a bit-string literal this "
            "size bloats every plan that embeds it and the driver-side "
            "unpack loop stops being bounded metadata — use "
            "bloom_bit_words + the relational join probe "
            "(bloom_incremental_exact_dedup) at this filter size"
        )
    bits = bytearray(b"0") * num_bits
    for r in words.collect():
        base = int(r["word_idx"]) * 64
        w = int(r["bits"])
        for b in range(64):
            if (w >> b) & 1:
                bits[base + b] = ord("1")
    return bits.decode("ascii")


def bloom_maybe_member(
    bits_col: Column,
    num_bits: int,
    num_hashes: int,
    fp_col: str = "fp",
) -> Column:
    """Bloom membership probe as a PURE scan-side expression over a
    literal-embedded filter: true iff all k bits for ``fp_col`` are '1'
    in ``bits_col`` — a column holding the :func:`bloom_bit_string`
    value. Attach the string ONCE (``withColumn("_bits", F.lit(s))``)
    and pass ``F.col("_bits")`` so the plan carries a single literal
    node, then drop the helper column after this probe.

    No join, no aggregation — which is what makes the probe legal in a
    STREAMING plan (append mode admits no aggregate without a watermark;
    the relational probe's per-fp all-k AND is an aggregate). This is the
    deploy-time shape for shipping a filter into a streaming job: the
    bits are bounded metadata, embedded in the plan exactly like a
    broadcast variable, and the k probes are codegen'd substr lookups."""
    cond = F.lit(True)
    for i in range(num_hashes):
        pos = F.pmod(F.xxhash64(F.col(fp_col), F.lit(i)), F.lit(num_bits))
        cond = cond & (
            bits_col.substr((pos + 1).cast("int"), F.lit(1)) == "1"
        )
    return cond


def bloom_incremental_exact_dedup(
    new_docs: DataFrame,
    index_fps: DataFrame,
    num_bits: int = 1 << 20,
    num_hashes: int = 5,
    text_col: str = "text",
    materialize_probe: bool = True,
) -> DataFrame:
    """:func:`incremental_exact_dedup` with a Bloom pre-filter — the
    100 TB shape for a daily batch against a 10⁹-row fingerprint index.

    The plain incremental path joins EVERY batch fingerprint against the
    full historical index. Here the batch first probes the bounded
    :func:`bloom_bit_words` relation (``num_bits / 64`` packed words —
    broadcastable metadata sized by the operator's fpp budget, NOT by
    index cardinality's row width): a fingerprint missing ANY of its k
    bits is *definitely new* and is admitted without ever touching the
    index; only the probable-hit sliver (true dups + the fpp·batch false
    positives) pays the exact anti-join. Bloom false positives are
    re-verified exactly, so the admitted set is IDENTICAL to
    :func:`incremental_exact_dedup` — the pre-filter is invisible in the
    output, which is what makes this entry hash-oracle-able against the
    plain SQL anti-join.

    Plan shape: one exchange for the intra-batch keeper group-by; the
    probe explode + word join + all-k AND re-use that partitioning
    (``fp`` stays the clustering key through Generate and the broadcast
    join, so the per-fp re-aggregation adds NO exchange); the anti-join
    sees only probable hits. At local scale the word relation broadcasts;
    at 10⁹-key scale (m ≈ 1.2 GB packed) either broadcast to big
    executors or let AQE shuffle-join on ``word_idx`` — both sides are
    uniform int keys.
    """
    new_fp = new_docs.select("doc_id", fingerprint(text_col).alias("fp"))
    keeper = new_fp.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))

    words = bloom_bit_words(index_fps, num_bits, num_hashes)
    # build and probe MUST hash identically — shared pipeline by
    # construction (review finding r07)
    probes = _bloom_position_rows(
        keeper, num_bits, num_hashes, "fp", ["fp", "doc_id"]
    )
    probed = (
        probes.join(F.broadcast(words), "word_idx", "left")
        .withColumn(
            "bit_set",
            F.coalesce(
                F.col("bits").bitwiseAND(F.col("mask")) == F.col("mask"),
                F.lit(False),
            ),
        )
        .groupBy("fp", "doc_id")
        .agg(F.bool_and("bit_set").alias("maybe_in_index"))
    )
    if materialize_probe:
        # `probed` (one row per distinct batch fingerprint + a bool) feeds
        # THREE consumers below — the definitely-new branch, the semi
        # prefilter's build side, and the verify join's probe side — and
        # Spark does not share subplans across union branches, so leave it
        # lazy and the batch scan + keeper group-by + Bloom probe run
        # three times. It is batch-sized by construction (an increment,
        # not the corpus), so one localCheckpoint materialization is the
        # same call the CC/keep-list shared pair stage makes. Lazy
        # (eager=False): nothing computes until the caller's first action.
        probed = probed.localCheckpoint(eager=False)
    definitely_new = probed.filter(~F.col("maybe_in_index"))
    candidates = probed.filter(F.col("maybe_in_index"))
    # The index is the big side at 100 TB — never shuffle the FULL
    # index. The candidate sliver (true dups + fpp·batch false
    # positives) broadcasts by contract into a semi join, so the index
    # is only SCANNED. The semi output then gets a .distinct(): left
    # semi preserves LEFT-side multiplicity, so a hot fingerprint
    # repeated 10⁶× in a non-deduped index would otherwise ride into
    # the broadcast build 10⁶× (review finding r07) — the distinct
    # shuffles only the candidate-MATCHING rows (map-side partial
    # dedup collapses the hot key per task), restoring the
    # candidate-bounded build the anti-join broadcast relies on.
    idx_hits = (
        index_fps.select("fp")
        .join(F.broadcast(candidates.select("fp")), "fp", "left_semi")
        .distinct()
    )
    verified = candidates.join(F.broadcast(idx_hits), "fp", "left_anti")
    return definitely_new.select("doc_id", "fp").unionByName(
        verified.select("doc_id", "fp")
    )


def incremental_minhash_dedup(
    new_docs: DataFrame,
    index_bands: DataFrame,
    stored_docs: DataFrame,
    threshold: float = 0.5,
    num_hashes: int = 16,
    bands: int = 8,
    text_col: str = "text",
    materialize_batch: bool = False,
) -> DataFrame:
    """Incremental NEAR-dup dedup — the MinHash twin of
    :func:`incremental_exact_dedup`, and the production shape for a
    continuously-growing corpus: admit a new document only if it is not a
    near-duplicate of (a) the historical corpus, found through the stored
    band index, or (b) a LOWER-id document within the incoming batch
    (deterministic first-wins, the same any-lower-id rule the SemDeDup
    prune uses — near-dup is not transitive, so admission must not depend
    on whether the dominating doc was itself admitted).

    Inputs: ``index_bands`` is the persisted ``(doc_id, band_key)``
    relation :func:`minhash_band_rows` produced for previously ADMITTED
    docs (append the admitted increment's band rows after each run);
    ``stored_docs`` is the historical corpus relation (id + text) that
    candidate matches verify against — only band-collision candidates
    ever have their stored text re-shingled, via join pruning.

    Scale shape: each increment costs (1) banding the BATCH only (never
    re-banding the corpus), (2) one band-keyed join of batch bands vs the
    index — linear in batch size × bucket occupancy, the same key
    distribution as :func:`minhash_lsh_candidates`, (3) one batch-side
    self-join, (4) exact shingle-array verification on candidates only.
    Recall inherits LSH's band guarantee ((16, 8) → r=2; raise
    rows-per-band on low-entropy corpora — see the adversary notes in
    SCALE.md); precision is 1 (exact verify).

    ``materialize_batch`` localCheckpoints the batch's band rows and
    shingle arrays, which feed 2–3 join consumers each — without a cut
    Spark recomputes the tokenize→shingle→hash scan per consumer. Same
    trade-off and default as :func:`prefix_filter_pairs`'s
    ``materialize_shingles`` (checkpoint blocks pin for the session;
    callers that own the lifecycle — a real per-increment job — opt in).

    Returns the admitted ``(doc_id,)`` rows of the batch.
    """
    nb = minhash_band_rows(new_docs, num_hashes, bands, text_col)
    if materialize_batch:
        nb = nb.localCheckpoint(eager=False)
    # Sanity-check the index was built with the SAME banding parameters
    # (review finding r07): mismatched (num_hashes, bands) makes every
    # band_key join miss SILENTLY — each band key embeds its band number
    # and r signature segments, so one sampled key from each side must
    # agree on segment count. Costs two 1-row driver lookups per
    # increment; an empty index (first increment) skips the check.
    idx_sample = index_bands.select("band_key").limit(1).collect()
    if idx_sample:
        batch_sample = nb.select("band_key").limit(1).collect()
        if batch_sample:
            n_idx = len(idx_sample[0][0].split("_"))
            n_new = len(batch_sample[0][0].split("_"))
            if n_idx != n_new:
                raise ValueError(
                    f"index band keys have {n_idx} segments but this "
                    f"batch's banding ({num_hashes=}, {bands=}) produces "
                    f"{n_new} — the stored index was built with different "
                    "banding parameters; no key would ever match and every "
                    "near-duplicate would be silently admitted"
                )
    new_arr = shingle_arrays(new_docs, text_col).filter(F.size("shs") > 0)
    if materialize_batch:
        new_arr = new_arr.localCheckpoint(eager=False)

    def _verified(cands, left_arr, right_arr):
        j = (
            cands.join(
                left_arr.select(
                    F.col("doc_id").alias("new_id"), F.col("shs").alias("shs_n")
                ),
                "new_id",
            )
            .join(
                right_arr.select(
                    F.col("doc_id").alias("other_id"),
                    F.col("shs").alias("shs_o"),
                ),
                "other_id",
            )
        )
        inter = F.size(F.array_intersect("shs_n", "shs_o"))
        jac = inter / (F.size("shs_n") + F.size("shs_o") - inter)
        return j.filter(F.round(jac, 4) >= F.lit(threshold)).select("new_id")

    # (a) vs the stored index: band-key join, then exact verify against
    # the stored docs' text. The historical relation is LEFT-SEMI-pruned
    # to candidate ids BEFORE any shingling (review finding r07: a plain
    # downstream join cannot prune the other side's expression work, so
    # without the explicit semi-join every increment would re-tokenize
    # the whole corpus). The semi-join still SCANS stored_docs once —
    # O(corpus) I/O but O(candidates) expression work; in production the
    # stored side is the persisted shingle/band table partitioned by id,
    # where this same semi-join also prunes the read.
    cand_stored = (
        nb.select(F.col("doc_id").alias("new_id"), "band_key")
        .join(
            index_bands.select(
                F.col("doc_id").alias("other_id"), "band_key"
            ),
            "band_key",
        )
        .select("new_id", "other_id")
        .distinct()
    )
    cand_ids = cand_stored.select(
        F.col("other_id").alias("doc_id")
    ).distinct()
    stored_arr = shingle_arrays(
        stored_docs.join(cand_ids, "doc_id", "left_semi"), text_col
    ).filter(F.size("shs") > 0)
    dup_vs_stored = _verified(cand_stored, new_arr, stored_arr)

    # (b) within the batch: band self-join, lower id dominates
    a, b = nb.alias("a"), nb.alias("b")
    cand_batch = (
        a.join(
            b,
            (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") > F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("new_id"),
            F.col("b.doc_id").alias("other_id"),
        )
        .distinct()
    )
    dup_in_batch = _verified(cand_batch, new_arr, new_arr)

    rejected = dup_vs_stored.union(dup_in_batch).distinct()
    return (
        new_docs.select("doc_id")
        .join(rejected, new_docs["doc_id"] == rejected["new_id"], "left_anti")
        .select("doc_id")
    )


def _lex_prefix_num(k: Column, width: int = 7) -> Column:
    """Pack the first ``width`` chars of a string into one BIGINT whose
    numeric order is NON-DECREASING w.r.t. the string's lexicographic
    (codepoint) order (byte 0 pads short strings, so a prefix sorts before
    its extensions — exactly like the strings themselves). 7 × 8 bits =
    2^56 stays far inside BIGINT under ANSI. This is the numeric proxy
    that lets the global-ranking kernel (approxQuantile cutpoints) order a
    STRING key without a single-partition sort; full-string ties are
    broken by the kernel's tie columns.

    Non-ASCII chars: ``F.ascii`` returns the full codepoint (> 255), which
    would break the 256^k positional packing's monotonicity (verdict r06
    nit 1). A bare per-position clamp is NOT enough: two strings first
    differing at a clamped position would tie there and could re-order on
    later digits. The monotone construction truncates instead — any
    codepoint ≥ 128 becomes the marker digit 128 and every LATER position
    is forced to 0, so strings that agree on an ASCII prefix up to a
    non-ASCII char compare EQUAL in the proxy (ties broken by the
    kernel's full-string tie columns) and the packed number is provably
    non-decreasing w.r.t. Spark's binary (codepoint-order) collation for
    ANY unicode input: at the first differing position either both digits
    are faithful ASCII (strict <), one is ASCII vs marker (127 < 128), or
    both are the marker (equal, rest zeroed). Hypothesis-pinned over
    unicode in tests/test_properties.py. Non-ASCII tails collapse into
    one bucket — a recall (blocking-order coarseness) trade-off for SNM,
    never a correctness one (verification is exact)."""
    non_ascii_seen = F.lit(False)
    out = F.lit(0).cast("long")
    for i in range(width):
        cp = F.ascii(F.substring(k, i + 1, 1))
        digit = (
            F.when(non_ascii_seen, F.lit(0))
            .when(cp >= 128, F.lit(128))
            .otherwise(cp)
        )
        out = out + digit.cast("long") * F.lit(256 ** (width - 1 - i))
        non_ascii_seen = non_ascii_seen | (cp >= 128)
    return out


def sorted_neighborhood_pairs(
    df: DataFrame,
    window: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sorted-neighborhood (SNM) near-dup mining: sort the corpus by a
    blocking key (normalized text), slide a ``window``-row comparison
    window down the GLOBAL order, and exact-Jaccard-verify only the
    ≤ (window−1)·N adjacent candidate pairs (Hernández & Stolfo's classic
    blocking method — the third candidate-generation strategy next to the
    inverted-index join and MinHash banding).

    Scale shape: the global order comes from the ranking kernel
    (:func:`~..ranking.global_rank` over a lexicographic prefix packed
    into a BIGINT — no ``Exchange SinglePartition`` anywhere, pinned in
    tests); neighbors materialize via ONE rank-keyed self-join (offset
    explode, integer keys, no skew); verification reuses the same
    shingle-array intersect as the MinHash path on a candidate set that is
    linear in N by construction. Recall is limited to duplicates whose
    blocking keys land within ``window`` ranks — SNM's documented
    trade-off (multi-pass with different keys is the classic remedy);
    exact and prefix-identical duplicates always qualify.
    """
    return multipass_snm_pairs(
        df,
        [F.lower(normalize_ws(F.col(text_col)))],
        window=window,
        threshold=threshold,
        text_col=text_col,
        id_col=id_col,
    )


def _snm_candidate_pairs(
    df: DataFrame, key: Column, window: int, id_col: str
) -> DataFrame | None:
    """One SNM pass: rank the corpus by ``key`` (via the ranking kernel —
    no SinglePartition), slide the window, return unordered candidate
    (doc_a < doc_b) pairs. None on an empty corpus."""
    from .ranking import global_rank

    d = df.select(
        F.col(id_col).cast("long").alias("doc_id"), key.alias("_k")
    ).withColumn("_knum", _lex_prefix_num(F.col("_k")))
    rf = global_rank(d, "_knum", ["_k", "doc_id"])
    if rf.n_total == 0:
        return None
    ranked = rf.df.select("doc_id", "_rank")
    offs = F.explode(F.array(*[F.lit(o) for o in range(1, int(window))]))
    nb = (
        ranked.select(F.col("doc_id").alias("nb_id"), F.col("_rank").alias("r"))
        .withColumn("off", offs)
        .select("nb_id", (F.col("r") - F.col("off")).alias("_rank"))
    )
    return ranked.join(nb, "_rank").select(
        F.least("doc_id", "nb_id").alias("doc_a"),
        F.greatest("doc_id", "nb_id").alias("doc_b"),
    )


def multipass_snm_pairs(
    df: DataFrame,
    keys: list[Column],
    window: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """MULTI-PASS sorted-neighborhood: one sliding-window candidate pass
    per blocking key in ``keys``, candidate pairs union'd DISTINCT before
    a single exact verification — Hernández & Stolfo's classic recall
    remedy for SNM's one blind spot (verdict r07 item 6): a single
    blocking order only finds duplicates whose keys land within
    ``window`` ranks, so prefix-divergent near-dups (same body, different
    leading boilerplate) sort arbitrarily far apart and are never
    compared. A second pass on an independent order — canonically the
    REVERSED normalized text, i.e. suffix blocking — catches exactly
    those, and each extra pass costs the same (window−1)·N candidate
    bound, keeping the total linear in N per pass.

    Precision stays exact (verification is the same shingle-array
    intersect regardless of which pass surfaced the candidate); the
    distinct before verification means a pair found by BOTH passes is
    verified once, not twice.
    """
    empty = local_frame(
        df.sparkSession, [], "doc_a long, doc_b long, jaccard double"
    )
    cand = None
    for key in keys:
        pairs = _snm_candidate_pairs(df, key, window, id_col)
        if pairs is None:
            return empty
        cand = pairs if cand is None else cand.unionByName(pairs)
    if cand is None:
        return empty
    if len(keys) > 1:
        cand = cand.distinct()
    arr = shingle_arrays(df, text_col).filter(F.size("shs") > 0)
    a = arr.select(F.col("doc_id").alias("doc_a"), F.col("shs").alias("shs_a"))
    b = arr.select(F.col("doc_id").alias("doc_b"), F.col("shs").alias("shs_b"))
    joined = cand.join(a, "doc_a").join(b, "doc_b")
    inter = F.size(F.array_intersect("shs_a", "shs_b"))
    jac = inter / (F.size("shs_a") + F.size("shs_b") - inter)
    return joined.select(
        "doc_a", "doc_b", F.round(jac, 4).alias("jaccard")
    ).filter(F.col("jaccard") >= threshold)


def prefix_filter_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    materialize_shingles: bool = False,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via PPJoin-style PREFIX
    FILTERING — the provable candidate-reduction tier between the full
    inverted index (:func:`jaccard_pairs`) and probabilistic MinHash+LSH.

    Prefix-filtering principle (Chaudhuri/Ganti/Kaushik's SSJoin, Xiao et
    al.'s PPJoin): order every document's distinct shingles by one GLOBAL
    canonical order and keep only the first ``⌊(1−t)·|S|⌋ + 1`` (computed
    with recall-safe slack — see the inline note on the prefix bound) — if
    two sets have Jaccard ≥ t, their prefixes MUST share at least one element
    (fewer than that many misses cannot push the overlap below the
    threshold). Candidates therefore come from a self-join over prefix
    rows only, with recall 1 **by theorem**, not by tuning — unlike the
    stop-shingle cap (conservative Jaccard when it bites) or LSH bands
    (probabilistic recall). Using ascending document frequency as the
    canonical order puts each doc's RAREST shingles in its prefix, so the
    join keys are precisely the coldest posting lists: with t = 0.5 the
    index shrinks ~2× in rows, and far more in candidate volume, because
    the k²-fanout hot keys are exactly the ones prefixes avoid.

    Plan: (1) one map-side-combined df aggregate over the exploded shingle
    hashes; (2) a doc-keyed window ranks each doc's shingles by (df, hs) —
    a total order, so the prefix is deterministic on any engine; (3) the
    prefix self-join (SHUFFLE_HASH both sides — post-Generate sizes fool
    the broadcast estimator, see :func:`jaccard_pairs`) with PPJoin's
    LENGTH and POSITIONAL filters applied on the join output (min set
    size ≥ t·max, and the shared token's canonical ranks must leave
    enough remaining tokens to reach the overlap threshold — both
    recall-1-by-theorem, see the inline proofs — so provably-below-
    threshold pairs never reach verification); (4) exact verify: the
    surviving candidate pairs
    join each side's full sorted hash-set array (two doc-keyed linear
    shuffles) and ``array_intersect`` computes the true overlap. Every
    shuffle is linear in corpus shingle volume; the quadratic term is
    bounded by cold-key fanout ∧ the length-compatible band.
    """
    sh = hashed_shingle_rows(df, text_col)
    if materialize_shingles:
        # the exploded shingle index feeds THREE consumers (the df
        # aggregate, the prefix ranking, and the verify-side set arrays);
        # without a cut Spark recomputes the tokenize→shingle→hash scan
        # once per consumer. On a cluster the production shape is to WRITE
        # the shingle table once and reuse it; this flag approximates that
        # with a lazy localCheckpoint. Default OFF: each call pins a new
        # set of checkpoint blocks for the session lifetime (there is no
        # safe unpersist point inside a lazily-returned plan), and in a
        # single-JVM measurement the pinned blocks compete with shuffle
        # memory (measured: 3.4 s vs 5.3 s at sf0.1, but 61 s vs 38 s at
        # sf1 after repeated calls). Callers that own the lifecycle (run
        # once, or manage a keyed stage cache like queries_ext's) can
        # opt in.
        sh = sh.localCheckpoint(eager=False)
    dfreq = sh.groupBy("hs").agg(F.count(F.lit(1)).alias("dfreq"))
    w = Window.partitionBy("doc_id").orderBy("dfreq", "hs")
    # Prefix bound, with two deliberate slack terms (each can only LENGTHEN
    # the prefix — always recall-safe, at worst a few extra candidates):
    # 1. the candidate threshold is lowered by half of the output's 4-dp
    #    rounding ulp: the final filter keeps pairs whose ROUNDED jaccard
    #    >= t, i.e. true jaccard >= t - 0.00005, and the theorem must cover
    #    those too (review finding r06);
    # 2. +1e-6 before floor() absorbs IEEE error in (1-t)·|S| — e.g.
    #    (1-0.8)*5 evaluates to 0.9999999999999998 and would floor to 0,
    #    silently shortening the prefix below the theorem's bound for
    #    every |S| divisible by 5 at t=0.8 (review finding r06; double
    #    error here is ~|S|·1e-16, far below the 1e-6 slack for any
    #    realistic set size).
    gen_threshold = threshold - 0.00005
    prefix_len = (
        F.floor((1.0 - gen_threshold) * F.col("set_size") + 1e-6).cast("int")
        + 1
    )
    prefix = (
        sh.join(dfreq, "hs")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= prefix_len)
        .select("doc_id", "hs", "set_size", "rn")
    )
    # Candidate pruning BEFORE the full-array verify join (verdict r06
    # item 3), both recall-1-by-theorem under the gen_threshold slack:
    #
    # 1. PPJoin LENGTH FILTER: Jaccard >= t forces t·max(|A|,|B|) <=
    #    |A∩B| <= min(|A|,|B|), so min < t·max is provably below
    #    threshold. The sizes ride the prefix rows as one int column.
    #
    # 2. PPJoin POSITIONAL FILTER: for a shared canonical token at
    #    1-based ranks (i, j), the overlap reachable THROUGH this
    #    occurrence is at most 1 + min(|A|-i, |B|-j) (only tokens after
    #    the shared one can still match), while Jaccard >= t needs
    #    overlap >= t/(1+t)·(|A|+|B|). A row failing the bound cannot
    #    itself witness a match — and every TRUE match's FIRST common
    #    prefix token satisfies the bound exactly (no common tokens
    #    precede it, so overlap = 1 + common-after <= 1 + min remaining),
    #    so keeping pairs where ANY generating row passes loses nothing.
    #    1e-6 slack absorbs IEEE error in the α product, lengthening the
    #    candidate list only.
    alpha = (
        F.lit(gen_threshold)
        / F.lit(1.0 + gen_threshold)
        * (F.col("sz_a") + F.col("sz_b"))
    )
    ubound = F.lit(1) + F.least(
        F.col("sz_a") - F.col("rn_a"), F.col("sz_b") - F.col("rn_b")
    )
    cands = (
        prefix.select(
            F.col("doc_id").alias("doc_a"),
            "hs",
            F.col("set_size").alias("sz_a"),
            F.col("rn").alias("rn_a"),
        )
        .hint("SHUFFLE_HASH")
        .join(
            prefix.select(
                F.col("doc_id").alias("doc_b"),
                "hs",
                F.col("set_size").alias("sz_b"),
                F.col("rn").alias("rn_b"),
            ).hint("SHUFFLE_HASH"),
            "hs",
        )
        .filter(
            (F.col("doc_a") < F.col("doc_b"))
            # -1e-6 slack: the double product t'·max can land one ulp
            # ABOVE an exact integer boundary (e.g. 0.33995·20000 =
            # 6799.000000000001) and would drop a containment pair whose
            # true jaccard rounds to exactly t (review finding r07) —
            # same IEEE discipline as the prefix bound and alpha below
            & (
                F.least("sz_a", "sz_b")
                >= F.lit(gen_threshold) * F.greatest("sz_a", "sz_b")
                - F.lit(1e-6)
            )
            & (ubound >= alpha - F.lit(1e-6))
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    sets = sh.groupBy("doc_id").agg(
        F.array_sort(F.collect_list("hs")).alias("hset"),
        F.first("set_size").alias("sz"),
    )
    verified = (
        cands.join(
            sets.select(
                F.col("doc_id").alias("doc_a"),
                F.col("hset").alias("set_a"),
                F.col("sz").alias("size_a"),
            ),
            "doc_a",
        )
        .join(
            sets.select(
                F.col("doc_id").alias("doc_b"),
                F.col("hset").alias("set_b"),
                F.col("sz").alias("size_b"),
            ),
            "doc_b",
        )
        .withColumn(
            "inter", F.size(F.array_intersect("set_a", "set_b"))
        )
    )
    jac = F.col("inter") / (F.col("size_a") + F.col("size_b") - F.col("inter"))
    return verified.select(
        "doc_a", "doc_b", F.round(jac, 4).alias("jaccard")
    ).filter(F.col("jaccard") >= threshold)


def containment_prefix_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    text_col: str = "text",
    stop_max_df_frac: float | None = None,
    stop_min_df: int = 64,
    stop_max_df: int | None = None,
) -> DataFrame:
    """Exact shingle-containment pairs (C(A→B) = |A∩B| / |A| ≥ t,
    ordered, doc_a ≠ doc_b) via ASYMMETRIC prefix filtering — the
    sub-linear candidate path for :func:`containment_pairs`' measure
    (verdict r07 item 2: containment was the last miner family whose
    only plan was the full inverted-index self-join, 2.2 GB of shuffle
    at sf1).

    Asymmetric prefix principle (the T-overlap/SSJoin bound specialised
    to containment): C(A→B) ≥ t forces overlap ≥ ⌈t·|A|⌉, so A can miss
    at most |A| − ⌈t·|A|⌉ of its own tokens — the first
    ``|A| − ⌈t·|A|⌉ + 1`` tokens of A's canonical (ascending document
    frequency) order MUST share a token with B, or fewer than ⌈t·|A|⌉
    tokens remain to overlap at all. B is unbounded above (a fragment is
    contained in arbitrarily long docs), so B takes NO prefix: the join
    is A-PREFIX × B-FULL-INDEX. That is still the sub-linear win — A's
    prefixes are precisely its rarest tokens, so the k²-fanout hot
    posting lists pair only with the few docs whose prefix (not whole
    set) holds the hot key.

    Two further recall-1-by-theorem prunes ride the join output:

    * SIZE: overlap ≤ min(|A'|,|B'|) (primed = after stop-cap removal),
      so min(|A'|,|B'|) < t·|A| is provably below threshold.
    * POSITIONAL: a shared canonical token at 1-based filtered ranks
      (i, j) witnesses overlap ≤ 1 + min(|A'|−i, |B'|−j) (only tokens
      AFTER it in the shared global order can still match), and a true
      match's FIRST common token satisfies the bound exactly — keeping
      pairs where ANY generating row passes loses nothing.

    Stop-cap semantics match :func:`containment_pairs` exactly (capped
    shingles contribute no intersections; |A| in the denominator counts
    ALL shingles), so at thresholds/caps where no shingle crosses the
    cap the output is bit-identical to the exact join — the catalog
    entry pins that with the same DuckDB oracle. When caps DO bite, the
    prefix bound uses o_min = ⌈t·|A_full|⌉ over the FILTERED rank order,
    which only lengthens prefixes (recall-safe); a doc with
    |A'| < t·|A_full| can never reach threshold and its prefix length
    goes ≤ 0 — correctly generating no candidates.

    IEEE discipline (same as :func:`prefix_filter_pairs`): the working
    threshold is lowered by the 4-dp rounding half-ulp, and every
    float·int boundary carries 1e-6 slack in the recall-safe direction.

    Plan: one df aggregate (map-side combined), one doc-keyed window
    (rank + filtered size in the same pass), the A-prefix × B-full join
    (SHUFFLE_HASH — post-Generate sizes fool the broadcast estimator),
    candidate distinct, then the two doc-keyed array joins for exact
    verification. Every shuffle is linear in shingle volume except the
    candidate join, whose fanout is bounded by cold-key postings ×
    full postings instead of full².
    """
    sh = hashed_shingle_rows(df, text_col)
    if stop_max_df_frac is not None or stop_max_df is not None:
        n_docs_df = df.agg(F.count(F.lit(1)).alias("n_docs"))
        hot = stop_shingle_hashes(
            sh.select("doc_id", "hs"),
            n_docs_df,
            stop_max_df_frac,
            stop_min_df,
            stop_max_df,
        )
        sh = sh.join(F.broadcast(hot), "hs", "left_anti")
    dfreq = sh.groupBy("hs").agg(F.count(F.lit(1)).alias("dfreq"))
    w = Window.partitionBy("doc_id").orderBy("dfreq", "hs")
    wall = Window.partitionBy("doc_id")
    gen_threshold = threshold - 0.00005
    ranked = (
        sh.join(dfreq, "hs")
        .withColumn("rn", F.row_number().over(w))
        .withColumn("fsz", F.count(F.lit(1)).over(wall))
        .select("doc_id", "hs", "set_size", "rn", "fsz")
    )
    # A-side prefix length = |A'| − ⌈t'·|A|⌉ + 1, computed floor-safe:
    # floor(|A'| − t'·|A| + 1e-6) + 1 (the 1e-6 only ever LENGTHENS the
    # prefix — recall-safe; docs the stop cap starved below t'·|A| get a
    # non-positive length and generate nothing, provably correct)
    prefix_len = (
        F.floor(
            F.col("fsz") - F.lit(gen_threshold) * F.col("set_size") + 1e-6
        ).cast("int")
        + 1
    )
    a_prefix = ranked.filter(F.col("rn") <= prefix_len).select(
        F.col("doc_id").alias("doc_a"),
        "hs",
        F.col("set_size").alias("full_a"),
        F.col("fsz").alias("fsz_a"),
        F.col("rn").alias("rn_a"),
    )
    b_full = ranked.select(
        F.col("doc_id").alias("doc_b"),
        "hs",
        F.col("fsz").alias("fsz_b"),
        F.col("rn").alias("rn_b"),
    )
    need = F.lit(gen_threshold) * F.col("full_a") - F.lit(1e-6)
    ubound = F.lit(1) + F.least(
        F.col("fsz_a") - F.col("rn_a"), F.col("fsz_b") - F.col("rn_b")
    )
    cands = (
        a_prefix.hint("SHUFFLE_HASH")
        .join(b_full.hint("SHUFFLE_HASH"), "hs")
        .filter(
            (F.col("doc_a") != F.col("doc_b"))
            & (F.least("fsz_a", "fsz_b") >= need)
            & (ubound >= need)
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    sets = sh.groupBy("doc_id").agg(
        F.array_sort(F.collect_list("hs")).alias("hset"),
        F.first("set_size").alias("sz"),
    )
    verified = (
        cands.join(
            sets.select(
                F.col("doc_id").alias("doc_a"),
                F.col("hset").alias("set_a"),
                F.col("sz").alias("size_a"),
            ),
            "doc_a",
        )
        .join(
            sets.select(
                F.col("doc_id").alias("doc_b"),
                F.col("hset").alias("set_b"),
            ),
            "doc_b",
        )
        .withColumn("inter", F.size(F.array_intersect("set_a", "set_b")))
    )
    cont = F.col("inter") / F.col("size_a")
    return (
        verified.select(
            "doc_a", "doc_b", F.round(cont, 4).alias("containment")
        )
        .filter(F.col("containment") >= threshold)
    )


# ---------------------------------------------------------------------------
# Dedup tier: edit-distance near-dups (Ed-Join) — character-level
# verification, the fuzzy-match modality token shingles cannot express
# (a one-char typo in every word destroys word-shingle Jaccard but is
# trivially close in edit distance).
# ---------------------------------------------------------------------------


def ascii_projected(text_col: str | Column) -> Column:
    """Project every non-ASCII codepoint to ``'?'``.

    Edit distance is only engine-portable over this projection: Spark's
    ``levenshtein`` counts Unicode codepoints while DuckDB's counts UTF-8
    BYTES ('héllo'→'hello' is 1 on Spark, 2 on DuckDB). On the projection
    bytes ≡ codepoints, so both engines compute the identical distance —
    and both regex engines (Java util.regex, RE2) replace one supplementary
    codepoint with exactly one ``'?'``, so projected LENGTHS agree too
    (pinned empirically in tests). The projection is also the documented
    semantics: distances are over ASCII-projected text, a deterministic,
    engine-independent contract.
    """
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.regexp_replace(c, "[^\\x00-\\x7F]", "?")


def _char_qgram_rows(base: DataFrame, q: int) -> DataFrame:
    """(did, tl, hs) rows: hashed character q-grams, MULTISET (positional,
    duplicates kept — the q-gram lemma counts occurrences, not values).
    Hashing is recall-safe here: a 64-bit collision can only equate two
    distinct grams, which OVER-counts overlap — candidates are never lost,
    and the levenshtein verify is exact.

    Sub-``q`` docs emit an EMPTY array explicitly: ``sequence(1, 0)`` in
    Spark is the descending ``[1, 0]``, which would otherwise leak two
    junk partial grams per short doc into the index (recall-safe but
    spurious candidate volume)."""
    grams = F.when(
        F.col("tl") >= q,
        F.transform(
            F.sequence(F.lit(1), F.col("tl") - (q - 1)),
            lambda i: F.struct(
                F.xxhash64(F.substring(F.col("t"), i, F.lit(q))).alias("hs"),
                i.alias("pos"),
            ),
        ),
    ).otherwise(
        F.array().cast("array<struct<hs:bigint,pos:int>>")
    )
    return base.select(
        "did", "tl", F.explode(grams).alias("g")
    ).select("did", "tl", F.col("g.hs").alias("hs"), F.col("g.pos").alias("pos"))


def edit_distance_pairs(
    df: DataFrame,
    d: int = 24,
    q: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact edit-distance near-dup pairs: all ``a < b`` with
    ``levenshtein(proj(a), proj(b)) <= d`` over the ASCII projection
    (:func:`ascii_projected`) — recall 1 BY THEOREM via Ed-Join prefix
    filtering (Xiao, Wang, Lin, Yu: "Ed-Join", VLDB'08).

    Candidate generation, two disjoint-by-construction regimes:

    1. **Long docs** (> ``q·d + q - 1`` chars, i.e. more than ``q·d``
       q-gram occurrences): the multiset q-gram lemma — one edit destroys
       at most ``q`` of a string's ``n = len - q + 1`` positional q-grams,
       so ``ed(x, y) <= d`` forces multiset overlap
       ``>= max(n_x, n_y) - d·q > 0``. By the prefix-filtering principle
       under one global (dfreq, hs) order, the first ``d·q + 1`` gram
       occurrences of each side must then share a gram value, so
       candidates come from a self-join over per-doc PREFIXES of at most
       ``d·q + 1`` rows — join-key volume per doc is BOUNDED by the
       threshold, not the document length, and ascending-dfreq order
       makes those keys the coldest posting lists (same machinery as
       :func:`prefix_filter_pairs`). A short doc paired WITH a long one
       is caught here too: the lemma needs only ``max(n_x, n_y) > d·q``,
       and a short doc's whole gram multiset fits inside its prefix.

    2. **Short docs** (``<= q·d`` gram occurrences, incl. ``len < q``
       zero-gram docs): the lemma is vacuous — two such docs can be
       within ``d`` edits while sharing ZERO q-grams — so the short band
       pairs via LENGTH-BUCKET blocking instead: ``|len_a - len_b| <= d``
       (a theorem: ``ed >= |len difference|``) means bucket ids
       ``floor(len / (d+1))`` differ by at most 1, so one side probes its
       three neighbor buckets and every admissible pair meets exactly
       once. The band is bounded (docs under ``3d + 2`` chars ≈ tweet
       length at the default) and in a real corpus largely removed by the
       quality gate before dedup; the blocking keys keep it off the
       cross-join path regardless.

    Verification is Spark's native banded DP ``levenshtein(l, r, d)``
    (O(d·min(len)) per pair, JVM codegen — returns -1 past the
    threshold, so the filter is one integer comparison). Candidates
    carry projected lengths, so the ``|len_a - len_b| <= d`` prune runs
    BEFORE texts are joined back. Every shuffle is linear in corpus gram
    volume; the quadratic term is bounded by cold-key prefix fanout ∧
    the length band. Reference parity: extends the dedup tier family
    (reference has no fuzzy matching; nearest is exact-key dedup in
    grocery_reconcile_dag.py upsert keys).
    """
    if q < 2:
        raise ValueError("q must be >= 2 (q=1 grams carry no position)")
    base = df.select(
        F.col(id_col).alias("did"), ascii_projected(text_col).alias("t")
    ).withColumn("tl", F.length("t"))
    short_max = q * d + q - 1  # n_grams = tl - q + 1 <= q*d  ⇔  tl <= this

    # --- regime 1: prefix join over long-doc grams + ALL docs' grams ---
    # Build prefixes for every doc (short docs fit whole — rn never
    # exceeds their gram count); require at least one LONG side below so
    # the lemma applies. dfreq counts occurrences corpus-wide.
    gram_rows = _char_qgram_rows(base, q)
    dfreq = gram_rows.groupBy("hs").agg(F.count(F.lit(1)).alias("dfreq"))
    # pos as the in-doc tiebreak makes the occurrence order TOTAL, so the
    # location-based cut below is deterministic; the value multiset of
    # the first q·d+1 occurrences (what the join keys on) is unchanged.
    w = Window.partitionBy("did").orderBy("dfreq", "hs", "pos")
    capped = (
        gram_rows.join(dfreq, "hs")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= q * d + 1)
    )
    # Ed-Join LOCATION-BASED mismatch filtering (round 14, verdict r13
    # item 6; Xiao et al. VLDB'08 §4): the q·d+1 cap assumes adversarial
    # gram positions (one edit destroying q overlapping grams); the
    # tight prefix is the SHORTEST one whose grams need MORE than d
    # edits to all be destroyed — computed from the occurrences'
    # positions by the greedy interval cover (one edit kills grams
    # within a q-window; sorted-scan stabbing count = minimum edits to
    # destroy that position set). Text grams in rarity order are mostly
    # non-overlapping, so the cut lands near d+1 instead of q·d+1 —
    # ~q× fewer join keys per doc, quadratically fewer candidates on
    # hot grams. Recall stays 1 (prefix-filter argument, all regimes):
    # for disjoint prefixes under the global (dfreq, hs) order, either
    # every gram of the Ω-smaller prefix is missing from the other doc
    # (ed > d by this very cover bound — the cut guarantees cover > d
    # whenever it truncates), or the other side's prefix was NOT
    # truncated (its whole multiset is the prefix: zero shared grams at
    # all, and with one side long the multiset q-gram lemma forces
    # ed > d). The oracle (brute-force levenshtein) pins this
    # end-to-end. The fold is a JVM higher-order aggregate — no Python
    # boundary; n ≤ q·d+1 = 73 elements per doc at the defaults.
    kq = q  # capture for lambdas

    def _cover(sorted_pos):
        # greedy stabbing count of a SORTED position array with
        # q-length intervals = min edits to destroy all those grams
        return F.aggregate(
            sorted_pos,
            F.struct(F.lit(0).alias("cnt"), F.lit(-1).alias("last")),
            lambda a, p: F.when(
                p > a.getField("last"),
                F.struct(
                    (a.getField("cnt") + F.lit(1)).alias("cnt"),
                    (p + F.lit(kq - 1)).alias("last"),
                ),
            ).otherwise(a),
        ).getField("cnt")

    def _cut_step(acc, x):
        newc = F.array_sort(
            F.array_append(acc.getField("chosen"), x.getField("pos"))
        )
        return F.when(acc.getField("found"), acc).otherwise(
            F.struct(
                newc.alias("chosen"),
                (acc.getField("L") + F.lit(1)).alias("L"),
                (_cover(newc) > F.lit(d)).alias("found"),
            )
        )

    cut = F.aggregate(
        F.col("g"),
        F.struct(
            F.array().cast("array<int>").alias("chosen"),
            F.lit(0).alias("L"),
            F.lit(False).alias("found"),
        ),
        _cut_step,
        lambda acc: acc.getField("L"),
    )
    prefix = (
        # groupBy(did) rides the window's existing hash partitioning —
        # no extra exchange; g is rn-ascending after array_sort (rn
        # leads the struct), so slice(g, 1, L) IS the Ω-prefix
        capped.groupBy("did")
        .agg(
            F.first("tl").alias("tl"),
            F.array_sort(
                F.collect_list(F.struct("rn", "pos", "hs"))
            ).alias("g"),
        )
        .withColumn("L", cut)
        .select(
            "did",
            "tl",
            F.explode(F.slice("g", F.lit(1), F.col("L"))).alias("g"),
        )
        .select("did", "tl", F.col("g.hs").alias("hs"))
    )
    cand_long = (
        prefix.select(
            F.col("did").alias("doc_a"), F.col("tl").alias("tl_a"), "hs"
        )
        .hint("SHUFFLE_HASH")
        .join(
            prefix.select(
                F.col("did").alias("doc_b"), F.col("tl").alias("tl_b"), "hs"
            ).hint("SHUFFLE_HASH"),
            "hs",
        )
        .filter(
            (F.col("doc_a") < F.col("doc_b"))
            & (F.abs(F.col("tl_a") - F.col("tl_b")) <= d)
            & (F.greatest("tl_a", "tl_b") > short_max)
        )
        .select("doc_a", "doc_b")
    )

    # --- regime 2: short×short via length-bucket blocking ---
    short = base.filter(F.col("tl") <= short_max)
    probe = short.select(
        F.col("did").alias("doc_a"),
        F.col("tl").alias("tl_a"),
        F.explode(
            F.array(
                F.floor(F.col("tl") / (d + 1)) - 1,
                F.floor(F.col("tl") / (d + 1)),
                F.floor(F.col("tl") / (d + 1)) + 1,
            )
        ).alias("bk"),
    )
    build = short.select(
        F.col("did").alias("doc_b"),
        F.col("tl").alias("tl_b"),
        F.floor(F.col("tl") / (d + 1)).alias("bk"),
    )
    cand_short = (
        probe.join(build, "bk")
        .filter(
            (F.col("doc_a") < F.col("doc_b"))
            & (F.abs(F.col("tl_a") - F.col("tl_b")) <= d)
        )
        .select("doc_a", "doc_b")
    )

    cands = cand_long.unionByName(cand_short).distinct()

    # --- content-based mismatch filter (Ed-Join §5, round 14): one edit
    # changes the char histogram's L1 by at most 2 (insert/delete ±1 in
    # one bin, substitute ±1 in two), so ed <= d forces
    # Σ_c |freq_a(c) - freq_b(c)| <= 2d — recall-1 by construction. The
    # projection is ASCII, so 128 bins cover every char; the histogram
    # is O(128·len) ONCE per doc, the per-pair check is 128 integer ops
    # vs the banded DP's O(d·len) — measured: it kills ~99% of the
    # candidates (the verify join's selectivity is 256 true pairs out of
    # ~1.15M candidates at sf0.1) before any DP cell is evaluated.
    hist = F.transform(
        F.sequence(F.lit(0), F.lit(127)),
        lambda c: F.length("t")
        - F.length(F.replace(F.col("t"), F.char(c), F.lit(""))),
    )
    base_h = base.withColumn("h", hist)
    l1 = F.aggregate(
        F.zip_with("h_a", "h_b", lambda a, b: F.abs(a - b)),
        F.lit(0),
        lambda acc, x: acc + x,
    )

    # --- exact verify: banded levenshtein over projected text ---
    verified = (
        cands.join(
            base_h.select(
                F.col("did").alias("doc_a"),
                F.col("t").alias("t_a"),
                F.col("h").alias("h_a"),
            ),
            "doc_a",
        )
        .join(
            base_h.select(
                F.col("did").alias("doc_b"),
                F.col("t").alias("t_b"),
                F.col("h").alias("h_b"),
            ),
            "doc_b",
        )
        .filter(l1 <= 2 * d)
        .select("doc_a", "doc_b", "t_a", "t_b")
        .withColumn("lv", F.levenshtein("t_a", "t_b", d))
        .filter(F.col("lv") >= 0)
    )
    return verified.select(
        "doc_a", "doc_b", F.col("lv").cast("long").alias("edit_distance")
    )
