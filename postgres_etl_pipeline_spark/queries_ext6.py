"""Extension catalog, batch 6 (round 8): sub-linear candidate paths for
the last miner family (asymmetric containment via prefix filtering),
multi-pass sorted-neighborhood (suffix-order second pass), the IVF-PQ
composition (coarse pruning over the product-quantized ADC scan — the
production big-ANN shape), the PERSISTED cid-partitioned IVF layout
(partition pruning ≙ probing), and the leakage-safe split (near-dup
components hash as one unit). The streaming near-dup admission drain
lives with the other stream entries in queries_stream.py.

Same registry/oracle conventions as queries_ext.py.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .queries import register, spread, t
from .queries_ext5 import _containment_oracle, _PQ_ORACLE
from .session import local_frame

# ---------------------------------------------------------------------------
# Containment mining, prefix-filtered — the sub-linear twin of
# containment_dups (verdict r07 item 2)
# ---------------------------------------------------------------------------


@register(
    "containment_prefix_dups",
    _containment_oracle(0.6),
    survey="§7 Phase 5 extension: asymmetric containment pairs via "
    "PREFIX FILTERING (A-prefix × B-full join, size + positional "
    "prunes, recall 1 by theorem) — the sub-linear candidate path for "
    "the containment miner; same oracle as containment_dups, so a "
    "hash-green row IS the recall-1 proof against the exact join",
    tags=("ext", "dedup"),
)
def containment_prefix_dups(spark, sf_dir):
    """Same measure, threshold, and stop-cap config as
    ``containment_dups`` (C(A→B) ≥ 0.6 over documents, both
    orientations) — only the candidate plan differs: A-side canonical
    prefixes joined against the full index instead of the full
    inverted-index self-join. The shared oracle pins bit-identical
    output, i.e. recall 1 vs the exact path."""
    from .operators import dedup as D

    docs = spread(t(spark, sf_dir, "documents"))
    return D.containment_prefix_pairs(
        docs, threshold=0.6, stop_max_df_frac=0.2, stop_min_df=64
    )


# ---------------------------------------------------------------------------
# Multi-pass sorted-neighborhood — suffix-order second pass (verdict r07
# item 6: the classic SNM recall remedy)
# ---------------------------------------------------------------------------


def _snm_multipass_oracle(window: int = 3, thr: float = 0.5) -> str:
    from .queries_ext import _NORM, _SHINGLES, _TOKS

    offsets = ", ".join(str(o) for o in range(1, window))
    return f"""
    WITH nd AS (
      SELECT doc_id, {_NORM} AS k FROM documents
    ),
    r1 AS (
      SELECT doc_id, row_number() OVER (ORDER BY k, doc_id) AS rn FROM nd
    ),
    r2 AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY reverse(k), doc_id) AS rn FROM nd
    ),
    cand AS (
      SELECT least(a.doc_id, b.doc_id) AS doc_a,
             greatest(a.doc_id, b.doc_id) AS doc_b
      FROM r1 a JOIN r1 b ON b.rn - a.rn IN ({offsets})
      UNION
      SELECT least(a.doc_id, b.doc_id) AS doc_a,
             greatest(a.doc_id, b.doc_id) AS doc_b
      FROM r2 a JOIN r2 b ON b.rn - a.rn IN ({offsets})
    ),
    toks AS (SELECT doc_id, {_TOKS} AS l FROM documents),
    sh AS (SELECT doc_id, unnest({_SHINGLES}) AS shingle FROM toks),
    sizes AS (SELECT doc_id, count(*) AS set_size FROM sh GROUP BY 1),
    inter AS (
      SELECT c.doc_a, c.doc_b, count(*) AS inter
      FROM cand c
      JOIN sh x ON x.doc_id = c.doc_a
      JOIN sh y ON y.doc_id = c.doc_b AND y.shingle = x.shingle
      GROUP BY 1, 2
    )
    SELECT i.doc_a, i.doc_b,
           round(CAST(i.inter AS DOUBLE)
                 / (sa.set_size + sb.set_size - i.inter), 4) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE round(CAST(i.inter AS DOUBLE)
                / (sa.set_size + sb.set_size - i.inter), 4) >= {thr}
    """


@register(
    "snm_multipass_near_dups",
    _snm_multipass_oracle(),
    survey="§7 north-star extension: MULTI-PASS sorted-neighborhood — a "
    "second sliding-window pass over the REVERSED normalized text "
    "(suffix blocking) union'd with the prefix pass before one exact "
    "verification; catches prefix-divergent near-dups the single order "
    "provably misses, at the same (window-1)*N per-pass candidate bound",
    tags=("ext", "dedup"),
)
def snm_multipass_near_dups(spark, sf_dir):
    """SNM with prefix + suffix blocking orders at window 3, t = 0.5 —
    the recall superset of ``snm_near_dups`` (every single-pass pair is
    also a multi-pass candidate; the suffix pass adds pairs whose texts
    share tails but diverge at the front, e.g. differing leading
    boilerplate)."""
    from .operators.dedup import multipass_snm_pairs
    from .operators.text import normalize_ws

    docs = spread(t(spark, sf_dir, "documents"))
    norm = F.lower(normalize_ws(F.col("text")))
    return multipass_snm_pairs(
        docs, [norm, F.reverse(norm)], window=3, threshold=0.5
    )


# ---------------------------------------------------------------------------
# IVF-PQ — coarse partition pruning composed over the product-quantized
# ADC scan (verdict r07 item 7: the production big-ANN shape)
# ---------------------------------------------------------------------------


@register(
    "ivfpq_topk",
    # Probe-ALL mode (n_probe = n_centroids) makes the IVF stage a no-op
    # filter, so the output equals pq_topk's and hash-oracles against the
    # same PQ SQL (the embedding_ivf_topk probe-all discipline). The
    # sub-linear n_probe < n_centroids path is pinned by measured-recall
    # tests + the SCALE.md scanned-fraction row.
    _PQ_ORACLE,
    survey="§7 Phase 5 extension: IVF-PQ composition — the coarse "
    "quantizer prunes WHICH inverted lists each query scans "
    "(scan fraction ≈ n_probe/n_centroids, a broadcast semi-join that "
    "becomes partition pruning on a cid-partitioned corpus) while PQ "
    "compresses HOW scanned vectors score (exact-int64 ADC, 8 bytes/"
    "vector); catalog entry runs probe-all = exact PQ twin",
    tags=("ext", "similarity"),
)
def ivfpq_topk(spark, sf_dir):
    """IVF-PQ top-5 for the first-20-vector probe slice, probe-all
    configuration (see the register comment). Same cheap-layout
    discipline as ``embedding_ivf_topk``: with every list scanned the
    centroid placement cannot change the output, so the quantizer
    trains with one iteration of random init."""
    from .operators import similarity as S

    emb = spread(t(spark, sf_dir, "embeddings"))
    return S.ivfpq_topk(
        corpus=emb,
        queries=emb.filter(F.col("vec_id") < 20),
        k=5,
        rerank=4,
        n_centroids=16,
        n_probe=16,
        kmeans_max_iter=1,
        kmeans_init="random",
    )


# ---------------------------------------------------------------------------
# Persisted IVF index — partition pruning ≙ probing, as an operator
# ---------------------------------------------------------------------------


def _cosine_topk_oracle() -> str:
    from .queries_ext import _COSINE_TOPK_ORACLE

    return _COSINE_TOPK_ORACLE


@register(
    "ivf_partitioned_topk",
    _cosine_topk_oracle(),
    survey="§7 Phase 5 extension: the PERSISTED IVF layout — corpus "
    "written parquet-partitioned by centroid id (one assignment scan + "
    "one partitioned write = the index build), probe lists becoming "
    "file-level PartitionFilters on read (pinned in plan tests); "
    "probe-all = exact, hash-oracled against the brute-force cosine SQL",
    tags=("ext", "similarity"),
)
def ivf_partitioned_topk(spark, sf_dir):
    """Build the cid-partitioned index in scratch, search it probe-all
    (hash-equal to brute force; the pruned n_probe < n_centroids path is
    pinned by plan + recall tests), collect eagerly, clean up — the
    stream_cdc_apply scratch-lifecycle discipline."""
    import shutil
    import tempfile

    from .operators import similarity as S

    emb = spread(t(spark, sf_dir, "embeddings"))
    scratch = tempfile.mkdtemp(prefix="ivf_index_")
    try:
        path = scratch + "/index"
        S.write_ivf_index(
            emb, path, n_centroids=16, kmeans_max_iter=1, kmeans_init="random"
        )
        out = S.ivf_index_topk(
            spark, path, emb.filter(F.col("vec_id") < 20), k=5, n_probe=16
        )
        rows = out.collect()
        schema = out.schema
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    return local_frame(spark, rows, schema)


# ---------------------------------------------------------------------------
# Leakage-safe split — near-dup components hash as ONE unit
# ---------------------------------------------------------------------------


def _leakage_split_oracle() -> str:
    from .queries_ext import _CC_CTES

    return f"""
    WITH RECURSIVE {_CC_CTES},
    rep AS (
      SELECT d.doc_id,
             CAST(coalesce(cc.cluster_id, d.doc_id) AS BIGINT) AS cluster_rep
      FROM documents d LEFT JOIN cc ON cc.doc_id = d.doc_id
    )
    SELECT doc_id, cluster_rep,
           CASE WHEN bucket < 52429 THEN 'train'
                WHEN bucket < 58982 THEN 'val'
                ELSE 'test' END AS split
    FROM (SELECT doc_id, cluster_rep,
                 CAST(('0x' || substr(md5(CAST(cluster_rep AS VARCHAR)), 1, 4))
                      AS BIGINT) AS bucket
          FROM rep)
    """


@register(
    "leakage_safe_split",
    _leakage_split_oracle(),
    survey="§7 Phase 5 extension: LEAKAGE-SAFE train/val/test split — the "
    "md5-bucket rule applied to the near-dup CLUSTER REPRESENTATIVE "
    "(minhash pairs → CC → coalesce singletons), so a test doc can never "
    "have a near-duplicate in train; composes the shared pair stage, the "
    "CC kernel, and the split rule into the eval-decontamination "
    "guarantee a training pipeline actually needs",
    tags=("ext", "dedup", "assembly"),
)
def leakage_safe_split(spark, sf_dir):
    """80/10/10 split keyed by near-dup component representative. Uses
    the shared minhash pair stage (mined once per session per sf_dir —
    the production pipeline shape where one candidate-pair table feeds
    cluster labels, keep-lists, audits, AND the split)."""
    from .operators.graph import leakage_safe_split as _lss
    from .queries_ext import _minhash_pair_stage

    docs = t(spark, sf_dir, "documents")
    pairs = _minhash_pair_stage(spark, sf_dir)
    return _lss(docs, pairs)


# ---------------------------------------------------------------------------
# Incremental top-k maintenance — the growing-corpus ANN story
# ---------------------------------------------------------------------------


@register(
    "incremental_topk_update",
    # full-recompute equality is the operator's THEOREM (pure per-pair
    # scores: top-k(old ∪ batch) = top-k(old-top-k ∪ batch-scores)), so
    # the oracle is simply the brute-force cosine SQL over the whole
    # corpus — a hash-green row proves the incremental merge exact
    _cosine_topk_oracle(),
    survey="§7 Phase 5 extension: INCREMENTAL top-k maintenance — merge "
    "the stored per-query top-k with exact scores over the new batch "
    "only (O(batch + Q·k) per increment, never an O(corpus) rescan), "
    "re-rank on the shared 4-dp + id total order; hash-equal to full "
    "recompute by construction, pinned against the brute-force oracle",
    tags=("ext", "similarity"),
)
def incremental_topk_update(spark, sf_dir):
    """The vec_id % 5 == 4 slice arrives as the new batch against a
    stored top-k built from the rest; the merged result must equal the
    full-corpus brute-force answer exactly (see the operator's
    by-construction argument)."""
    from .operators import similarity as S

    emb = spread(t(spark, sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") < 20)
    stored = emb.filter(F.col("vec_id") % 5 != 4)
    batch = emb.filter(F.col("vec_id") % 5 == 4)
    stored_topk = S.brute_force_topk(stored, queries, k=5)
    return S.incremental_topk_update(stored_topk, batch, queries, k=5)


# ---------------------------------------------------------------------------
# Filtered similarity search — per-query metadata constraint
# ---------------------------------------------------------------------------


_FILTERED_TOPK_ORACLE = """
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e, label FROM embeddings
    ),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             round(list_cosine_similarity(q.e, c.e), 4) AS cos_sim
      FROM v q JOIN v c ON q.vec_id <> c.vec_id AND c.label = q.label
      WHERE q.vec_id < 20
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY cos_sim DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, cos_sim, rank FROM ranked WHERE rank <= 5
    """


@register(
    "filtered_label_topk",
    _FILTERED_TOPK_ORACLE,
    survey="§7 Phase 5 extension: FILTERED similarity search — per-query "
    "top-k restricted to corpus vectors matching the query's metadata "
    "(same-label here; the tenant/language/license constraint every "
    "vector system grows into, where post-filtering under-fills k): "
    "filter as the key of a broadcast join, corpus never shuffled "
    "by the filter column, exact by construction",
    tags=("ext", "similarity"),
)
def filtered_label_topk(spark, sf_dir):
    from .operators import similarity as S

    emb = spread(t(spark, sf_dir, "embeddings"))
    return S.filtered_topk(
        emb, emb.filter(F.col("vec_id") < 20), filter_col="label", k=5
    )


# ---------------------------------------------------------------------------
# Bigram-interpolated LM quality scoring — word-order typicality
# ---------------------------------------------------------------------------


def _bigram_logprob_oracle() -> str:
    from .queries_ext import _TOKS

    return f"""
    WITH tok AS (SELECT doc_id, {_TOKS} AS l FROM documents),
    bi AS (
      SELECT doc_id,
             unnest(l[1:len(l)-1]) AS prev,
             unnest(l[2:len(l)]) AS cur
      FROM tok
    ),
    tf2 AS (
      SELECT doc_id, prev, cur, count(*) AS tf FROM bi GROUP BY 1, 2, 3
    ),
    bg AS (SELECT prev, cur, CAST(sum(tf) AS BIGINT) AS bgc
           FROM tf2 GROUP BY 1, 2),
    pc AS (SELECT prev, CAST(sum(tf) AS BIGINT) AS pfc FROM tf2 GROUP BY 1),
    flat AS (SELECT unnest(l) AS tok FROM tok),
    uni AS (SELECT tok, CAST(count(*) AS BIGINT) AS gf FROM flat GROUP BY 1),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS total FROM flat)
    SELECT tf2.doc_id,
           CAST(sum(tf2.tf) AS BIGINT) AS n_bigrams,
           round(sum(tf2.tf * ln(
                   0.75 * CAST(bg.bgc AS DOUBLE) / pc.pfc
                 + 0.25 * CAST(uni.gf AS DOUBLE) / tot.total))
                 / sum(tf2.tf), 4) AS mean_logprob
    FROM tf2
    JOIN bg USING (prev, cur)
    JOIN pc USING (prev)
    JOIN uni ON uni.tok = tf2.cur
    CROSS JOIN tot
    GROUP BY 1
    """


@register(
    "doc_bigram_logprob",
    _bigram_logprob_oracle(),
    survey="§7 Phase 5 extension: bigram-interpolated LM quality signal "
    "(λ·P(wᵢ|wᵢ₋₁) + (1−λ)·P(wᵢ), λ=0.75) — word-ORDER typicality the "
    "unigram score cannot see (scrambled/template-stitched text drops "
    "hard at a corpus-typical token mix); same skew-safe broadcast-back "
    "shape one n-gram order up, instance relation never shuffled by token",
    tags=("ext", "text"),
)
def doc_bigram_logprob(spark, sf_dir):
    from .operators import text as X

    return X.bigram_logprob_scores(spread(t(spark, sf_dir, "documents")))
