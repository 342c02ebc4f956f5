"""Extension catalog, batch 8 (round 10): the ANN maintenance algebra
CLOSED — tombstone deletes at both index tiers (delete-then-search ==
rebuild-from-survivors; the compliance half append-only left open),
drift-triggered residual-codebook retraining (drift-append-retrain ==
one-shot rebuild; the repair for SCALE.md's top documented gap), and the
compressed-tier re-split made oracle-expressible (anchor children, so the
composed build→append→re-split→search pipeline hash-pins end to end —
the "drained == rebuild" bit-identity restored at the IVFADC tier).

Same registry/oracle conventions as queries_ext.py.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .queries import register, spread, t
from .queries_ext7 import _IVFPQ_RESIDUAL_ORACLE, _ivfpq_residual_oracle_sql
from .session import local_frame

_EMPTY_TOPK = "query_id long, neighbor_id long, cos_sim double, rank int"

# ---------------------------------------------------------------------------
# Tombstone deletes — verdict r09 item 2
# ---------------------------------------------------------------------------

# brute-force cosine over the SURVIVING corpus rows: queries unchanged
# (query vectors are external inputs), the candidate pool loses the
# tombstoned ids — exactly what delete-then-search serves
_DELETE_TOPK_ORACLE = """
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             round(list_cosine_similarity(q.e, c.e), 4) AS cos_sim
      FROM v q JOIN v c ON q.vec_id <> c.vec_id
      WHERE q.vec_id < 20 AND c.vec_id % 7 <> 3
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY cos_sim DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, cos_sim, rank FROM ranked WHERE rank <= 5
    """


@register(
    "ivf_delete_topk",
    # probe-all search over the post-delete index is exact search over
    # the surviving rows, so the oracle is brute-force cosine restricted
    # to survivors — a hash-green row proves delete-then-search ==
    # rebuild-from-survivors-then-search (the ivf_append_topk
    # discipline, extended through the delete path)
    _DELETE_TOPK_ORACLE,
    survey="§7 Phase 5 extension (verdict r09 item 2): tombstone DELETES "
    "against the persisted IVF index — anti-join each AFFECTED cid "
    "partition against the tombstone ids and rewrite only those "
    "partitions through the crash-safe staged swap (O(affected cells), "
    "never O(corpus); the CDC tombstone discipline at the index layout); "
    "probe-all = exact over survivors, hash-oracled",
    tags=("ext", "similarity"),
)
def ivf_delete_topk(spark, sf_dir):
    """Build the cid-partitioned index over the full corpus, DELETE the
    vec_id % 7 == 3 rows (license-revocation shape), search probe-all —
    hash-equal to brute force over the survivors. Only the affected cid
    directories are rewritten (pinned in tests/test_ann_lifecycle.py);
    scratch-lifecycle discipline as the other persisted-index entries."""
    import shutil
    import tempfile

    from .operators import similarity as S

    emb = spread(t(spark, sf_dir, "embeddings"))
    scratch = tempfile.mkdtemp(prefix="ivf_delete_")
    try:
        path = scratch + "/index"
        cents = S.write_ivf_index(
            emb, path, n_centroids=16, kmeans_max_iter=1, kmeans_init="random"
        )
        if len(cents):
            S.delete_from_ivf_index(
                spark, path, emb.filter(F.col("vec_id") % 7 == 3)
            )
        out = S.ivf_index_topk(
            spark, path, emb.filter(F.col("vec_id") < 20),
            k=5, n_probe=max(1, len(cents)),
        )
        rows = out.collect()
        schema = out.schema
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    return local_frame(spark, rows, schema)


@register(
    "ivfpq_delete_search",
    # the compressed twin: sidecars and stored codes derive from the
    # FULL corpus (built before the delete; deletion never touches
    # them), so the oracle is the full residual pipeline with ONLY the
    # candidate pool restricted to survivors — a hash-green row proves
    # the deleted rows left every surviving row's encoding untouched
    _ivfpq_residual_oracle_sql(survivor_pred="c.vec_id % 7 <> 3"),
    survey="§7 Phase 5 extension (verdict r09 item 2): tombstone DELETES "
    "at the COMPRESSED tier — same staged per-partition rewrite "
    "(deletion never touches codes, centroids, or sidecars: surviving "
    "rows keep the exact encoding a rebuild-from-survivors with the "
    "same sidecars would assign); probe-all hash-oracled against the "
    "residual pipeline SQL with the survivor restriction",
    tags=("ext", "similarity"),
)
def ivfpq_delete_search(spark, sf_dir):
    """Build the IVFADC layout (anchor derivations over the FULL corpus
    — what the oracle re-derives), delete the vec_id % 7 == 3 rows,
    search probe-all."""
    import shutil
    import tempfile

    from .operators import similarity as S

    emb = spread(t(spark, sf_dir, "embeddings"))
    scratch = tempfile.mkdtemp(prefix="ivfpq_delete_")
    try:
        if emb.limit(1).count() == 0:
            return local_frame(spark, [], _EMPTY_TOPK)
        path = scratch + "/index"
        S.write_ivfpq_index(emb, path, n_centroids=8, coarse="anchor")
        S.delete_from_ivf_index(
            spark, path, emb.filter(F.col("vec_id") % 7 == 3)
        )
        out = S.ivf_index_topk(
            spark, path, emb.filter(F.col("vec_id") < 20),
            k=5, rerank=4, n_probe=8,
        )
        rows = out.collect()
        schema = out.schema
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    return local_frame(spark, rows, schema)


# ---------------------------------------------------------------------------
# Drift-triggered codebook retraining — verdict r09 item 1
# ---------------------------------------------------------------------------


@register(
    "ivfpq_drift_retrain",
    # build with a deliberately STALE codebook (anchor derivation over
    # the build slice only), append the rest, retrain in anchor mode:
    # the retrain re-derives the codebook over the FULL post-append
    # corpus — exactly what a one-shot build derives — and the linear
    # re-encode makes every stored code what the one-shot build would
    # have written, so the probe-all search shares the full
    # residual-pipeline oracle VERBATIM. A hash-green row proves
    # drift-append-retrain-then-search == one-shot-rebuild-then-search.
    _IVFPQ_RESIDUAL_ORACLE,
    survey="§7 Phase 5 extension (verdict r09 item 1): drift-triggered "
    "IVFADC codebook retraining — measure residual-quantization error "
    "on appended data vs the _meta sidecar's training-time baseline; "
    "past threshold, retrain the residual codebook over the current "
    "corpus + ONE linear codes-only re-encode pass (cells preserved, "
    "crash-safe staged swap, trigger re-baselined); below threshold a "
    "guaranteed zero-write no-op (pinned). Probe-all hash-equals the "
    "one-shot rebuild; recall repair under synthetic drift pinned in "
    "tests/test_similarity_recall.py",
    tags=("ext", "similarity"),
)
def ivfpq_drift_retrain(spark, sf_dir):
    """The maintenance cycle the 100 TB corpus actually runs: build on
    the first data wave with a codebook trained on THAT wave, append the
    next wave (codebook now stale), retrain past the drift threshold
    (0.0 here — deterministic trigger; the measured-drift trigger is
    pinned in tests), search probe-all."""
    import shutil
    import tempfile

    from .operators import similarity as S

    emb = spread(t(spark, sf_dir, "embeddings"))
    scratch = tempfile.mkdtemp(prefix="ivfpq_retrain_")
    try:
        if emb.limit(1).count() == 0:
            return local_frame(spark, [], _EMPTY_TOPK)
        path = scratch + "/index"
        build_df = emb.filter(F.col("vec_id") % 5 != 4)
        append_df = emb.filter(F.col("vec_id") % 5 == 4)
        if build_df.limit(1).count() == 0:
            build_df, append_df = emb, None  # advice r09 #3 discipline
        Cc = S.lattice_anchor_centroids(emb, 8)
        S.write_ivfpq_index(
            build_df, path, coarse_cents=Cc,
            codebook=S.anchor_residual_codebook(build_df, Cc),
        )
        if append_df is not None:
            S.append_to_ivf_index(append_df, path)
        S.retrain_ivfpq_codebook(
            spark, path, drift_threshold=0.0, mode="anchor"
        )
        out = S.ivf_index_topk(
            spark, path, emb.filter(F.col("vec_id") < 20),
            k=5, rerank=4, n_probe=8,
        )
        rows = out.collect()
        schema = out.schema
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    return local_frame(spark, rows, schema)


# ---------------------------------------------------------------------------
# Compressed-tier re-split, oracle-expressible — verdict r09 item 4
# ---------------------------------------------------------------------------


def _ivfpq_resplit_oracle_sql() -> str:
    """The residual-pipeline oracle EXTENDED with the anchor re-split:
    after the base derivations (8 anchor centroids, full-corpus anchor
    residual codebook — both derived BEFORE the split, as the build
    does), the hottest cell (max rows, ties → lowest cid) is split into
    2 anchor children (the lattice codes of its 2 hash-first rows),
    that cell's rows reassign among the children ONLY (exact int64,
    ties → lower child; child 0 keeps the old cid, child 1 takes the
    tail cid 8), their residuals re-anchor against the owning child, and
    their codes re-derive against the UNCHANGED global codebook — then
    the ADC pipeline runs over the 9-centroid set with each row's LUT
    keyed by its ASSIGNED (not globally-nearest) cell, exactly the
    stored layout's semantics."""
    return """
    WITH v AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(floor(x * 1000.0 + 0.5) AS BIGINT)) AS q
      FROM embeddings
    ),
    params AS (SELECT CAST(len(q) // 8 AS BIGINT) AS d FROM v LIMIT 1),
    dims AS (SELECT unnest(range(1, p.d * 8 + 1)) AS j, p.d AS d
             FROM params p),
    idx AS (SELECT CAST((j - 1) // d AS INT) AS s, j FROM dims),
    cents AS (
      SELECT row_number() OVER (
               ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cid,
             q
      FROM v
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
      LIMIT 8
    ),
    cdist AS (
      SELECT v.vec_id, c.cid,
             CAST(SUM((v.q[dims.j] - c.q[dims.j])
                      * (v.q[dims.j] - c.q[dims.j])) AS BIGINT) AS dist
      FROM v CROSS JOIN cents c CROSS JOIN dims
      GROUP BY 1, 2
    ),
    assign AS (
      SELECT vec_id, cid
      FROM (SELECT vec_id, cid, row_number() OVER (
              PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM cdist)
      WHERE rn = 1
    ),
    res AS (
      SELECT v.vec_id, a.cid,
             list_transform(range(1, p.d * 8 + 1),
                            j -> v.q[j] - c.q[j]) AS r
      FROM v
      JOIN assign a USING (vec_id)
      JOIN cents c ON c.cid = a.cid
      CROSS JOIN params p
    ),
    book AS (
      SELECT row_number() OVER (
               ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS code,
             r
      FROM res
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
      LIMIT 256
    ),
    -- the re-split: hottest cell -> 2 anchor children
    hot AS (
      SELECT cid FROM (SELECT cid, count(*) AS n FROM assign GROUP BY 1)
      ORDER BY n DESC, cid LIMIT 1
    ),
    children AS (
      SELECT row_number() OVER (
               ORDER BY md5(CAST(v.vec_id AS VARCHAR)), v.vec_id) - 1
               AS child,
             v.q
      FROM v JOIN assign a USING (vec_id) JOIN hot h ON a.cid = h.cid
      ORDER BY md5(CAST(v.vec_id AS VARCHAR)), v.vec_id
      LIMIT 2
    ),
    cents2 AS (
      SELECT c.cid, c.q FROM cents c WHERE c.cid <> (SELECT cid FROM hot)
      UNION ALL
      SELECT (SELECT cid FROM hot) AS cid, q FROM children WHERE child = 0
      UNION ALL
      SELECT 8 AS cid, q FROM children WHERE child = 1
    ),
    hotdist AS (
      SELECT a.vec_id, ch.child,
             CAST(SUM((v.q[dims.j] - ch.q[dims.j])
                      * (v.q[dims.j] - ch.q[dims.j])) AS BIGINT) AS dist
      FROM assign a JOIN hot h ON a.cid = h.cid
      JOIN v USING (vec_id) CROSS JOIN children ch CROSS JOIN dims
      GROUP BY 1, 2
    ),
    assign2 AS (
      SELECT a.vec_id, a.cid FROM assign a
      WHERE a.cid <> (SELECT cid FROM hot)
      UNION ALL
      SELECT vec_id,
             CASE WHEN child = 0 THEN (SELECT cid FROM hot)
                  ELSE 8 END AS cid
      FROM (SELECT vec_id, child, row_number() OVER (
              PARTITION BY vec_id ORDER BY dist, child) AS rn FROM hotdist)
      WHERE rn = 1
    ),
    res2 AS (
      SELECT v.vec_id, a.cid,
             list_transform(range(1, p.d * 8 + 1),
                            j -> v.q[j] - c.q[j]) AS r
      FROM v
      JOIN assign2 a USING (vec_id)
      JOIN cents2 c ON c.cid = a.cid
      CROSS JOIN params p
    ),
    cd AS (
      SELECT res2.vec_id, b.code, idx.s,
             CAST(SUM((res2.r[idx.j] - b.r[idx.j])
                      * (res2.r[idx.j] - b.r[idx.j])) AS BIGINT) AS dist
      FROM res2 CROSS JOIN book b CROSS JOIN idx
      GROUP BY 1, 2, 3
    ),
    codes AS (
      SELECT vec_id, s, code
      FROM (SELECT vec_id, s, code, row_number() OVER (
              PARTITION BY vec_id, s ORDER BY dist, code) AS rn FROM cd)
      WHERE rn = 1
    ),
    qres AS (
      SELECT v.vec_id AS query_id, c.cid,
             list_transform(range(1, p.d * 8 + 1),
                            j -> v.q[j] - c.q[j]) AS r
      FROM v CROSS JOIN cents2 c CROSS JOIN params p
      WHERE v.vec_id < 20
    ),
    lut AS (
      SELECT q.query_id, q.cid, idx.s, b.code,
             CAST(SUM((q.r[idx.j] - b.r[idx.j])
                      * (q.r[idx.j] - b.r[idx.j])) AS BIGINT) AS dist
      FROM qres q CROSS JOIN book b CROSS JOIN idx
      GROUP BY 1, 2, 3, 4
    ),
    adc AS (
      SELECT l.query_id, c.vec_id AS neighbor_id,
             CAST(SUM(l.dist) AS BIGINT) AS adc
      FROM codes c
      JOIN assign2 a ON a.vec_id = c.vec_id
      JOIN lut l ON l.cid = a.cid AND l.s = c.s AND l.code = c.code
      WHERE c.vec_id <> l.query_id
      GROUP BY 1, 2
    ),
    cands AS (
      SELECT query_id, neighbor_id,
             row_number() OVER (
               PARTITION BY query_id ORDER BY adc, neighbor_id) AS crank
      FROM adc
    ),
    exact AS (
      SELECT query_id, neighbor_id,
             round(list_cosine_similarity(qv.e, cv.e), 4) AS cos_sim
      FROM cands
      JOIN v qv ON qv.vec_id = query_id
      JOIN v cv ON cv.vec_id = neighbor_id
      WHERE crank <= 20
    )
    SELECT query_id, neighbor_id, cos_sim,
           row_number() OVER (PARTITION BY query_id
             ORDER BY cos_sim DESC, neighbor_id) AS rank
    FROM exact
    QUALIFY rank <= 5
    """


@register(
    "ivfpq_append_resplit_search",
    # the whole composed maintenance cycle — build (fixed full-corpus
    # anchor sidecars) → append → anchor re-split of the hottest cell →
    # probe-all ADC search — re-derived bit-for-bit in SQL, including
    # the split: child derivation, children-only reassignment, residual
    # re-anchoring against the owning child, code re-derivation against
    # the unchanged global codebook, and the 9-list LUT keyed by
    # ASSIGNED cell. A hash-green row restores the "drained == rebuild"
    # bit-identity invariant at the compressed tier (verdict r09 item 4)
    _ivfpq_resplit_oracle_sql(),
    survey="§7 Phase 5 extension (verdict r09 item 4): IVFADC hot-cell "
    "re-split WITH re-encode, oracle-expressible — split_mode='anchor' "
    "derives the children as the cell's hash-first lattice rows, so the "
    "entire build→append→re-split→search composition stays exact int64 "
    "and hash-pins against a DuckDB re-derivation of the split itself; "
    "the Lloyd split tier keeps its measured-recall + invariant tests",
    tags=("ext", "similarity"),
)
def ivfpq_append_resplit_search(spark, sf_dir):
    """The compressed-tier maintenance composition: build from the
    vec_id % 5 != 4 slice with FULL-corpus anchor sidecars pinned (what
    the oracle derives), append the % 5 == 4 slice, anchor-re-split the
    hottest cell, search probe-all over the 9 lists."""
    import shutil
    import tempfile

    from .operators import similarity as S

    emb = spread(t(spark, sf_dir, "embeddings"))
    scratch = tempfile.mkdtemp(prefix="ivfpq_resplit_")
    try:
        if emb.limit(1).count() == 0:
            return local_frame(spark, [], _EMPTY_TOPK)
        path = scratch + "/index"
        build_df = emb.filter(F.col("vec_id") % 5 != 4)
        append_df = emb.filter(F.col("vec_id") % 5 == 4)
        if build_df.limit(1).count() == 0:
            build_df, append_df = emb, None  # advice r09 #3 discipline
        Cc = S.lattice_anchor_centroids(emb, 8)
        S.write_ivfpq_index(
            build_df, path, coarse_cents=Cc,
            codebook=S.anchor_residual_codebook(emb, Cc),
        )
        if append_df is not None:
            S.append_to_ivf_index(append_df, path)
        new_cents = S.resplit_ivf_cell(
            spark, path, n_sub=2, split_mode="anchor"
        )
        out = S.ivf_index_topk(
            spark, path, emb.filter(F.col("vec_id") < 20),
            k=5, rerank=4, n_probe=len(new_cents),
        )
        rows = out.collect()
        schema = out.schema
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    return local_frame(spark, rows, schema)


# ---------------------------------------------------------------------------
# Small-files compaction of the streamed-into index (round 10 addition)
# ---------------------------------------------------------------------------


def _cosine_topk_oracle2() -> str:
    from .queries_ext import _COSINE_TOPK_ORACLE

    return _COSINE_TOPK_ORACLE


@register(
    "ivf_compacted_topk",
    # compaction is a pure file-layout change — probe-all search over
    # the compacted index is exact search over the same rows, so the
    # oracle is brute-force cosine; a hash-green row proves the
    # fragment-heavy append history and the compaction rewrite both
    # preserved every row
    _cosine_topk_oracle2(),
    survey="§7 Phase 5 extension (round 10): small-files COMPACTION of "
    "the cid-partitioned ANN layout — every streaming append lands ≥1 "
    "file per touched cell, so long-lived indexes fragment into "
    "file-open benchmarks; compact_ivf_cells rewrites ONLY cells whose "
    "file count exceeds their size-targeted number (metadata-only "
    "decision, O(compacted cells) rewrite, crash-safe staged swap, "
    "cold cells byte-identical, stats sidecars unaffected); probe-all "
    "= exact, hash-oracled",
    tags=("ext", "similarity"),
)
def ivf_compacted_topk(spark, sf_dir):
    """Fragment the index with ten small appends (the streaming-drain
    shape), compact, search probe-all — hash-equal to brute force;
    scratch-lifecycle discipline as the other persisted-index entries."""
    import shutil
    import tempfile

    from .operators import similarity as S

    emb = spread(t(spark, sf_dir, "embeddings"))
    scratch = tempfile.mkdtemp(prefix="ivf_compact_")
    try:
        path = scratch + "/index"
        build_df = emb.filter(F.col("vec_id") % 10 == 0)
        if build_df.limit(1).count() == 0:
            build_df = emb  # advice r09 #3 discipline
        cents = S.write_ivf_index(
            build_df, path,
            n_centroids=16, kmeans_max_iter=1, kmeans_init="random",
        )
        if len(cents):
            for r in range(1, 10):
                batch = emb.filter(F.col("vec_id") % 10 == r)
                if batch.limit(1).count():
                    S.append_to_ivf_index(batch, path)
            S.compact_ivf_cells(spark, path, target_bytes=1 << 30)
        out = S.ivf_index_topk(
            spark, path, emb.filter(F.col("vec_id") < 20),
            k=5, n_probe=max(1, len(cents)),
        )
        rows = out.collect()
        schema = out.schema
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    return local_frame(spark, rows, schema)
