"""Extension catalog, batch 7 (round 9): the growing-corpus ANN story
made production-shaped — residual-encoded IVF-PQ (IVFADC: PQ codes over
x − centroid(x), the FAISS-standard composition and the recall lever at
serving n_probe), incremental maintenance of the persisted cid-partitioned
IVF index (append against STORED centroids — a growing corpus never
re-clusters the world), the persisted IVFADC layout (residual PQ code ids
stored next to each vector, so the serving scan reads m×4 code bytes per
row instead of the D×8 vector — measured 0.56% of a full raw scan per
query at n_probe=4/64, SCALE.md), filtered ANN at both tiers (metadata
mask inside the probed scan / the ADC gather batch, with per-query probe
expansion), and a driver hash row for the two-level quantizer tier
(k past the flat-fit cap, probe-all). The streaming maintenance drains
(raw + compressed) live with the other stream entries in
queries_stream.py.

Same registry/oracle conventions as queries_ext.py.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .queries import register, spread, t
from .session import local_frame

# ---------------------------------------------------------------------------
# Residual-encoded IVF-PQ (IVFADC) — verdict r08 item 1
# ---------------------------------------------------------------------------

def _ivfpq_residual_oracle_sql(
    filtered: bool = False, survivor_pred: str | None = None
) -> str:
    """The full-residual-pipeline oracle, optionally restricted to
    same-label (query, neighbor) pairs BEFORE the candidate cut — the
    filtered_ivfpq_search configuration (the mask applies inside the
    scan, so it must bind before crank, not after) — and/or to SURVIVOR
    corpus rows (``survivor_pred``, a SQL predicate over ``c.vec_id``) —
    the tombstone-delete configuration: sidecars and codes derive from
    the FULL corpus (they were built before the delete and deletion
    never touches them), only the candidate pool shrinks."""
    label_join = (
        """
      JOIN v nv ON nv.vec_id = c.vec_id
      JOIN v qv2 ON qv2.vec_id = l.query_id AND qv2.label = nv.label"""
        if filtered
        else ""
    )
    survivor = f" AND ({survivor_pred})" if survivor_pred else ""
    return f"""
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
    cd AS (
      SELECT res.vec_id, b.code, idx.s,
             CAST(SUM((res.r[idx.j] - b.r[idx.j])
                      * (res.r[idx.j] - b.r[idx.j])) AS BIGINT) AS dist
      FROM res CROSS JOIN book b CROSS JOIN idx
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
      FROM v CROSS JOIN cents c CROSS JOIN params p
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
      JOIN assign a ON a.vec_id = c.vec_id
      JOIN lut l ON l.cid = a.cid AND l.s = c.s AND l.code = c.code{label_join}
      WHERE c.vec_id <> l.query_id{survivor}
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


_IVFPQ_RESIDUAL_ORACLE = _ivfpq_residual_oracle_sql()


@register(
    "ivfpq_residual_topk",
    # Unlike the raw composition (whose probe-all output collapses to
    # pq_topk's, letting it share _PQ_ORACLE), the residual codes DEPEND
    # on the coarse centroids, so this oracle re-derives the ENTIRE
    # IVFADC pipeline — lattice anchor centroids, exact int64 coarse
    # assignment (ties → lowest cid), integer residuals, the anchor
    # residual codebook, per-residual code assignment, the per-(query,
    # cid) residual LUT, and the ADC sum — bit-for-bit. A hash-green row
    # therefore certifies the residual arithmetic itself, not just the
    # rerank tail.
    _IVFPQ_RESIDUAL_ORACLE,
    survey="§7 Phase 5 extension (verdict r08 item 1): residual-encoded "
    "IVF-PQ (IVFADC, Jégou et al. §III-C) — PQ codes over "
    "q(x) − centroid(x) with per-probed-list query LUTs, the "
    "FAISS-standard composition whose residual encoding is the main "
    "recall lever at serving n_probe; exact int64 lattice arithmetic "
    "end-to-end (anchor coarse + anchor residual codebook), probe-all "
    "catalog config, measured-recall tests pin the Lloyd/trained tier",
    tags=("ext", "similarity"),
)
def ivfpq_residual_topk(spark, sf_dir):
    """IVFADC top-5 for the first-20-vector probe slice, probe-all over
    8 anchor lists with the 256-entry anchor residual codebook — every
    stage exact int64 on the scale-1000 lattice so the DuckDB oracle
    re-derives the whole composition (see the register comment). The
    production shape (Lloyd coarse + Lloyd-trained residual codebook,
    n_probe < n_centroids) is pinned by measured recall in
    tests/test_similarity_recall.py."""
    from .operators import similarity as S

    emb = spread(t(spark, sf_dir, "embeddings"))
    return S.ivfpq_residual_topk(
        corpus=emb,
        queries=emb.filter(F.col("vec_id") < 20),
        k=5,
        rerank=4,
        n_centroids=8,
        n_probe=8,
        coarse="anchor",
    )


# ---------------------------------------------------------------------------
# Incremental maintenance of the persisted IVF index — append against
# STORED centroids (verdict r08 item 2)
# ---------------------------------------------------------------------------


def _cosine_topk_oracle() -> str:
    from .queries_ext import _COSINE_TOPK_ORACLE

    return _COSINE_TOPK_ORACLE


@register(
    "ivf_append_topk",
    # probe-all search over the APPENDED index is exact, so the oracle is
    # the brute-force cosine SQL over the whole corpus — a hash-green row
    # proves append-then-search == rebuild-then-search == exact (the
    # ivf_partitioned_topk discipline, extended through the append path)
    _cosine_topk_oracle(),
    survey="§7 Phase 5 extension (verdict r08 item 2): INCREMENTAL "
    "maintenance of the persisted IVF index — a new batch assigns "
    "against the STORED centroids (one Arrow pass over the batch, the "
    "corpus untouched) and appends into its cid partitions, so a "
    "growing corpus never re-clusters the world; hot cells repair via "
    "per-partition re-split (resplit_ivf_cell, O(cell) not O(corpus)); "
    "probe-all = exact, hash-oracled against brute-force cosine",
    tags=("ext", "similarity"),
)
def ivf_append_topk(spark, sf_dir):
    """Build the cid-partitioned index from the vec_id % 5 != 4 slice,
    APPEND the % 5 == 4 slice against the stored centroids, re-split the
    hottest cell, then search probe-all — three maintenance operations
    composed, with the exact-search guarantee intact (scratch-lifecycle
    discipline: collect eagerly, delete the index, return)."""
    import shutil
    import tempfile

    from .operators import similarity as S

    emb = spread(t(spark, sf_dir, "embeddings"))
    scratch = tempfile.mkdtemp(prefix="ivf_append_")
    try:
        path = scratch + "/index"
        build_df = emb.filter(F.col("vec_id") % 5 != 4)
        append_df = emb.filter(F.col("vec_id") % 5 == 4)
        if build_df.limit(1).count() == 0:
            # train slice empty ≠ corpus empty (advice r09 #3): falling
            # through would write a centroid-less index and silently
            # DROP the append slice while the oracle still sees it —
            # build from the full corpus instead (nothing to append)
            build_df, append_df = emb, None
        cents = S.write_ivf_index(
            build_df, path,
            n_centroids=16, kmeans_max_iter=1, kmeans_init="random",
        )
        if len(cents):  # an EMPTY corpus has no centroids to append
            # against (append raises by contract); search returns empty
            if append_df is not None:
                S.append_to_ivf_index(append_df, path)
            cents = S.resplit_ivf_cell(
                spark, path, n_sub=2, kmeans_max_iter=1, kmeans_init="random"
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


# ---------------------------------------------------------------------------
# Filtered ANN over the persisted index — mask inside the probed scan,
# per-query probe expansion (verdict r08 item 3)
# ---------------------------------------------------------------------------


def _filtered_topk_oracle() -> str:
    from .queries_ext6 import _FILTERED_TOPK_ORACLE

    return _FILTERED_TOPK_ORACLE


@register(
    "filtered_ivf_topk",
    # probe-all makes the probed scan the whole corpus, so the output
    # equals the filtered brute force and shares filtered_label_topk's
    # oracle verbatim — the same-SQL no-drift guarantee the prefix miners
    # use; the expansion path (selective filter at n_probe < k1 still
    # fills k) is pinned by the under-fill regression test and by the
    # probe-prefix reference test in tests/test_filtered_probe.py
    _filtered_topk_oracle(),
    survey="§7 Phase 5 extension (verdict r08 item 3 + r09 item 3): "
    "FILTERED ANN over the persisted cid-partitioned index — metadata "
    "mask INSIDE the probed scan (null-rejecting equality, corpus never "
    "shuffled by the filter column) with per-query probe EXPANSION "
    "through relation-driven rounds (probe-order relation from one "
    "broadcast-centroid Arrow pass, fill counts as an aggregation, "
    "O(n_centroids) driver state); probe-all = exact, shared oracle "
    "with filtered_label_topk",
    tags=("ext", "similarity"),
)
def filtered_ivf_topk(spark, sf_dir):
    """Build the index with the label column persisted next to each
    vector (extra_cols), search probe-all with the same-label constraint
    — hash-equal to the brute-force filtered oracle; scratch-lifecycle
    discipline as the other persisted-index entries."""
    import shutil
    import tempfile

    from .operators import similarity as S

    emb = spread(t(spark, sf_dir, "embeddings"))
    scratch = tempfile.mkdtemp(prefix="filtered_ivf_")
    try:
        path = scratch + "/index"
        S.write_ivf_index(
            emb, path, n_centroids=16, kmeans_max_iter=1,
            kmeans_init="random", extra_cols=("label",),
        )
        out = S.filtered_ivf_topk(
            spark, path, emb.filter(F.col("vec_id") < 20),
            filter_col="label", k=5, n_probe=16,
        )
        rows = out.collect()
        schema = out.schema
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    return local_frame(spark, rows, schema)


# ---------------------------------------------------------------------------
# Two-level quantizer tier under the DRIVER oracle — k past the flat-fit
# cap at testdata scale (verdict r08 item 4)
# ---------------------------------------------------------------------------


@register(
    "ivf_twolevel_topk",
    # probe-all = exact regardless of centroid placement, so the oracle
    # is brute-force cosine — what the row certifies is that the
    # two-level TIER (k > fit_sample // 8 engages the √k-split per-branch
    # fit) produces a layout whose probe-all search is still exact; the
    # tier engagement itself is pinned by a monkeypatch spy in
    # tests/test_semdedup.py
    _cosine_topk_oracle(),
    survey="§7 Phase 5 extension (verdict r08 item 4): the TWO-LEVEL "
    "coarse quantizer tier under the driver oracle — fit_sample shrunk "
    "to 128 puts the flat-fit cap at 16, so n_centroids=24 routes "
    "through fit_two_level_quantizer (√k top-level split + per-branch "
    "sub-fits, k ∝ N past the single-Lloyd cliff) at sf0.01 scale; "
    "probe-all search over the resulting layout hash-checks exact",
    tags=("ext", "similarity"),
)
def ivf_twolevel_topk(spark, sf_dir):
    """IVF top-5, n_centroids=24 with fit_sample=128: 24 > 128//8 = 16
    engages the two-level tier (the allocation-exactness fix of advice
    r08 #1 is load-bearing here — an over-allocated Σk₂ᵢ > 24 would
    silently break this entry's probe-all claim). n_probe=24 scans every
    list, so the answer is exact and hash-oracled."""
    from .operators import similarity as S

    emb = spread(t(spark, sf_dir, "embeddings"))
    return S.ivf_topk(
        corpus=emb,
        queries=emb.filter(F.col("vec_id") < 20),
        k=5,
        n_centroids=24,
        n_probe=24,
        fit_sample=128,
        kmeans_max_iter=2,
    )


# ---------------------------------------------------------------------------
# Persisted IVFADC index — residual PQ codes stored in the partitioned
# layout; the serving scan reads code bytes, not vectors
# ---------------------------------------------------------------------------


@register(
    "ivfpq_index_search",
    # build-then-search at probe-all equals ivfpq_residual_topk on the
    # same corpus and anchor derivations (codes are a pure function of
    # (vector, sidecars) whether assigned at build or at search), so the
    # entry shares the FULL residual-pipeline oracle — a hash-green row
    # certifies the persisted codes themselves
    _IVFPQ_RESIDUAL_ORACLE,
    survey="§7 Phase 5 extension (round 9): the persisted IVFADC layout "
    "— residual PQ code ids stored NEXT TO each vector in the "
    "cid-partitioned parquet (encode once at build, FAISS add); the ADC "
    "scan reads ONLY (neighbor_id, cid, codes) of probed partitions — "
    "partition pruning bounds rows read, parquet column pruning bounds "
    "bytes per row (m×4 vs D×8) — and ADC is a pure LUT gather; exact "
    "rerank reads cv for candidates only; probe-all = the residual "
    "operator twin, shared oracle",
    tags=("ext", "similarity"),
)
def ivfpq_index_search(spark, sf_dir):
    """Build the IVFADC layout (anchor coarse + anchor residual
    codebook, the oracle-expressible derivations), search probe-all —
    hash-equal to ivfpq_residual_topk's output and oracle; scratch
    lifecycle as the other persisted-index entries."""
    import shutil
    import tempfile

    from .operators import similarity as S

    emb = spread(t(spark, sf_dir, "embeddings"))
    scratch = tempfile.mkdtemp(prefix="ivfadc_")
    try:
        path = scratch + "/index"
        if emb.limit(1).count() == 0:  # empty corpus: nothing to encode
            return local_frame(
                spark, [], "query_id long, neighbor_id long, cos_sim double, rank int"
            )
        S.write_ivfpq_index(emb, path, n_centroids=8, coarse="anchor")
        out = S.ivf_index_topk(
            spark, path, emb.filter(F.col("vec_id") < 20),
            k=5, rerank=4, n_probe=8,
        )
        rows = out.collect()
        schema = out.schema
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    return local_frame(spark, rows, schema)


@register(
    "filtered_ivfpq_search",
    # probe-all + the label mask inside the ADC gather == the residual
    # pipeline with the same-label restriction bound BEFORE the
    # candidate cut; the oracle is the shared residual SQL with exactly
    # that join added (filtered=True)
    _ivfpq_residual_oracle_sql(filtered=True),
    survey="§7 Phase 5 extension (round 9 + r09 item 3): FILTERED ANN "
    "at the COMPRESSED tier — the metadata mask is applied to the "
    "probed pairs before exact int64 ADC (candidates restricted before "
    "the ADC cut, never post-filtered), the scan reads only "
    "(neighbor_id, cid, codes, label) of probed partitions, and "
    "per-query probe expansion refills the k·rerank candidate pool for "
    "selective filters (filtered_ivf_topk reads the codec from the "
    "layout and runs the raw codec's relation-driven rounds with the ADC "
    "scorer); probe-all hash-oracled against the residual "
    "pipeline SQL with the label join",
    tags=("ext", "similarity"),
)
def filtered_ivfpq_search(spark, sf_dir):
    """Build the IVFADC layout with the label column persisted, search
    it probe-all with filtered_ivf_topk, which reads the codec from the
    layout (scratch lifecycle as its siblings). The
    probe-expansion fill path is pinned in tests/test_ivf_maintenance.py
    with a selective-label corpus at n_probe=1."""
    import shutil
    import tempfile

    from .operators import similarity as S

    emb = spread(t(spark, sf_dir, "embeddings"))
    scratch = tempfile.mkdtemp(prefix="filtered_ivfadc_")
    try:
        if emb.limit(1).count() == 0:
            return local_frame(
                spark, [], "query_id long, neighbor_id long, cos_sim double, rank int"
            )
        path = scratch + "/index"
        S.write_ivfpq_index(
            emb, path, n_centroids=8, coarse="anchor", extra_cols=("label",)
        )
        out = S.filtered_ivf_topk(
            spark, path, emb.filter(F.col("vec_id") < 20),
            filter_col="label", k=5, rerank=4, n_probe=8,
        )
        rows = out.collect()
        schema = out.schema
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    return local_frame(spark, rows, schema)
