"""Extension catalog, batch 9 (round 11): the versioned-index serving
layer — blue/green rebuilds become DEPLOYABLE (verdict r10 items 1 & 2).
A `_current` pointer at an index ROOT names the live version; rebuilds
write the next version dir and flip the pointer with ONE atomic
create; readers (`ivf_index_topk` and `filtered_ivf_topk`, each serving
both cell codecs) resolve through the root, so a rebuild is invisible
to serving; `gc_retired_versions` bounds the rollback window and
removes crashed half-built subtrees. The compressed tier gains the coarse-drift trigger
the raw tier got in round 10 (`measure_ivf_coarse_drift` on an IVFADC
layout — residual drift with cells fixed cannot see wholesale structure
drift).

Both entries search THROUGH the pointer at probe-all, so the oracle is
the exact pipeline over the same corpus — a hash-green row certifies
allocate→build→publish→rebuild→flip→gc→resolve→search end to end.

Same registry/oracle conventions as queries_ext.py.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .queries import register, spread, t
from .queries_ext7 import _IVFPQ_RESIDUAL_ORACLE
from .session import local_frame


def _cosine_topk_oracle() -> str:
    from .queries_ext import _COSINE_TOPK_ORACLE

    return _COSINE_TOPK_ORACLE


@register(
    "ivf_versioned_rebuild_topk",
    # the rebuild re-clusters the SAME corpus (force=True), and probe-all
    # search is exact regardless of the centroid geometry — so searching
    # through the pointer after build → rebuild → flip → GC hash-equals
    # the brute-force cosine oracle; a green row certifies the whole
    # version lifecycle, not just the search arithmetic
    _cosine_topk_oracle(),
    survey="§7 Phase 5 extension (verdict r10 item 1): VERSIONED index "
    "roots — build_ivf_index_versioned publishes v1 under a _current "
    "pointer, rebuild_ivf_index_versioned writes v2 and flips the "
    "pointer with one atomic marker create (no crash window: readers "
    "resolve to the highest-seq marker), gc_retired_versions deletes "
    "the retired version but NEVER the live one, and ivf_index_topk "
    "accepts the ROOT — blue/green rebuild made deployable",
    tags=("ext", "similarity"),
)
def ivf_versioned_rebuild_topk(spark, sf_dir):
    """Build v1 through the versioned root, FORCE a blue/green rebuild
    into v2 (pointer flip), GC the retired v1, then search THROUGH THE
    ROOT at probe-all — hash-equal to brute force. Scratch-lifecycle
    discipline as the other persisted-index entries."""
    import shutil
    import tempfile

    from .operators import similarity as S

    emb = spread(t(spark, sf_dir, "embeddings"))
    scratch = tempfile.mkdtemp(prefix="ivf_versioned_")
    try:
        root = scratch + "/idx"
        cents = S.build_ivf_index_versioned(
            emb, root, n_centroids=8, kmeans_max_iter=1, kmeans_init="random"
        )
        if not len(cents):
            # empty corpus: nothing was published (no committed data dir
            # to point serving at) and the search answer is empty
            return local_frame(
                spark, [],
                "query_id long, neighbor_id long, cos_sim double, rank int",
            )
        vpath = S.rebuild_ivf_index_versioned(
            spark, root, force=True,
            n_centroids=16, kmeans_max_iter=1, kmeans_init="random",
        )
        assert vpath == S.resolve_index_path(spark, root)
        # retire v1; the pointer-protected v2 must survive
        S.gc_retired_versions(spark, root, keep=1, min_age_sec=0.0)
        out = S.ivf_index_topk(
            spark, root, emb.filter(F.col("vec_id") < 20), k=5, n_probe=16
        )
        rows = out.collect()
        schema = out.schema
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    return local_frame(spark, rows, schema)


@register(
    "ivfpq_coarse_rebuild_search",
    # anchor derivations are pure functions of the corpus, and the
    # rebuild re-derives them over the SAME rows the one-shot build saw
    # — so rebuild-then-search through the pointer hash-equals the full
    # residual pipeline oracle (rebuild == one-shot build, pinned
    # cross-engine; verdict r10 item 2's "done" condition)
    _IVFPQ_RESIDUAL_ORACLE,
    survey="§7 Phase 5 extension (verdict r10 item 2): the COARSE-drift "
    "trigger at the COMPRESSED tier — write_ivfpq_index stamps "
    "train_coarse_err (nearest-coarse-centroid error, exact int64) in "
    "_meta next to the residual baseline; measure_ivf_coarse_drift "
    "detects wholesale cluster-structure drift that a codebook retrain "
    "cannot repair (residual error stays flat while every vector sits "
    "in the wrong cell); rebuild_ivf_index_versioned re-derives "
    "coarse + codebook over the current rows into the next version and "
    "flips the serving pointer",
    tags=("ext", "similarity"),
)
def ivfpq_coarse_rebuild_search(spark, sf_dir):
    """Versioned IVFADC build (anchor derivations), then a FORCED
    coarse rebuild into v2 — like-for-like shape carried from the
    _meta stamp and sidecars — and an ADC probe-all search THROUGH the
    root: hash-equal to the residual-pipeline oracle because anchor
    rebuild over the same corpus IS the one-shot build."""
    import shutil
    import tempfile

    from .operators import similarity as S

    emb = spread(t(spark, sf_dir, "embeddings"))
    scratch = tempfile.mkdtemp(prefix="ivfpq_rebuild_")
    try:
        root = scratch + "/idx"
        if emb.limit(1).count() == 0:
            # empty corpus: the build raises by contract; serve empty
            return local_frame(
                spark, [],
                "query_id long, neighbor_id long, cos_sim double, rank int",
            )
        S.build_ivf_index_versioned(
            emb, root, writer=S.write_ivfpq_index, n_centroids=8
        )
        vpath = S.rebuild_ivf_index_versioned(spark, root, force=True)
        assert vpath == S.resolve_index_path(spark, root)
        S.gc_retired_versions(spark, root, keep=1, min_age_sec=0.0)
        out = S.ivf_index_topk(
            spark, root, emb.filter(F.col("vec_id") < 20),
            k=5, rerank=4, n_probe=8,
        )
        rows = out.collect()
        schema = out.schema
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    return local_frame(spark, rows, schema)
