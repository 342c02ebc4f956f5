"""Filtered-ANN probe expansion over persisted IVF and IVF-PQ indexes
(one relation-driven probe loop shared by both cell codecs):

* the loop's answer equals a loop-free reference — exact top-k over
  each query's shortest filling n_probe-multiple prefix of its stable
  nearest-first list order — at probe-all and through expansion;
* the selectivity-sized first probe set (stats sidecar) changes no
  output while collapsing the fill-driven round trips on selective
  filters;
* build/append/delete/re-split keep the stats sidecar's counts TRUE
  (the output-identity proof needs real counts, not estimates).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from postgres_etl_pipeline_spark.operators import similarity as S
from postgres_etl_pipeline_spark.queries import spread, t


def _selective_corpus(spark):
    """The under-fill corpus from test_ivf_maintenance: the query's
    label (7) has exactly 5 matches, all in lists FAR from the query, so
    n_probe=1 forces multi-round expansion."""
    rows = []
    for i in range(30):
        vec = [0.0] * 8
        vec[0] = 100.0 + (i % 7)
        rows.append((i, vec, 7 if i == 0 else 1))
    for vid, axis in [(40, 2), (41, 2), (42, 4), (43, 4), (44, 6)]:
        vec = [0.0] * 8
        vec[axis] = 100.0 + (vid % 5)
        rows.append((vid, vec, 7))
    for i in range(50, 70):
        vec = [0.0] * 8
        vec[(i % 3) * 2 + 2] = 100.0 + (i % 7)
        rows.append((i, vec, 1))
    return spark.createDataFrame(
        [(i, [float(x) for x in v], int(lab)) for i, v, lab in rows],
        "vec_id long, embedding array<float>, label int",
    )


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _probe_prefix_reference(spark, emb, q, path, k, n_probe):
    """Filtered search answered without the probe loop: every query's
    matches with their exact scores (brute force at k = ∞), restricted to
    the rows whose layout cid lies in the shortest ``n_probe``-multiple
    prefix of the query's stable nearest-first list order that holds ≥ k
    matches (or in every list), then the top k by (cos_sim DESC NULLS
    LAST, neighbor_id)."""
    import numpy as np

    cents = S.read_ivf_centroids(spark, path)
    n_cents = len(cents)
    cid_of = {
        int(r["neighbor_id"]): int(r["cid"])
        for r in spark.read.parquet(path).select("neighbor_id", "cid").collect()
    }
    order = {}
    for r in q.select("vec_id", "embedding").collect():
        qv = np.array(r["embedding"], dtype=np.float64)
        d2 = ((cents - qv) ** 2).sum(axis=1)
        order[int(r["vec_id"])] = list(np.argsort(d2, kind="stable"))
    matches = {}
    for r in S.filtered_topk(emb, q, filter_col="label", k=10**6).collect():
        matches.setdefault(int(r["query_id"]), []).append(
            (int(r["neighbor_id"]), r["cos_sim"])
        )
    out = []
    for qid, rows in matches.items():
        p = min(n_probe, n_cents)
        while True:
            probed = set(order[qid][:p])
            kept = [m for m in rows if cid_of[m[0]] in probed]
            if len(kept) >= k or p == n_cents:
                break
            p = min(p + n_probe, n_cents)
        kept.sort(key=lambda m: (m[1] is None, -(m[1] or 0.0), m[0]))
        out += [(qid, nid, cs, i + 1) for i, (nid, cs) in enumerate(kept[:k])]
    return sorted(out)


def test_filtered_ivf_topk_equals_probe_prefix_reference(spark, sf_small, tmp_path):
    """The probe loop's answer at probe-all and through multi-round
    expansion equals the loop-free reference: exact top-k over each
    query's shortest filling prefix of lists — with the stats sidecar
    sizing the first round, and without it (plain n_probe chunks)."""
    import shutil

    emb = spread(t(spark, sf_small, "embeddings"))
    q = emb.filter(F.col("vec_id") < 20)
    path = str(tmp_path / "idx")
    S.write_ivf_index(
        emb, path, n_centroids=8, kmeans_max_iter=1, kmeans_init="random",
        extra_cols=("label",),
    )
    want = {
        n_probe: _probe_prefix_reference(spark, emb, q, path, 5, n_probe)
        for n_probe in (8, 3, 1)
    }
    for stats in (True, False):
        if not stats:
            shutil.rmtree(path + "_stats_label")
        for n_probe, rows in want.items():
            got = _rows(
                S.filtered_ivf_topk(
                    spark, path, q, filter_col="label", k=5, n_probe=n_probe,
                )
            )
            assert got == rows, (stats, n_probe)


def test_distributed_tier_fills_selective_label(spark, tmp_path):
    """The selective label still fills k at n_probe=1 through the
    relation-driven rounds, and the answer equals the filtered brute
    force (unique by construction)."""
    emb = _selective_corpus(spark)
    q = emb.filter(F.col("vec_id") == 0)
    path = str(tmp_path / "idx")
    S.write_ivf_index(
        emb, path, n_centroids=4, kmeans_max_iter=5, extra_cols=("label",)
    )
    got = _rows(
        S.filtered_ivf_topk(
            spark, path, q, filter_col="label", k=5, n_probe=1,
        )
    )
    assert len(got) == 5
    assert {g[1] for g in got} == {40, 41, 42, 43, 44}
    assert got == _rows(S.filtered_topk(emb, q, filter_col="label", k=5))


def test_probe_jump_same_output_fewer_rounds(spark, tmp_path):
    """Verdict r09 item 6's done-criterion: with the stats sidecar the
    selective query jumps straight to the covering prefix (1 round where
    fill-driven pays several), and the output is hash-identical —
    fill(p) ≤ cum(p) means the fill-driven loop can never stop before
    the jump target."""
    import shutil

    emb = _selective_corpus(spark)
    q = emb.filter(F.col("vec_id") == 0)
    path = str(tmp_path / "idx")
    S.write_ivf_index(
        emb, path, n_centroids=4, kmeans_max_iter=5, extra_cols=("label",)
    )
    assert S.read_ivf_list_stats(spark, path, "label") is not None
    with_stats = _rows(
        S.filtered_ivf_topk(spark, path, q, filter_col="label", k=5, n_probe=1)
    )
    jump_rounds = S._filtered_probe_rounds.last_rounds
    # remove the sidecar → pure fill-driven expansion
    shutil.rmtree(path + "_stats_label")
    no_stats = _rows(
        S.filtered_ivf_topk(spark, path, q, filter_col="label", k=5, n_probe=1)
    )
    fill_rounds = S._filtered_probe_rounds.last_rounds
    assert with_stats == no_stats
    assert jump_rounds < fill_rounds, (jump_rounds, fill_rounds)
    assert jump_rounds == 1  # selective label fills in ONE round trip


def test_stats_sidecar_stays_true_under_maintenance(spark, tmp_path):
    """Append merges the batch's counts; delete and re-split recount the
    affected cells — after any mix, the sidecar equals a from-scratch
    recount of the live layout (the jump's correctness precondition)."""
    emb = _selective_corpus(spark)
    path = str(tmp_path / "idx")
    S.write_ivf_index(
        emb.filter(F.col("vec_id") < 45), path,
        n_centroids=4, kmeans_max_iter=5, extra_cols=("label",),
    )
    S.append_to_ivf_index(
        emb.filter(F.col("vec_id") >= 45), path, extra_cols=("label",)
    )
    S.delete_from_ivf_index(spark, path, emb.filter(F.col("vec_id") % 6 == 1))
    S.resplit_ivf_cell(spark, path, n_sub=2, kmeans_max_iter=2)

    def recount():
        return _rows(
            spark.read.parquet(path)
            .groupBy("cid", F.col("label").alias("value"))
            .agg(F.count(F.lit(1)).alias("n"))
        )

    stored = _rows(S.read_ivf_list_stats(spark, path, "label"))
    assert stored == recount()


def test_append_refuses_to_drop_layout_metadata(spark, tmp_path):
    """The silent-null gap: appending without the build's extra_cols
    would write rows filtered search can never match — must raise."""
    emb = _selective_corpus(spark)
    path = str(tmp_path / "idx")
    S.write_ivf_index(
        emb, path, n_centroids=4, kmeans_max_iter=2, extra_cols=("label",)
    )
    with pytest.raises(ValueError, match="extra_cols"):
        S.append_to_ivf_index(emb.limit(3), path)


# ---------------------------------------------------------------------------
# Compressed tier (IVFADC) twins of the above
# ---------------------------------------------------------------------------


def test_ivfpq_probe_jump_same_output(spark, tmp_path):
    """The compressed tier's stats-sized first probe set changes no
    output on the selective corpus (jump target = the k·rerank pool)."""
    import shutil

    emb = _selective_corpus(spark)
    q = emb.filter(F.col("vec_id") == 0)
    path = str(tmp_path / "idx")
    S.write_ivfpq_index(
        emb, path, n_centroids=4, coarse="lloyd", kmeans_max_iter=5,
        extra_cols=("label",),
    )
    assert S.read_ivf_list_stats(spark, path, "label") is not None
    with_stats = _rows(
        S.filtered_ivf_topk(
            spark, path, q, filter_col="label", k=5, rerank=1, n_probe=1
        )
    )
    shutil.rmtree(path + "_stats_label")
    no_stats = _rows(
        S.filtered_ivf_topk(
            spark, path, q, filter_col="label", k=5, rerank=1, n_probe=1
        )
    )
    assert with_stats == no_stats
    assert len(with_stats) == 5  # the selective label still fills k


def test_distributed_tiers_take_the_selectivity_jump(spark, tmp_path):
    """Both codecs size their first probe set from the stats sidecar
    (one cumsum window over probe-order ⋈ stats) — the selective query
    fills in ONE round through the raw and the compressed index, with
    output unchanged (brute-force-equal)."""
    emb = _selective_corpus(spark)
    q = emb.filter(F.col("vec_id") == 0)
    raw = str(tmp_path / "raw")
    S.write_ivf_index(
        emb, raw, n_centroids=4, kmeans_max_iter=5, extra_cols=("label",)
    )
    got = _rows(
        S.filtered_ivf_topk(
            spark, raw, q, filter_col="label", k=5, n_probe=1,
        )
    )
    assert S._filtered_probe_rounds.last_rounds == 1
    assert {g[1] for g in got} == {40, 41, 42, 43, 44}
    assert got == _rows(S.filtered_topk(emb, q, filter_col="label", k=5))
    # compressed tier: pool-targeted jump (rerank=1 → pool = k)
    pq = str(tmp_path / "pq")
    S.write_ivfpq_index(
        emb, pq, n_centroids=4, coarse="lloyd", kmeans_max_iter=5,
        extra_cols=("label",),
    )
    got2 = _rows(
        S.filtered_ivf_topk(
            spark, pq, q, filter_col="label", k=5, rerank=1, n_probe=1,
        )
    )
    assert S._filtered_probe_rounds.last_rounds == 1
    assert len(got2) == 5
    # and the non-jumping fill-driven path (sidecar removed) agrees
    import shutil

    shutil.rmtree(pq + "_stats_label")
    assert got2 == _rows(
        S.filtered_ivf_topk(
            spark, pq, q, filter_col="label", k=5, rerank=1, n_probe=1,
        )
    )
    assert S._filtered_probe_rounds.last_rounds > 1


# ---------------------------------------------------------------------------
# Stats survive RETRAIN and REBUILD (verdict r10 item 6 — until now
# unasserted: retrain swaps every live cell, rebuild writes a fresh
# layout; either could silently strand or drop the sidecar)
# ---------------------------------------------------------------------------


def _recount(spark, path):
    return _rows(
        spark.read.parquet(path)
        .groupBy("cid", F.col("label").alias("value"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def test_stats_stay_true_through_codebook_retrain(spark, tmp_path):
    """A forced retrain rewrites every live cell through the staged
    swap with codes-only changes — per-(cid, value) counts are
    invariant, so the sidecar must still equal a from-scratch recount
    and filtered search must produce identical output after it."""
    emb = _selective_corpus(spark)
    q = emb.filter(F.col("vec_id") == 0)
    path = str(tmp_path / "pq")
    S.write_ivfpq_index(emb, path, n_centroids=4, extra_cols=("label",))
    want = _rows(
        S.filtered_ivf_topk(spark, path, q, filter_col="label",
                            k=5, n_probe=1)
    )
    assert S.retrain_ivfpq_codebook(spark, path, force=True, mode="anchor")
    assert S.read_ivf_list_stats(spark, path, "label") is not None
    assert _rows(S.read_ivf_list_stats(spark, path, "label")) == _recount(
        spark, path
    )
    got = _rows(
        S.filtered_ivf_topk(spark, path, q, filter_col="label",
                            k=5, n_probe=1)
    )
    assert got == want


def test_stats_regenerate_through_versioned_rebuild(spark, tmp_path):
    """A blue/green rebuild carries the layout's metadata columns
    automatically (verdict r10 nit (c)) and REGENERATES their stats
    sidecars for the new geometry — the selectivity jump still fires
    (1 round on the selective label) when searching through the
    ROOT."""
    emb = _selective_corpus(spark)
    q = emb.filter(F.col("vec_id") == 0)
    root = str(tmp_path / "idx")
    S.build_ivf_index_versioned(
        emb, root, n_centroids=4, kmeans_max_iter=5, extra_cols=("label",)
    )
    want = _rows(S.filtered_topk(emb, q, filter_col="label", k=5))
    v2 = S.rebuild_ivf_index_versioned(
        spark, root, force=True, n_centroids=4, kmeans_max_iter=5
    )
    assert v2 is not None
    # fresh stats for the fresh geometry, true against a recount
    assert _rows(S.read_ivf_list_stats(spark, v2, "label")) == _recount(
        spark, v2
    )
    got = _rows(
        S.filtered_ivf_topk(spark, root, q, filter_col="label",
                            k=5, n_probe=1)
    )
    assert got == want
    # the sized first probe is intact post-rebuild: one round trip
    assert S._filtered_probe_rounds.last_rounds == 1
