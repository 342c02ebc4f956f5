"""Incremental maintenance of the persisted IVF index (verdict r08
items 2 & 8): append against STORED centroids, hot-cell re-split, and the
streaming maintenance drain.

The core contracts pinned here:
* appended files land ONLY inside their cid=<x> partition directories —
  the partition-pruning layout survives appends untouched;
* append-then-search equals rebuild-then-search at probe-all (both are
  exact search over the same rows);
* resplit rewrites ONLY the hot cell's directory (every other
  partition's file set is byte-identical before/after) and preserves the
  probe-all answer;
* the streaming drain's topk state equals full brute force, and the
  drained index equals the batch-built one, across MULTIPLE micro-batches
  (maxFilesPerTrigger-forced).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from postgres_etl_pipeline_spark.operators import similarity as S
from postgres_etl_pipeline_spark.queries import spread, t


def _emb(spark, sf_small):
    return spread(t(spark, sf_small, "embeddings"))


def _file_sets(path):
    """{partition dir name: frozenset(file names)} + root-level files."""
    out = {}
    for entry in os.listdir(path):
        full = os.path.join(path, entry)
        if os.path.isdir(full):
            out[entry] = frozenset(os.listdir(full))
    root = frozenset(
        e for e in os.listdir(path) if not os.path.isdir(os.path.join(path, e))
    )
    return out, root


def test_append_lands_only_in_cid_partitions(spark, sf_small, tmp_path):
    emb = _emb(spark, sf_small)
    path = str(tmp_path / "index")
    S.write_ivf_index(
        emb.filter(F.col("vec_id") % 5 != 4), path,
        n_centroids=8, kmeans_max_iter=1, kmeans_init="random",
    )
    dirs_before, root_before = _file_sets(path)
    cents = S.append_to_ivf_index(emb.filter(F.col("vec_id") % 5 == 4), path)
    assert len(cents) == 8  # stored centroids, not retrained
    dirs_after, root_after = _file_sets(path)
    # no new data files at the root; every new file sits in a cid dir
    assert root_after - root_before <= {"_SUCCESS"} | root_before
    assert all(d.startswith("cid=") for d in dirs_after)
    # union read = initial + batch, every row still reachable by its cid
    assert spark.read.parquet(path).count() == emb.count()
    # centroid sidecar untouched by the append
    assert (S.read_ivf_centroids(spark, path) == cents).all()


def test_append_then_search_equals_rebuild_then_search(spark, sf_small, tmp_path):
    emb = _emb(spark, sf_small)
    q = emb.filter(F.col("vec_id") < 20)
    appended = str(tmp_path / "appended")
    rebuilt = str(tmp_path / "rebuilt")
    S.write_ivf_index(
        emb.filter(F.col("vec_id") % 5 != 4), appended,
        n_centroids=8, kmeans_max_iter=1, kmeans_init="random",
    )
    S.append_to_ivf_index(emb.filter(F.col("vec_id") % 5 == 4), appended)
    S.write_ivf_index(
        emb, rebuilt, n_centroids=8, kmeans_max_iter=1, kmeans_init="random"
    )
    r_app = sorted(
        map(tuple, S.ivf_index_topk(spark, appended, q, k=5, n_probe=8).collect())
    )
    r_reb = sorted(
        map(tuple, S.ivf_index_topk(spark, rebuilt, q, k=5, n_probe=8).collect())
    )
    assert r_app == r_reb and len(r_app) > 0


def test_append_requires_trained_centroids(spark, sf_small, tmp_path):
    emb = _emb(spark, sf_small)
    path = str(tmp_path / "empty_index")
    S.write_ivf_index(emb.filter(F.col("vec_id") < 0), path, n_centroids=8)
    with pytest.raises(ValueError, match="no centroids"):
        S.append_to_ivf_index(emb.filter(F.col("vec_id") < 10), path)


def test_resplit_rewrites_only_the_hot_cell(spark, sf_small, tmp_path):
    emb = _emb(spark, sf_small)
    q = emb.filter(F.col("vec_id") < 20)
    path = str(tmp_path / "index")
    S.write_ivf_index(
        emb, path, n_centroids=8, kmeans_max_iter=1, kmeans_init="random"
    )
    before = sorted(
        map(tuple, S.ivf_index_topk(spark, path, q, k=5, n_probe=8).collect())
    )
    sizes = {
        r["cid"]: r["n"] for r in S.ivf_list_sizes(spark, path).collect()
    }
    hot = max(sizes, key=lambda c: (sizes[c], -c))
    dirs_before, _ = _file_sets(path)
    cents = S.resplit_ivf_cell(
        spark, path, n_sub=2, kmeans_max_iter=1, kmeans_init="random"
    )
    dirs_after, _ = _file_sets(path)
    assert len(cents) == 9  # one new list
    # every cold cell's directory is byte-identical (same file names)
    for d, files in dirs_before.items():
        if d != f"cid={hot}":
            assert dirs_after[d] == files, d
    # the hot cell was rewritten and the new list exists
    assert dirs_after[f"cid={hot}"] != dirs_before[f"cid={hot}"]
    assert "cid=8" in dirs_after
    # no rows lost; hot cell's rows redistributed between hot and new cid
    sizes2 = {
        r["cid"]: r["n"] for r in S.ivf_list_sizes(spark, path).collect()
    }
    assert sum(sizes2.values()) == sum(sizes.values())
    assert sizes2[hot] + sizes2[8] == sizes[hot]
    # probe-all answer unchanged by the re-split
    after = sorted(
        map(tuple, S.ivf_index_topk(spark, path, q, k=5, n_probe=9).collect())
    )
    assert after == before
    # sidecar is contiguous 0..8 and readable
    assert S.read_ivf_centroids(spark, path).shape[0] == 9


def test_resplit_tiny_cell_is_a_noop(spark, sf_small, tmp_path):
    emb = _emb(spark, sf_small).filter(F.col("vec_id") < 8)
    path = str(tmp_path / "index")
    S.write_ivf_index(
        emb, path, n_centroids=8, kmeans_max_iter=1, kmeans_init="random"
    )
    cents0 = S.read_ivf_centroids(spark, path)
    # every list holds ≤ a handful of rows; ask for a bigger split than
    # the largest list can support → unchanged centroids
    cents1 = S.resplit_ivf_cell(spark, path, n_sub=1000)
    assert (cents0 == cents1).all()


def test_streaming_ivf_maintenance_multi_batch(spark, sf_small, tmp_path):
    """Drain the growing slice in MULTIPLE micro-batches
    (maxFilesPerTrigger=1 over per-row-group split files): the drained
    index equals the batch rebuild at probe-all, and the topk state
    equals full brute force — both order-independent by construction
    (append is set-union; topk merge is the pure-scores theorem)."""
    from postgres_etl_pipeline_spark.streaming.runner import (
        read_state_or_empty,
        run_ivf_maintenance_sink,
    )
    from postgres_etl_pipeline_spark.streaming.sources import stream_parquet

    emb = _emb(spark, sf_small)
    q = emb.filter(F.col("vec_id") < 20)
    init = emb.filter(F.col("vec_id") % 5 != 4)
    growth = emb.filter(F.col("vec_id") % 5 == 4)
    # split the growth slice into several files so availableNow +
    # maxFilesPerTrigger=1 forces multiple micro-batches
    growth_dir = str(tmp_path / "growth")
    growth.repartition(4).write.parquet(growth_dir)
    path = str(tmp_path / "index")
    S.write_ivf_index(
        init, path, n_centroids=8, kmeans_max_iter=1, kmeans_init="random"
    )
    schema = "vec_id long, embedding array<float>, label int"
    st = stream_parquet(
        spark, growth_dir, schema, max_files_per_trigger=1
    )
    run_ivf_maintenance_sink(
        st, path, queries=q, state_dir=str(tmp_path / "state"),
        k=5, checkpoint=str(tmp_path / "ckpt"),
    )
    # index side: probe-all == exact over the full corpus
    drained = sorted(
        map(tuple, S.ivf_index_topk(spark, path, q, k=5, n_probe=8).collect())
    )
    # seed the comparison: the index search only sees init+growth rows
    exact = sorted(
        map(
            tuple,
            S.brute_force_topk(emb, q, k=5)
            .select("query_id", "neighbor_id", "cos_sim", "rank")
            .collect(),
        )
    )
    # ivf_index_topk returns the same 4 columns; at probe-all both exact
    assert drained == exact
    # state side: topk state == brute force restricted to the GROWTH rows
    # merged with... the state started cold, so it covers growth only
    state = read_state_or_empty(
        spark,
        str(tmp_path / "state" / "topk"),
        "query_id long, neighbor_id long, cos_sim double",
    )
    growth_bf = (
        S.brute_force_topk(growth, q, k=5)
        .select("query_id", "neighbor_id", "cos_sim")
    )
    assert sorted(map(tuple, state.collect())) == sorted(
        map(tuple, growth_bf.collect())
    )


def test_filtered_ivf_probe_all_equals_filtered_brute_force(
    spark, sf_small, tmp_path
):
    emb = _emb(spark, sf_small)
    q = emb.filter(F.col("vec_id") < 20)
    path = str(tmp_path / "index")
    S.write_ivf_index(
        emb, path, n_centroids=8, kmeans_max_iter=1, kmeans_init="random",
        extra_cols=("label",),
    )
    out = sorted(
        map(
            tuple,
            S.filtered_ivf_topk(
                spark, path, q, filter_col="label", k=5, n_probe=8
            ).collect(),
        )
    )
    bf = sorted(
        map(tuple, S.filtered_topk(emb, q, filter_col="label", k=5).collect())
    )
    assert out == bf and len(out) > 0


def test_filtered_ivf_expansion_fills_k_for_selective_label(spark, tmp_path):
    """The under-fill regression (verdict r08 item 3 'done' criterion):
    a label whose k matches all sit in lists FAR from the query must
    still return k rows at n_probe=1 — the expansion keeps probing until
    filled, where post-filtering a fixed-probe top-k would return fewer.
    With exactly k global matches the answer is also unique, so it must
    equal the filtered brute force."""
    rows = []
    # 4 well-separated clusters on coordinate axes; the query (id 0) sits
    # in cluster 0. Its label (7) appears on exactly 5 vectors, ALL in
    # the farthest clusters; cluster 0 is padded with other-label rows so
    # probing only the query's own list finds zero matches.
    for i in range(30):
        vec = [0.0] * 8
        vec[0] = 100.0 + (i % 7)
        rows.append((i, vec, 7 if i == 0 else 1))
    rare_positions = [(40, 2), (41, 2), (42, 4), (43, 4), (44, 6)]
    for vid, axis in rare_positions:
        vec = [0.0] * 8
        vec[axis] = 100.0 + (vid % 5)
        rows.append((vid, vec, 7))
    for i in range(50, 70):
        vec = [0.0] * 8
        vec[(i % 3) * 2 + 2] = 100.0 + (i % 7)
        rows.append((i, vec, 1))
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v], int(lab)) for i, v, lab in rows],
        "vec_id long, embedding array<float>, label int",
    )
    q = emb.filter(F.col("vec_id") == 0)
    path = str(tmp_path / "index")
    S.write_ivf_index(
        emb, path, n_centroids=4, kmeans_max_iter=5, extra_cols=("label",)
    )
    out = S.filtered_ivf_topk(
        spark, path, q, filter_col="label", k=5, n_probe=1
    )
    got = sorted(map(tuple, out.collect()))
    assert len(got) == 5, got  # filled despite the selective label
    assert {g[1] for g in got} == {40, 41, 42, 43, 44}
    bf = sorted(
        map(tuple, S.filtered_topk(emb, q, filter_col="label", k=5).collect())
    )
    assert got == bf


@pytest.mark.parametrize("n_probe", [8, 2])
def test_ivfpq_index_probe_all_equals_residual_operator(
    spark, sf_small, tmp_path, n_probe
):
    """Persisted-codes search == the in-memory residual operator at
    probe-all and at a partial probe: code assignment is a pure function
    of (vector, sidecars), so encoding at build and encoding at search
    are interchangeable, and both searches probe the same lists. The
    search is ivf_index_topk with its defaults: it must read the IVFADC
    codec from the layout (a raw search would probe by float distance to
    the lattice centroids and score without the ADC pool)."""
    emb = _emb(spark, sf_small)
    q = emb.filter(F.col("vec_id") < 20)
    path = str(tmp_path / "index")
    S.write_ivfpq_index(emb, path, n_centroids=8, coarse="anchor")
    got = sorted(
        map(tuple, S.ivf_index_topk(spark, path, q, n_probe=n_probe).collect())
    )
    twin = sorted(
        map(
            tuple,
            S.ivfpq_residual_topk(
                emb, q, k=5, rerank=4, n_centroids=8, n_probe=n_probe
            ).collect(),
        )
    )
    assert got == twin and len(got) > 0


def test_ivfpq_index_append_equals_one_shot_build(spark, sf_small, tmp_path):
    """Split build + append == one-shot build, bit-for-bit, when the
    sidecars are held fixed (the explicit coarse_cents/codebook override
    is exactly the stored-sidecar path append_to_ivf_index reads)."""
    emb = _emb(spark, sf_small)
    q = emb.filter(F.col("vec_id") < 20)
    full = str(tmp_path / "full")
    Cc, As = S.write_ivfpq_index(emb, full, n_centroids=8, coarse="anchor")
    split = str(tmp_path / "split")
    S.write_ivfpq_index(
        emb.filter(F.col("vec_id") % 5 != 4), split,
        coarse_cents=Cc, codebook=S.LatticeCodebook(As, 1000),
    )
    S.append_to_ivf_index(emb.filter(F.col("vec_id") % 5 == 4), split)
    a = sorted(
        map(tuple, S.ivf_index_topk(spark, full, q, k=5, n_probe=8).collect())
    )
    b = sorted(
        map(tuple, S.ivf_index_topk(spark, split, q, k=5, n_probe=8).collect())
    )
    assert a == b
    # the appended rows' STORED codes are bit-identical to the full
    # build's (pure-function encoding), not just the search output
    fa = spark.read.parquet(full).select("neighbor_id", "cid", "codes")
    fb = spark.read.parquet(split).select("neighbor_id", "cid", "codes")
    assert sorted(map(tuple, fa.collect())) == sorted(map(tuple, fb.collect()))


def test_ivfpq_index_scan_reads_codes_never_vectors(spark, sf_small, tmp_path):
    """The ADC candidate scan must read (neighbor_id, cid, codes) ONLY —
    parquet column pruning is the compression win (m×4 bytes vs D×8 per
    row); a scan that drags cv in reads 16× the bytes at 64 dims."""
    import re

    emb = _emb(spark, sf_small)
    path = str(tmp_path / "index")
    S.write_ivfpq_index(emb, path, n_centroids=8, coarse="anchor")
    scan = (
        spark.read.parquet(path)
        .filter(F.col("cid").isin([0, 1]))
        .select("neighbor_id", "cid", "codes")
    )
    plan = scan._jdf.queryExecution().executedPlan().toString()
    rs = re.search(r"ReadSchema: ([^\n]*)", plan)
    assert rs and "cv" not in rs.group(1), plan[:600]
    assert re.search(r"PartitionFilters: \[[^\]]*cid[^\]]*\]", plan), plan[:600]


def test_ivfpq_index_validations(spark, sf_small, tmp_path):
    import numpy as np

    emb = _emb(spark, sf_small)
    empty = emb.filter(F.col("vec_id") < 0)
    with pytest.raises(ValueError, match="empty corpus"):
        S.write_ivfpq_index(empty, str(tmp_path / "e"), n_centroids=8)
    path = str(tmp_path / "index")
    Cc, As = S.write_ivfpq_index(emb, path, n_centroids=8)
    with pytest.raises(ValueError, match="shared-scale"):
        S.write_ivfpq_index(
            emb, str(tmp_path / "m"), coarse_cents=Cc,
            codebook=S.LatticeCodebook(As, 500), scale=1000,
        )
    # sidecar round-trip is exact
    Cc2, As2, scale2 = S.read_ivfpq_sidecars(spark, path)
    assert (Cc2 == Cc).all() and (As2 == np.asarray(As)).all()


def test_filtered_ivfpq_expansion_fills_pool_for_selective_label(spark, tmp_path):
    """Compressed-tier under-fill regression: the same selective-label
    corpus as the exact-tier test — the query's k matches all sit in
    far lists, so n_probe=1 must expand until the candidate pool fills;
    with exactly k global matches the answer is unique and must equal
    the exact filtered brute force."""
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
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v], int(lab)) for i, v, lab in rows],
        "vec_id long, embedding array<float>, label int",
    )
    q = emb.filter(F.col("vec_id") == 0)
    path = str(tmp_path / "index")
    # m=4 over 8 dims; lloyd coarse so lists align with the clusters
    S.write_ivfpq_index(
        emb, path, m=4, n_centroids=4, coarse="lloyd", kmeans_max_iter=5,
        extra_cols=("label",),
    )
    out = S.filtered_ivf_topk(
        spark, path, q, filter_col="label", k=5, rerank=4, n_probe=1
    )
    got = sorted(map(tuple, out.collect()))
    assert len(got) == 5, got
    assert {g[1] for g in got} == {40, 41, 42, 43, 44}
    bf = sorted(
        map(tuple, S.filtered_topk(emb, q, filter_col="label", k=5).collect())
    )
    assert got == bf


def test_streaming_ivfpq_maintenance_multi_batch(spark, sf_small, tmp_path):
    """The compressed-tier drain: sidecars pinned up front, the growth
    slice split into several files (maxFilesPerTrigger=1 forces multiple
    micro-batches) — the drained layout must equal the one-shot build
    file-content-for-file-content (pure-function encoding), regardless
    of batch order."""
    from postgres_etl_pipeline_spark.streaming.runner import (
        run_ivf_maintenance_sink,
    )
    from postgres_etl_pipeline_spark.streaming.sources import stream_parquet

    emb = _emb(spark, sf_small)
    full = str(tmp_path / "full")
    Cc, As = S.write_ivfpq_index(emb, full, n_centroids=8, coarse="anchor")
    split = str(tmp_path / "split")
    S.write_ivfpq_index(
        emb.filter(F.col("vec_id") % 5 != 4), split,
        coarse_cents=Cc, codebook=S.LatticeCodebook(As, 1000),
    )
    growth_dir = str(tmp_path / "growth")
    emb.filter(F.col("vec_id") % 5 == 4).repartition(4).write.parquet(
        growth_dir
    )
    st = stream_parquet(
        spark, growth_dir,
        "vec_id long, embedding array<float>, label int",
        max_files_per_trigger=1,
    )
    run_ivf_maintenance_sink(
        st, split, checkpoint=str(tmp_path / "ckpt")
    )
    fa = spark.read.parquet(full).select("neighbor_id", "cid", "codes")
    fb = spark.read.parquet(split).select("neighbor_id", "cid", "codes")
    assert sorted(map(tuple, fa.collect())) == sorted(map(tuple, fb.collect()))


def test_ivfpq_resplit_invariants(spark, sf_small, tmp_path):
    """Compressed-tier hot-cell re-split: no row lost, cold partitions
    byte-identical, sidecar grows by n_sub-1, and every row in the split
    cell carries codes that RE-DERIVE from (its vector, its owning child
    centroid, the global codebook) — the consistency the search LUT
    assumes. Search still fills k and recalls above the random floor
    (the probe-all answer may legitimately move: ADC is
    residual-dependent)."""
    import numpy as np

    emb = _emb(spark, sf_small)
    q = emb.filter(F.col("vec_id") < 20)
    path = str(tmp_path / "index")
    S.write_ivfpq_index(emb, path, n_centroids=8, coarse="anchor")
    sizes = {r["cid"]: r["n"] for r in S.ivf_list_sizes(spark, path).collect()}
    hot = max(sizes, key=lambda c: (sizes[c], -c))
    dirs_before, _ = _file_sets(path)
    new_cents = S.resplit_ivf_cell(
        spark, path, n_sub=2, kmeans_max_iter=2
    )
    assert new_cents.shape[0] == 9
    dirs_after, _ = _file_sets(path)
    for dname, files in dirs_before.items():
        if dname != f"cid={hot}":
            assert dirs_after[dname] == files, dname
    assert "cid=8" in dirs_after
    assert spark.read.parquet(path).count() == emb.count()
    # stored codes of the re-split cell re-derive exactly
    Cc, As, _scale = S.read_ivfpq_sidecars(spark, path)
    rows = (
        spark.read.parquet(path)
        .filter(F.col("cid").isin([int(hot), 8]))
        .select("neighbor_id", "cv", "codes", "cid")
        .collect()
    )
    assert rows
    a_sq = (As.astype(np.int64) ** 2).sum(-1)
    for r in rows:
        qx = np.floor(np.array(r["cv"]) * 1000 + 0.5).astype(np.int64)
        res = (qx - Cc[r["cid"]]).reshape(As.shape[1], As.shape[2])
        for s in range(As.shape[1]):
            g = res[s] @ As[:, s, :].T
            assert r["codes"][s] == int(np.argmin(a_sq[:, s] - 2 * g)), r
    out = S.ivf_index_topk(spark, path, q, k=5, rerank=4, n_probe=9)
    got = {}
    for row in out.collect():
        got.setdefault(row.query_id, set()).add(row.neighbor_id)
    exact = {}
    for row in S.brute_force_topk(emb, q, k=5).collect():
        exact.setdefault(row.query_id, set()).add(row.neighbor_id)
    assert set(got) == set(exact)
    assert all(len(v) == 5 for v in got.values())
    recall = sum(len(got[x] & exact[x]) / 5 for x in exact) / len(exact)
    assert recall >= 0.4, recall


# ---------------------------------------------------------------------------
# Round 13 (verdict r12 item 3): maintain_index wired into the drain
# ---------------------------------------------------------------------------


def test_maintenance_tick_requires_versioned_root(spark, sf_small, tmp_path):
    """A tick resolves through the pointer — requesting ticks against a
    plain layout path is an argument error at CALL time, not an opaque
    failure mid-drain."""
    from postgres_etl_pipeline_spark.streaming.runner import (
        run_ivf_maintenance_sink,
    )
    from postgres_etl_pipeline_spark.streaming.sources import stream_parquet

    emb = _emb(spark, sf_small)
    path = str(tmp_path / "index")
    S.write_ivf_index(
        emb, path, n_centroids=4, kmeans_max_iter=1, kmeans_init="random"
    )
    feed = str(tmp_path / "feed")
    emb.limit(5).write.parquet(feed)
    st = stream_parquet(spark, feed, "vec_id long, embedding array<float>, label int")
    with pytest.raises(ValueError, match="VERSIONED ROOT"):
        run_ivf_maintenance_sink(
            st, path, checkpoint=str(tmp_path / "ckpt"),
            maintenance_every_n_batches=1,
        )
    with pytest.raises(ValueError, match=">= 1"):
        run_ivf_maintenance_sink(
            st, path, checkpoint=str(tmp_path / "ckpt2"),
            maintenance_every_n_batches=0,
        )


def test_in_drain_tick_composes_with_appends(spark, sf_small, tmp_path):
    """Mid-drain compacting tick + post-drain forced-rebuild tick: the
    pointer advances to a new version, retired versions are GC'd, and
    probe-all search through the root equals brute force over the full
    corpus — the tick cadence is exactness-invisible."""
    from postgres_etl_pipeline_spark.streaming.runner import (
        run_ivf_maintenance_sink,
    )
    from postgres_etl_pipeline_spark.streaming.sources import stream_parquet

    emb = _emb(spark, sf_small)
    if emb.limit(1).count() == 0:
        pytest.skip("empty embeddings at this sf")
    q = emb.filter(F.col("vec_id") < 20)
    root = str(tmp_path / "root")
    S.build_ivf_index_versioned(
        emb.filter(F.col("vec_id") % 4 == 0), root,
        n_centroids=4, kmeans_max_iter=1, kmeans_init="random",
    )
    v1 = S.resolve_index_path(spark, root)
    feed = str(tmp_path / "feed")
    emb.filter(F.col("vec_id") % 4 != 0).repartition(3).write.parquet(feed)
    st = stream_parquet(
        spark, feed, "vec_id long, embedding array<float>, label int",
        max_files_per_trigger=1,
    )
    run_ivf_maintenance_sink(
        st, root, checkpoint=str(tmp_path / "ckpt"),
        maintenance_every_n_batches=2,
        maintenance_kw=dict(
            compact_target_bytes=1 << 30, gc_min_age_sec=0.0,
            n_centroids=4, kmeans_max_iter=1, kmeans_init="random",
        ),
        final_maintenance_kw=dict(
            coarse_threshold=0.0, gc_min_age_sec=0.0,
            n_centroids=8, kmeans_max_iter=1, kmeans_init="random",
        ),
    )
    v_live = S.resolve_index_path(spark, root)
    assert v_live != v1  # the forced rebuild flipped the pointer
    import os as _os

    assert not _os.path.exists(_os.path.dirname(v1))  # retired v1 GC'd
    drained = sorted(map(tuple, S.ivf_index_topk(
        spark, root, q, k=5, n_probe=1_000_000
    ).collect()))
    exact = sorted(map(tuple, S.brute_force_topk(emb, q, k=5)
                   .select("query_id", "neighbor_id", "cos_sim", "rank")
                   .collect()))
    assert drained == exact


def test_tick_lease_conflict_retries_then_raises(
    spark, sf_small, tmp_path, monkeypatch
):
    """An EXTERNAL writer holding the lease makes the tick retry with
    backoff (two failures then success = drain completes, three calls
    recorded); a lease that never frees re-raises WriterLeaseHeld."""
    from postgres_etl_pipeline_spark.streaming import runner
    from postgres_etl_pipeline_spark.streaming.sources import stream_parquet

    emb = _emb(spark, sf_small)
    root = str(tmp_path / "root")
    S.build_ivf_index_versioned(
        emb, root, n_centroids=4, kmeans_max_iter=1, kmeans_init="random"
    )
    feed = str(tmp_path / "feed")
    emb.limit(5).write.parquet(feed)
    monkeypatch.setattr(runner, "_TICK_BACKOFF_S", 0.01)
    calls = []

    def flaky_tick(spark_, root_, kind="ivf", **kw):
        calls.append(kind)
        if len(calls) < 3:
            raise S.WriterLeaseHeld("external writer (simulated)")
        return {"root": root_, "kind": kind}

    monkeypatch.setattr(S, "maintain_index", flaky_tick)
    st = stream_parquet(
        spark, feed, "vec_id long, embedding array<float>, label int"
    )
    runner.run_ivf_maintenance_sink(
        st, root, checkpoint=str(tmp_path / "ckpt"),
        final_maintenance_kw={},
    )
    assert calls == ["ivf", "ivf", "ivf"]  # 2 conflicts + 1 success

    def held_tick(spark_, root_, kind="ivf", **kw):
        raise S.WriterLeaseHeld("external writer never releases")

    monkeypatch.setattr(S, "maintain_index", held_tick)
    st2 = stream_parquet(
        spark, feed, "vec_id long, embedding array<float>, label int"
    )
    with pytest.raises(S.WriterLeaseHeld):
        runner.run_ivf_maintenance_sink(
            st2, root, checkpoint=str(tmp_path / "ckpt2"),
            final_maintenance_kw={},
        )
