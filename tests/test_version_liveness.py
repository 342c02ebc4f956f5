"""Round-12 liveness hardening of the blue/green index machinery —
the five advice r11 findings, each pinned:

* the LOST-APPEND race OUTSIDE the rebuild's lease span (advice #1): a
  drain that cached a resolved layout path before a rebuild and writes
  after the rebuild releases its lease used to acquire the retired
  version's now-free lease and append rows serving never sees — now the
  publish drops an ``index__retired`` tombstone and every maintenance
  writer re-checks liveness AFTER acquiring the lease, so the stale
  write raises StaleIndexVersion; passing the ROOT makes the append
  re-resolve inside the lease and land on the live version;
* the pointer re-derivation backstops the crash window between the flip
  and the tombstone write, and OVERRIDES a stale tombstone after a
  rollback republish;
* gc_retired_versions only considers never-published dirs whose name
  matches the ``<tag>_<10-digit-seq>`` pattern the version allocator
  produces (advice #2 — foreign data under a root is never destroyed)
  and skips any version whose writer lease is live (an in-flight build
  that outlives min_age_sec is protected by the lease the rebuild
  stamps on the version it is building);
* the local-filesystem lease claim goes through the kernel's
  ``O_CREAT|O_EXCL`` (advice #3 — Hadoop's LocalFileSystem implements
  create(overwrite=false) as a non-atomic exists-then-create);
* the delete's pushdown and join paths agree on NULL-id rows
  (advice #4 — ``~IN`` drops NULLs, ``left_anti`` keeps them).
"""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from postgres_etl_pipeline_spark.operators import similarity as S
from postgres_etl_pipeline_spark.queries import spread, t


def _emb(spark, sf_small):
    return spread(t(spark, sf_small, "embeddings")).select(
        "vec_id", "embedding"
    )


def _q(emb):
    return emb.filter(F.col("vec_id") < 20)


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _versioned(spark, emb, tmp_path, name="idx"):
    root = str(tmp_path / name)
    S.build_ivf_index_versioned(emb, root, n_centroids=4,
                                kmeans_max_iter=1, kmeans_init="random")
    return root, S.resolve_index_path(spark, root)


# ---------------------------------------------------------------------------
# Advice r11 #1 — the stale-path window is loud, the root path is safe
# ---------------------------------------------------------------------------


def test_cached_path_append_after_flip_raises(spark, sf_small, tmp_path):
    """The exact advice scenario: resolve BEFORE the rebuild, append
    AFTER its lease is released — the retired version's lease is free,
    but the append must raise with re-resolve guidance, not land rows
    GC will delete."""
    emb = _emb(spark, sf_small)
    base = emb.filter(F.col("vec_id") % 10 != 0)
    late = emb.filter(F.col("vec_id") % 10 == 0)
    root, v1 = _versioned(spark, base, tmp_path)
    assert S.rebuild_ivf_index_versioned(
        spark, root, force=True,
        n_centroids=4, kmeans_max_iter=1, kmeans_init="random",
    ) is not None
    # rebuild's leases are released; the old version's is free to claim
    assert not os.path.exists(v1 + "__writer_lease")
    with pytest.raises(S.StaleIndexVersion, match="re-resolve"):
        S.append_to_ivf_index(late, v1)
    # no lease leaked by the failed attempt, no rows landed
    assert not os.path.exists(v1 + "__writer_lease")
    # retried THROUGH THE ROOT: resolution happens inside the lease and
    # the rows land on the live version, searchable through the pointer
    S.append_to_ivf_index(late, root)
    q = _q(emb)
    assert _rows(S.ivf_index_topk(spark, root, q, k=5, n_probe=4)) == _rows(
        S.brute_force_topk(emb, q, k=5)
    )


def test_pointer_backstops_missing_retired_marker(spark, sf_small, tmp_path):
    """Crash window between the flip and the tombstone write: even with
    the __retired marker gone, the post-lease liveness check re-derives
    staleness from the pointer itself."""
    emb = _emb(spark, sf_small)
    root, v1 = _versioned(spark, emb, tmp_path)
    S.rebuild_ivf_index_versioned(spark, root, force=True,
                                  n_centroids=4, kmeans_max_iter=1,
                                  kmeans_init="random")
    marker = v1 + "__retired"
    assert os.path.exists(marker)  # publish dropped the tombstone
    os.remove(marker)  # simulate the crash window
    with pytest.raises(S.StaleIndexVersion, match="not the live version"):
        S.append_to_ivf_index(emb.limit(1), v1)


def test_maintenance_swap_on_retired_version_raises(
    spark, sf_small, tmp_path
):
    """Deletes (and every other staged-swap maintenance op) hit the same
    post-lease liveness check — a cached stale path dies loudly, the
    root form resolves and works."""
    emb = _emb(spark, sf_small)
    root, v1 = _versioned(spark, emb, tmp_path)
    S.rebuild_ivf_index_versioned(spark, root, force=True,
                                  n_centroids=4, kmeans_max_iter=1,
                                  kmeans_init="random")
    dead = emb.filter(F.col("vec_id") % 7 == 0).select("vec_id")
    with pytest.raises(S.StaleIndexVersion):
        S.delete_from_ivf_index(spark, v1, dead)
    assert S.delete_from_ivf_index(spark, root, dead)  # root form works
    survivors = emb.filter(F.col("vec_id") % 7 != 0)
    q = _q(emb)
    assert _rows(S.ivf_index_topk(spark, root, q, k=5, n_probe=4)) == _rows(
        S.brute_force_topk(survivors, q, k=5)
    )


def test_rollback_republish_revives_old_version(spark, sf_small, tmp_path):
    """Re-publishing a retired version (operator rollback) clears its
    tombstone and the pointer override makes it writable again, while
    the rolled-AWAY-from version becomes stale."""
    emb = _emb(spark, sf_small)
    root, v1 = _versioned(spark, emb, tmp_path)
    v2 = S.rebuild_ivf_index_versioned(spark, root, force=True,
                                       n_centroids=4, kmeans_max_iter=1,
                                       kmeans_init="random")
    S.publish_index_version(spark, root, v1)  # rollback
    assert S.resolve_index_path(spark, root) == v1
    assert not os.path.exists(v1 + "__retired")
    S.append_to_ivf_index(emb.limit(1), v1)  # writable again
    with pytest.raises(S.StaleIndexVersion):
        S.append_to_ivf_index(emb.limit(1), v2)


def test_below_threshold_rebuild_leaves_no_version_dir(
    spark, sf_small, tmp_path
):
    """A no-op rebuild must not accumulate empty version dirs under the
    root (the build lease it stamps is cleaned up with the dir)."""
    emb = _emb(spark, sf_small)
    root, v1 = _versioned(spark, emb, tmp_path)
    assert S.rebuild_ivf_index_versioned(spark, root,
                                         drift_threshold=10.0) is None
    assert sorted(os.listdir(root)) == sorted(
        ["_current", os.path.basename(os.path.dirname(v1))]
    )


# ---------------------------------------------------------------------------
# Advice r11 #2 — GC pattern guard + live-lease skip
# ---------------------------------------------------------------------------


def test_gc_never_deletes_foreign_dirs(spark, sf_small, tmp_path):
    """A directory under the root that the version allocator did not
    name (user data, an operator's scratch dir) must survive GC even
    aged and _SUCCESS-less."""
    emb = _emb(spark, sf_small)
    root, _v1 = _versioned(spark, emb, tmp_path)
    foreign = os.path.join(root, "user_data")
    os.makedirs(foreign)
    with open(os.path.join(foreign, "notes.txt"), "w") as f:
        f.write("precious")
    old = time.time() - 7200
    os.utime(foreign, (old, old))
    assert S.gc_retired_versions(spark, root, keep=1, min_age_sec=0.0) == []
    assert os.path.exists(os.path.join(foreign, "notes.txt"))


def test_gc_skips_lease_held_version(spark, sf_small, tmp_path):
    """An in-flight build older than min_age_sec is protected by the
    lease the rebuild stamps on the version it is building; once that
    lease goes stale (the builder crashed), the subtree is GC-able."""
    emb = _emb(spark, sf_small)
    root, _v1 = _versioned(spark, emb, tmp_path)
    # a half-built version dir: allocator-pattern name, no _SUCCESS
    ver = os.path.join(root, "v_0000000099")
    os.makedirs(os.path.join(ver, "index"))
    with open(os.path.join(ver, "index", "part-junk"), "w") as f:
        f.write("partial")
    old = time.time() - 7200
    os.utime(ver, (old, old))
    # live lease (as the rebuild stamps at build start): GC must skip
    with open(os.path.join(ver, "index__writer_lease"), "w") as f:
        f.write(f"builder-x\n{time.time() * 1000.0:.0f}")
    assert S.gc_retired_versions(spark, root, keep=1, min_age_sec=0.0) == []
    assert os.path.exists(ver)
    # stale lease (crashed builder): the aged subtree is removed
    stale_ms = (time.time() - 2 * S.WRITER_LEASE_TTL_SEC) * 1000.0
    with open(os.path.join(ver, "index__writer_lease"), "w") as f:
        f.write(f"builder-x\n{stale_ms:.0f}")
    os.utime(ver, (old, old))
    assert S.gc_retired_versions(spark, root, keep=1, min_age_sec=0.0) == [
        ver
    ]
    assert not os.path.exists(ver)


# ---------------------------------------------------------------------------
# Advice r11 #3 — local lease claims are kernel-atomic
# ---------------------------------------------------------------------------


def test_local_lease_claim_is_create_exclusive(spark, tmp_path):
    """On file:// layouts the claim must be O_CREAT|O_EXCL (posix
    atomic), not Hadoop's exists-then-create — and a second claim on a
    live lease raises through exactly that path."""
    layout = str(tmp_path / "idx")
    os.makedirs(layout)
    token, stole = S.acquire_writer_lease(spark, layout)
    assert not stole and os.path.exists(layout + "__writer_lease")
    with pytest.raises(S.WriterLeaseHeld):
        S.acquire_writer_lease(spark, layout)
    assert S.release_writer_lease(spark, layout, token)
    # the raw helper used for the claim refuses an existing file via the
    # kernel error, with no Hadoop exists-check racing window
    fs, hp = S._hadoop_fs(spark, layout)
    probe = str(tmp_path / "probe_marker")
    S._create_exclusive(fs, hp, probe, b"x")
    with pytest.raises(FileExistsError):
        S._create_exclusive(fs, hp, probe, b"y")


# ---------------------------------------------------------------------------
# Advice r11 #4 — NULL-id rows survive both delete paths identically
# ---------------------------------------------------------------------------


def test_delete_paths_agree_on_null_ids(spark, sf_small, tmp_path,
                                         monkeypatch):
    """A layout holding NULL neighbor_id rows: the literal-IN pushdown
    path (~IN is NULL → row silently dropped before the fix) and the
    left_anti join path must keep them BOTH, and produce identical
    survivor sets."""
    emb = _emb(spark, sf_small).filter(F.col("vec_id") < 60)
    with_null = emb.select(
        F.when(F.col("vec_id") == 5, F.lit(None)).otherwise(
            F.col("vec_id")
        ).alias("vec_id"),
        "embedding",
    )
    dead = spark.createDataFrame([(7,), (11,)], "vec_id long")

    def build_and_delete(name):
        path = str(tmp_path / name)
        S.write_ivf_index(with_null, path, n_centroids=2,
                          kmeans_max_iter=1, kmeans_init="random")
        S.delete_from_ivf_index(spark, path, dead)
        got = [tuple(r) for r in spark.read.parquet(path)
               .select("neighbor_id", "cid").collect()]
        return sorted(got, key=lambda r: (r[0] is None, r[0] or 0, r[1]))

    push = build_and_delete("push")  # 2 ids ≤ cut → literal-IN path
    monkeypatch.setattr(S, "DELETE_PUSHDOWN_CUT", 0)
    join = build_and_delete("join")  # forced shuffle-join path
    assert push == join
    null_rows = [r for r in push if r[0] is None]
    assert len(null_rows) == 1  # the NULL-id row survived the delete
    assert all(r[0] not in (7, 11) for r in push if r[0] is not None)


def test_all_null_tombstones_are_a_noop(spark, sf_small, tmp_path):
    """Tombstones whose ids are all NULL match nothing on either path
    (join semantics) — zero cells rewritten, no crash."""
    emb = _emb(spark, sf_small).filter(F.col("vec_id") < 40)
    path = str(tmp_path / "idx")
    S.write_ivf_index(emb, path, n_centroids=2,
                      kmeans_max_iter=1, kmeans_init="random")
    dead = spark.createDataFrame([(None,), (None,)], "vec_id long")
    assert S.delete_from_ivf_index(spark, path, dead) == []


# ---------------------------------------------------------------------------
# Round 12 — serving under maintenance: the missing-cell window is bounded
# ---------------------------------------------------------------------------


class _BombFS:
    """Delegating FileSystem proxy that crashes after N renames — the
    instrument that makes the swap's serving window OBSERVABLE: at the
    crash point, the live layout is exactly what a concurrent reader
    would list."""

    def __init__(self, fs, renames_left: int):
        self._fs = fs
        self._left = renames_left

    def rename(self, a, b):
        if self._left == 0:
            raise RuntimeError("injected rename crash")
        self._left -= 1
        return self._fs.rename(a, b)

    def __getattr__(self, name):
        return getattr(self._fs, name)


def test_swap_missing_cell_window_is_one_cell(spark, sf_small, tmp_path,
                                              monkeypatch):
    """Per-cell INTERLEAVED renames (round 12): crash the swap after
    EVERY possible rename count — at each crash point at most ONE
    replaced cell is absent from the layout (the old all-outs-then-
    all-ins order left every replaced cell absent for O(2N) renames,
    so a reader of a many-cell swap could silently miss whole inverted
    lists), and recovery completes the delete from any point."""
    emb = _emb(spark, sf_small)
    dead = emb.filter(F.col("vec_id") % 2 == 0).select("vec_id")
    survivors = emb.filter(F.col("vec_id") % 2 != 0)
    q = _q(emb)
    exact = _rows(S.brute_force_topk(survivors, q, k=5))
    real_finish = S._finish_partition_swap
    k = 0
    crashed_at_least_once = False
    while True:
        path = str(tmp_path / f"idx_{k}")
        S.write_ivf_index(emb, path, n_centroids=4,
                          kmeans_max_iter=1, kmeans_init="random")
        affected = {
            int(r["cid"])
            for r in spark.read.parquet(path)
            .filter(F.col("neighbor_id") % 2 == 0)
            .select("cid").distinct().collect()
        }
        assert len(affected) >= 2  # a multi-cell swap or the pin is vacuous

        def bomb_finish(fs, hp, base, stage, cids, _k=k):
            return real_finish(_BombFS(fs, _k), hp, base, stage, cids)

        monkeypatch.setattr(S, "_finish_partition_swap", bomb_finish)
        try:
            S.delete_from_ivf_index(spark, path, dead)
            monkeypatch.undo()
            break  # k exceeded the swap's total renames — done
        except RuntimeError as e:
            assert "injected rename crash" in str(e)
            crashed_at_least_once = True
        finally:
            monkeypatch.undo()
        live = {
            int(d[len("cid="):])
            for d in os.listdir(path)
            if d.startswith("cid=")
        }
        missing = affected - live
        assert len(missing) <= 1, (
            f"crash after {k} renames left {len(missing)} cells absent — "
            "the interleaved per-cell window is broken"
        )
        S.recover_interrupted_partition_swap(spark, path)
        got = _rows(S.ivf_index_topk(spark, path, q, k=5, n_probe=4))
        assert got == exact  # recovery completed the delete
        k += 1
        assert k < 40, "bomb never exhausted — runaway rename count?"
    assert crashed_at_least_once


# ---------------------------------------------------------------------------
# Round 12 — a drain pointed at the ROOT survives a mid-drain rebuild
# ---------------------------------------------------------------------------


def test_stream_drain_through_root_survives_mid_drain_rebuild(
    spark, sf_small, tmp_path, monkeypatch
):
    """The production composition the root-aware appends exist for: a
    multi-batch streaming drain passed the ROOT keeps draining across a
    blue/green rebuild that happens BETWEEN its micro-batches — the
    post-rebuild batches land on the new live version via in-lease
    re-resolution, and nothing is lost (probe-all == brute force over
    the full corpus)."""
    from postgres_etl_pipeline_spark.streaming.runner import (
        run_ivf_maintenance_sink,
    )
    from postgres_etl_pipeline_spark.streaming.sources import stream_parquet

    emb = _emb(spark, sf_small)
    init = emb.filter(F.col("vec_id") % 5 == 0)
    growth = emb.filter(F.col("vec_id") % 5 != 0)
    growth_dir = str(tmp_path / "growth")
    growth.repartition(3).write.parquet(growth_dir)
    root = str(tmp_path / "idx")
    S.build_ivf_index_versioned(init, root, n_centroids=4,
                                kmeans_max_iter=1, kmeans_init="random")
    v1 = S.resolve_index_path(spark, root)
    real_append = S.append_to_ivf_index
    calls = {"n": 0}

    def append_with_mid_drain_rebuild(batch, path, *a, **kw):
        calls["n"] += 1
        if calls["n"] == 2:
            # a scheduler fires the blue/green rebuild between batches
            S.rebuild_ivf_index_versioned(
                spark, root, force=True,
                n_centroids=4, kmeans_max_iter=1, kmeans_init="random",
            )
        return real_append(batch, path, *a, **kw)

    monkeypatch.setattr(S, "append_to_ivf_index",
                        append_with_mid_drain_rebuild)
    st = stream_parquet(
        spark, growth_dir, "vec_id long, embedding array<float>",
        max_files_per_trigger=1,
    )
    run_ivf_maintenance_sink(
        st, root, checkpoint=str(tmp_path / "ckpt"),
    )
    monkeypatch.undo()
    assert calls["n"] >= 3  # genuinely multi-batch
    assert S.resolve_index_path(spark, root) != v1  # the flip happened
    q = _q(emb)
    assert _rows(S.ivf_index_topk(spark, root, q, k=5, n_probe=4)) == _rows(
        S.brute_force_topk(emb, q, k=5)
    )


# ---------------------------------------------------------------------------
# Round 12 — the lease heartbeat: operations longer than the TTL stay owned
# ---------------------------------------------------------------------------


def test_lease_heartbeat_keeps_long_ops_owned(spark, tmp_path, monkeypatch):
    """A writer inside a _LeaseHeartbeat span holds its lease PAST the
    TTL (a long build/staging write is not a crashed writer: the steal
    path and gc_retired_versions both see a fresh stamp); once the span
    ends and the TTL passes, the crashed-writer semantics return and
    the lease is stealable."""
    layout = str(tmp_path / "idx")
    os.makedirs(layout)
    monkeypatch.setattr(S, "WRITER_LEASE_TTL_SEC", 2.0)
    token, _ = S.acquire_writer_lease(spark, layout)
    with S._LeaseHeartbeat(spark, [(layout, token)]):
        time.sleep(4.5)  # > 2 TTLs: without the heartbeat this is stale
        with pytest.raises(S.WriterLeaseHeld):
            S.acquire_writer_lease(spark, layout)
    time.sleep(2.5)  # heartbeat stopped: the stamp ages past the TTL
    other, stole = S.acquire_writer_lease(spark, layout)
    assert stole
    S.release_writer_lease(spark, layout, other)


# ---------------------------------------------------------------------------
# Round 12 — maintain_index: one scheduled tick composes the repair algebra
# ---------------------------------------------------------------------------


def test_maintain_index_tick_compacts_and_is_idempotent(
    spark, sf_small, tmp_path
):
    """A fragmented healthy index: the tick recovers nothing, measures
    drift below threshold (no rebuild), compacts the append-fragmented
    cells in one swap, GCs nothing — and a second immediate tick is
    all no-ops. Search through the root stays exact throughout."""
    emb = _emb(spark, sf_small)
    root = str(tmp_path / "idx")
    S.build_ivf_index_versioned(
        emb.filter(F.col("vec_id") % 4 == 0), root, n_centroids=4,
        kmeans_max_iter=1, kmeans_init="random",
    )
    for m in (1, 2, 3):  # fragment: one file per touched cell per append
        S.append_to_ivf_index(emb.filter(F.col("vec_id") % 4 == m), root)
    rep = S.maintain_index(
        spark, root, compact_target_bytes=1 << 30,
        gc_min_age_sec=0.0,
    )
    assert rep["recovered"] is False and rep["rebuilt_to"] is None
    assert rep["coarse_err"] > 0 and rep["coarse_baseline"] > 0
    assert rep["compacted_cids"]  # the fragmentation was real
    assert rep["gc_deleted"] == []
    q = _q(emb)
    assert _rows(S.ivf_index_topk(spark, root, q, k=5, n_probe=4)) == _rows(
        S.brute_force_topk(emb, q, k=5)
    )
    rep2 = S.maintain_index(
        spark, root, compact_target_bytes=1 << 30,
        gc_min_age_sec=0.0,
    )
    assert rep2["rebuilt_to"] is None and rep2["compacted_cids"] == []
    assert rep2["recovered"] is False and rep2["gc_deleted"] == []


def test_maintain_index_tick_rebuilds_past_threshold(
    spark, sf_small, tmp_path
):
    """Past the coarse-drift threshold the tick runs the blue/green
    rebuild and the same tick's GC removes the retired version (with a
    zero age guard); serving flips atomically and stays exact."""
    emb = _emb(spark, sf_small)
    root = str(tmp_path / "idx")
    S.build_ivf_index_versioned(emb, root, n_centroids=4,
                                kmeans_max_iter=1, kmeans_init="random")
    v1 = S.resolve_index_path(spark, root)
    rep = S.maintain_index(
        spark, root, coarse_threshold=0.0,
        gc_min_age_sec=0.0,
        n_centroids=8, kmeans_max_iter=1, kmeans_init="random",
    )
    assert rep["rebuilt_to"] is not None
    assert S.resolve_index_path(spark, root) == rep["rebuilt_to"] != v1
    assert rep["gc_deleted"] == [os.path.dirname(v1)]
    q = _q(emb)
    assert _rows(S.ivf_index_topk(spark, root, q, k=5, n_probe=8)) == _rows(
        S.brute_force_topk(emb, q, k=5)
    )


def test_maintain_index_tick_on_ivfpq_root(spark, sf_small, tmp_path):
    """The compressed tier's tick: coarse measure against the _meta
    baseline, residual retrain decision (no-op below threshold), same
    compaction + GC path; ADC serving through the root stays live."""
    emb = _emb(spark, sf_small)
    root = str(tmp_path / "idx")
    S.build_ivf_index_versioned(
        emb, root, writer=S.write_ivfpq_index, n_centroids=4
    )
    rep = S.maintain_index(spark, root, gc_min_age_sec=0.0)
    assert rep["rebuilt_to"] is None and rep["retrained"] is False
    assert rep["coarse_baseline"] > 0
    out = S.ivf_index_topk(spark, root, _q(emb), k=5, n_probe=4)
    assert out.count() > 0
