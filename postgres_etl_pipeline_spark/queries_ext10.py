"""Extension catalog, batch 10 (round 12): the versioned-root DRAIN
lifecycle — the advice-r11 lost-append race, closed and driver-checked.

Round 11 made blue/green rebuilds deployable (pointer, GC, leases) but
left one silent-loss window OPEN: a long-lived drain that resolved the
live layout path BEFORE a rebuild and appends AFTER the rebuild's lease
is released acquires the retired version's now-free lease and lands
rows serving never sees — permanently lost at GC. Round 12 closes it
from both ends: the publish drops an ``index__retired`` tombstone and
every maintenance writer re-checks liveness AFTER acquiring the lease
(stale cached paths raise ``StaleIndexVersion``), and the maintenance
surface is ROOT-AWARE — appends/deletes passed the root re-resolve the
live version INSIDE the lease, making resolution and write one atomic
unit.

The entry here certifies the whole composition end-to-end the way a
production corpus actually runs: build v1 → append a drain batch
THROUGH THE ROOT → forced blue/green rebuild (flip to v2; the appended
rows must ride into v2 — this is exactly the data a lost-append bug
would drop) → append another batch through the root (lands on v2) →
tombstone-delete through the root → GC the retired version → probe-all
search through the pointer. Hash-equal to the brute-force oracle over
the surviving rows because probe-all search is exact regardless of the
centroid geometry.

Same registry/oracle conventions as queries_ext.py.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .queries import register, spread, t
from .queries_ext9 import _cosine_topk_oracle
from .session import local_frame

# survivors: the whole embeddings table minus the tombstoned tenth;
# queries: vec_id < 20 (deleted ids still QUERY — deletion removes a
# vector from the corpus, not from the workload)
_ROOT_LIFECYCLE_ORACLE = """
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ),
    survivors AS (
      SELECT * FROM v WHERE vec_id % 10 <> 7
    ),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             round(list_cosine_similarity(q.e, c.e), 4) AS cos_sim
      FROM v q JOIN survivors c ON q.vec_id <> c.vec_id
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
    "ivf_root_drain_lifecycle",
    _ROOT_LIFECYCLE_ORACLE,
    survey="§7 Phase 5 extension (advice r11 #1): ROOT-AWARE index "
    "maintenance — append_to_ivf_index/delete_from_ivf_index accept the "
    "versioned root and resolve the live version INSIDE the writer "
    "lease (resolution + write = one atomic unit), publish drops an "
    "index__retired tombstone so a drain holding a stale cached path "
    "raises StaleIndexVersion instead of silently losing rows behind a "
    "blue/green flip; this entry drives append-through-root -> forced "
    "rebuild -> append -> tombstone-delete -> GC -> probe-all search "
    "through the pointer, hash-pinned against brute force over the "
    "survivors",
    tags=("ext", "similarity"),
)
def ivf_root_drain_lifecycle(spark, sf_dir):
    """The versioned-root maintenance lifecycle a production drain runs,
    end to end through the POINTER: every mutation below passes the
    ROOT, never a resolved path — the first append's rows must survive
    the forced rebuild (they ride the corpus read into v2), the second
    append must land on v2, and the delete must rewrite v2's affected
    cells. Probe-all search through the root then hash-equals brute
    force over (corpus ∪ appends) − tombstones."""
    import shutil
    import tempfile

    from .operators import similarity as S

    emb = spread(t(spark, sf_dir, "embeddings"))
    base = emb.filter(F.col("vec_id") % 3 == 0)
    drain1 = emb.filter(F.col("vec_id") % 3 == 1)
    drain2 = emb.filter(F.col("vec_id") % 3 == 2)
    tombs = emb.filter(F.col("vec_id") % 10 == 7).select("vec_id")
    empty_schema = "query_id long, neighbor_id long, cos_sim double, rank int"
    scratch = tempfile.mkdtemp(prefix="ivf_root_drain_")
    try:
        root = scratch + "/idx"
        cents = S.build_ivf_index_versioned(
            base, root, n_centroids=8, kmeans_max_iter=1, kmeans_init="random"
        )
        if not len(cents):
            # empty corpus: nothing published; the search answer is empty
            return local_frame(spark, [], empty_schema)
        S.append_to_ivf_index(drain1, root)  # root-aware: resolves to v1
        vpath = S.rebuild_ivf_index_versioned(
            spark, root, force=True,
            n_centroids=16, kmeans_max_iter=1, kmeans_init="random",
        )
        assert vpath == S.resolve_index_path(spark, root)
        S.append_to_ivf_index(drain2, root)  # lands on v2 via the pointer
        S.delete_from_ivf_index(spark, root, tombs)  # rewrites v2's cells
        S.gc_retired_versions(spark, root, keep=1, min_age_sec=0.0)
        out = S.ivf_index_topk(
            spark, root, emb.filter(F.col("vec_id") < 20), k=5, n_probe=16
        )
        rows = out.collect()
        schema = out.schema
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    return local_frame(spark, rows, schema)


# tokenization canon shared with queries_ext._TOKS (collapse whitespace →
# trim → split on one space); the oracle states the packing as ONE
# global window — the formulation that does NOT scale (single-partition
# sort) but is exactly what the distributed two-phase prefix sum must
# reproduce bit-for-bit
_PACK_ORACLE = """
    WITH d AS (
      SELECT doc_id,
             len(string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')),
                 ' ')) AS n_tok
      FROM documents
    ),
    o AS (
      SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
             CAST(SUM(n_tok) OVER (ORDER BY doc_id
                    ROWS UNBOUNDED PRECEDING) - n_tok AS BIGINT) AS start_off
      FROM d WHERE n_tok > 0
    ),
    s AS (
      SELECT o.*, k.seq_id
      FROM o, LATERAL (
        SELECT unnest(generate_series(start_off // 512,
                                      (start_off + n_tok - 1) // 512))
               AS seq_id
      ) k
    )
    SELECT CAST(seq_id AS BIGINT) AS seq_id, doc_id,
           CAST(GREATEST(start_off, seq_id * 512) - start_off AS BIGINT)
             AS doc_start_tok,
           CAST(GREATEST(start_off, seq_id * 512) - seq_id * 512 AS BIGINT)
             AS seq_off,
           CAST(LEAST(start_off + n_tok, (seq_id + 1) * 512)
                - GREATEST(start_off, seq_id * 512) AS BIGINT) AS n_tok
    FROM s
    """


@register(
    "pack_training_sequences",
    _PACK_ORACLE,
    survey="§7 Phase 5 extension: GPT-style concat-and-chunk SEQUENCE "
    "PACKING — documents laid end-to-end in ascending doc_id order, the "
    "token stream cut into fixed-512-token training sequences, boundary "
    "docs contributing one span per sequence touched; the global running "
    "offset is a two-phase distributed prefix sum (range repartition -> "
    "per-partition window cumsum -> O(n_parts) exclusive-prefix "
    "broadcast), never a single-partition sort — the oracle states the "
    "same packing as the one-window formulation and the hash pins the "
    "distributed derivation to it",
    tags=("ext", "text"),
)
def pack_training_sequences(spark, sf_dir):
    """Pack the documents table into 512-token training sequences; the
    span map (seq_id, doc_id, doc_start_tok, seq_off, n_tok) is what a
    training loader assembles batches (and intra-sequence attention
    boundaries) from. Partitioning-independent by construction — see
    operators.text.pack_sequences."""
    from .operators.text import pack_sequences

    return pack_sequences(t(spark, sf_dir, "documents"), seq_len=512)


@register(
    "ivf_maintenance_tick_topk",
    # the tick's constituent ops are all exactness-preserving (compaction
    # is a pure file-layout change; a forced blue/green rebuild re-clusters
    # the same rows; GC touches only retired subtrees), so probe-all search
    # through the root after TWO ticks — one that compacts, one that
    # rebuilds — hash-equals the brute-force oracle
    _cosine_topk_oracle(),
    survey="§7 Phase 5 extension (round 12): the maintenance ORCHESTRATOR "
    "— maintain_index(root) is the one call a production scheduler makes "
    "per tick: recover interrupted swaps, measure coarse drift against "
    "the build-time baseline (bounded sample), blue/green rebuild past "
    "threshold, codebook retrain at the compressed tier, one-swap "
    "compaction of streaming-fragmented cells, retired-version GC — "
    "each step under the writer lease, each decision bounded metadata; "
    "this entry drives a fragmented root through a compacting tick and "
    "a forced-rebuild tick and hash-pins serving through the pointer",
    tags=("ext", "similarity"),
)
def ivf_maintenance_tick_topk(spark, sf_dir):
    """Fragment a versioned root with three appends, run one tick that
    compacts (drift below threshold), then one tick with the threshold
    at zero that rebuilds blue/green and GCs the retired version —
    probe-all search through the root stays hash-equal to brute force
    across the whole policy loop."""
    import shutil
    import tempfile

    from .operators import similarity as S

    emb = spread(t(spark, sf_dir, "embeddings"))
    empty_schema = "query_id long, neighbor_id long, cos_sim double, rank int"
    scratch = tempfile.mkdtemp(prefix="ivf_tick_")
    try:
        root = scratch + "/idx"
        cents = S.build_ivf_index_versioned(
            emb.filter(F.col("vec_id") % 4 == 0), root,
            n_centroids=8, kmeans_max_iter=1, kmeans_init="random",
        )
        if not len(cents):
            return local_frame(spark, [], empty_schema)
        for m in (1, 2, 3):
            S.append_to_ivf_index(emb.filter(F.col("vec_id") % 4 == m), root)
        rep = S.maintain_index(
            spark, root, compact_target_bytes=1 << 30, gc_min_age_sec=0.0,
        )
        assert rep["rebuilt_to"] is None  # healthy: compaction only
        rep2 = S.maintain_index(
            spark, root, coarse_threshold=0.0,
            gc_min_age_sec=0.0,
            n_centroids=16, kmeans_max_iter=1, kmeans_init="random",
        )
        assert rep2["rebuilt_to"] is not None  # forced: blue/green + GC
        out = S.ivf_index_topk(
            spark, root, emb.filter(F.col("vec_id") < 20), k=5, n_probe=16
        )
        rows = out.collect()
        schema = out.schema
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    return local_frame(spark, rows, schema)
