"""Streaming query catalog (SURVEY §2.8 / §7 Phase 4).

Each entry runs a real Structured Streaming query — file-source stream →
stateful transformation → ``trigger(availableNow=True)`` → memory sink —
and returns the converged result as a batch DataFrame, which the driver
checks against a batch DuckDB oracle. This is the strongest correctness
claim available for streaming: the drained stream must equal the batch
answer.

Batch-count assumptions: the driver testdata is one parquet file per table,
so availableNow runs exactly one micro-batch. complete-mode entries are
correct for ANY batch count; update-mode entries (session windows,
applyInPandasWithState) rely on single-batch convergence here, and their
multi-batch update semantics are covered in tests/test_streaming.py with
maxFilesPerTrigger-controlled replays.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from .queries import register
from .session import local_frame
from .streaming import jobs, runner, sources

_FMT = "%Y-%m-%d %H:%M:%S"

# State-store partition count for these BOUNDED local drains. A stateful
# streaming query pins state partitioning from spark.sql.shuffle.partitions
# at first-batch planning; 32 instances per operator are pure overhead at
# catalog data volumes (measured: stream_stream_join 11.9s→2.4s at sf0.1
# going 32→4). At 100 TB this number goes UP with state volume — it's a
# deployment knob (runner.run_to_memory(state_partitions=...)), not a
# hardcoded conf.
STATE_PARTITIONS = 4


@register(
    "stream_tumbling_hourly",
    f"""
    SELECT strftime(date_trunc('hour', ts), '{_FMT}') AS win_start,
           event_type,
           count(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
    survey="§2.8: tumbling window agg over a drained stream == batch answer",
    tags=("streaming",),
)
def stream_tumbling_hourly(spark, sf_dir):
    ev = sources.stream_events(spark, sf_dir)
    out = jobs.tumbling_counts(ev, window="1 hour", delay="30 minutes")
    return runner.run_to_memory(out, "stream_tumbling_hourly", "complete", state_partitions=STATE_PARTITIONS)


@register(
    "stream_sliding_hourly",
    f"""
    WITH cand AS (
      SELECT time_bucket(INTERVAL '30 minutes', ts)
               - o.i * INTERVAL '30 minutes' AS ws,
             ts
      FROM events CROSS JOIN (VALUES (0), (1)) AS o(i)
    )
    SELECT strftime(ws, '{_FMT}') AS win_start,
           strftime(ws + INTERVAL '1 hour', '{_FMT}') AS win_end,
           count(*) AS n_events
    FROM cand
    WHERE ts >= ws AND ts < ws + INTERVAL '1 hour'
    GROUP BY 1, 2
    """,
    survey="§2.8 extension: sliding windows (1h window / 30m slide)",
    tags=("streaming",),
)
def stream_sliding_hourly(spark, sf_dir):
    ev = sources.stream_events(spark, sf_dir)
    out = jobs.sliding_counts(ev, window="1 hour", slide="30 minutes")
    return runner.run_to_memory(out, "stream_sliding_hourly", "complete", state_partitions=STATE_PARTITIONS)


@register(
    "stream_session_windows",
    f"""
    WITH o AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    s AS (
      SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM o
    )
    SELECT user_id,
           strftime(min(ts), '{_FMT}') AS session_start,
           count(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM s
    GROUP BY user_id, sid
    """,
    survey="§2.8 extension: session_window (30-min gap) vs gaps-and-islands",
    tags=("streaming",),
)
def stream_session_windows(spark, sf_dir):
    # session_window closes at last_ts + gap (half-open), so a gap of
    # exactly 30 minutes starts a new session — hence >= in the oracle.
    ev = sources.stream_events(spark, sf_dir)
    out = jobs.session_window_agg(ev, gap="30 minutes")
    return runner.run_to_memory(out, "stream_session_windows", "complete", state_partitions=STATE_PARTITIONS)


_LINEITEM_KEYS_SCHEMA = T.StructType(
    [
        T.StructField("l_orderkey", T.LongType(), True),
        T.StructField("l_linenumber", T.IntegerType(), True),
    ]
)


@register(
    "stream_dedup_lineitem",
    """
    SELECT count(*) AS distinct_keys
    FROM (SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem)
    """,
    survey="§2.8: dropDuplicates on the upsert PK over a stream (K5/J3 twin;"
    " sf0.01 plants duplicate keys on purpose)",
    tags=("streaming",),
)
def stream_dedup_lineitem(spark, sf_dir):
    # schema projection prunes the parquet scan to the two key columns
    li = sources.stream_parquet(
        spark, f"{sf_dir}/lineitem.parquet", _LINEITEM_KEYS_SCHEMA
    )
    deduped = li.dropDuplicates(["l_orderkey", "l_linenumber"])
    # append-mode memory sink emits each first-seen key once; counting is a
    # batch op on the drained table (avoids chained stateful operators)
    out = runner.run_to_memory(deduped, "stream_dedup_lineitem", "append", state_partitions=STATE_PARTITIONS)
    return out.agg(F.count(F.lit(1)).alias("distinct_keys"))


# One SHARED drain serves both stateful entries (r05 verdict item 4): the
# per-user profile state (count + type map + total) is a strict superset of
# the running totals state, so the totals entry is a projection of the same
# drained stream — Structured Streaming startup/drain is the dominant cost
# of every stream_* entry and this halves it for the stateful pair. The
# profile operator's multi-batch running totals are pinned in
# tests/test_streaming.py. The drained result is localCheckpoint'd so
# later memory-sink runs can't mutate it; the cache is keyed by (Spark
# application, sf_dir).
_PROFILE_DRAIN: dict[tuple[str, str], "object"] = {}


def _profile_final(spark, sf_dir):
    from .queries_ext import _evict_stale_stages

    _evict_stale_stages(_PROFILE_DRAIN, spark.sparkContext.applicationId)
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _PROFILE_DRAIN:
        ev = sources.stream_events(spark, sf_dir)
        out = jobs.stateful_user_profile(
            ev.select("user_id", "event_type", "value")
        )
        res = runner.run_to_memory(
            out,
            "stream_stateful_profile_shared",
            "update",
            state_partitions=STATE_PARTITIONS,
        )
        # update mode re-emits a group on every batch it changes in; keep
        # the final (= max-count) emission per user so any batch count
        # converges
        final = (
            res.groupBy("user_id")
            .agg(
                F.max_by(
                    F.struct("n_events", "n_types", "total_value"), "n_events"
                ).alias("s")
            )
            .select("user_id", "s.n_events", "s.n_types", "s.total_value")
        )
        _PROFILE_DRAIN[key] = final.localCheckpoint(eager=True)
    return _PROFILE_DRAIN[key]


@register(
    "stream_stateful_user_totals",
    """
    SELECT user_id,
           count(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1
    """,
    survey="§2.9/§2.8: custom stateful op (applyInPandasWithState) — running"
    " per-user totals as a projection of the shared profile drain (the"
    " profile state strictly refines the totals state); its multi-batch"
    " running totals are pinned in tests/test_streaming.py",
    tags=("streaming",),
)
def stream_stateful_user_totals(spark, sf_dir):
    return _profile_final(spark, sf_dir).select(
        "user_id", "n_events", "total_value"
    )


@register(
    "stream_stateful_user_profile",
    """
    SELECT user_id,
           count(*) AS n_events,
           CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1
    """,
    survey="§2.8: per-user profile with composed state (count + type map +"
    " total) — applyInPandasWithState twin of the protobuf-gated"
    " transformWithState processor (streaming/jobs.py); drained state =="
    " batch groupBy",
    tags=("streaming",),
)
def stream_stateful_user_profile(spark, sf_dir):
    return _profile_final(spark, sf_dir)


@register(
    "stream_dedup_then_hourly",
    f"""
    WITH d AS (
      SELECT DISTINCT ON (event_id) event_id, ts, event_type
      FROM events
    )
    SELECT strftime(date_trunc('hour', ts), '{_FMT}') AS win_start,
           event_type,
           count(*) AS n_events
    FROM d
    GROUP BY 1, 2
    """,
    survey="§2.8: CHAINED stateful operators — dropDuplicates(event_id) →"
    " tumbling window agg in one streaming query (Spark 3.4+ multi-stateful"
    " support); drained result == batch distinct-then-agg",
    tags=("streaming",),
)
def stream_dedup_then_hourly(spark, sf_dir):
    ev = sources.stream_events(spark, sf_dir).select("event_id", "ts", "event_type")
    deduped = ev.withWatermark("ts", "30 minutes").dropDuplicates(["event_id"])
    out = (
        deduped.groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "event_type",
            "n_events",
        )
    )
    return runner.run_to_memory(out, "stream_dedup_then_hourly", "complete", state_partitions=STATE_PARTITIONS)


@register(
    "stream_stream_join",
    f"""
    SELECT c.event_id AS click_id,
           v.event_id AS view_id,
           c.user_id,
           strftime(c.ts, '{_FMT}') AS click_ts
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    JOIN (SELECT * FROM events WHERE event_type = 'view') v
      ON c.user_id = v.user_id
     AND v.ts >= c.ts - INTERVAL '30 minutes'
     AND v.ts <= c.ts
    """,
    survey="§2.8: stream-stream INNER interval join (views within 30 min"
    " before each click, same user) — watermarks bound both sides' state;"
    " drained result == batch interval join",
    tags=("streaming",),
)
def stream_stream_join(spark, sf_dir):
    ev = sources.stream_events(spark, sf_dir)
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "30 minutes")
    )
    views = (
        ev.filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", "30 minutes")
    )
    joined = clicks.join(
        views,
        (F.col("c_user") == F.col("v_user"))
        & (F.col("v_ts") >= F.col("c_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("v_ts") <= F.col("c_ts")),
    ).select(
        "click_id",
        "view_id",
        F.col("c_user").alias("user_id"),
        F.date_format("c_ts", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
    )
    return runner.run_to_memory(joined, "stream_stream_join", "append", state_partitions=STATE_PARTITIONS)


@register(
    "stream_static_enrich",
    """
    WITH dim AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS type_total,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(*)
               AS type_avg_value
      FROM events GROUP BY 1
    )
    SELECT e.event_id, e.event_type, d.type_total, d.type_avg_value
    FROM events e JOIN dim d USING (event_type)
    """,
    survey="§2.8 extension: stream-static broadcast join — per-batch dimension lookup enrichment, stateless append mode (the missing join flavor between batch J1 and the stream-stream interval join)",
    tags=("streaming",),
)
def stream_static_enrich(spark, sf_dir):
    from .queries import read_events

    ev = sources.stream_events(spark, sf_dir)
    dim = (
        read_events(spark, sf_dir)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("type_total"),
            (
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1))
            ).alias("type_avg_value"),
        )
    )
    out = jobs.static_enrich(ev, dim)
    return runner.run_to_memory(
        out, "stream_static_enrich", "append", state_partitions=STATE_PARTITIONS
    )


# ---------------------------------------------------------------------------
# Streaming CDC apply — the delete-capable K5 as a drained changelog stream
# ---------------------------------------------------------------------------

_ORDERS_CDC_SCHEMA = T.StructType(
    [
        T.StructField("o_orderkey", T.LongType()),
        T.StructField("o_orderstatus", T.StringType()),
        T.StructField("o_totalprice", T.DoubleType()),
    ]
)


from .queries_ext4 import _CDC_LATEST_SQL, build_orders_changelog  # noqa: E402


@register(
    "stream_cdc_apply",
    # same final state as the batch entry: the drained changelog stream
    # must converge to exactly what one batch collapse computes. The CTE
    # chain is SHARED with cdc_apply_orders (queries_ext4) so the batch
    # and stream entries can never silently test different changelogs.
    f"""
    WITH {_CDC_LATEST_SQL}
    SELECT status, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM latest
    GROUP BY 1
    """,
    survey="§2.8/§2.2 K5+CDC: an I/U/D changelog STREAM drained through "
    "foreachBatch cdc_merge_parquet (tombstone-retaining keyed merge) — "
    "the drained target equals the batch changelog collapse",
    tags=("streaming", "cdc"),
)
def stream_cdc_apply(spark, sf_dir):
    """Stream the orders-derived changelog (the SAME deterministic I/U/D
    derivation as ``cdc_apply_orders`` — one shared builder) into a CDC
    parquet target via ``run_cdc_sink``, then audit the live table.

    The three op branches are three streaming scans of the same source
    unioned into one changelog stream — exactly how a WAL tail merges
    concurrent op kinds. Effectively-once semantics (redelivery, replay,
    out-of-order batches) are pinned in tests/test_cdc.py with
    maxFilesPerTrigger-controlled multi-batch replays; here the driver
    checks end-state parity against the batch oracle.

    The audit aggregate (a handful of status rows) is collected EAGERLY so
    the scratch target and checkpoint can be deleted before returning —
    a lazily-returned plan over the temp table would leak one full merged
    orders copy per invocation (review finding r06).
    """
    import shutil
    import tempfile

    from .connectors.sinks import read_cdc_table
    from .operators.relational import dsum

    log = build_orders_changelog(
        lambda: sources.stream_parquet(
            spark, f"{sf_dir}/orders.parquet", _ORDERS_CDC_SCHEMA
        )
    )
    scratch = tempfile.mkdtemp(prefix="stream_cdc_")
    try:
        target = scratch + "/orders_cdc"
        runner.run_cdc_sink(
            log,
            target,
            keys=["okey"],
            order_by=["seq"],
            checkpoint=scratch + "/ckpt",
        )
        audit = (
            read_cdc_table(spark, target)
            .groupBy("status")
            .agg(F.count(F.lit(1)).alias("n_rows"), dsum("totalprice", "total"))
        )
        rows = audit.collect()
        schema = audit.schema
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    return local_frame(spark, rows, schema)


# ---------------------------------------------------------------------------
# Streaming Bloom-gated incremental dedup — the admission gate as a stream
# ---------------------------------------------------------------------------

_DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def _stream_bloom_oracle() -> str:
    # fp/idx CTEs + split constant shared with the batch twin
    # (bloom_dedup_new_docs) so the two entries cannot drift apart
    from .queries_ext5 import _BLOOM_SPLIT_SQL, BLOOM_SPLIT_SRC

    return f"""
    WITH {_BLOOM_SPLIT_SQL}
    SELECT f.doc_id, f.fp
    FROM fp f
    WHERE CAST(substr(f.source, 4) AS BIGINT) >= {BLOOM_SPLIT_SRC}
      AND NOT EXISTS (SELECT 1 FROM idx WHERE idx.fp = f.fp)
    """


@register(
    "stream_bloom_dedup",
    _stream_bloom_oracle(),
    survey="§2.8 extension: streaming admission gate against a static "
    "fingerprint index — the Bloom filter embedded as a PLAN LITERAL "
    "(bounded words, pure scan-side probe expressions: no aggregate, no "
    "state, append-safe) with a stream-static conditional anti join "
    "verifying only probable hits; drained answer == the batch anti-join "
    "oracle (no intra-batch keeper by design — that is the downstream "
    "batch dedup's job)",
    tags=("streaming", "dedup"),
)
def stream_bloom_dedup(spark, sf_dir):
    from .operators.dedup import bloom_bit_string, bloom_bit_words
    from .operators.text import fingerprint
    from .queries_ext5 import BLOOM_SPLIT_SRC, bloom_split

    num_bits, num_hashes = 1 << 17, 4
    index_fps, _ = bloom_split(spark, sf_dir)
    bits = bloom_bit_string(
        bloom_bit_words(index_fps, num_bits, num_hashes), num_bits
    )
    st = (
        sources.stream_parquet(spark, f"{sf_dir}/documents.parquet", _DOCS_SCHEMA)
        .filter(F.substring("source", 4, 10).cast("long") >= BLOOM_SPLIT_SRC)
        .select("doc_id", fingerprint("text").alias("fp"))
    )
    out = jobs.bloom_index_dedup(st, index_fps, bits, num_bits, num_hashes)
    return runner.run_to_memory(
        out, "stream_bloom_dedup", "append", state_partitions=STATE_PARTITIONS
    )


# ---------------------------------------------------------------------------
# Streaming NEAR-dup admission against an accreting MinHash band index —
# the probabilistic sibling of stream_bloom_dedup, with exact verification
# ---------------------------------------------------------------------------


def _stream_minhash_oracle() -> str:
    # the batch twin's oracle verbatim: the drained admission must equal
    # the one-shot batch admission (incremental_near_dup_new_docs) —
    # sharing the SQL is the no-drift guarantee
    from .queries_ext5 import _incr_near_dup_oracle

    return _incr_near_dup_oracle()


@register(
    "stream_minhash_dedup",
    _stream_minhash_oracle(),
    survey="§2.8 extension (verdict r07 item 5): streaming NEAR-dup "
    "admission — each micro-batch runs incremental_minhash_dedup against "
    "parquet state (band index + seen texts) via foreachBatch, admits "
    "survivors, and accretes the state with keyed upserts; drained "
    "admission == the batch twin's answer (same oracle as "
    "incremental_near_dup_new_docs), at-least-once + idempotent-upsert "
    "= effectively-once",
    tags=("streaming", "dedup"),
)
def stream_minhash_dedup(spark, sf_dir):
    """Stream the doc_id % 10 ∈ {8, 9} batch through near-dup admission
    against the rest of the corpus as pre-seeded state (the same split as
    the batch twin). State (band index, seen texts, admitted ids) lives
    in scratch parquet and accretes per micro-batch; the admitted table
    is collected EAGERLY so the scratch dirs can be deleted before
    returning (the stream_cdc_apply lifecycle discipline).

    BATCH-ORDER ASSUMPTION (advice r08 #4): the drained admission equals
    the one-shot batch twin whenever micro-batch order respects doc_id
    order — admission keys dominance on the LOWEST doc_id, so a
    higher-id doc admitted in an early batch whose lower-id near-partner
    only arrives later would diverge from the batch answer. Here the
    driver testdata is one parquet file per table, so availableNow runs
    the whole slice as a SINGLE micro-batch (the module-docstring
    convention for update-mode entries) and the equality is exact; the
    multi-batch ordering semantics are exercised in
    tests/test_streaming.py with maxFilesPerTrigger-controlled splits of
    id-ordered files."""
    import shutil
    import tempfile

    from .operators.dedup import minhash_band_rows

    docs = spark.read.schema(_DOCS_SCHEMA).parquet(f"{sf_dir}/documents.parquet")
    stored = docs.select("doc_id", "text").filter(F.col("doc_id") % 10 < 8)
    scratch = tempfile.mkdtemp(prefix="stream_minhash_")
    try:
        state = scratch + "/state"
        minhash_band_rows(stored).write.parquet(state + "/bands")
        stored.write.parquet(state + "/seen")
        st = sources.stream_parquet(
            spark, f"{sf_dir}/documents.parquet", _DOCS_SCHEMA
        ).filter(F.col("doc_id") % 10 >= 8)
        runner.run_minhash_admission_sink(
            st, state, threshold=0.5, checkpoint=scratch + "/ckpt"
        )
        admitted = runner.read_state_or_empty(
            spark, state + "/admitted", "doc_id long"
        )
        rows = admitted.collect()
        schema = admitted.schema
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    return local_frame(spark, rows, schema)


# ---------------------------------------------------------------------------
# Streaming incremental top-k maintenance — ANN results kept current as
# the corpus grows, drained state == full brute force (pure scores)
# ---------------------------------------------------------------------------

_EMB_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("label", T.IntegerType()),
    ]
)


def _stream_topk_oracle() -> str:
    # the full-corpus brute-force SQL verbatim: pure per-pair scores make
    # the drained incremental state equal a from-scratch recompute no
    # matter how the stream was batched (see incremental_topk_update)
    from .queries_ext import _COSINE_TOPK_ORACLE

    return _COSINE_TOPK_ORACLE


@register(
    "stream_topk_maintenance",
    _stream_topk_oracle(),
    survey="§2.8 extension: streaming INCREMENTAL top-k maintenance — "
    "each micro-batch scores only its own vectors and the Q·k state "
    "table is swap-rewritten per batch (foreachBatch); drained state is "
    "hash-equal to full-corpus brute force (pure per-pair scores + the "
    "merge's idempotent distinct), the ANN-serving twin of the "
    "incremental dedup drains",
    tags=("streaming", "similarity"),
)
def stream_topk_maintenance(spark, sf_dir):
    """Stream the embeddings table through per-batch top-k maintenance
    from a COLD state (no seed — the first batch creates the state), then
    read the final state and re-rank for output. Queries are the shared
    first-20-vector probe slice, collected up front like every ANN
    entry's bounded query side."""
    import shutil
    import tempfile

    from .operators.similarity import incremental_topk_update

    emb = spark.read.schema(_EMB_SCHEMA).parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 20)
    scratch = tempfile.mkdtemp(prefix="stream_topk_")
    try:
        st = sources.stream_parquet(
            spark, f"{sf_dir}/embeddings.parquet", _EMB_SCHEMA
        )
        runner.run_topk_maintenance_sink(
            st, scratch + "/state", queries, k=5,
            checkpoint=scratch + "/ckpt",
        )
        state = runner.read_state_or_empty(
            spark,
            scratch + "/state/topk",
            "query_id long, neighbor_id long, cos_sim double",
        )
        # final ranking (the state stores the triples; rank is derived) —
        # reuse the maintenance merge with an empty batch for the window
        out = incremental_topk_update(
            state, emb.filter(F.col("vec_id") < 0), queries, k=5
        )
        rows = out.collect()
        schema = out.schema
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    return local_frame(spark, rows, schema)


# ---------------------------------------------------------------------------
# Streaming persisted-IVF maintenance — the full growing-corpus ANN story
# as one foreachBatch sink (verdict r08 item 8)
# ---------------------------------------------------------------------------


@register(
    "stream_ivf_maintenance",
    # probe-all search over the DRAINED index is exact search over the
    # full corpus, so the oracle is the same brute-force cosine SQL the
    # batch rebuild would hash to — a green row IS the drained-state ==
    # batch-rebuild proof (both equal the exact answer)
    _stream_topk_oracle(),
    survey="§2.8 extension (verdict r08 item 8): streaming PERSISTED-IVF "
    "maintenance — each micro-batch assigns against the STORED centroids "
    "and appends into its cid partitions (append_to_ivf_index; the "
    "corpus is never re-clustered or rescanned) while the served Q·k "
    "top-k state stays current via incremental_topk_update, one "
    "foreachBatch sink; drained index at probe-all hash-equals the "
    "batch rebuild (both exact)",
    tags=("streaming", "similarity"),
)
def stream_ivf_maintenance(spark, sf_dir):
    """Build the index from the vec_id % 5 != 4 slice (the FAISS
    train-then-add split), stream the % 5 == 4 slice through the
    maintenance sink (index append + top-k upkeep per micro-batch), then
    search the drained index probe-all. The sink's topk state is checked
    against the index search in tests/test_ivf_maintenance.py; the entry
    returns the index search (the serving artifact)."""
    import shutil
    import tempfile

    from .operators.similarity import read_ivf_centroids, write_ivf_index
    from .operators.similarity import ivf_index_topk

    emb = spark.read.schema(_EMB_SCHEMA).parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 20)
    scratch = tempfile.mkdtemp(prefix="stream_ivf_")
    try:
        path = scratch + "/index"
        write_ivf_index(
            emb.filter(F.col("vec_id") % 5 != 4), path,
            n_centroids=16, kmeans_max_iter=1, kmeans_init="random",
        )
        st = sources.stream_parquet(
            spark, f"{sf_dir}/embeddings.parquet", _EMB_SCHEMA
        ).filter(F.col("vec_id") % 5 == 4)
        runner.run_ivf_maintenance_sink(
            st, path, queries=queries, state_dir=scratch + "/state",
            k=5, checkpoint=scratch + "/ckpt",
        )
        n_lists = len(read_ivf_centroids(spark, path))
        out = ivf_index_topk(spark, path, queries, k=5, n_probe=n_lists)
        rows = out.collect()
        schema = out.schema
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    return local_frame(spark, rows, schema)


def _ivfpq_residual_oracle() -> str:
    from .queries_ext7 import _IVFPQ_RESIDUAL_ORACLE

    return _IVFPQ_RESIDUAL_ORACLE


@register(
    "stream_ivfpq_maintenance",
    # sidecars (anchor centroids + anchor residual codebook) derive from
    # the FULL corpus and are held fixed, so drained append-encoding is
    # bit-identical to the one-shot build (codes are a pure function of
    # vector + sidecars) — the drained layout's probe-all search shares
    # the full residual-pipeline oracle with ivfpq_residual_topk
    _ivfpq_residual_oracle(),
    survey="§2.8 extension (round 9): streaming PERSISTED-IVFADC "
    "maintenance — micro-batches are residual-PQ-ENCODED against the "
    "stored sidecars and appended into cid partitions "
    "(append_to_ivf_index via run_ivf_maintenance_sink, the codec read "
    "from the layout); drained layout == one-shot build bit-for-bit "
    "(pure-function encoding), probe-all search hash-oracled against "
    "the residual pipeline SQL",
    tags=("streaming", "similarity"),
)
def stream_ivfpq_maintenance(spark, sf_dir):
    """FAISS train-then-add, streamed at the COMPRESSED tier: derive the
    anchor sidecars from the full corpus (what a one-shot build would
    use), build the layout from the vec_id % 5 != 4 slice with those
    sidecars pinned, stream the % 5 == 4 slice through the maintenance
    sink (each batch encoded against the STORED sidecars), then search
    the drained layout probe-all."""
    import shutil
    import tempfile

    from .operators.similarity import (
        LatticeCodebook,
        anchor_residual_codebook,
        ivf_index_topk,
        lattice_anchor_centroids,
        write_ivfpq_index,
    )

    emb = spark.read.schema(_EMB_SCHEMA).parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 20)
    if emb.limit(1).count() == 0:
        return local_frame(
            spark, [], "query_id long, neighbor_id long, cos_sim double, rank int"
        )
    scratch = tempfile.mkdtemp(prefix="stream_ivfpq_")
    try:
        path = scratch + "/index"
        Cc = lattice_anchor_centroids(emb, 8)
        As = anchor_residual_codebook(emb, Cc)
        write_ivfpq_index(
            emb.filter(F.col("vec_id") % 5 != 4), path,
            coarse_cents=Cc, codebook=As,
        )
        st = sources.stream_parquet(
            spark, f"{sf_dir}/embeddings.parquet", _EMB_SCHEMA
        ).filter(F.col("vec_id") % 5 == 4)
        runner.run_ivf_maintenance_sink(st, path, checkpoint=scratch + "/ckpt")
        out = ivf_index_topk(spark, path, queries, k=5, rerank=4, n_probe=8)
        rows = out.collect()
        schema = out.schema
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    return local_frame(spark, rows, schema)


def _stream_delete_oracle() -> str:
    from .queries_ext8 import _DELETE_TOPK_ORACLE

    return _DELETE_TOPK_ORACLE


@register(
    "stream_ivf_delete_maintenance",
    # the drained index holds (build slice + streamed inserts − streamed
    # tombstones); probe-all search is exact over those survivors, so
    # the oracle is brute-force cosine restricted to the surviving ids —
    # shared verbatim with the batch delete entry
    _stream_delete_oracle(),
    survey="§2.8 extension (verdict r09 item 2): CDC-SHAPED streaming "
    "index maintenance — one foreachBatch drain carrying BOTH inserts "
    "and tombstones (op_col): inserts append against the stored "
    "centroids, 'D' rows anti-join-delete their cells through the "
    "crash-safe staged swap, same-batch delete wins over insert "
    "(last-write-wins, the CDC sink convention); probe-all = exact over "
    "survivors, hash-oracled",
    tags=("streaming", "similarity"),
)
def stream_ivf_delete_maintenance(spark, sf_dir):
    """Build the index from the vec_id % 3 == 0 slice, stream the rest
    as inserts PLUS tombstones for every vec_id % 7 == 3 row (some of
    which are inserted in the same drain — the same-batch
    insert+delete → absent path), then search the drained index
    probe-all."""
    import shutil
    import tempfile

    from .operators.similarity import (
        ivf_index_topk,
        read_ivf_centroids,
        write_ivf_index,
    )

    emb = spark.read.schema(_EMB_SCHEMA).parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 20)
    scratch = tempfile.mkdtemp(prefix="stream_ivf_del_")
    try:
        path = scratch + "/index"
        build_df = emb.filter(F.col("vec_id") % 3 == 0)
        if build_df.limit(1).count() == 0:
            build_df = emb  # advice r09 #3 discipline: never train on a
            # silently-empty slice while the corpus has rows
        cents = write_ivf_index(
            build_df, path,
            n_centroids=16, kmeans_max_iter=1, kmeans_init="random",
        )
        if not len(cents):  # empty corpus: nothing to maintain
            return local_frame(
                spark, [], "query_id long, neighbor_id long, cos_sim double, rank int"
            )
        inserts = emb.filter(F.col("vec_id") % 3 != 0).withColumn(
            "op", F.lit("I")
        )
        tombs = emb.filter(F.col("vec_id") % 7 == 3).withColumn(
            "op", F.lit("D")
        )
        changes = scratch + "/changes"
        inserts.unionByName(tombs).write.parquet(changes)
        # fresh StructType — StructType.add mutates the receiver, which
        # would grow an op column onto the SHARED _EMB_SCHEMA
        op_schema = T.StructType(
            list(_EMB_SCHEMA.fields) + [T.StructField("op", T.StringType())]
        )
        st = spark.readStream.schema(op_schema).parquet(changes)
        runner.run_ivf_maintenance_sink(
            st, path, op_col="op", checkpoint=scratch + "/ckpt"
        )
        n_lists = len(read_ivf_centroids(spark, path))
        out = ivf_index_topk(spark, path, queries, k=5, n_probe=n_lists)
        rows = out.collect()
        schema = out.schema
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    return local_frame(spark, rows, schema)


@register(
    "stream_maintenance_tick",
    # append order and tick cadence are both exactness-invisible at
    # probe-all: appends commute (same rows land in the same cells),
    # compaction is a file-layout change, the forced blue/green rebuild
    # re-clusters the same rows, GC touches only retired subtrees — so
    # the drained-and-ticked root serves exactly brute force, whatever
    # micro-batch split the file source chose
    _stream_topk_oracle(),
    survey="§2.8 extension (verdict r12 item 3): the maintenance tick "
    "WIRED INTO the streaming drain — run_ivf_maintenance_sink("
    "maintenance_every_n_batches=N) calls maintain_index from the "
    "drain's own foreachBatch slot (the composition the maintain_index "
    "docstring prescribed as convention, now code): recover -> drift "
    "measure -> rebuild -> compact -> GC interleave with the appends "
    "under the same writer-lease discipline, with the lease-conflict "
    "retry for external writers; a final forced-rebuild tick runs "
    "post-drain, and probe-all search through the pointer hash-pins "
    "the whole composition against brute force",
    tags=("streaming", "similarity"),
)
def stream_maintenance_tick(spark, sf_dir):
    """Build v1 from a quarter of the corpus under a VERSIONED root,
    stream the rest in three single-file micro-batches with a
    compacting maintenance tick every 2 batches, then a post-drain
    forced blue/green rebuild tick (threshold 0) — probe-all search
    through the pointer stays hash-equal to brute force across drain +
    ticks."""
    import shutil
    import tempfile

    from .operators import similarity as S

    emb = spark.read.schema(_EMB_SCHEMA).parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 20)
    empty_schema = "query_id long, neighbor_id long, cos_sim double, rank int"
    scratch = tempfile.mkdtemp(prefix="stream_tick_")
    try:
        root = scratch + "/idx"
        cents = S.build_ivf_index_versioned(
            emb.filter(F.col("vec_id") % 4 == 0), root,
            n_centroids=8, kmeans_max_iter=1, kmeans_init="random",
        )
        if not len(cents):
            return local_frame(spark, [], empty_schema)
        # three files -> three micro-batches at maxFilesPerTrigger=1, so
        # the every-2-batches tick fires MID-DRAIN (after batch 2), with
        # batch 3's append following it through the flipped pointer
        feed = scratch + "/feed"
        emb.filter(F.col("vec_id") % 4 != 0).repartition(3).write.parquet(feed)
        st = sources.stream_parquet(
            spark, feed, _EMB_SCHEMA, max_files_per_trigger=1
        )
        runner.run_ivf_maintenance_sink(
            st, root, checkpoint=scratch + "/ckpt",
            maintenance_every_n_batches=2,
            maintenance_kw=dict(
                compact_target_bytes=1 << 30, gc_min_age_sec=0.0,
                n_centroids=8, kmeans_max_iter=1, kmeans_init="random",
            ),
            final_maintenance_kw=dict(
                coarse_threshold=0.0, gc_min_age_sec=0.0,
                n_centroids=16, kmeans_max_iter=1, kmeans_init="random",
            ),
        )
        out = S.ivf_index_topk(spark, root, queries, k=5, n_probe=1_000_000)
        rows = out.collect()
        schema = out.schema
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    return local_frame(spark, rows, schema)


# ---------------------------------------------------------------------------
# Model-serving drain — the trained quality gate applied to a stream
# ---------------------------------------------------------------------------


def _stream_nb_oracle() -> str:
    # training + inference CTE chain SHARED with the batch classifier
    # entries (queries_ext12) so the stream and batch twins can never
    # silently test different models
    from .queries_ext12 import _NB_CORE

    return f"""
    WITH {_NB_CORE}
    SELECT doc_id, lang, CAST(log_odds AS DOUBLE) AS log_odds
    FROM scored
    WHERE log_odds > 0
    """


@register(
    "stream_nb_model_serving",
    _stream_nb_oracle(),
    survey="§2.8 extension (round 13): MODEL-SERVING drain — the "
    "in-engine-trained NB quality gate (queries_ext12) applied to a "
    "document STREAM: the model is trained once before the drain "
    "(model-registry pattern), each micro-batch is scored by a pure "
    "broadcast probe + per-doc exact-decimal sum (stateless — no "
    "watermark, no state store), and scores land via idempotent keyed "
    "upsert; the drained admitted set (log_odds > 0) hash-equals the "
    "one-shot batch train-then-score composition",
    tags=("streaming", "classify"),
)
def stream_nb_model_serving(spark, sf_dir):
    """Train the gate batch-side on the deterministic 50% split, drain
    the documents stream through ``run_nb_scoring_sink``, and return the
    admitted (predicted-positive) docs from the upserted score table."""
    import shutil
    import tempfile

    from .operators import classify as Cls

    scratch = tempfile.mkdtemp(prefix="nb_serve_")
    try:
        docs = spark.read.schema(_DOCS_SCHEMA).parquet(
            f"{sf_dir}/documents.parquet"
        )
        model, prior = Cls.nb_train(
            docs.where(Cls.train_split()), F.col("lang") == "en"
        )
        st = sources.stream_parquet(
            spark, f"{sf_dir}/documents.parquet", _DOCS_SCHEMA
        )
        runner.run_nb_scoring_sink(
            st, model, prior, scratch + "/scores",
            checkpoint=scratch + "/ckpt",
        )
        out = (
            spark.read.parquet(scratch + "/scores")
            .join(docs.select("doc_id", "lang"), "doc_id")
            .where(F.col("log_odds") > 0)
            .select(
                "doc_id", "lang",
                F.col("log_odds").cast("double").alias("log_odds"),
            )
        )
        rows = out.collect()
        schema = out.schema
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    return local_frame(spark, rows, schema)
