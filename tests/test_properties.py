"""Property-based tests (Hypothesis): randomized inputs checked against
naive in-Python reference implementations. The fixed-fixture tests prove
the operators on known shapes; these prove them on shapes nobody thought
to write down (duplicate keys, equal timestamps, single-row groups,
all-rows-one-key skew).

Spark round-trips are ~0.5 s/example, so examples are capped and
deadlines disabled — breadth comes from the strategies, not the count.
"""

from __future__ import annotations

import datetime as dt

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from postgres_etl_pipeline_spark.operators.relational import (
    asof_join,
    dedupe_last_write_wins,
    salted_agg,
)
from postgres_etl_pipeline_spark.operators.timeseries import resample_locf

_SETTINGS = dict(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_keys = st.sampled_from(["a", "b", "c"])
_small_int = st.integers(min_value=0, max_value=50)


@st.composite
def _keyed_rows(draw, max_rows=25, unique_ts_per_key=False):
    rows = draw(
        st.lists(st.tuples(_keys, _small_int, _small_int), max_size=max_rows)
    )
    if unique_ts_per_key:
        seen, out = set(), []
        for k, ts, v in rows:
            if (k, ts) not in seen:
                seen.add((k, ts))
                out.append((k, ts, v))
        return out
    return rows


@given(left=_keyed_rows(), right=_keyed_rows(unique_ts_per_key=True))
@settings(**_SETTINGS)
def test_asof_join_matches_naive(spark, left, right):
    ldf = spark.createDataFrame(left, "k string, lts int, lv int") if left else None
    rdf = spark.createDataFrame(right, "k string, rts int, rv int") if right else None
    if ldf is None or rdf is None:
        return
    got = {
        (r.k, r.lts, r.lv): r.asof_rv
        for r in asof_join(
            ldf, rdf, ["k"], "lts", "rts", {"rv": "asof_rv"}
        ).collect()
    }
    for k, lts, lv in left:
        cands = [(rts, rv) for (rk, rts, rv) in right if rk == k and rts <= lts]
        want = max(cands)[1] if cands else None
        assert got[(k, lts, lv)] == want


@given(rows=_keyed_rows())
@settings(**_SETTINGS)
def test_salted_agg_equals_plain_agg(spark, rows):
    if not rows:
        return
    df = spark.createDataFrame(rows, "k string, ts int, v int")
    plain = {
        r.k: (r.s, r.n, r.mx)
        for r in df.groupBy("k")
        .agg(F.sum("v").alias("s"), F.count("v").alias("n"), F.max("v").alias("mx"))
        .collect()
    }
    salted = {
        r.k: (r.s, r.n, r.mx)
        for r in salted_agg(
            df,
            ["k"],
            {"s": ("sum", "v"), "n": ("count", "v"), "mx": ("max", "v")},
            salt_buckets=4,
        ).collect()
    }
    assert salted == plain


@given(rows=_keyed_rows())
@settings(**_SETTINGS)
def test_dedupe_last_write_wins_keeps_exactly_the_winner(spark, rows):
    if not rows:
        return
    df = spark.createDataFrame(rows, "k string, ts int, v int")
    out = dedupe_last_write_wins(
        df, ["k"], [F.col("ts").desc(), F.col("v").desc()]
    ).collect()
    got = {r.k: (r.ts, r.v) for r in out}
    assert len(out) == len(got), "one row per key"
    for k in {r[0] for r in rows}:
        want = max((ts, v) for (rk, ts, v) in rows if rk == k)
        assert got[k] == want


@given(rows=_keyed_rows(max_rows=15, unique_ts_per_key=True))
@settings(**_SETTINGS)
def test_resample_locf_grid_is_contiguous_and_carries(spark, rows):
    if not rows:
        return
    base = dt.datetime(2024, 1, 1)
    data = [
        (k, i, base + dt.timedelta(hours=ts, minutes=30), float(v))
        for i, (k, ts, v) in enumerate(rows)
    ]
    df = spark.createDataFrame(data, "k string, eid int, ts timestamp, v double")
    out = resample_locf(df, ["k"], "ts", "v", "1 hour", tie_break=["eid"]).collect()
    per_key: dict[str, list] = {}
    for r in out:
        per_key.setdefault(r.k, []).append(r)
    for k, rs in per_key.items():
        obs = {ts: None for (rk, ts, v) in rows if rk == k}
        for rk, ts, v in rows:  # last write per (k, ts) — ts unique per key here
            if rk == k:
                obs[ts] = float(v)
        hours = sorted(
            int((r.bucket - base).total_seconds() // 3600) for r in rs
        )
        assert hours == list(range(min(obs), max(obs) + 1)), "contiguous grid"
        carried = None
        by_hour = {
            int((r.bucket - base).total_seconds() // 3600): r for r in rs
        }
        for h in hours:
            r = by_hour[h]
            if h in obs:
                carried = obs[h]
                assert r.is_gap == 0
            else:
                assert r.is_gap == 1
            assert r.value == carried


@given(rows=_keyed_rows(max_rows=20, unique_ts_per_key=True))
@settings(**_SETTINGS)
def test_scd2_compress_matches_naive_history(spark, rows):
    from postgres_etl_pipeline_spark.operators.scd import scd2_compress

    if not rows:
        return
    df = spark.createDataFrame(rows, "k string, ts int, attr int")
    hist = scd2_compress(df, ["k"], ["attr"], "ts").collect()

    # naive reference: walk each key's snapshots in ts order, open a
    # version on every attr change
    want: dict[str, list] = {}
    for k in sorted({r[0] for r in rows}):
        snaps = sorted(((ts, a) for (rk, ts, a) in rows if rk == k))
        versions = []
        for ts, a in snaps:
            if not versions or versions[-1][1] != a:
                versions.append([ts, a])
        want[k] = versions

    got: dict[str, list] = {}
    for r in sorted(hist, key=lambda r: (r.k, r.version)):
        got.setdefault(r.k, []).append(r)
    assert got.keys() == want.keys()
    for k, vs in want.items():
        rows_k = got[k]
        assert [r.version for r in rows_k] == list(range(1, len(vs) + 1))
        for i, (ts, a) in enumerate(vs):
            assert rows_k[i].valid_from == ts and rows_k[i].attr == a
            # valid_to chains to the next change; open-ended on the last
            nxt = vs[i + 1][0] if i + 1 < len(vs) else None
            assert rows_k[i].valid_to == nxt


_words = st.sampled_from(["a", "bb", "ccc", "dd", "e"])
_texts = st.lists(
    st.lists(_words, min_size=1, max_size=20).map(" ".join),
    min_size=1,
    max_size=8,
)


@given(texts=_texts)
@settings(**_SETTINGS)
def test_repetition_stats_matches_naive(spark, texts):
    from postgres_etl_pipeline_spark.operators.text import repetition_stats

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {r.doc_id: r for r in repetition_stats(df).collect()}
    for i, t in enumerate(texts):
        toks = t.split()
        counts: dict[str, int] = {}
        for w in toks:
            counts[w] = counts.get(w, 0) + 1
        bgs = [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        r = got[i]
        assert r.n_tokens == len(toks)
        assert r.n_distinct_tokens == len(counts)
        assert abs(r.top_token_fraction - max(counts.values()) / len(toks)) < 1e-12
        if bgs:
            naive = (len(bgs) - len(set(bgs))) / len(bgs)
            assert abs(r.dup_bigram_fraction - naive) < 1e-12
        else:
            assert r.dup_bigram_fraction is None


@given(texts=_texts, n=st.sampled_from([2, 3]))
@settings(**_SETTINGS)
def test_span_dup_coverage_matches_naive(spark, texts, n):
    """Small n keeps random texts long enough to have spans; the operator
    is n-generic (the catalog pins n=8 via its DuckDB oracle)."""
    from collections import Counter

    from postgres_etl_pipeline_spark.operators.dedup import span_dup_coverage

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {r.doc_id: r for r in span_dup_coverage(df, n=n).collect()}
    spans_per_doc = {
        i: [
            " ".join(t.split()[j : j + n])
            for j in range(len(t.split()) - n + 1)
        ]
        for i, t in enumerate(texts)
    }
    global_counts = Counter(s for spans in spans_per_doc.values() for s in spans)
    for i, spans in spans_per_doc.items():
        if not spans:
            assert i not in got
            continue
        dup = sum(1 for s in spans if global_counts[s] > 1)
        assert got[i].n_spans == len(spans)
        assert got[i].n_dup_spans == dup


@given(
    n_tokens=st.integers(min_value=1, max_value=40),
    chunk=st.integers(min_value=2, max_value=12),
    overlap=st.integers(min_value=0, max_value=10),
)
@settings(**_SETTINGS)
def test_chunking_covers_every_token_with_exact_overlap(
    spark, n_tokens, chunk, overlap
):
    """For ANY (doc length, chunk size, overlap<chunk): chunks concatenate
    back to the document (every token covered, in order), consecutive
    chunks share exactly `overlap` tokens (except a shorter tail), and no
    chunk exceeds the budget."""
    from postgres_etl_pipeline_spark.operators.text import chunk_documents

    if overlap >= chunk:
        overlap = chunk - 1
    toks = [f"w{i}" for i in range(n_tokens)]
    df = spark.createDataFrame([(1, " ".join(toks))], "doc_id long, text string")
    rows = sorted(
        chunk_documents(df, chunk_tokens=chunk, overlap=overlap).collect(),
        key=lambda r: r.chunk_idx,
    )
    stride = chunk - overlap
    pieces = [r.chunk_text.split(" ") for r in rows]
    assert all(len(p) <= chunk for p in pieces)
    assert [r.chunk_n_tokens for r in rows] == [len(p) for p in pieces]
    # reconstruction: drop each chunk's leading `overlap` tokens after the
    # first and the concatenation must equal the document
    rebuilt = pieces[0] + [tok for p in pieces[1:] for tok in p[overlap:]]
    assert rebuilt == toks
    # starts advance by exactly stride
    assert [r.chunk_idx for r in rows] == list(range(len(rows)))
    for a, b in zip(pieces, pieces[1:]):
        assert a[len(a) - overlap:] == b[: min(overlap, len(b))] or len(b) <= overlap


@given(
    vals=st.lists(
        st.one_of(st.none(), st.integers(min_value=-30, max_value=30)),
        min_size=0,
        max_size=40,
    )
)
@settings(**_SETTINGS)
def test_global_rank_coarse_equals_default_and_exact(spark, vals):
    """Both global_rank strategies must agree with the exact window for
    arbitrary duplicate-heavy, null-bearing inputs."""
    from pyspark.sql import Window

    from postgres_etl_pipeline_spark.operators.ranking import global_rank

    df = spark.createDataFrame(
        [(i, float(v) if v is not None else None) for i, v in enumerate(vals)],
        "k long, v double",
    ).repartition(4)
    w = Window.orderBy(F.col("v").asc_nulls_first(), "k")
    exp = {
        (r.k, r.rn)
        for r in df.select("k", F.row_number().over(w).alias("rn")).collect()
    }
    for kwargs in (
        {},
        {"coarse": F.floor(F.col("v") / 7)},
    ):
        rf = global_rank(df, "v", ["k"], n_buckets=3, **kwargs)
        got = {(r.k, r._rank) for r in rf.df.select("k", "_rank").collect()}
        assert got == exp
        assert rf.n_total == len(vals)


@given(texts=_texts, cap=st.integers(min_value=1, max_value=4))
@settings(**_SETTINGS)
def test_absolute_capped_jaccard_is_conservative_subset(spark, texts, cap):
    """stop_max_df drops intersections (never set sizes), so per-pair
    capped Jaccard ≤ exact Jaccard and the thresholded capped pair set is
    a SUBSET of the exact one — the cap can only be conservative, never
    invent a pair (SCALE.md measured-adversary mitigation)."""
    from postgres_etl_pipeline_spark.operators.dedup import jaccard_pairs

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    exact = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in jaccard_pairs(df, threshold=0.1).collect()
    }
    capped = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in jaccard_pairs(
            df, threshold=0.1, stop_max_df=cap, stop_min_df=1
        ).collect()
    }
    assert set(capped) <= set(exact)
    for pair, j in capped.items():
        assert j <= exact[pair] + 1e-9


@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["sA", "sB", "sC"]),
            st.lists(_words, min_size=1, max_size=25).map(" ".join),
        ),
        min_size=1,
        max_size=20,
    ),
    quota=st.integers(min_value=1, max_value=3),
)
@settings(**_SETTINGS)
def test_per_source_quota_invariants(spark, rows, quota):
    """Per source: exactly min(quota, n_source) docs survive, ranks are
    contiguous 1..k, and the kept set is the quality-then-id top-k the
    naive reference computes from quality_features itself."""
    from postgres_etl_pipeline_spark.operators.text import (
        per_source_quota,
        quality_features,
    )

    df = spark.createDataFrame(
        [(i, t, s) for i, (s, t) in enumerate(rows)],
        "doc_id long, text string, source string",
    )
    qual = {
        r.doc_id: r.quality for r in quality_features(df).collect()
    }
    out = per_source_quota(df, quota=quota).collect()
    by_src: dict[str, list] = {}
    for r in out:
        by_src.setdefault(r.source, []).append(r)
    n_per_src: dict[str, list[int]] = {}
    for i, (s, _) in enumerate(rows):
        n_per_src.setdefault(s, []).append(i)
    for s, ids in n_per_src.items():
        expect_k = min(quota, len(ids))
        got = sorted(by_src.get(s, []), key=lambda r: r.src_rank)
        assert len(got) == expect_k
        assert [r.src_rank for r in got] == list(range(1, expect_k + 1))
        naive = sorted(ids, key=lambda d: (-qual[d], d))[:expect_k]
        assert [r.doc_id for r in got] == naive


# ---------------------------------------------------------------------------
# Prefix filtering == full inverted-index join (recall-1 theorem, randomized)
# ---------------------------------------------------------------------------


@st.composite
def _doc_corpus(draw):
    """Tiny high-collision corpora: an 8-word vocabulary forces duplicate
    and near-duplicate docs, empty docs, and sub-shingle (<3 token) docs."""
    n_docs = draw(st.integers(min_value=2, max_value=7))
    vocab = [f"w{i}" for i in range(8)]
    return [
        (
            i,
            " ".join(
                draw(
                    st.lists(
                        st.sampled_from(vocab), min_size=0, max_size=12
                    )
                )
            ),
        )
        for i in range(n_docs)
    ]


@given(corpus=_doc_corpus(), thr=st.sampled_from([0.3, 0.5, 0.8]))
@settings(**_SETTINGS)
def test_prefix_filter_equals_full_join(spark, corpus, thr):
    from postgres_etl_pipeline_spark.operators.dedup import (
        jaccard_pairs,
        prefix_filter_pairs,
    )

    df = spark.createDataFrame(corpus, "doc_id long, text string")
    full = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in jaccard_pairs(df, threshold=thr).collect()
    }
    pref = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in prefix_filter_pairs(df, threshold=thr).collect()
    }
    assert pref == full


@given(
    keys=st.lists(
        st.text(
            # full unicode range incl. astral chars — the r06 verdict nit:
            # the proxy used to assume ASCII and silently broke past it
            alphabet=st.characters(min_codepoint=0, max_codepoint=0x10FFFF),
            max_size=10,
        ),
        min_size=2,
        max_size=20,
    )
)
@settings(**_SETTINGS)
def test_lex_prefix_num_monotone_over_unicode(spark, keys):
    """The SNM blocking proxy must be NON-DECREASING w.r.t. Spark's binary
    string order for ANY unicode input (r06 verdict nit 1): sort the rows
    by the string in Spark itself, then assert the packed numbers never
    decrease. One Spark job per example — all pairs checked driver-side."""
    from postgres_etl_pipeline_spark.operators.dedup import _lex_prefix_num

    df = spark.createDataFrame([(k,) for k in keys], "k string")
    rows = (
        df.select("k", _lex_prefix_num(F.col("k")).alias("n"))
        .orderBy("k")
        .collect()
    )
    nums = [r.n for r in rows]
    assert nums == sorted(nums), [
        (r.k.encode("unicode_escape"), r.n) for r in rows
    ]


@st.composite
def _split_corpus(draw):
    vocab = [f"w{i}" for i in range(8)]
    texts = [
        " ".join(draw(st.lists(st.sampled_from(vocab), min_size=3, max_size=10)))
        for _ in range(draw(st.integers(min_value=2, max_value=12)))
    ]
    docs = list(enumerate(texts))
    cut = draw(st.integers(min_value=1, max_value=len(docs) - 1))
    return docs[:cut], docs[cut:]


@given(split=_split_corpus(), thr=st.sampled_from([0.3, 0.5, 0.8]))
@settings(**_SETTINGS)
def test_incremental_near_dup_invariants(spark, split, thr):
    """Two invariants that hold at ANY banding recall:

    - precision 1: every REJECTED batch doc genuinely has an
      exact-Jaccard >= t partner among stored docs or lower-id batch docs
      (verification is exact, so a band collision alone never rejects);
    - admission is a SUPERSET of the exact rule's admissions: bands can
      only MISS candidates, which can only admit more, never reject a
      doc the exact rule would keep."""
    from postgres_etl_pipeline_spark.operators.dedup import (
        incremental_minhash_dedup,
        jaccard_pairs,
        minhash_band_rows,
    )

    stored_rows, new_rows = split
    stored = spark.createDataFrame(stored_rows, "doc_id long, text string")
    new = spark.createDataFrame(new_rows, "doc_id long, text string")
    admitted = {
        r.doc_id
        for r in incremental_minhash_dedup(
            new, minhash_band_rows(stored), stored, threshold=thr
        ).collect()
    }

    # exact ground truth over the whole corpus (ids are globally ordered:
    # stored ids < batch ids by construction)
    alldocs = stored.unionByName(new)
    pairs = {
        (r.doc_a, r.doc_b)
        for r in jaccard_pairs(alldocs, threshold=thr).collect()
    }
    new_ids = {d for d, _ in new_rows}
    stored_ids = {d for d, _ in stored_rows}
    exact_admitted = {
        n
        for n in new_ids
        if not any(
            (min(n, o), max(n, o)) in pairs
            for o in (stored_ids | {m for m in new_ids if m < n})
        )
    }
    assert admitted >= exact_admitted  # bands only ever admit MORE
    rejected = new_ids - admitted
    for n in rejected:  # every rejection is exact-verified
        assert any(
            (min(n, o), max(n, o)) in pairs
            for o in (stored_ids | {m for m in new_ids if m < n})
        ), (n, sorted(pairs))


@given(
    member=st.lists(st.text(min_size=1, max_size=12), min_size=1, max_size=15),
    probe=st.lists(st.text(min_size=1, max_size=12), min_size=1, max_size=15),
    num_bits=st.sampled_from([64, 256, 1 << 10]),
    k=st.integers(min_value=1, max_value=5),
)
@settings(**_SETTINGS)
def test_bloom_literal_probe_agrees_with_relational_probe(
    spark, member, probe, num_bits, k
):
    """The literal-embedded bit-string probe (bloom_bit_string →
    bloom_maybe_member, the streaming shape) must agree EXACTLY with
    ground truth computed independently from the packed word relation
    (hash positions via production expressions, bit extraction re-derived
    driver-side), and members must always probe positive (one-sided
    error). The RELATIONAL probe inside bloom_incremental_exact_dedup is
    pinned to the same semantics end-to-end by
    TestBloomIncrementalDedup's equality-with-plain-incremental tests;
    both probes consume _bloom_position_rows, so the hashing cannot
    diverge by construction."""
    from postgres_etl_pipeline_spark.operators.dedup import (
        bloom_bit_string,
        bloom_bit_words,
        bloom_maybe_member,
    )

    fps = spark.createDataFrame([(m,) for m in set(member)], "fp string")
    words = bloom_bit_words(fps, num_bits, k)
    bits = bloom_bit_string(words, num_bits)

    probe_fps = sorted(set(probe) | set(member))
    pdf = spark.createDataFrame([(p,) for p in probe_fps], "fp string")
    literal = {
        r.fp: r.maybe
        for r in pdf.withColumn("_b", F.lit(bits))
        .select(
            "fp", bloom_maybe_member(F.col("_b"), num_bits, k).alias("maybe")
        )
        .collect()
    }

    # relational verdicts, driver-side twin over the same words
    dense = {int(r.word_idx): int(r.bits) for r in words.collect()}
    hashed = {
        r.fp: [int(p) for p in r.pos]
        for r in pdf.select(
            "fp",
            F.array(
                *[
                    F.pmod(F.xxhash64(F.col("fp"), F.lit(i)), F.lit(num_bits))
                    for i in range(k)
                ]
            ).alias("pos"),
        ).collect()
    }
    for fp, positions in hashed.items():
        expected = all(
            (dense.get(p // 64, 0) >> (p % 64)) & 1 for p in positions
        )
        assert literal[fp] == expected, (fp, positions)
    for m in set(member):
        assert literal[m] is True, m


def test_bloom_literal_bound_enforced(spark):
    """bloom_bit_string accepts exactly the documented 2^24-bit literal
    budget and raises above it (verdict r07 nit 3a) — the guard must trip
    BEFORE any collect/unpack work, and the message must route callers to
    the relational probe. At the boundary itself the call still works
    (checked with an empty word relation, so the accept path costs no
    16 MiB unpack in the suite's hot loop)."""
    import pytest

    from postgres_etl_pipeline_spark.operators.dedup import (
        BLOOM_LITERAL_MAX_BITS,
        bloom_bit_string,
    )

    words = spark.createDataFrame([], "word_idx long, bits long")
    # at the bound: accepted (empty relation → all-zero string)
    s = bloom_bit_string(words, BLOOM_LITERAL_MAX_BITS)
    assert len(s) == BLOOM_LITERAL_MAX_BITS and set(s) == {"0"}
    # one past the bound: rejected before any driver-side unpack
    with pytest.raises(ValueError, match="bloom_bit_words"):
        bloom_bit_string(words, BLOOM_LITERAL_MAX_BITS + 1)


# ---------------------------------------------------------------------------
# Prefix-filtered containment: recall-1-by-theorem, Hypothesis-checked —
# the prefix path must equal the exact inverted-index join on corpora
# nobody thought to write down (shared tails, subsets, repeated tokens,
# single-token docs, every doc identical).
# ---------------------------------------------------------------------------

_words = st.sampled_from([f"w{i}" for i in range(12)])


@st.composite
def _doc_corpus(draw, max_docs=8, max_tokens=12):
    texts = draw(
        st.lists(
            st.lists(_words, min_size=1, max_size=max_tokens).map(" ".join),
            min_size=0,
            max_size=max_docs,
        )
    )
    return [(i, t) for i, t in enumerate(texts)]


@given(rows=_doc_corpus(), thr=st.sampled_from([0.4, 0.6, 0.8, 1.0]))
@settings(**_SETTINGS)
def test_containment_prefix_equals_exact(spark, rows, thr):
    from postgres_etl_pipeline_spark.operators.dedup import (
        containment_pairs,
        containment_prefix_pairs,
    )

    df = spark.createDataFrame(rows, "doc_id long, text string")
    if not rows:
        df = df.filter("doc_id >= 0")
    exact = {
        (r.doc_a, r.doc_b, r.containment)
        for r in containment_pairs(df, threshold=thr).collect()
    }
    prefix = {
        (r.doc_a, r.doc_b, r.containment)
        for r in containment_prefix_pairs(df, threshold=thr).collect()
    }
    assert prefix == exact


@given(rows=_doc_corpus(), window=st.sampled_from([2, 3]))
@settings(**_SETTINGS)
def test_multipass_snm_is_candidate_superset(spark, rows, window):
    """Every single-pass SNM pair survives multi-pass (the union can only
    add candidates), and multi-pass output is exact Jaccard on whatever
    it reports (precision 1 regardless of which pass surfaced the
    pair)."""
    from postgres_etl_pipeline_spark.operators.dedup import (
        multipass_snm_pairs,
        sorted_neighborhood_pairs,
    )
    from postgres_etl_pipeline_spark.operators.text import normalize_ws

    df = spark.createDataFrame(rows, "doc_id long, text string")
    if not rows:
        df = df.filter("doc_id >= 0")
    single = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in sorted_neighborhood_pairs(
            df, window=window, threshold=0.3
        ).collect()
    }
    norm = F.lower(normalize_ws(F.col("text")))
    multi = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in multipass_snm_pairs(
            df, [norm, F.reverse(norm)], window=window, threshold=0.3
        ).collect()
    }
    assert set(single) <= set(multi)
    for pair, jac in single.items():
        assert multi[pair] == jac


@given(
    counts=st.dictionaries(
        st.integers(min_value=0, max_value=40),
        st.integers(min_value=1, max_value=10_000),
        min_size=1,
        max_size=40,
    ),
    k_frac=st.floats(min_value=0.0, max_value=1.0),
)
@settings(max_examples=300, deadline=None)
def test_two_level_allocation_invariants(counts, k_frac):
    """The quantizer's largest-remainder allocation (advice r08 #1), on
    its contract domain (#branches <= k <= sum(counts)): every branch
    gets 1 <= k2 <= count, the total is EXACTLY k (the probe-all
    guarantee), and the result is deterministic."""
    from postgres_etl_pipeline_spark.operators.similarity import (
        _largest_remainder_allocation,
    )

    n_total = sum(counts.values())
    lo, hi = len(counts), n_total
    k = lo + int(k_frac * (hi - lo))
    k2 = _largest_remainder_allocation(counts, k)
    assert set(k2) == set(counts)
    assert all(1 <= k2[b] <= counts[b] for b in counts)
    assert sum(k2.values()) == k, (counts, k, k2)
    assert _largest_remainder_allocation(dict(counts), k) == k2


# ---------------------------------------------------------------------------
# ANN maintenance algebra (verdict r09 item 7): append / re-split /
# delete compose in ANY order without moving the probe-all answer
# ---------------------------------------------------------------------------

_MAINT_OPS = ("a1", "a2", "a3", "r", "r", "d")
_maint_ref = {}


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(order=st.permutations(_MAINT_OPS))
def test_ivf_maintenance_ops_commute(spark, sf_small, order):
    """Production maintenance runs appends, hot-cell re-splits, and
    tombstone deletes in whatever order load dictates; the algebra's
    commutativity was argued, not pinned (verdict r09 item 7). Pinned
    here: EVERY interleaving of 3 appends, 2 re-splits, and 1 delete
    yields the identical probe-all search result — brute force over
    (base ∪ appends) − tombstones. Exactness at probe-all is
    layout-independent, so any deviation means an op lost, duplicated,
    or corrupted rows."""
    import shutil
    import tempfile

    from postgres_etl_pipeline_spark.operators import similarity as S
    from postgres_etl_pipeline_spark.queries import spread, t

    emb = spread(t(spark, sf_small, "embeddings"))
    slices = {
        "a1": emb.filter(F.col("vec_id") % 5 == 4),
        "a2": emb.filter(F.col("vec_id") % 5 == 3),
        "a3": emb.filter(F.col("vec_id") % 5 == 2),
    }
    base = emb.filter(F.col("vec_id") % 5 <= 1)
    # tombstones ⊆ base, appends pairwise disjoint from base and each
    # other → the FINAL row set is order-independent by construction
    tombs = base.filter(F.col("vec_id") % 11 == 0)
    q = emb.filter(F.col("vec_id") < 10)
    if "ref" not in _maint_ref:
        survivors = emb.filter(
            ~((F.col("vec_id") % 5 <= 1) & (F.col("vec_id") % 11 == 0))
        )
        _maint_ref["ref"] = sorted(
            map(tuple, S.brute_force_topk(survivors, q, k=5).collect())
        )
    scratch = tempfile.mkdtemp(prefix="maint_commute_")
    try:
        path = scratch + "/index"
        S.write_ivf_index(
            base, path, n_centroids=4, kmeans_max_iter=1, kmeans_init="random"
        )
        for op in order:
            if op in slices:
                S.append_to_ivf_index(slices[op], path)
            elif op == "r":
                S.resplit_ivf_cell(
                    spark, path, n_sub=2, kmeans_max_iter=1,
                    kmeans_init="random",
                )
            else:
                S.delete_from_ivf_index(spark, path, tombs)
        n_lists = len(S.read_ivf_centroids(spark, path))
        got = sorted(
            map(
                tuple,
                S.ivf_index_topk(spark, path, q, k=5, n_probe=n_lists).collect(),
            )
        )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    assert got == _maint_ref["ref"], order


_PQ_MAINT_OPS = ("a1", "a2", "d")
_pq_maint_ref = {}


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(order=st.permutations(_PQ_MAINT_OPS))
def test_ivfpq_append_delete_commute(spark, sf_small, order):
    """The COMPRESSED tier's commuting subset (SCALE.md r10 note):
    appends and tombstone deletes compose in any order — codes are a
    pure function of (vector, sidecars) and deletion never touches
    either, so the drained layout's CONTENT (hence its probe-all ADC
    search) is order-independent. Re-splits are deliberately excluded:
    they re-anchor residuals, making interleavings order-dependent by
    construction (invariants + recall cover them instead)."""
    import shutil
    import tempfile

    from postgres_etl_pipeline_spark.operators import similarity as S
    from postgres_etl_pipeline_spark.queries import spread, t

    emb = spread(t(spark, sf_small, "embeddings"))
    base = emb.filter(F.col("vec_id") % 5 <= 2)
    slices = {
        "a1": emb.filter(F.col("vec_id") % 5 == 3),
        "a2": emb.filter(F.col("vec_id") % 5 == 4),
    }
    tombs = base.filter(F.col("vec_id") % 9 == 0)
    q = emb.filter(F.col("vec_id") < 10)
    Cc = S.lattice_anchor_centroids(emb, 8)
    As = S.anchor_residual_codebook(emb, Cc)
    if "ref" not in _pq_maint_ref:
        # absolute anchor, computed once: a ONE-SHOT build over the
        # final survivor set with the SAME sidecars
        scratch = tempfile.mkdtemp(prefix="pq_commute_ref_")
        try:
            ref_path = scratch + "/index"
            survivors = emb.filter(
                ~((F.col("vec_id") % 5 <= 2) & (F.col("vec_id") % 9 == 0))
            )
            S.write_ivfpq_index(
                survivors, ref_path, coarse_cents=Cc, codebook=As
            )
            _pq_maint_ref["ref"] = sorted(
                map(
                    tuple,
                    S.ivf_index_topk(
                        spark, ref_path, q, k=5, rerank=4, n_probe=8
                    ).collect(),
                )
            )
        finally:
            shutil.rmtree(scratch, ignore_errors=True)
    scratch = tempfile.mkdtemp(prefix="pq_commute_")
    try:
        path = scratch + "/index"
        S.write_ivfpq_index(base, path, coarse_cents=Cc, codebook=As)
        for op in order:
            if op in slices:
                S.append_to_ivf_index(slices[op], path)
            else:
                S.delete_from_ivf_index(spark, path, tombs)
        got = sorted(
            map(
                tuple,
                S.ivf_index_topk(
                    spark, path, q, k=5, rerank=4, n_probe=8
                ).collect(),
            )
        )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    assert got == _pq_maint_ref["ref"], order


_PQ_FULL_OPS = ("a1", "a2", "r", "d")
_pq_full_ref = {}


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(order=st.permutations(_PQ_FULL_OPS))
def test_ivfpq_resplit_interleavings_commute_at_exactness(
    spark, sf_small, order
):
    """The adjudicated CEILING for re-split interleavings at the
    compressed tier (verdict r10 item 8, closed as documented-impossible
    in COVERAGE.md): hash-commutativity of the stored layout cannot
    exist — a re-split derives its child centroids from whatever rows
    the cell holds AT SPLIT TIME, and post-split appends coarse-assign
    against the post-split centroid set, so both the geometry and the
    codes are genuinely order-dependent (a deferred-re-encode variant
    would change neither fact; it would only add a stale-codes window).
    What every interleaving MUST preserve is pinned here instead:

    1. the row SET — no op loses or duplicates rows;
    2. code SELF-CONSISTENCY — every stored code is re-derivable from
       (vector, owning centroid, codebook): the eager re-encode design
       has NO stale window at all, strictly stronger than the deferred
       alternative's bounded staleness;
    3. probe-all + rerank-all search == brute force over survivors —
       order-INdependent, because exactness is layout-independent (the
       same argument that makes the raw tier's algebra commute; it
       never depended on geometry there either)."""
    import shutil
    import tempfile

    import numpy as np

    from postgres_etl_pipeline_spark.operators import similarity as S
    from postgres_etl_pipeline_spark.queries import spread, t

    emb = spread(t(spark, sf_small, "embeddings"))
    base = emb.filter(F.col("vec_id") % 5 <= 2)
    slices = {
        "a1": emb.filter(F.col("vec_id") % 5 == 3),
        "a2": emb.filter(F.col("vec_id") % 5 == 4),
    }
    tombs = base.filter(F.col("vec_id") % 9 == 0)
    q = emb.filter(F.col("vec_id") < 10)
    Cc = S.lattice_anchor_centroids(emb, 8)
    As = S.anchor_residual_codebook(emb, Cc)
    if "ref" not in _pq_full_ref:
        survivors = emb.filter(
            ~((F.col("vec_id") % 5 <= 2) & (F.col("vec_id") % 9 == 0))
        )
        _pq_full_ref["ref"] = sorted(
            map(tuple, S.brute_force_topk(survivors, q, k=5).collect())
        )
        _pq_full_ref["ids"] = sorted(
            r[0] for r in survivors.select("vec_id").collect()
        )
    scratch = tempfile.mkdtemp(prefix="pq_full_commute_")
    try:
        path = scratch + "/index"
        S.write_ivfpq_index(base, path, coarse_cents=Cc, codebook=As)
        for op in order:
            if op in slices:
                S.append_to_ivf_index(slices[op], path)
            elif op == "r":
                S.resplit_ivf_cell(spark, path, n_sub=2, split_mode="anchor")
            else:
                S.delete_from_ivf_index(spark, path, tombs)
        # (1) row set is order-independent
        rows = spark.read.parquet(path).select(
            "neighbor_id", "cv", "codes", "cid"
        ).collect()
        assert sorted(r["neighbor_id"] for r in rows) == _pq_full_ref["ids"], order
        # (2) every stored code re-derives from (vector, owning centroid,
        # codebook) — zero stale window after ANY interleaving
        Cc2, As2, scale = S.read_ivfpq_sidecars(spark, path)
        m, d = As2.shape[1], As2.shape[2]
        a_sq = (np.asarray(As2) ** 2).sum(-1)  # (C, m)
        for r in rows:
            X = np.floor(np.array(r["cv"]) * scale + 0.5).astype(np.int64)
            R = (X - Cc2[r["cid"]]).reshape(m, d)
            for s in range(m):
                gs = R[s] @ np.asarray(As2)[:, s, :].T
                want = int(np.argmin(a_sq[:, s] - 2 * gs))
                assert r["codes"][s] == want, (order, r["neighbor_id"], s)
        # (3) exactness is layout-independent: probe-all + rerank-all
        # equals brute force over survivors, whatever the interleaving
        got = sorted(
            map(
                tuple,
                S.ivf_index_topk(
                    spark, path, q, k=5, rerank=10_000,
                    n_probe=len(Cc2),
                ).collect(),
            )
        )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    assert got == _pq_full_ref["ref"], order
