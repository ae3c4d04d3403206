"""Property-based tests (hypothesis): engine invariants on generated
inputs, not fixed fixtures. Few examples per property — each example is
a real Spark job."""

from __future__ import annotations

import datetime as dt

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

BASE = dt.datetime(2024, 5, 1, 9, 0, 0)

events_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=5),  # user
        st.integers(min_value=0, max_value=7200),  # offset seconds
    ),
    min_size=1,
    max_size=40,
)

SET = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _df(spark, evs):
    rows = [
        (i, f"u{u}", BASE + dt.timedelta(seconds=off)) for i, (u, off) in enumerate(evs)
    ]
    return spark.createDataFrame(rows, "event_id long, user_id string, ts timestamp")


@given(evs=events_strategy)
@SET
def test_dedup_idempotent_and_one_per_user(spark, evs):
    from pyspark.sql import Window

    df = _df(spark, evs)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    dedup = (
        df.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1).drop("rn")
    )
    once = dedup.collect()
    twice = (
        dedup.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1).drop("rn")
    ).collect()
    assert sorted(once) == sorted(twice)  # idempotent
    users = {r.user_id for r in df.collect()}
    assert len(once) == len(users)
    # kept row is that user's (min ts, min event_id)
    best = {}
    for i, (u, off) in enumerate(evs):
        key = (off, i)
        if f"u{u}" not in best or key < best[f"u{u}"]:
            best[f"u{u}"] = key
    for r in once:
        off, i = best[r.user_id]
        assert r.event_id == i


@given(evs=events_strategy, gap=st.integers(min_value=60, max_value=1800))
@SET
def test_session_count_matches_reference(spark, evs, gap):
    """Session windows: Spark's gap-flag formulation vs a plain-Python
    reference on the same data."""
    from pyspark.sql import Window

    df = _df(spark, evs)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_sec = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    flagged = df.select(
        "user_id",
        F.when(gap_sec.isNull() | (gap_sec > gap), 1).otherwise(0).alias("new_s"),
    )
    got = flagged.agg(F.sum("new_s")).collect()[0][0]
    # python reference
    per_user: dict[str, list[tuple[int, int]]] = {}
    for i, (u, off) in enumerate(evs):
        per_user.setdefault(f"u{u}", []).append((off, i))
    want = 0
    for times in per_user.values():
        times.sort()
        want += 1
        for (a, _), (b, _) in zip(times, times[1:]):
            if b - a > gap:
                want += 1
    assert got == want


@given(evs=events_strategy, parts=st.integers(min_value=1, max_value=7))
@SET
def test_tally_invariant_under_partitioning(spark, evs, parts):
    """Aggregation results must not depend on physical partitioning."""
    df = _df(spark, evs)
    base = {
        r.user_id: r.c
        for r in df.groupBy("user_id").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    re = {
        r.user_id: r.c
        for r in df.repartition(parts)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    assert base == re


edges_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=25),
        st.integers(min_value=0, max_value=25),
    ),
    min_size=1,
    max_size=30,
)


@given(edges=edges_strategy)
@SET
def test_connected_components_matches_union_find(spark, edges):
    """Pointer-jumping CC must agree with a sequential union-find on
    arbitrary small graphs (self-loops and duplicates included)."""
    from realtimevotingdataengineer_spark.operators.dedup import (
        connected_components,
    )

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a: int, b: int) -> None:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    expected = {v: find(v) for v in parent}

    df = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    labels, _ = connected_components(df)
    got = {r["doc_id"]: r["label"] for r in labels.collect()}
    # min-label CC labels every component by its min vertex; union-find
    # with min-root merging yields the same canonical representative
    assert got == expected


asof_events_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),      # user
        st.integers(min_value=0, max_value=4 * 86400),  # offset sec (0-4 days)
        st.sampled_from(["purchase", "view"]),
        st.integers(min_value=-500, max_value=500),  # value cents
    ),
    min_size=1,
    max_size=30,
)


@given(evs=asof_events_strategy)
@SET
def test_asof_snapshot_matches_pandas_merge_asof(spark, evs):
    """join_asof_snapshot's tagged-union window must agree with pandas
    merge_asof — THE reference implementation of backward as-of — on
    random event sets: for every purchase, the matched snapshot
    timestamp, the carried balance and the carried event count equal
    pandas' backward match of the same daily snapshot relation."""
    import pandas as pd

    from realtimevotingdataengineer_spark.operators.relational import (
        join_asof_snapshot,
    )

    rows = [
        (i, u, BASE + dt.timedelta(seconds=off), etype, cents / 100.0)
        for i, (u, off, etype, cents) in enumerate(evs)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string, value double"
    )

    class _T:  # Tables shim: the key only touches .events
        events = df

    got = {r.event_id: r for r in join_asof_snapshot(_T).collect()}

    pdf = pd.DataFrame(
        rows, columns=["event_id", "user_id", "ts", "event_type", "value"]
    )
    daily = (
        pdf.assign(d=pdf.ts.dt.floor("D"))
        .groupby(["user_id", "d"])
        .agg(dv=("value", "sum"), dn=("value", "size"))
        .reset_index()
        .sort_values(["user_id", "d"])
    )
    daily["snap_ts"] = daily.d + pd.Timedelta(days=1)
    daily["bal"] = daily.groupby("user_id").dv.cumsum()
    daily["nev"] = daily.groupby("user_id").dn.cumsum()
    left = (
        pdf[pdf.event_type == "purchase"]
        .sort_values(["ts", "event_id"])
        .reset_index(drop=True)
    )
    right = daily.sort_values("snap_ts").reset_index(drop=True)
    merged = pd.merge_asof(
        left,
        right[["user_id", "snap_ts", "bal", "nev"]],
        left_on="ts",
        right_on="snap_ts",
        by="user_id",
        direction="backward",
        allow_exact_matches=True,
    )
    matched = merged[merged.snap_ts.notna()]
    assert set(got) == set(matched.event_id)
    for _, m in matched.iterrows():
        g = got[m.event_id]
        assert g.snap_ts == m.snap_ts.strftime("%Y-%m-%d %H:%M:%S"), m.event_id
        assert abs(g.balance_asof - round(m.bal, 4)) < 1e-9, m.event_id
        assert g.n_events_asof == m.nev, m.event_id


vectors_strategy = st.lists(
    st.lists(st.integers(min_value=-5, max_value=5), min_size=64, max_size=64),
    min_size=8,
    max_size=14,
).filter(lambda vs: all(any(x != 0 for x in v) for v in vs))


@given(vs=vectors_strategy)
@SET
def test_mmr_matches_python_greedy(spark, vs):
    """sim_mmr_rerank's unrolled selection rounds must reproduce a
    plain-Python greedy MMR (the textbook algorithm) on random vector
    sets: same picks in the same order for every query."""
    import math

    from realtimevotingdataengineer_spark.operators.similarity import (
        MMR_CAND,
        MMR_K,
        MMR_LAMBDA,
        MMR_ONE_MINUS,
        N_QUERIES,
        sim_mmr_rerank,
    )

    rows = [(i, [float(x) for x in v], i % 3) for i, v in enumerate(vs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")

    class _T:
        embeddings = df

    got = [
        (r.query_id, r.pick, r.neighbor_id)
        for r in sim_mmr_rerank(_T).collect()
    ]

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b)))

    want = []
    emb = {i: v for i, v, _ in rows}
    for q in range(min(N_QUERIES, len(vs))):
        cands = sorted(
            ((cos(emb[q], emb[c]), c) for c in emb if c != q),
            key=lambda t: (-t[0], t[1]),
        )[:MMR_CAND]
        rel = dict((c, s) for s, c in cands)
        picked = []
        for pick in range(1, MMR_K + 1):
            pool = [c for _, c in cands if c not in picked]
            if not pool:
                break
            if not picked:
                best = pool[0]  # cands already relevance-ordered
            else:
                scored = [
                    (
                        MMR_LAMBDA * rel[c]
                        - MMR_ONE_MINUS * max(cos(emb[c], emb[s]) for s in picked),
                        c,
                    )
                    for c in pool
                ]
                best = min(scored, key=lambda t: (-t[0], t[1]))[1]
            picked.append(best)
            want.append((q, pick, best))
    assert got == sorted(want)


values_strategy = st.lists(
    st.tuples(
        st.sampled_from(["a", "b"]),                      # event type
        st.floats(min_value=-100, max_value=100, allow_nan=False, width=32),
    ),
    min_size=4,
    max_size=60,
)


@given(vals=values_strategy)
@SET
def test_mad_integer_rule_matches_python_reference(spark, vals):
    """events_anomaly_mad's lower-median/MAD integer rule must match a
    direct Python implementation of the same rule (smallest value whose
    doubled cumulative count reaches n) on random value sets, including
    the outlier count under the modified-z test."""
    from realtimevotingdataengineer_spark.operators.events_analytics import (
        events_anomaly_mad,
    )

    rows = [
        (i, et, BASE + dt.timedelta(seconds=i), 7, float(v), "{}")
        for i, (et, v) in enumerate(vals)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, event_type string, ts timestamp, user_id long, "
        "value double, props string",
    )

    class _T:
        events = df

    got = {r.event_type: r for r in events_anomaly_mad(_T).collect()}

    def lower_median(xs):
        xs = sorted(xs)
        n = len(xs)
        cum = 0
        from collections import Counter

        for v, c in sorted(Counter(xs).items()):
            cum += c
            if 2 * cum >= n:
                return v

    from collections import defaultdict

    by_type = defaultdict(list)
    for et, v in vals:
        by_type[et].append(float(v))
    for et, xs in by_type.items():
        med = lower_median(xs)
        mad = lower_median([abs(x - med) for x in xs])
        n_out = (
            sum(1 for x in xs if abs(0.6745 * (x - med) / mad) > 3.5) if mad > 0 else 0
        )
        g = got[et]
        assert g.median_value == med, et
        assert g.mad == mad, et
        assert g.n_outliers == n_out, et
        assert g.n == len(xs), et


activity_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=4),   # user
        st.integers(min_value=0, max_value=9),   # day offset
    ),
    min_size=1,
    max_size=40,
)


@given(act=activity_strategy)
@SET
def test_growth_accounting_identities_on_random_activity(spark, act):
    """events_growth_accounting's ledger identities must hold for ANY
    activity pattern, not just the fixture: per day,
    actives = new + retained + resurrected and
    churned = actives(prev day) − retained; users churn exactly once
    per gap and never at the observation edge."""
    from realtimevotingdataengineer_spark.operators.events_analytics import (
        events_growth_accounting,
    )

    rows = [
        (i, "view", BASE + dt.timedelta(days=d, seconds=i), u, 1.0, "{}")
        for i, (u, d) in enumerate(act)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, event_type string, ts timestamp, user_id long, "
        "value double, props string",
    )

    class _T:
        events = df

    ledger = {r.day: r for r in events_growth_accounting(_T).collect()}
    from collections import defaultdict

    days_by_user = defaultdict(set)
    for u, d in act:
        days_by_user[u].add(d)
    actives = defaultdict(set)
    for u, ds in days_by_user.items():
        for d in ds:
            actives[d].add(u)
    all_days = sorted(actives)
    fmt = lambda d: (BASE + dt.timedelta(days=d)).strftime("%Y-%m-%d")  # noqa: E731
    for d in all_days:
        r = ledger[fmt(d)]
        assert len(actives[d]) == r.n_new + r.n_retained + r.n_resurrected, d
    for d in all_days:
        r = ledger.get(fmt(d + 1))
        churned_here = (r.n_churned if r is not None else 0)
        retained_next = (r.n_retained if r is not None else 0)
        if d == max(all_days):
            # observation edge: the final actives never churn — no
            # ledger row exists past the last active day at all
            assert fmt(d + 1) not in ledger
        else:
            assert churned_here == len(actives[d]) - retained_next, d


bpe_skew_docs = st.lists(
    st.lists(
        st.text(alphabet="ab", min_size=1, max_size=6),
        min_size=1,
        max_size=8,
    ),
    min_size=1,
    max_size=5,
)


@given(docs=bpe_skew_docs)
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_bpe_batched_oracle_tolerates_skewed_vocab(spark, docs):
    """Engine ≡ oracle for batched BPE on SYMBOL-SKEWED corpora — the
    degenerate class the round-8 ADVICE flagged: over a 2-letter
    alphabet every top pair shares a symbol, so a round's candidate
    pool routinely yields FEWER than k mutually disjoint pairs. The
    engine commits a shorter batch and renumbers merge_rank
    contiguously; the unrolled SQL oracle must produce the identical
    row set (empty selection CTEs must neither empty the vocabulary
    via the replace chain nor leave merge_rank gaps)."""
    import duckdb
    import pandas as pd

    from realtimevotingdataengineer_spark.operators.text import (
        BPE_BATCH_CAND,
        BPE_BATCH_K,
        BPE_BATCH_ROUNDS,
        _bpe_batched_sql,
        _bpe_learn_batched,
    )

    rows = [(i, " ".join(words)) for i, words in enumerate(docs)]
    sdf = spark.createDataFrame(rows, "doc_id long, text string")

    class _T:
        documents = sdf

    got = _bpe_learn_batched(_T, BPE_BATCH_ROUNDS, BPE_BATCH_K, BPE_BATCH_CAND)

    con = duckdb.connect()
    con.register(
        "documents", pd.DataFrame(rows, columns=["doc_id", "text"])
    )
    want = con.execute(
        _bpe_batched_sql(BPE_BATCH_ROUNDS, BPE_BATCH_K, BPE_BATCH_CAND)
    ).fetchall()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


words_strategy = st.lists(
    st.lists(
        st.text(alphabet="abc", min_size=1, max_size=8),
        min_size=1,
        max_size=10,
    ),
    min_size=1,
    max_size=8,
)


@given(ws=words_strategy)
@SET
def test_wordpiece_matches_python_reference(spark, ws):
    """text_wordpiece_apply must reproduce a plain-Python
    implementation of the whole program (occurrence-weighted gram
    census → top-V vocab with (count DESC, gram ASC) ties → maximal
    munch) on random small-alphabet corpora — the 3-char alphabet
    makes gram collisions and tie-breaks common."""
    import collections
    import re

    from realtimevotingdataengineer_spark.operators.text import (
        WP_MAXLEN,
        WP_UNK_LEN,
        WP_V,
        text_wordpiece_apply,
    )

    docs = [
        (i, f"s{i % 2}", " ".join(wlist)) for i, wlist in enumerate(ws)
    ]
    df = spark.createDataFrame(docs, "doc_id long, source string, text string")

    class _T:
        documents = df

    got = {
        r.source: (
            r.n_distinct_words,
            r.n_word_occurrences,
            r.n_wp_tokens,
            r.tokens_per_word_ppm,
        )
        for r in text_wordpiece_apply(_T).collect()
    }

    sw: collections.Counter = collections.Counter()
    for _, src, txt in docs:
        for wd in re.sub(r"\s+", " ", txt.lower()).strip().split(" "):
            if wd:
                sw[(src, wd)] += 1
    w: collections.Counter = collections.Counter()
    for (_, wd), c in sw.items():
        w[wd] += c
    grams: collections.Counter = collections.Counter()
    for wd, c in w.items():
        for L in range(2, WP_MAXLEN + 1):
            for i in range(len(wd) - L + 1):
                grams[wd[i : i + L]] += c
    vocab = {
        g
        for g, _ in sorted(grams.items(), key=lambda kv: (-kv[1], kv[0]))[:WP_V]
    }

    def ntok(wd: str) -> int:
        if len(wd) > WP_UNK_LEN:
            return 1
        pos = n = 0
        while pos < len(wd):
            step = 1
            for L in range(WP_MAXLEN, 1, -1):
                if pos + L <= len(wd) and wd[pos : pos + L] in vocab:
                    step = L
                    break
            pos += step
            n += 1
        return n

    want: dict = {}
    for (src, wd), c in sw.items():
        d = want.setdefault(src, [0, 0, 0])
        d[0] += 1
        d[1] += c
        d[2] += c * ntok(wd)
    assert got == {
        src: (a, b, c, c * 1_000_000 // b) for src, (a, b, c) in want.items()
    }


@given(ws=words_strategy)
@SET
def test_viterbi_matches_python_dp(spark, ws):
    """text_viterbi_segment must reproduce a plain-Python DP over the
    same packed-integer objective (fewest tokens, tie-break max gram
    frequency) on random small-alphabet corpora, and never exceed the
    greedy token count word-for-word."""
    import collections
    import re

    from realtimevotingdataengineer_spark.operators.text import (
        VIT_HUGE,
        WP_MAXLEN,
        WP_UNK_LEN,
        WP_V,
        text_viterbi_segment,
    )

    docs = [(i, f"s{i % 2}", " ".join(wlist)) for i, wlist in enumerate(ws)]
    df = spark.createDataFrame(docs, "doc_id long, source string, text string")

    class _T:
        documents = df

    got = {
        r.source: (r.n_word_occurrences, r.n_vit_tokens)
        for r in text_viterbi_segment(_T).collect()
    }

    sw: collections.Counter = collections.Counter()
    for _, src, txt in docs:
        for wd in re.sub(r"\s+", " ", txt.lower()).strip().split(" "):
            if wd:
                sw[(src, wd)] += 1
    w: collections.Counter = collections.Counter()
    for (_, wd), c in sw.items():
        w[wd] += c
    grams: collections.Counter = collections.Counter()
    for wd, c in w.items():
        for L in range(2, WP_MAXLEN + 1):
            for i in range(len(wd) - L + 1):
                grams[wd[i : i + L]] += c
    vocab = dict(
        sorted(grams.items(), key=lambda kv: (-kv[1], kv[0]))[:WP_V]
    )

    def ntok(wd: str) -> int:
        if len(wd) > WP_UNK_LEN:
            return 1
        n = len(wd)
        dp = [(WP_UNK_LEN + 2) * VIT_HUGE] * (n + 1)
        dp[0] = 0
        for p in range(1, n + 1):
            best = dp[p - 1] + VIT_HUGE
            for L in range(2, WP_MAXLEN + 1):
                if p - L >= 0 and wd[p - L : p] in vocab:
                    best = min(best, dp[p - L] + VIT_HUGE - vocab[wd[p - L : p]])
            dp[p] = best
        return (dp[n] + VIT_HUGE - 1) // VIT_HUGE

    want: dict = {}
    for (src, wd), c in sw.items():
        d = want.setdefault(src, [0, 0])
        d[0] += c
        d[1] += c * ntok(wd)
    assert got == {src: tuple(v) for src, v in want.items()}


admit_graph_strategy = st.tuples(
    st.integers(min_value=1, max_value=25),  # n ids
    st.lists(  # raw (a, b) edge picks; normalized to a < b below
        st.tuples(
            st.integers(min_value=0, max_value=24),
            st.integers(min_value=0, max_value=24),
        ),
        max_size=60,
    ),
    st.sets(st.integers(min_value=0, max_value=24), max_size=8),  # flagged
)


@given(g=admit_graph_strategy)
@SET
def test_greedy_admit_frames_matches_python_greedy(spark, g):
    """The executor-side admit (iterative lexicographic-MIS) must equal
    the driver walk on ARBITRARY conflict graphs — chains, cliques,
    flagged minima, isolated ids, duplicate edges — not just the
    clique/star shapes real near-dup batches produce."""
    from realtimevotingdataengineer_spark.streaming import corpus

    n, raw_edges, flagged = g
    flagged = {f for f in flagged if f < n}
    pairs = sorted(
        {(min(a, b), max(a, b)) for a, b in raw_edges if a != b and max(a, b) < n}
    )
    want = corpus._greedy_admit(range(n), flagged, pairs)
    ids_df = spark.createDataFrame([(i,) for i in range(n)], "doc_id bigint")
    fl_df = spark.createDataFrame(
        [(i,) for i in sorted(flagged)], "doc_id bigint"
    )
    pr_df = spark.createDataFrame(pairs or [], "a bigint, b bigint")
    # every ADMIT_DRIVER_MAX regime: executor-side rounds for every id
    # (0), rounds then the driver walk over the undecided rest (n // 2),
    # the driver walk alone (n) — none may change a single survivor
    saved = corpus.ADMIT_DRIVER_MAX
    try:
        for threshold in (0, n // 2, n):
            corpus.ADMIT_DRIVER_MAX = threshold
            adm = corpus._greedy_admit_frames(ids_df, fl_df, pr_df, n)
            got = set() if adm is None else {r.doc_id for r in adm.collect()}
            assert got == want, threshold
    finally:
        corpus.ADMIT_DRIVER_MAX = saved


hash_corpus_strategy = st.lists(
    st.integers(min_value=0, max_value=15),  # tiny hash space -> heavy dups
    min_size=1,
    max_size=30,
)


@given(hs=hash_corpus_strategy, radius=st.integers(min_value=0, max_value=3))
@SET
def test_banded_hamming_branches_match_brute_force(spark, hs, radius):
    """Both _banded_hamming_pairs branches (raw band join / distinct-
    hash collapse) must equal the brute-force pair scan for any radius
    ≤ bands-1 (the pigeonhole regime) on random dup-heavy corpora —
    the collapse's expansion may not duplicate, drop, or reorder a
    single pair."""
    from pyspark.sql import functions as F  # noqa: F811

    from realtimevotingdataengineer_spark.operators.dedup import (
        _banded_hamming_pairs,
    )

    sh = spark.createDataFrame(
        [(i, h) for i, h in enumerate(hs)], "doc_id bigint, simhash bigint"
    )
    bands = [
        F.shiftright("simhash", 4 * j).bitwiseAND(F.lit(15)) for j in range(4)
    ]
    brute = {
        (a, b, bin(hs[a] ^ hs[b]).count("1"))
        for a in range(len(hs))
        for b in range(a + 1, len(hs))
        if bin(hs[a] ^ hs[b]).count("1") <= radius
    }
    for forced in (True, False):
        got = {
            (r.doc_a, r.doc_b, r.hamming)
            for r in _banded_hamming_pairs(
                sh, ["simhash"], bands, radius, collapse=forced
            ).collect()
        }
        assert got == brute, forced


def _srp_admit(spark, vec_rows, cap):
    """Mirror stream_dedup_srp's WITHIN-BATCH flow (no index): capped
    band candidates → exact pinned-cosine verify at COSINE_THETA →
    driver greedy. Returns (kept ids, {id: packed sig})."""
    from realtimevotingdataengineer_spark.functions import dot_expr, norm_expr
    from realtimevotingdataengineer_spark.operators.dedup import (
        COSINE_THETA,
        SRP_BAND_BITS,
        SRP_BANDS,
    )
    from realtimevotingdataengineer_spark.operators.similarity import (
        EMB_DIM,
        srp_band_signatures,
    )
    from realtimevotingdataengineer_spark.streaming import corpus

    vecs = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in vec_rows],
        "vec_id bigint, embedding array<float>",
    ).localCheckpoint(eager=True)
    sigs = srp_band_signatures(
        vecs, "vec_id", "embedding", SRP_BAND_BITS, SRP_BANDS
    ).localCheckpoint(eager=True)
    bands = corpus._srp_sig_bands(sigs).localCheckpoint(eager=True)
    cand = corpus._capped_self_pairs(bands, "vec_id", cap).select(
        F.col("ia").alias("vec_a"), F.col("ib").alias("vec_b")
    )
    wa = vecs.select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea")
    ).withColumn("na", norm_expr("ea", EMB_DIM))
    wb = vecs.select(
        F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb")
    ).withColumn("nb", norm_expr("eb", EMB_DIM))
    cos = dot_expr("ea", "eb", EMB_DIM) / (F.col("na") * F.col("nb"))
    in_pairs = [
        (r.vec_a, r.vec_b)
        for r in cand.join(wa, "vec_a")
        .join(wb, "vec_b")
        .filter(cos >= COSINE_THETA)
        .select("vec_a", "vec_b")
        .collect()
    ]
    ids = [i for i, _ in vec_rows]
    kept = corpus._greedy_admit(ids, set(), in_pairs)
    sig_map = {
        r.vec_id: r.sig
        for r in bands.select("vec_id", "sig").distinct().collect()
    }
    return kept, sig_map


cluster_sizes_strategy = st.lists(
    # power-law-ish sizes straddling a cap of 3: many 1-2s, some 4-9s
    st.sampled_from([1, 1, 2, 2, 3, 4, 5, 7, 9]),
    min_size=1,
    max_size=6,
)


@given(sizes=cluster_sizes_strategy)
@SET
def test_capped_srp_admit_identical_vector_clusters_one_survivor(
    spark, sizes
):
    """Round-10 verdict ask #6 (recall boundary of the sub-banding
    caps): for IDENTICAL-VECTOR clusters on mutually orthogonal base
    directions — bucket sizes straddling the cap, the all-identical-
    signature star-fallback regime included — the capped within-batch
    admit must keep EXACTLY one survivor per cluster (the min id), for
    any pathological size mix. No admitted near-duplicate pair within
    COSINE_THETA may escape the capped clique + identical-signature
    star fallback on this regime (identical vectors are the regime the
    star is exact for)."""
    from realtimevotingdataengineer_spark.operators.similarity import EMB_DIM

    cap = 3
    rows, want, nid = [], set(), 0
    for c, size in enumerate(sizes):
        base = [0.0] * EMB_DIM
        base[c] = 1.0  # orthogonal cluster directions: cross-cos = 0
        want.add(nid)  # min id of the cluster survives
        for _ in range(size):
            rows.append((nid, base))
            nid += 1
    kept, _sigs = _srp_admit(spark, rows, cap)
    assert kept == want, (sizes, sorted(kept))


@given(sizes=cluster_sizes_strategy)
@SET
def test_capped_srp_admit_escapes_confined_to_documented_class(
    spark, sizes
):
    """The cap contract's boundary, asserted on perturbed (NON-identical
    near-dup) clusters: every admitted pair still within COSINE_THETA —
    an 'escape' — must belong to the one documented approximation
    class: identical packed signatures whose full-signature bucket was
    over cap, AND (round 12, chain-augmented star) the pair must be
    NON-ADJACENT in the bucket's id order — root pairs come from the
    star and successor pairs from the chain, so neither can escape.
    Any escape with distinct signatures, an under-cap bucket, a root
    endpoint, or id-order adjacency would be a bug in the sub-banding,
    not the documented trade."""
    import numpy as np

    from realtimevotingdataengineer_spark.operators.dedup import (
        COSINE_THETA,
    )
    from realtimevotingdataengineer_spark.operators.similarity import EMB_DIM

    cap = 3
    rng = np.random.default_rng(11)
    rows, nid = [], 0
    sig_count: dict = {}
    for c, size in enumerate(sizes):
        base = np.zeros(EMB_DIM)
        base[c] = 1.0
        for k in range(size):
            # tiny perturbation: same orthant w.h.p., cosine ~1 within
            # the cluster, ~0 across clusters
            v = base + 0.01 * rng.standard_normal(EMB_DIM) * (k > 0)
            rows.append((nid, [float(x) for x in v]))
            nid += 1
    kept, sig_map = _srp_admit(spark, rows, cap)
    for s in sig_map.values():
        sig_count[s] = sig_count.get(s, 0) + 1
    vec = {i: np.array(v) for i, v in rows}
    kept_sorted = sorted(kept)
    for ai in range(len(kept_sorted)):
        for bi in range(ai + 1, len(kept_sorted)):
            a, b = kept_sorted[ai], kept_sorted[bi]
            va, vb = vec[a], vec[b]
            cos = float(
                va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb))
            )
            if cos >= COSINE_THETA:  # an escape: must be the documented class
                assert sig_map[a] == sig_map[b], (a, b, cos)
                assert sig_count[sig_map[a]] > cap, (a, b, cos)
                group = sorted(
                    i for i, s in sig_map.items() if s == sig_map[a]
                )
                assert a != group[0], (a, b)  # root pairs are candidates
                assert group.index(b) != group.index(a) + 1, (a, b)  # chain


def test_capped_srp_star_fallback_escape_class_is_real(spark):
    """Deterministic pin of the capped fallback's remaining escape
    class, updated for the round-12 CHAIN-AUGMENTED star (repo backlog
    #3). Vectors are CONSTRUCTED to share one full SRP signature (all
    in the interior of the same hyperplane cone, built from the sign
    matrix's null space).

    Leg (a) — the halving is real: the OLD 3-vector escape (members x,
    m adjacent in id order, near-dups of each other, neither near the
    root) is now CAUGHT — the chain pair (x, m) is a candidate, the
    verify fires, m is dropped.

    Leg (b) — the remaining class is real: with a far-from-everything
    spacer y BETWEEN x and m in id order, (x, m) is non-adjacent —
    neither star (root pairs) nor chain (successor pairs) emits it, so
    both are admitted although the batch key's clique catches it. If
    leg (b) ever starts failing because (x, m) IS caught, the
    approximation was removed and the docs should change with it."""
    import numpy as np

    from realtimevotingdataengineer_spark.operators.dedup import (
        COSINE_THETA,
        SRP_BAND_BITS,
        SRP_BANDS,
    )
    from realtimevotingdataengineer_spark.operators.similarity import (
        EMB_DIM,
        _rp_sign,
    )

    n_bits = SRP_BAND_BITS * SRP_BANDS
    S = np.array(
        [[_rp_sign(j, i) for i in range(1, EMB_DIM + 1)] for j in range(n_bits)],
        dtype=float,
    )
    rng = np.random.default_rng(7)
    u = rng.standard_normal(EMB_DIM)
    u /= np.linalg.norm(u)
    # null space of S: moving along it leaves every projection EXACTLY
    # unchanged -> identical signatures by construction
    _, sv, vt = np.linalg.svd(S)
    null = vt[len(sv):]  # (EMB_DIM - n_bits) x EMB_DIM orthonormal
    n1 = null[0] - (null[0] @ u) * u
    n1 /= np.linalg.norm(n1)
    n2 = null[1] - (null[1] @ u) * u - (null[1] @ n1) * n1
    n2 /= np.linalg.norm(n2)
    n3 = null[2] - (null[2] @ u) * u - (null[2] @ n1) * n1 - (null[2] @ n2) * n2
    n3 /= np.linalg.norm(n3)
    # r and y far from everything (cos ~ 1/sqrt(10) = .32 < theta);
    # x, m near each other (cos ~ .97 >= theta)
    r = u + 3.0 * n1
    x = u
    y = u + 3.0 * n3
    m = u + 0.25 * n2
    cos = lambda a, b: float(  # noqa: E731
        a @ b / (np.linalg.norm(a) * np.linalg.norm(b))
    )
    assert cos(x, m) >= COSINE_THETA
    assert cos(r, x) < COSINE_THETA and cos(r, m) < COSINE_THETA
    assert cos(y, x) < COSINE_THETA and cos(y, m) < COSINE_THETA
    assert cos(r, y) < COSINE_THETA

    # leg (a): adjacent members — the chain catches the old escape
    rows3 = [(0, [float(v) for v in r]), (1, [float(v) for v in x]),
             (2, [float(v) for v in m])]
    kept3, sig_map3 = _srp_admit(spark, rows3, cap=1)
    assert len(set(sig_map3.values())) == 1, sig_map3
    assert kept3 == {0, 1}, kept3  # m dropped via the chain pair (x, m)

    # leg (b): spacer y makes (x, m) non-adjacent — the escape remains
    rows4 = [(0, [float(v) for v in r]), (1, [float(v) for v in x]),
             (2, [float(v) for v in y]), (3, [float(v) for v in m])]
    kept4, sig_map4 = _srp_admit(spark, rows4, cap=1)
    # precondition: the construction really produced one signature
    # (float32 ingestion must not flip a projection sign)
    assert len(set(sig_map4.values())) == 1, sig_map4
    # star pairs (0,1)(0,2)(0,3) and chain pairs (1,2)(2,3) all fail
    # the verify; (1,3) was never a candidate -> everything admitted
    assert kept4 == {0, 1, 2, 3}, kept4
    # and the uncapped (batch-identical) join catches it: m dropped
    kept_uncapped, _ = _srp_admit(spark, rows4, cap=None)
    assert kept_uncapped == {0, 1, 2}


def test_autodial_clique_cap_pure_rule():
    """Round-11 verdict ask #4: the clique-cap auto-dial is a pure
    integer rule, pinned point-by-point. Below SRP_AUTODIAL_MIN_DUP the
    cap is UNTOUCHED (the bit-identical no-change branch of the
    adaptive-switch discipline); above it the effective cap is ⌈d/2⌉
    clamped to [SRP_AUTODIAL_CAP_FLOOR, cap] — in particular the sweep's
    measured worst case (dup ≈ 50, just under cap=64) lands at 25, below
    the modal group size, so those groups take the linear star path."""
    from realtimevotingdataengineer_spark.streaming import corpus

    assert corpus._autodial_clique_cap(64, 1000, 1000) == 64  # d=1
    assert corpus._autodial_clique_cap(64, 8000, 1000) == 64  # d=8: boundary, untouched
    assert corpus._autodial_clique_cap(64, 9000, 1000) == 8  # d=9 → ⌈9/2⌉=5 → floor 8
    assert corpus._autodial_clique_cap(64, 50_000, 1000) == 25  # the sweep worst case
    assert corpus._autodial_clique_cap(64, 100_000, 1000) == 50
    assert corpus._autodial_clique_cap(64, 1_000_000, 1000) == 64  # d≫cap: already star
    assert corpus._autodial_clique_cap(64, 1, 0) == 64  # empty-distinct guard


@given(sizes=cluster_sizes_strategy)
@SET
def test_autodialed_cap_identical_vector_clusters_one_survivor(spark, sizes):
    """The dialed-cap branch keeps the one-survivor-per-cluster
    guarantee on identical-vector clusters (the regime that produces
    heavy dup factors — stars are EXACT for it), and equals the
    undialed run: scaling each cluster 8× pushes the mean dup factor
    past SRP_AUTODIAL_MIN_DUP, the dial lowers the cap, and the admit
    result must be the same survivor set the configured cap produces."""
    from realtimevotingdataengineer_spark.operators.similarity import EMB_DIM
    from realtimevotingdataengineer_spark.streaming import corpus

    # cap above the dial floor so mid-range dup factors actually lower
    # it (8 < d < 2·cap); examples outside that window exercise the
    # untouched branch
    cap = 12
    rows, want, nid = [], set(), 0
    big_sizes = [s * 8 for s in sizes]  # dup factor ≥ 8 ⇒ dial engages
    for c, size in enumerate(big_sizes):
        base = [0.0] * EMB_DIM
        base[c] = 1.0
        want.add(nid)
        for _ in range(size):
            rows.append((nid, base))
            nid += 1
    n = len(rows)
    dialed = corpus._autodial_clique_cap(cap, n, len(big_sizes))
    kept_dialed, _ = _srp_admit(spark, rows, dialed)
    assert kept_dialed == want, (big_sizes, sorted(kept_dialed))
    if dialed != cap:  # the equality leg the switch discipline demands
        kept_plain, _ = _srp_admit(spark, rows, cap)
        assert kept_plain == kept_dialed


sep_token_corpus_strategy = st.lists(
    st.lists(
        # tokens over a tiny alphabet INCLUDING the retired digest
        # separator byte, so distinct shingle sets collide under the
        # old encoding with real probability
        st.sampled_from(["a", "b", "a\x1fb", "b\x1fa", "a\x1fa", "b\x1fb"]),
        min_size=3,
        max_size=6,
    ),
    min_size=2,
    max_size=12,
)


@given(docs_toks=sep_token_corpus_strategy)
@SET
def test_minhash_collapse_injective_digest_on_separator_corpora(
    spark, docs_toks
):
    """Round-11 property behind the digest fix: on random corpora whose
    tokens CONTAIN the retired separator byte (tokens split only on
    whitespace, so \\x1f is legal content), the collapsed branch must
    equal the raw band join pair-for-pair. Under the old
    concat_ws-digest these corpora collide distinct shingle sets with
    real probability (the fixed regression test holds one such pair);
    the injective digest must make the branch choice invisible on ALL
    of them."""
    from types import SimpleNamespace

    from realtimevotingdataengineer_spark.operators import dedup

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs_toks)]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    t = SimpleNamespace(documents=docs, spark=spark)
    _sh, _sig, raw = dedup.minhash_parts(t, collapse=False)
    want = {(r.doc_a, r.doc_b) for r in raw.collect()}
    _sh, _sig, col = dedup.minhash_parts(t, collapse=True)
    got = {(r.doc_a, r.doc_b) for r in col.collect()}
    assert got == want
