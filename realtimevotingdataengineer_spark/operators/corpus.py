"""Corpus-level training-data operations over ``documents``.

The remaining pieces of a 100 TB pretraining-data pipeline beyond
dedup/text-quality (see dedup.py / text.py): benchmark decontamination,
deterministic sampling, per-domain statistics, within-document
repetition. Each is pure DataFrame ops with a DuckDB oracle twin.

Scale notes:
- decontamination joins the corpus n-gram stream against a BROADCAST
  probe set (eval benchmarks are tiny vs the corpus); the corpus side
  never shuffles.
- hash sampling is a stateless filter — no shuffle, no RNG state, the
  same rows selected on any cluster topology (md5 is the portable,
  seed-free determinism device; rand(seed) is partition-sensitive).
- domain stats are one partial-agg shuffle on `source` (low
  cardinality ⇒ map-side collapse; a skewed mega-domain is exactly the
  salted-agg case shown in agg_skew_salted).
"""

from __future__ import annotations

import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import TOKENS_SQL, ngram_cte_sql, normalize_text, spread, tokens
from ..registry import register
from ..sources.tables import Tables

_TOKENS_SQL = TOKENS_SQL  # single shared definition (functions.TOKENS_SQL)

#: doc_id < _BENCH_MAX is the stand-in "evaluation benchmark" split the
#: corpus must be decontaminated against.
_BENCH_MAX = 20
#: shingle width for contamination detection (13 in the GPT-3/PaLM
#: protocol; 5 here because the synthetic docs are ~40 tokens).
_NGRAM = 5

_GRAMS_CTE = (
    f"WITH tk AS (SELECT doc_id, {_TOKENS_SQL} AS tk FROM documents), "
    + ngram_cte_sql("grams", _NGRAM)
    + " "
)


@register(
    "text_decontaminate",
    _GRAMS_CTE
    + f"SELECT c.doc_id, count(*) AS n_hits FROM grams c "
    f"JOIN (SELECT DISTINCT g FROM grams WHERE doc_id < {_BENCH_MAX}) b "
    f"ON c.g = b.g WHERE c.doc_id >= {_BENCH_MAX} "
    "GROUP BY c.doc_id ORDER BY n_hits DESC, c.doc_id",
)
def text_decontaminate(t: Tables) -> DataFrame:
    """Benchmark decontamination: training docs sharing any word 5-gram
    with the held-out benchmark split (doc_id < 20), with the count of
    distinct shared 5-grams. The benchmark gram set broadcasts (eval
    suites are KBs against a PB corpus); the corpus side is a narrow
    scan → explode → broadcast-hash probe, no corpus shuffle until the
    tiny per-doc count agg."""
    return decontaminate_from(
        spread(t.documents.select("doc_id", tokens("text").alias("tk")), "doc_id")
    )


def decontaminate_from(tk: DataFrame) -> DataFrame:
    """Parameterized core of :func:`text_decontaminate` over a
    pre-tokenized (doc_id, tk) relation — lets the gate capstones share
    ONE checkpointed tokenization between the quality predicates and
    the decontamination probe (round 16; same program, same rows)."""

    def gram(i):
        return F.concat_ws(
            " ", *[F.element_at("tk", i + j) for j in range(_NGRAM)]
        )

    grams_expr = F.transform(F.sequence(F.lit(1), F.size("tk") - (_NGRAM - 1)), gram)
    grams = tk.select(
        "doc_id",
        F.explode(
            # sequence(1, n) runs DESCENDING for n < 1 — emit empty instead
            F.when(F.size("tk") >= _NGRAM, grams_expr).otherwise(
                F.array().cast("array<string>")
            )
        ).alias("g"),
    ).distinct()
    bench = (
        grams.filter(F.col("doc_id") < _BENCH_MAX).select("g").distinct()
    )
    return (
        grams.filter(F.col("doc_id") >= _BENCH_MAX)
        .join(F.broadcast(bench), "g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
        .orderBy(F.desc("n_hits"), F.asc("doc_id"))
    )


@register(
    "sample_hash_bernoulli",
    "SELECT doc_id, lang, source FROM documents "
    "WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '1a' ORDER BY doc_id",
)
def sample_hash_bernoulli(t: Tables) -> DataFrame:
    """Deterministic ~10% Bernoulli sample by key hash: md5(doc_id)
    first byte < 0x1a (26/256 ≈ 10.2%). Unlike rand(seed) — whose draw
    depends on partition layout — the selected set is a pure function of
    the key: identical on local[32] and 1000 executors, stable across
    reruns, and stratifiable by hashing a composite key. Plans as a
    stateless pushed-down filter: no shuffle, no state."""
    return (
        t.documents.filter(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2) < "1a"
        )
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    )


@register(
    "sample_stratified",
    "SELECT source, count(*) AS n_sampled FROM documents "
    "WHERE substr(md5(source || ':' || CAST(doc_id AS VARCHAR)), 1, 2) < '40' "
    "GROUP BY source ORDER BY source",
)
def sample_stratified(t: Tables) -> DataFrame:
    """Stratified deterministic sampling: ~25% per domain by hashing the
    COMPOSITE (source, doc_id) key — each stratum gets an independent
    ~25% draw (hashing doc_id alone would select the same global subset;
    compositing re-randomizes per stratum). Same zero-shuffle,
    partition-invariant properties as sample_hash_bernoulli; reported
    here as per-domain sampled counts (the curation-pass audit view)."""
    keep = (
        F.substring(
            F.md5(F.concat_ws(":", F.col("source"), F.col("doc_id").cast("string"))),
            1,
            2,
        )
        < "40"
    )
    return (
        t.documents.filter(keep)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_sampled"))
        .orderBy("source")
    )


#: Fixed-size stratified draw: exactly this many docs per domain.
SAMPLE_FIXED_K = 5


@register(
    "sample_fixed_k_stratified",
    "SELECT source, doc_id, CAST(rk AS BIGINT) AS rk FROM ("
    "SELECT source, doc_id, row_number() OVER (PARTITION BY source "
    "ORDER BY md5('fk:' || CAST(doc_id AS VARCHAR) || ':' || source), doc_id) "
    "AS rk FROM documents) "
    f"WHERE rk <= {SAMPLE_FIXED_K} ORDER BY source, rk",
)
def sample_fixed_k_stratified(t: Tables) -> DataFrame:
    """Fixed-SIZE stratified sampling: exactly SAMPLE_FIXED_K documents
    per domain, drawn by ranking a salted md5 of the doc key within each
    stratum — the eval-set carving operator (rate-based sampling like
    sample_stratified can't promise 'exactly 100 held-out docs per
    domain'; this does, deterministically, with membership hash-checked
    row by row).

    Scale shape: rank-within-partition + rk<=K compiles to Spark's
    WindowGroupLimit — each map task pre-truncates to its local top-K
    per source BEFORE the exchange, so the shuffle carries
    O(K x strata x tasks) rows, not the corpus; the same posture as
    topk_leading_candidate. The salt prefix decorrelates this draw from
    every other hash decision (split/shard/bernoulli) on the same key."""
    rk = F.row_number().over(
        Window.partitionBy("source").orderBy(
            F.md5(
                F.concat_ws(
                    ":", F.lit("fk"), F.col("doc_id").cast("string"), F.col("source")
                )
            ),
            F.col("doc_id"),
        )
    )
    return (
        t.documents.select("source", "doc_id", rk.alias("rk"))
        .filter(F.col("rk") <= SAMPLE_FIXED_K)
        .select("source", "doc_id", F.col("rk").cast("bigint").alias("rk"))
        .orderBy("source", "rk")
    )


@register(
    "corpus_domain_stats",
    "SELECT source, count(*) AS n_docs, "
    # CAST AS BIGINT: uncast DuckDB sum() is HUGEINT → float64 via
    # fetch_df, diverging from Spark's bigint (CORRECTNESS_r02 hash miss).
    f"CAST(sum(len({_TOKENS_SQL})) AS BIGINT) AS total_tokens, "
    "CAST(sum(n_chars) AS DOUBLE) / count(*) AS avg_chars, "
    "count(DISTINCT lang) AS n_langs FROM documents "
    "GROUP BY source ORDER BY source",
)
def corpus_domain_stats(t: Tables) -> DataFrame:
    """Per-domain corpus profile (the `source` column stands in for a
    URL domain): doc count, total token volume, mean doc length,
    language spread — the table a curation pass ranks/filters domains
    by. Exact integer sums; one low-cardinality shuffle."""
    return (
        t.documents.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(tokens("text")).cast("bigint")).alias("total_tokens"),
            (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("avg_chars"),
            F.count_distinct("lang").alias("n_langs"),
        )
        .orderBy("source")
    )


_EMAIL_RE = "[a-z0-9.]+@[a-z0-9.]+[a-z]"
_PHONE_RE = "[0-9]{6,}"


@register(
    "text_pii_scrub",
    "WITH aug AS (SELECT doc_id, text || ' contact user' || CAST(doc_id AS VARCHAR) "
    "|| '@example.com or call 555' || CAST(1000000 + doc_id AS VARCHAR) AS raw "
    "FROM documents) "
    "SELECT doc_id, "
    f"len(regexp_extract_all(raw, '{_EMAIL_RE}')) + "
    f"len(regexp_extract_all(regexp_replace(raw, '{_EMAIL_RE}', '<EMAIL>', 'g'), "
    f"'{_PHONE_RE}')) AS n_redactions, "
    f"md5(regexp_replace(regexp_replace(raw, '{_EMAIL_RE}', '<EMAIL>', 'g'), "
    f"'{_PHONE_RE}', '<PHONE>', 'g')) AS scrubbed_md5 "
    "FROM aug ORDER BY doc_id",
)
def text_pii_scrub(t: Tables) -> DataFrame:
    """PII redaction: emails then long digit runs replaced by typed
    placeholders, counting redactions per document. The raw text is
    augmented with a deterministic synthetic email+phone per doc (the
    corpus itself contains none) so the scrub path is genuinely
    exercised and oracle-checked, md5 pinning the exact output text.
    Pure regexp built-ins — whole-stage codegen, zero shuffle; patterns
    kept in the Java∩RE2 common subset so both engines agree."""
    raw = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or call 555"),
        (F.col("doc_id") + 1000000).cast("string"),
    )
    no_email = F.regexp_replace(raw, _EMAIL_RE, "<EMAIL>")
    scrubbed = F.regexp_replace(no_email, _PHONE_RE, "<PHONE>")
    n = F.regexp_count(raw, F.lit(_EMAIL_RE)) + F.regexp_count(
        no_email, F.lit(_PHONE_RE)
    )
    return t.documents.select(
        "doc_id",
        n.alias("n_redactions"),
        F.md5(scrubbed).alias("scrubbed_md5"),
    ).orderBy("doc_id")


def _pretrain_parts() -> tuple[str, str]:
    """(CTE prefix, final-SELECT sans ORDER BY) for the corpus gate —
    composed from the shared CTE constants (see dedup._CLUSTERS_CTES; no
    string surgery). Split so pipeline_export_corpus can reuse the gate
    as a CTE."""
    from .dedup import _CLUSTERS_CTES, _CLUSTERS_FINAL

    grams = ngram_cte_sql("cgrams", _NGRAM)
    ctes = (
        _CLUSTERS_CTES
        + f", labels AS ({_CLUSTERS_FINAL}), "
        + grams
        + f", bench AS (SELECT DISTINCT g FROM cgrams WHERE doc_id < {_BENCH_MAX}), "
        "contaminated AS (SELECT DISTINCT c.doc_id FROM cgrams c "
        f"JOIN bench b ON c.g = b.g WHERE c.doc_id >= {_BENCH_MAX}), "
        "quality AS (SELECT doc_id, len(tk) AS n_tokens, "
        "1.0 - CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk) AS rep FROM tk) "
    )
    final = (
        "SELECT q.doc_id, q.n_tokens FROM quality q "
        "JOIN labels l ON q.doc_id = l.doc_id "
        f"WHERE q.doc_id >= {_BENCH_MAX} AND q.n_tokens >= 20 AND q.rep < 0.6 "
        "AND l.cluster_id = q.doc_id "
        "AND NOT EXISTS (SELECT 1 FROM contaminated c WHERE c.doc_id = q.doc_id)"
    )
    return ctes, final


def _pretrain_sql() -> str:
    ctes, final = _pretrain_parts()
    return ctes + final + " ORDER BY q.doc_id"


def _gate_tokens(t: Tables) -> DataFrame:
    """The gate's shared tokenization (pre-checkpoint)."""
    return spread(
        t.documents.select("doc_id", tokens("text").alias("tk")), "doc_id"
    )


@contextmanager
def _gate_tokens_async(t: Tables):
    """Kick off the gate tokenization's materialization on a driver
    thread and yield a join()-style handle (§2.6 overlap-independent-
    jobs): the export capstones' construct is otherwise a strictly
    sequential chain of small jobs (minhash materializations, then
    2 jobs × CC rounds), during which the cluster is mostly idle — the
    tokenize job back-fills it. Job submission is thread-safe; the
    handle re-raises any thread-side failure. The ``documents`` handle
    is bound BEFORE the thread starts so the Tables lazy-attr cache is
    not raced.

    The thread's job runs in its own job group (the caller's other
    local properties, such as the job description, are inherited). If
    the ``with`` body raises, that group is cancelled until the thread
    ends, so no tokenize job outlives a failed label chain."""
    from pyspark import InheritableThread

    sc = t.spark.sparkContext
    df = _gate_tokens(t)  # binds t.documents on the caller's thread
    group = f"gate-tokens-{uuid.uuid4().hex}"
    holder: dict = {}

    def _mat() -> None:
        sc.setLocalProperty("spark.jobGroup.id", group)
        sc.setLocalProperty("spark.job.interruptOnCancel", "true")
        try:
            holder["tk"] = df.localCheckpoint(eager=True)
        except Exception as ex:  # noqa: BLE001 — re-raised in join
            holder["err"] = ex

    th = InheritableThread(target=_mat, name="gate-tokens-mat", daemon=True)
    th.start()

    def join() -> DataFrame:
        th.join()
        if "err" in holder:
            raise holder["err"]
        return holder["tk"]

    try:
        yield join
    except BaseException:
        # a job submitted after a cancel is not cancelled: repeat until
        # the thread has returned
        while th.is_alive():
            sc.cancelJobGroup(group)
            th.join(0.1)
        raise


def _survivorship_gate(
    t: Tables, labels: DataFrame, tk: DataFrame | None = None
) -> DataFrame:
    """The pretraining-corpus gate — length floor ∘ repetition cap ∘
    benchmark decontamination ∘ near-dup cluster survivorship (canonical
    doc only), excluding the benchmark split — applied against a label
    table. The labels DataFrame is the ONLY varying input across the
    three capstones (live dedup_clusters, a materialized parquet table,
    incremental contraction labels), so the predicates live here once
    and cannot drift between them (round-6 advice: three hand-copies of
    the same gate). Returns the ungated-order (doc_id, n_tokens)
    survivor set; callers add their own terminal sort/layout.

    Round 16: the quality predicates and the decontamination probe both
    start from ONE eagerly checkpointed tokenization (§2.3 shared scan —
    the text_perplexity_bigram pattern): un-materialized, each branch
    ran its own full scan + regexp-tokenize pass of the corpus at
    execute time (and the decontamination subtree twice more for its
    bench/probe sides). Callers that build labels with an iterative CC
    chain pass a pre-materialized ``tk`` from :func:`_gate_tokens_async`
    so the tokenize job overlaps the label rounds (§2.6)."""
    if tk is None:
        tk = _gate_tokens(t).localCheckpoint(eager=True)
    contaminated = decontaminate_from(tk).select("doc_id")
    n = F.size("tk")
    quality = tk.select(
        "doc_id",
        n.alias("n_tokens"),
        (F.lit(1.0) - F.size(F.array_distinct("tk")).cast("double") / n).alias("rep"),
    )
    return (
        quality.join(labels, "doc_id")
        .join(contaminated, "doc_id", "left_anti")
        .filter(
            (F.col("doc_id") >= _BENCH_MAX)
            & (F.col("n_tokens") >= 20)
            & (F.col("rep") < 0.6)
            & (F.col("cluster_id") == F.col("doc_id"))
        )
        .select("doc_id", "n_tokens")
    )


@register("pipeline_pretrain_corpus", _pretrain_sql())
def pipeline_pretrain_corpus(t: Tables) -> DataFrame:
    """The end-to-end pretraining-corpus gate as ONE declarative plan:
    length floor ∘ repetition cap ∘ benchmark decontamination ∘ near-dup
    cluster survivorship (canonical doc only), excluding the benchmark
    split itself. Each stage reuses an already-tested operator; Catalyst
    plans the whole composition — broadcast probes for contamination,
    the LSH candidate join for dedup, in-row array math for quality. The
    100 TB shape is the same plan over partitioned parquet."""
    from .dedup import dedup_clusters

    # §2.6: the gate tokenization materializes on a driver thread while
    # the label chain's sequential small jobs run — the tokenize job
    # back-fills executors the CC rounds leave idle
    with _gate_tokens_async(t) as tk_join:
        labels = dedup_clusters(t)
        return _survivorship_gate(t, labels, tk_join()).orderBy("doc_id")


def pretrain_corpus_from_labels(t: Tables, labels_path: str) -> DataFrame:
    """pipeline_pretrain_corpus against a MATERIALIZED label table (see
    dedup.build_cluster_labels): identical gate semantics — length floor,
    repetition cap, decontamination, cluster survivorship — but the
    iterative label propagation is a build-time cost, not a per-query
    one. Result equality with the live pipeline is test-asserted."""
    labels = t.spark.read.parquet(labels_path)
    return _survivorship_gate(t, labels).orderBy("doc_id")


@register(
    "text_repetition_ratio",
    f"SELECT doc_id, len(tk) AS n_tokens, len(list_distinct(tk)) AS n_distinct, "
    "1.0 - CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk) AS rep_ratio "
    f"FROM (SELECT doc_id, {_TOKENS_SQL} AS tk FROM documents) "
    "ORDER BY doc_id",
)
def text_repetition_ratio(t: Tables) -> DataFrame:
    """Within-document repetition (Gopher-style): fraction of tokens
    that are repeats of an earlier token, 1 − |distinct|/|tokens|.
    Computed entirely inside the row (array ops, no explode) — zero
    shuffle; composes with text_quality_gopher as another filter gate."""
    tk = t.documents.select("doc_id", tokens("text").alias("tk"))
    n = F.size("tk")
    d = F.size(F.array_distinct("tk"))
    return tk.select(
        "doc_id",
        n.alias("n_tokens"),
        d.alias("n_distinct"),
        (F.lit(1.0) - d.cast("double") / n).alias("rep_ratio"),
    ).orderBy("doc_id")


#: Token budget for the data-mix schedule (corpus_mix_weights): the
#: total token count the sampled pretraining mix should contain. Sized
#: BELOW the corpus volume at every test SF (~27k tokens at sf0.01,
#: ~270k at sf0.1) so per-domain rates land genuinely under 1.0 and the
#: hash-sampling branch of corpus_sample_to_budget is exercised, while
#: undersized domains still hit the rate-1 full-inclusion cap.
MIX_TOKEN_BUDGET = 8_000


@register(
    "corpus_mix_weights",
    "WITH per AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs, "
    f"CAST(sum(len({_TOKENS_SQL})) AS BIGINT) AS total_tokens "
    "FROM documents GROUP BY source), "
    "nd AS (SELECT CAST(count(*) AS BIGINT) AS n_domains FROM per) "
    "SELECT source, n_docs, total_tokens, "
    "CAST(1.0 AS DOUBLE) / n_domains AS weight, "
    f"least(CAST(1.0 AS DOUBLE), CAST({MIX_TOKEN_BUDGET} AS DOUBLE) "
    "/ n_domains / total_tokens) AS sampling_rate, "
    f"least(CAST(1.0 AS DOUBLE), CAST({MIX_TOKEN_BUDGET} AS DOUBLE) "
    "/ n_domains / total_tokens) * total_tokens AS expected_tokens "
    "FROM per CROSS JOIN nd ORDER BY source",
)
def corpus_mix_weights(t: Tables) -> DataFrame:
    """Pretraining data-mix schedule: per-domain sampling rates that hit
    a total token budget under a uniform domain mix — the table a corpus
    builder feeds into the hash sampler (sample_stratified consumes
    per-domain rates exactly like these). rate_d = min(1, (B/k)/tokens_d)
    caps oversubscribed domains at full inclusion; expected_tokens shows
    the realized mix. One low-cardinality shuffle + a 1-row broadcast —
    the schedule is metadata-sized at any corpus scale."""
    per = t.documents.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(tokens("text")).cast("bigint")).alias("total_tokens"),
    )
    nd = per.agg(F.count(F.lit(1)).alias("n_domains"))
    rate = F.least(
        F.lit(1.0),
        F.lit(float(MIX_TOKEN_BUDGET))
        / F.col("n_domains")
        / F.col("total_tokens"),
    )
    return (
        per.crossJoin(F.broadcast(nd))
        .select(
            "source",
            "n_docs",
            "total_tokens",
            (F.lit(1.0) / F.col("n_domains")).alias("weight"),
            rate.alias("sampling_rate"),
            (rate * F.col("total_tokens")).alias("expected_tokens"),
        )
        .orderBy("source")
    )


@register(
    "corpus_sample_to_budget",
    "WITH per AS (SELECT source, "
    f"CAST(sum(len({_TOKENS_SQL})) AS BIGINT) AS total_tokens "
    "FROM documents GROUP BY source), "
    "nd AS (SELECT CAST(count(*) AS BIGINT) AS n_domains FROM per), "
    "rates AS (SELECT source, least(CAST(1.0 AS DOUBLE), "
    f"CAST({MIX_TOKEN_BUDGET} AS DOUBLE) / n_domains / total_tokens) AS rate "
    "FROM per CROSS JOIN nd), "
    "thr AS (SELECT source, rate, printf('%06x', CAST(least(floor(rate * 16777216.0), "
    "16777215.0) AS BIGINT)) AS h FROM rates) "
    f"SELECT d.doc_id, d.source, CAST(len({_TOKENS_SQL}) AS BIGINT) AS n_tokens "
    "FROM documents d JOIN thr ON d.source = thr.source "
    "WHERE rate >= 1.0 "
    "OR substr(md5(d.source || ':' || CAST(d.doc_id AS VARCHAR)), 1, 6) < h "
    "ORDER BY d.doc_id",
)
def corpus_sample_to_budget(t: Tables) -> DataFrame:
    """The mix schedule APPLIED: every document whose stratified hash
    draw falls under its domain's corpus_mix_weights sampling rate —
    i.e. the actual sampled pretraining corpus for the token budget.
    The per-domain rate becomes a 24-bit hex threshold
    (floor(rate·16²⁴), %06x on both engines) compared against the first
    6 hex chars of md5(source:doc_id): the same partition-invariant,
    seed-free determinism as sample_hash_bernoulli, generalized to
    per-stratum rates. The rate table is a k-row broadcast; the corpus
    side is one pushed-down filter — zero corpus shuffle at any scale."""
    per = t.documents.groupBy("source").agg(
        F.sum(F.size(tokens("text")).cast("bigint")).alias("total_tokens")
    )
    nd = per.agg(F.count(F.lit(1)).alias("n_domains"))
    rate = F.least(
        F.lit(1.0),
        F.lit(float(MIX_TOKEN_BUDGET)) / F.col("n_domains") / F.col("total_tokens"),
    )
    thr = (
        per.crossJoin(F.broadcast(nd))
        .select("source", rate.alias("rate"))
        .select(
            "source",
            "rate",
            F.format_string(
                "%06x",
                F.least(
                    F.floor(F.col("rate") * F.lit(16777216.0)), F.lit(16777215)
                ).cast("bigint"),
            ).alias("h"),
        )
    )
    keep = (F.col("rate") >= 1.0) | (
        F.substring(
            F.md5(F.concat_ws(":", F.col("source"), F.col("doc_id").cast("string"))),
            1,
            6,
        )
        < F.col("h")
    )
    return (
        t.documents.join(F.broadcast(thr), "source")
        .filter(keep)
        .select("doc_id", "source", F.size(tokens("text")).cast("bigint").alias("n_tokens"))
        .orderBy("doc_id")
    )


@register(
    "corpus_length_profile",
    "SELECT source, CAST(count(*) AS BIGINT) AS n_docs, "
    "CAST(min(n_chars) AS BIGINT) AS min_chars, "
    "CAST(quantile_disc(n_chars, 0.25) AS BIGINT) AS p25_chars, "
    "CAST(quantile_disc(n_chars, 0.50) AS BIGINT) AS p50_chars, "
    "CAST(quantile_disc(n_chars, 0.75) AS BIGINT) AS p75_chars, "
    "CAST(quantile_disc(n_chars, 0.90) AS BIGINT) AS p90_chars, "
    "CAST(max(n_chars) AS BIGINT) AS max_chars "
    "FROM documents GROUP BY source ORDER BY source",
)
def corpus_length_profile(t: Tables) -> DataFrame:
    """Per-domain document-length distribution: min / p25 / p50 / p75 /
    p90 / max of n_chars via DISCRETE percentiles — the profiling query
    behind length-based quality cuts (choose thresholds per domain, not
    globally). percentile_disc returns actual data values (smallest
    value with cume_dist ≥ p, probe-verified identical to DuckDB's
    quantile_disc), so the result is integer-exact — no interpolation
    floats to pin.

    Scale: exact percentiles sort within each (small) group; at 100 TB
    with huge groups you'd swap in approx_percentile and accept the
    error bound — the profile's consumers (threshold picks) tolerate it."""
    t.documents.createOrReplaceTempView("_profile_docs")
    return t.spark.sql(
        """
        SELECT source, count(*) AS n_docs,
               CAST(min(n_chars) AS BIGINT) AS min_chars,
               CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY n_chars) AS BIGINT) AS p25_chars,
               CAST(percentile_disc(0.50) WITHIN GROUP (ORDER BY n_chars) AS BIGINT) AS p50_chars,
               CAST(percentile_disc(0.75) WITHIN GROUP (ORDER BY n_chars) AS BIGINT) AS p75_chars,
               CAST(percentile_disc(0.90) WITHIN GROUP (ORDER BY n_chars) AS BIGINT) AS p90_chars,
               CAST(max(n_chars) AS BIGINT) AS max_chars
        FROM _profile_docs GROUP BY source ORDER BY source
        """
    )


#: Training-export shard count (per-shard files at scale; 8 keeps the
#: test-SF shards non-trivial).
N_SHARDS = 8


@register(
    "corpus_interleave_shards",
    "WITH h AS (SELECT doc_id, source, md5(CAST(doc_id AS VARCHAR)) AS hx "
    "FROM documents) "
    "SELECT doc_id, source, "
    f"CAST(CAST('0x' || substr(hx, 1, 6) AS BIGINT) % {N_SHARDS} AS INT) AS shard, "
    "CAST(row_number() OVER (PARTITION BY "
    f"CAST('0x' || substr(hx, 1, 6) AS BIGINT) % {N_SHARDS} "
    "ORDER BY hx, doc_id) AS BIGINT) AS pos "
    "FROM h ORDER BY shard, pos",
)
def corpus_interleave_shards(t: Tables) -> DataFrame:
    """Deterministic shard + interleave for training export: every doc
    hashes to one of N_SHARDS shards (24-bit md5 prefix mod N — stable
    under corpus growth), and its within-shard position orders by the
    hash itself — a seeded global shuffle, so adjacent positions mix
    sources/domains instead of replaying ingest order. This is the
    dataloader-facing layout step every pretraining pipeline ends with.

    Scale: hashing is per-row and shuffle-free; the only exchange is
    the per-shard sort, which at 100 TB becomes the write-time
    ``repartition(shard).sortWithinPartitions(hx)`` of the export job —
    same plan shape Spark already uses for partitioned writes."""
    h = t.documents.select(
        "doc_id", "source", F.md5(F.col("doc_id").cast("string")).alias("hx")
    )
    shard = (
        F.conv(F.substring("hx", 1, 6), 16, 10).cast("bigint") % N_SHARDS
    ).cast("int")
    w = Window.partitionBy("shard").orderBy("hx", "doc_id")
    return (
        h.withColumn("shard", shard)
        .withColumn("pos", F.row_number().over(w).cast("bigint"))
        .select("doc_id", "source", "shard", "pos")
        .orderBy("shard", "pos")
    )


#: Token target for the UPSAMPLING schedule (corpus_mix_epochs): sized
#: ABOVE the per-domain volume at small SFs so epoch counts exceed 1 —
#: the regime where high-quality domains are repeated, not sampled.
UPSAMPLE_TOKEN_BUDGET = 200_000


@register(
    "corpus_mix_epochs",
    "WITH per AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs, "
    f"CAST(sum(len({_TOKENS_SQL})) AS BIGINT) AS total_tokens "
    "FROM documents GROUP BY source), "
    "nd AS (SELECT CAST(count(*) AS BIGINT) AS n_domains FROM per), "
    "sched AS (SELECT source, n_docs, total_tokens, "
    f"CAST({UPSAMPLE_TOKEN_BUDGET} AS DOUBLE) / n_domains AS target_tokens, "
    f"CAST({UPSAMPLE_TOKEN_BUDGET} AS DOUBLE) / n_domains / total_tokens AS rate "
    "FROM per CROSS JOIN nd) "
    "SELECT source, n_docs, total_tokens, target_tokens, "
    "CAST(floor(rate) AS BIGINT) AS n_full_epochs, "
    "rate - floor(rate) AS residual_rate "
    "FROM sched ORDER BY source",
)
def corpus_mix_epochs(t: Tables) -> DataFrame:
    """The upsampling half of data-mix scheduling: when a domain's token
    budget EXCEEDS its volume, the mix repeats it — n_full_epochs whole
    passes plus a residual_rate hash-sample of one more pass (the
    standard `3.4 epochs = 3 full + 0.4 sampled` recipe; the residual
    sample is exactly corpus_sample_to_budget's threshold mechanism).
    corpus_mix_weights covers the downsampling half; together they give
    the full rate-above-and-below-1 schedule. Metadata-sized output at
    any corpus scale (one row per domain)."""
    per = t.documents.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(tokens("text")).cast("bigint")).alias("total_tokens"),
    )
    nd = per.agg(F.count(F.lit(1)).alias("n_domains"))
    target = F.lit(float(UPSAMPLE_TOKEN_BUDGET)) / F.col("n_domains")
    rate = target / F.col("total_tokens")
    return (
        per.crossJoin(F.broadcast(nd))
        .select(
            "source",
            "n_docs",
            "total_tokens",
            target.alias("target_tokens"),
            F.floor(rate).cast("bigint").alias("n_full_epochs"),
            (rate - F.floor(rate)).alias("residual_rate"),
        )
        .orderBy("source")
    )


#: 24-bit hash thresholds for the 90/5/5 split: floor(p · 16^6).
_SPLIT_TRAIN_MAX = 15_099_494  # 0.90
_SPLIT_VAL_MAX = 15_938_355  # 0.95


@register(
    "corpus_split_train_val",
    "WITH h AS (SELECT doc_id, source, "
    "CAST('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 6) AS BIGINT) "
    "AS hv FROM documents) "
    "SELECT doc_id, source, CASE "
    f"WHEN hv < {_SPLIT_TRAIN_MAX} THEN 'train' "
    f"WHEN hv < {_SPLIT_VAL_MAX} THEN 'val' "
    "ELSE 'test' END AS split FROM h ORDER BY doc_id",
)
def corpus_split_train_val(t: Tables) -> DataFrame:
    """Deterministic 90/5/5 train/val/test assignment: a salted 24-bit
    md5 draw per document against fixed integer thresholds. Seed-free,
    partition-invariant, stable under corpus growth (a doc's split never
    changes when others are added — the property random shuffling
    lacks), and disjoint from the sampling draws by salt. Zero shuffle:
    pure per-row hashing."""
    hv = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))), 1, 6
        ),
        16,
        10,
    ).cast("bigint")
    return (
        t.documents.select(
            "doc_id",
            "source",
            F.when(hv < _SPLIT_TRAIN_MAX, F.lit("train"))
            .when(hv < _SPLIT_VAL_MAX, F.lit("val"))
            .otherwise(F.lit("test"))
            .alias("split"),
        )
        .orderBy("doc_id")
    )


def _export_sql() -> str:
    ctes, final = _pretrain_parts()
    return (
        ctes
        + f", surv AS ({final}), "
        "sp AS (SELECT s.doc_id, s.n_tokens, d.source, "
        "CAST('0x' || substr(md5('split:' || CAST(s.doc_id AS VARCHAR)), 1, 6) AS BIGINT) "
        "AS hsplit, md5(CAST(s.doc_id AS VARCHAR)) AS hx "
        "FROM surv s JOIN documents d ON s.doc_id = d.doc_id), "
        "assigned AS (SELECT doc_id, source, n_tokens, "
        f"CASE WHEN hsplit < {_SPLIT_TRAIN_MAX} THEN 'train' "
        f"WHEN hsplit < {_SPLIT_VAL_MAX} THEN 'val' ELSE 'test' END AS split, "
        f"CAST(CAST('0x' || substr(hx, 1, 6) AS BIGINT) % {N_SHARDS} AS INT) AS shard, "
        "hx FROM sp) "
        "SELECT doc_id, source, n_tokens, split, shard, "
        "CAST(row_number() OVER (PARTITION BY split, shard ORDER BY hx, doc_id) "
        "AS BIGINT) AS pos FROM assigned ORDER BY doc_id"
    )


def _export_layout(t: Tables, surv: DataFrame) -> DataFrame:
    """Export layout applied to a gated survivor set (doc_id, n_tokens):
    90/5/5 hash split, hash shard, deterministic interleave position
    within each (split, shard) — shared by the full and incremental
    export capstones so the layout cannot drift between them."""
    hsplit = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))), 1, 6
        ),
        16,
        10,
    ).cast("bigint")
    hx = F.md5(F.col("doc_id").cast("string"))
    assigned = (
        surv.join(t.documents.select("doc_id", "source"), "doc_id")
        .withColumn(
            "split",
            F.when(hsplit < _SPLIT_TRAIN_MAX, F.lit("train"))
            .when(hsplit < _SPLIT_VAL_MAX, F.lit("val"))
            .otherwise(F.lit("test")),
        )
        .withColumn(
            "shard",
            (F.conv(F.substring(hx, 1, 6), 16, 10).cast("bigint") % N_SHARDS).cast(
                "int"
            ),
        )
        .withColumn("hx", hx)
    )
    w = Window.partitionBy("split", "shard").orderBy("hx", "doc_id")
    return (
        assigned.withColumn("pos", F.row_number().over(w).cast("bigint"))
        .select("doc_id", "source", "n_tokens", "split", "shard", "pos")
        .orderBy("doc_id")
    )


@register("pipeline_export_corpus", _export_sql())
def pipeline_export_corpus(t: Tables) -> DataFrame:
    """The final mile of the pretraining pipeline as ONE plan: the full
    corpus gate (pipeline_pretrain_corpus — quality ∘ decontamination ∘
    dedup survivorship) composed with the export layout — 90/5/5 hash
    split, hash shard, and a deterministic interleave position within
    each (split, shard). The output is exactly what the shard writer
    consumes; every stage reuses an already-oracled operator's logic, so
    the composition is exact end to end. At 100 TB this plan IS the
    export job: gate predicates push into the scan, centroidless stages
    stay shuffle-free, and the only terminal exchange is the per-(split,
    shard) sort the writer needs anyway."""
    return _export_layout(t, pipeline_pretrain_corpus(t))


@register("pipeline_export_corpus_incremental", _export_sql())
def pipeline_export_corpus_incremental(t: Tables) -> DataFrame:
    """The export capstone a real 100 TB corpus-refresh pipeline runs
    NIGHTLY: identical output contract to pipeline_export_corpus (same
    oracle SQL — the full rebuild), but the near-dup survivorship comes
    from dedup.incremental_cluster_labels, which contracts the
    maintained base components to their labels and runs connected
    components only over the delta-touched graph (O(delta), not
    O(corpus)). The quality / repetition / decontamination stages are
    stateless per-doc predicates, so "incremental" there is just
    scanning the delta partition; dedup survivorship is the one stage
    with cross-corpus state, and the contraction theorem (see
    incremental_cluster_labels) makes its incremental answer provably
    equal to the full rebuild — which is why this key can share the
    rebuild's oracle verbatim, and why pytest asserts row equality with
    pipeline_export_corpus."""
    from .dedup import incremental_cluster_labels

    # §2.6: tokenize overlaps the TWO sequential CC invocations of the
    # contraction chain (see pipeline_pretrain_corpus)
    with _gate_tokens_async(t) as tk_join:
        labels = incremental_cluster_labels(t)
        return _export_layout(t, _survivorship_gate(t, labels, tk_join()))


#: Context-window length for sequence packing (tokens per training
#: sequence; illustrative scale at the test corpus, parametric in SQL).
PACK_CTX = 256


@register(
    "corpus_pack_sequences",
    f"WITH tk AS (SELECT doc_id, CAST(len({TOKENS_SQL}) AS BIGINT) AS n_tokens "
    "FROM documents), "
    "c AS (SELECT doc_id, n_tokens, "
    "CAST(sum(n_tokens) OVER (ORDER BY doc_id "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS BIGINT) "
    "AS start_tok FROM tk) "
    "SELECT doc_id, n_tokens, start_tok, "
    f"CAST(start_tok // {PACK_CTX} AS BIGINT) AS seq_id, "
    f"CAST(start_tok % {PACK_CTX} AS BIGINT) AS offset_in_seq, "
    f"CAST((start_tok + n_tokens - 1) // {PACK_CTX} AS BIGINT) AS end_seq_id "
    "FROM c ORDER BY doc_id",
)
def corpus_pack_sequences(t: Tables) -> DataFrame:
    """Sequence packing for pretraining: concatenate the doc_id-ordered
    token stream and cut it into PACK_CTX-token context windows — every
    document gets its global start offset, its first/last sequence ids,
    and its offset inside the first window (documents straddle windows,
    exactly as packed pretraining batches do; end_seq_id - seq_id is the
    straddle count). Pure integer window arithmetic, exact oracle.

    Scale shape: one running-sum window over the doc ordering. A single
    global ordering is a sequential scan at 100 TB — production packs
    PER SHARD, REGISTERED as corpus_pack_sequences_sharded (round 6:
    the same window partitioned by hash shard over the interleave
    ordering — N_SHARDS independent prefix sums); the global form here
    keeps the oracle one-to-one with the textbook semantics."""
    tk = t.documents.select("doc_id", F.size(tokens("text")).cast("bigint").alias("n_tokens"))
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    c = tk.select(
        "doc_id",
        "n_tokens",
        (F.sum("n_tokens").over(w) - F.col("n_tokens")).alias("start_tok"),
    )
    return c.select(
        "doc_id",
        "n_tokens",
        "start_tok",
        F.floor(F.col("start_tok") / PACK_CTX).cast("bigint").alias("seq_id"),
        (F.col("start_tok") % PACK_CTX).alias("offset_in_seq"),
        F.floor((F.col("start_tok") + F.col("n_tokens") - 1) / PACK_CTX)
        .cast("bigint")
        .alias("end_seq_id"),
    ).orderBy("doc_id")


@register(
    "corpus_pack_sequences_sharded",
    f"WITH h AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS hx, "
    f"CAST(len({TOKENS_SQL}) AS BIGINT) AS n_tokens FROM documents), "
    "s AS (SELECT doc_id, n_tokens, hx, "
    f"CAST(CAST('0x' || substr(hx, 1, 6) AS BIGINT) % {N_SHARDS} AS INT) AS shard "
    "FROM h), "
    "c AS (SELECT doc_id, shard, n_tokens, "
    "CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY hx, doc_id "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS BIGINT) "
    "AS start_tok FROM s) "
    "SELECT doc_id, shard, n_tokens, start_tok, "
    f"CAST(start_tok // {PACK_CTX} AS BIGINT) AS seq_id, "
    f"CAST(start_tok % {PACK_CTX} AS BIGINT) AS offset_in_seq, "
    f"CAST((start_tok + n_tokens - 1) // {PACK_CTX} AS BIGINT) AS end_seq_id "
    "FROM c ORDER BY doc_id",
)
def corpus_pack_sequences_sharded(t: Tables) -> DataFrame:
    """The PRODUCTION form corpus_pack_sequences' docstring promises,
    registered (the documented-dial-should-be-a-key rule): packing runs
    PER SHARD over the corpus_interleave_shards ordering (hash shard,
    within-shard seeded-shuffle order by md5), so the running-sum
    window is PARTITIONED — N_SHARDS independent prefix sums instead
    of one global total order. At 100 TB that is the difference
    between a sequential single-reducer scan and an embarrassingly
    parallel per-shard pass; seq_id/offset arithmetic is unchanged and
    all-integer, so the key is exactly oracled. Sequence ids are
    shard-local (each shard's dataloader reads its own id space), with
    the shard column carried so the (shard, seq_id) pair is globally
    unique."""
    tk = t.documents.select(
        "doc_id",
        F.md5(F.col("doc_id").cast("string")).alias("hx"),
        F.size(tokens("text")).cast("bigint").alias("n_tokens"),
    )
    shard = (
        F.conv(F.substring("hx", 1, 6), 16, 10).cast("bigint") % N_SHARDS
    ).cast("int")
    sh = tk.withColumn("shard", shard)
    w = (
        Window.partitionBy("shard")
        .orderBy("hx", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = sh.select(
        "doc_id",
        "shard",
        "n_tokens",
        (F.sum("n_tokens").over(w) - F.col("n_tokens")).alias("start_tok"),
    )
    return c.select(
        "doc_id",
        "shard",
        "n_tokens",
        "start_tok",
        F.floor(F.col("start_tok") / PACK_CTX).cast("bigint").alias("seq_id"),
        (F.col("start_tok") % PACK_CTX).alias("offset_in_seq"),
        F.floor((F.col("start_tok") + F.col("n_tokens") - 1) / PACK_CTX)
        .cast("bigint")
        .alias("end_seq_id"),
    ).orderBy("doc_id")


#: Importance-resampling geometry: a doc with n_tokens >= IMP_PIVOT is
#: always kept; shorter docs keep with probability n_tokens/IMP_PIVOT.
#: The inclusion test is ALL-INTEGER — hv < min(16^6, n·16^6/IMP_PIVOT)
#: — so no float compare sits on the keep/drop boundary in either
#: engine.
IMP_PIVOT = 64
_IMP_SCALE = 16**6 // IMP_PIVOT  # 262144


@register(
    "corpus_importance_resample",
    f"WITH tk AS (SELECT doc_id, {TOKENS_SQL} AS tk FROM documents), "
    "w AS (SELECT doc_id, len(tk) AS n_tokens, "
    "CAST('0x' || substr(md5('imp:' || CAST(doc_id AS VARCHAR)), 1, 6) AS BIGINT) "
    "AS hv FROM tk) "
    "SELECT doc_id, n_tokens, "
    f"least(1.0, CAST(n_tokens AS DOUBLE) / {IMP_PIVOT}.0) AS weight FROM w "
    f"WHERE hv < least({16**6}, n_tokens * {_IMP_SCALE}) ORDER BY doc_id",
)
def corpus_importance_resample(t: Tables) -> DataFrame:
    """Importance-weighted resampling (the DSIR/DoReMi-family plumbing):
    each document carries a deterministic weight in (0, 1] — here
    length-proportional capped at 1, the stand-in for any model-scored
    importance — and is kept iff its salted 24-bit md5 draw falls under
    the weight. Seed-free and partition-invariant like
    sample_hash_bernoulli, but with a PER-DOC acceptance probability
    instead of a global rate; the draw is salted ('imp:') so it is
    independent of the split/shard/sampling draws. The keep/drop
    boundary is an integer compare (hv < n·16^6/pivot), so no float
    rounding sits on the decision in either engine. Zero shuffle —
    pure per-row hashing; swapping the weight column for a real quality
    model's score changes nothing structural."""
    tk = t.documents.select("doc_id", tokens("text").alias("tk"))
    n = F.size("tk")
    hv = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("imp:"), F.col("doc_id").cast("string"))), 1, 6
        ),
        16,
        10,
    ).cast("bigint")
    return (
        tk.select(
            "doc_id",
            n.alias("n_tokens"),
            F.least(
                F.lit(1.0), n.cast("double") / F.lit(float(IMP_PIVOT))
            ).alias("weight"),
            hv.alias("hv"),
        )
        .filter(
            F.col("hv")
            < F.least(F.lit(16**6).cast("bigint"), F.col("n_tokens").cast("bigint") * _IMP_SCALE)
        )
        .select("doc_id", "n_tokens", "weight")
        .orderBy("doc_id")
    )


def _keep_best_sql() -> str:
    from .dedup import _CLUSTERS_CTES, _CLUSTERS_FINAL

    return (
        _CLUSTERS_CTES
        + f", labels AS ({_CLUSTERS_FINAL}), "
        f"q AS (SELECT doc_id, len({TOKENS_SQL}) AS n_tokens FROM documents), "
        "r AS (SELECT l.doc_id, l.cluster_id, q.n_tokens, "
        "row_number() OVER (PARTITION BY l.cluster_id "
        "ORDER BY q.n_tokens DESC, l.doc_id) AS rn "
        "FROM labels l JOIN q ON q.doc_id = l.doc_id) "
        "SELECT doc_id, cluster_id, n_tokens, (rn = 1) AS is_survivor "
        "FROM r ORDER BY doc_id"
    )


@register("corpus_dedup_keep_best", _keep_best_sql())
def corpus_dedup_keep_best(t: Tables) -> DataFrame:
    """Near-dup survivorship by QUALITY, not by id: within each MinHash
    cluster (dedup_clusters' components) the survivor is the LONGEST
    member (n_tokens DESC, doc_id tie-break) — what production dedup
    actually keeps, vs. the lowest-id canonical the cluster key uses as
    its deterministic label. Every doc is emitted with its cluster and
    verdict so downstream filters stay auditable (singleton docs are
    their own survivors). Swapping n_tokens for any scored quality
    column changes nothing structural.

    Scale shape: the cluster labels are the pointer-jumping output
    (never O(n²)); the survivor choice adds ONE rank window partitioned
    by cluster_id — co-partitionable with the label join."""
    from .dedup import dedup_clusters

    labels = dedup_clusters(t)
    q = t.documents.select("doc_id", F.size(tokens("text")).alias("n_tokens"))
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("n_tokens"), F.asc("doc_id")
    )
    return (
        labels.join(q, "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .select(
            "doc_id", "cluster_id", "n_tokens", (F.col("rn") == 1).alias("is_survivor")
        )
        .orderBy("doc_id")
    )


#: Temperature for the tau-scaled domain mix (multilingual-LM sampling:
#: tau < 1 flattens the domain distribution toward uniform, tau = 1 is
#: proportional). Weights ride the DECIMAL(18,9) pin so the pow()
#: transcendental is bitwise-portable, like every ln in this repo.
MIX_TAU = 0.7

_TAU_PW = (
    "CAST(CAST(pow(CAST(total_tokens AS DOUBLE), "
    f"{MIX_TAU}) AS DECIMAL(18,9)) AS DOUBLE)"
)


@register(
    "corpus_mix_temperature",
    "WITH per AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs, "
    f"CAST(sum(len({TOKENS_SQL})) AS BIGINT) AS total_tokens "
    "FROM documents GROUP BY source), "
    f"pw AS (SELECT source, n_docs, total_tokens, {_TAU_PW} AS p FROM per), "
    "tot AS (SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE), "
    "list(p ORDER BY source)), (acc, x) -> acc + x) AS w FROM pw) "
    "SELECT source, n_docs, total_tokens, p / w AS weight, "
    f"least(CAST(1.0 AS DOUBLE), CAST({MIX_TOKEN_BUDGET} AS DOUBLE) * (p / w) "
    "/ total_tokens) AS sampling_rate, "
    f"least(CAST(1.0 AS DOUBLE), CAST({MIX_TOKEN_BUDGET} AS DOUBLE) * (p / w) "
    "/ total_tokens) * total_tokens AS expected_tokens "
    "FROM pw CROSS JOIN tot ORDER BY source",
)
def corpus_mix_temperature(t: Tables) -> DataFrame:
    """Temperature-scaled data mix (the multilingual-LM sampling recipe,
    and DoReMi's static baseline): domain weight ∝ tokens^tau with
    tau = MIX_TAU < 1 — big domains are damped, small ones boosted,
    continuously between proportional (tau=1) and corpus_mix_weights'
    uniform (tau=0). The pow() rides the repo's DECIMAL(18,9) pin and
    the weight normalizer is an ordered fold over the (tiny) domain
    list, so the float schedule is bitwise-oracled. Same downstream
    contract as corpus_mix_weights: rates feed the stratified hash
    sampler; metadata-sized at any corpus scale."""
    per = t.documents.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(tokens("text")).cast("bigint")).alias("total_tokens"),
    )
    pw = per.withColumn("p", F.expr(_TAU_PW))
    ordered = F.transform(
        F.array_sort(F.collect_list(F.struct("source", "p"))),
        lambda s: s.getField("p"),
    )
    tot = pw.agg(
        F.aggregate(ordered, F.lit(0.0), lambda acc, x: acc + x).alias("w")
    )
    weight = F.col("p") / F.col("w")
    rate = F.least(
        F.lit(1.0),
        F.lit(float(MIX_TOKEN_BUDGET)) * weight / F.col("total_tokens"),
    )
    return (
        pw.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "total_tokens",
            weight.alias("weight"),
            rate.alias("sampling_rate"),
            (rate * F.col("total_tokens")).alias("expected_tokens"),
        )
        .orderBy("source")
    )


#: Weighted-sample size and the uniform-hash geometry: the first 13 hex
#: digits of md5 give a 52-bit integer — exactly representable in a
#: double, so u = (h + 1) / 16^13 is one correctly-rounded division
#: into (0, 1] in both engines.
WEIGHTED_SAMPLE_K = 100
_ES_U = (
    "(CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13) AS BIGINT) "
    "AS DOUBLE) + 1) / 4503599627370496"
)
#: Efraimidis–Spirakis key ln(u)/w, ln pinned through DECIMAL(18,9)
#: (libm); larger key = more likely selected (ln(u) is negative, so
#: dividing by a LARGER weight moves the key toward 0 = larger).
_ES_KEY = (
    f"CAST(CAST(ln({_ES_U}) AS DECIMAL(18,9)) AS DOUBLE) "
    "/ CAST(w AS DOUBLE)"
)

_WSAMPLE_SQL = (
    f"WITH tk AS (SELECT doc_id, lang, source, {TOKENS_SQL} AS tk FROM documents), "
    "wt AS (SELECT doc_id, lang, source, CAST(len(tk) AS BIGINT) AS w FROM tk), "
    f"k AS (SELECT doc_id, lang, source, w, {_ES_KEY} AS skey FROM wt) "
    "SELECT doc_id, lang, source, w, skey FROM (SELECT *, row_number() OVER ("
    "ORDER BY skey DESC, doc_id) AS rn FROM k) "
    f"WHERE rn <= {WEIGHTED_SAMPLE_K} ORDER BY skey DESC, doc_id"
)


@register("sample_weighted_es", _WSAMPLE_SQL)
def sample_weighted_es(t: Tables) -> DataFrame:
    """Weighted sampling without replacement — the Efraimidis–Spirakis
    one-pass scheme (key = u^(1/w), taken in log space as ln(u)/w) with
    the randomness derived from md5(doc_id), so the draw is DETERMINISTIC
    and replayable: the quality-weighted carve-out every training-mix
    builder needs (here w = token count — longer docs proportionally
    more likely — swap in any quality score). Inclusion probability is
    exactly the weighted-without-replacement law; reruns and backfills
    select the identical sample.

    Exactness: the 52-bit hash prefix is exactly a double, u = (h+1)/2^52
    is one correctly-rounded division into (0,1], ln pinned through
    DECIMAL(18,9) (the _IDF_SQL discipline), one exact division by the
    integer weight. Plan: stateless per-row scoring pushed into the
    scan, then TakeOrderedAndProject for the top-K — no shuffle beyond
    the K-row merge at any corpus size, and the scheme is mergeable
    (union the per-shard top-K, re-rank — the distributed reservoir)."""
    tk = t.documents.select(
        "doc_id", "lang", "source", F.size(tokens("text")).cast("bigint").alias("w")
    )
    u = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 13), 16, 10
        ).cast("bigint")
        .cast("double")
        + F.lit(1.0)
    ) / F.lit(4503599627370496.0)
    skey = (
        F.log(u).cast("decimal(18,9)").cast("double") / F.col("w").cast("double")
    )
    k = tk.withColumn("skey", skey)
    return (
        k.orderBy(F.desc("skey"), F.asc("doc_id"))
        .limit(WEIGHTED_SAMPLE_K)
        .select("doc_id", "lang", "source", "w", "skey")
    )


_DUP_RATE_SQL = (
    "WITH sig AS (SELECT doc_id, source, "
    "md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS sig "
    "FROM documents), "
    "canon AS (SELECT sig, min(doc_id) AS keeper FROM sig GROUP BY sig), "
    "marked AS (SELECT s.source, "
    "CASE WHEN s.doc_id = c.keeper THEN 0 ELSE 1 END AS is_dup "
    "FROM sig s JOIN canon c ON c.sig = s.sig) "
    "SELECT source, CAST(count(*) AS BIGINT) AS n_docs, "
    "CAST(sum(is_dup) AS BIGINT) AS n_dup_docs, "
    "CAST((sum(is_dup) * 1000000) // count(*) AS BIGINT) AS dup_ppm "
    "FROM marked GROUP BY source ORDER BY source"
)


@register("corpus_dup_rate_by_source", _DUP_RATE_SQL)
def corpus_dup_rate_by_source(t: Tables) -> DataFrame:
    """Duplicate-rate diagnostics PER SOURCE — the curation dashboard
    number that decides which crawl feeds are worth their storage: for
    each source, how many docs are non-canonical members of an exact
    content group (the docs dedup_exact would drop), as count and ppm.
    A source with a high dup rate is re-crawling itself; a pair of
    sources sharing groups is mirroring each other.

    Plan: the signature groupBy is the dedup_exact shuffle; the keeper
    join is co-partitioned on the signature; the per-source rollup is
    map-side combinable. Integers end to end."""
    sig = t.documents.select(
        "doc_id", "source", F.md5(normalize_text(F.col("text"))).alias("sig")
    )
    canon = sig.groupBy("sig").agg(F.min("doc_id").alias("keeper"))
    marked = sig.join(canon, "sig").select(
        "source",
        F.when(F.col("doc_id") == F.col("keeper"), 0).otherwise(1).alias("is_dup"),
    )
    return (
        marked.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("is_dup").cast("bigint").alias("n_dup_docs"),
            F.expr("CAST((sum(is_dup) * 1000000) div count(*) AS BIGINT)").alias(
                "dup_ppm"
            ),
        )
        .orderBy("source")
    )


#: Length-bucketed dynamic batching: docs per batch, and the power-of-2
#: bucket ladder (docs above the top rung share the overflow bucket).
BATCH_DOCS = 8
BATCH_BUCKETS = [8, 16, 32, 64, 128, 256, 512, 1024, 2048, 4096]
BATCH_OVERFLOW = 8192


def _len_bucket_case(col: str) -> str:
    """Identical CASE text in both engines: smallest ladder rung ≥ the
    token count (overflow rung above the top)."""
    whens = " ".join(
        f"WHEN {col} <= {b} THEN {b}" for b in BATCH_BUCKETS
    )
    return f"CASE {whens} ELSE {BATCH_OVERFLOW} END"


_BATCH_LEN_SQL = (
    f"WITH tk AS (SELECT doc_id, CAST(len({TOKENS_SQL}) AS BIGINT) AS n_tokens "
    "FROM documents), "
    f"b AS (SELECT doc_id, n_tokens, {_len_bucket_case('n_tokens')} AS bucket, "
    "row_number() OVER (PARTITION BY "
    f"{_len_bucket_case('n_tokens')} ORDER BY n_tokens DESC, doc_id) AS rn "
    "FROM tk), "
    f"g AS (SELECT bucket, (rn - 1) // {BATCH_DOCS} AS batch_id, "
    "CAST(count(*) AS BIGINT) AS n_docs, "
    "CAST(max(n_tokens) AS BIGINT) AS batch_max, "
    "CAST(sum(n_tokens) AS BIGINT) AS batch_tokens "
    "FROM b GROUP BY bucket, batch_id) "
    "SELECT CAST(bucket AS BIGINT) AS bucket, "
    "CAST(count(*) AS BIGINT) AS n_batches, "
    "CAST(sum(n_docs) AS BIGINT) AS n_docs, "
    "CAST(sum(batch_max * n_docs) AS BIGINT) AS padded_tokens, "
    "CAST(sum(batch_tokens) AS BIGINT) AS real_tokens, "
    "CAST((sum(batch_max * n_docs) - sum(batch_tokens)) * 1000000 "
    "// sum(batch_max * n_docs) AS BIGINT) AS padding_waste_ppm "
    "FROM g GROUP BY bucket ORDER BY bucket"
)


@register("corpus_batch_by_length", _BATCH_LEN_SQL)
def corpus_batch_by_length(t: Tables) -> DataFrame:
    """LENGTH-BUCKETED DYNAMIC BATCHING with padding-waste accounting —
    the batching layer every sequence-training stack runs between the
    corpus and the GPUs: group docs into power-of-2 length buckets,
    fill fixed-size batches longest-first within each bucket (so batch
    peers have near-equal lengths), pad each batch to ITS OWN max, and
    report per-bucket padded vs real tokens as integer ppm — the
    number that decides whether the bucket ladder needs another rung
    (uniform-length padding wastes 30-60%; this shows the bucketed
    figure). All-integer arithmetic, exact oracle.

    Scale shape: one map-side-combinable token-count pass over the
    corpus; the only shuffle is the per-bucket rank. Window parallelism
    equals the rung count here — at 100 TB the rank partitions by
    (bucket, shard) exactly as corpus_pack_sequences_sharded does for
    its prefix sum, trading global batch numbering inside a bucket for
    shard-local numbering (batch QUALITY is unchanged: peers still come
    from the same rung)."""
    tk = t.documents.select(
        "doc_id", F.size(tokens("text")).cast("bigint").alias("n_tokens")
    )
    bucket = F.expr(_len_bucket_case("n_tokens"))
    rn = F.row_number().over(
        Window.partitionBy("bucket").orderBy(F.desc("n_tokens"), F.asc("doc_id"))
    )
    b = tk.withColumn("bucket", bucket).withColumn("rn", rn)
    g = (
        b.withColumn(
            "batch_id", F.expr(f"CAST((rn - 1) div {BATCH_DOCS} AS BIGINT)")
        )
        .groupBy("bucket", "batch_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.max("n_tokens").cast("bigint").alias("batch_max"),
            F.sum("n_tokens").cast("bigint").alias("batch_tokens"),
        )
    )
    return (
        g.groupBy(F.col("bucket").cast("bigint").alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_batches"),
            F.sum("n_docs").cast("bigint").alias("n_docs"),
            F.sum(F.col("batch_max") * F.col("n_docs"))
            .cast("bigint")
            .alias("padded_tokens"),
            F.sum("batch_tokens").cast("bigint").alias("real_tokens"),
        )
        .select(
            "bucket",
            "n_batches",
            "n_docs",
            "padded_tokens",
            "real_tokens",
            F.expr(
                "CAST(((padded_tokens - real_tokens) * 1000000) div padded_tokens "
                "AS BIGINT)"
            ).alias("padding_waste_ppm"),
        )
        .orderBy("bucket")
    )


#: Curriculum phases: equal-depth quality quartiles (easy -> hard).
CURRICULUM_PHASES = 4


def _curriculum_sql() -> str:
    """Quality ordinal = integer stopword-hit ppm (the repo's en
    lexicon via the shared _hits_sql), so the curriculum ordering is
    all-integer — no cross-engine float-ordering hazard in the ntile."""
    from .text import LEXICONS, _hits_sql

    return (
        f"WITH tk AS (SELECT doc_id, {TOKENS_SQL} AS tk FROM documents), "
        "q AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens, "
        f"CAST({_hits_sql(LEXICONS['en'])} * 1000000 // len(tk) AS BIGINT) "
        "AS quality_ppm FROM tk), "
        f"p AS (SELECT doc_id, n_tokens, quality_ppm, ntile({CURRICULUM_PHASES}) "
        "OVER (ORDER BY quality_ppm DESC, doc_id) AS phase FROM q) "
        "SELECT CAST(phase AS BIGINT) AS phase, "
        "CAST(count(*) AS BIGINT) AS n_docs, "
        "CAST(sum(n_tokens) AS BIGINT) AS n_tokens, "
        "CAST(max(quality_ppm) AS BIGINT) AS max_quality_ppm, "
        "CAST(min(quality_ppm) AS BIGINT) AS min_quality_ppm "
        "FROM p GROUP BY phase ORDER BY phase"
    )


@register("corpus_curriculum_phases", _curriculum_sql())
def corpus_curriculum_phases(t: Tables) -> DataFrame:
    """CURRICULUM STAGING for pretraining: rank the corpus easy-first
    by an integer quality ordinal (stopword-hit ppm — fluent prose
    scores high, boilerplate/code-ish text low; the same en lexicon as
    text_quality_score) and cut it into CURRICULUM_PHASES equal-depth
    phases with ntile — the schedule a curriculum-learning run feeds
    (phase 1 first, hard tail last). Per-phase doc/token budgets and
    the quality band in integer ppm; deterministic ties on doc_id, so
    both engines assign identical phases.

    Scale shape: one corpus pass for the ordinal; the global ntile is
    one total-order window — at 100 TB the phase boundaries come from
    an approx-quantile pass over quality_ppm instead (phase = which
    boundary bucket, embarrassingly parallel), same downstream
    contract; the exact global window here keeps the oracle
    one-to-one with the textbook semantics."""
    from .text import LEXICONS, _hits

    tk = t.documents.select("doc_id", tokens("text").alias("tk"))
    q = tk.select(
        "doc_id",
        F.size("tk").cast("bigint").alias("n_tokens"),
        (_hits(F.col("tk"), LEXICONS["en"]).cast("bigint") * 1000000).alias(
            "hits_sc"
        ),
    ).select(
        "doc_id",
        "n_tokens",
        F.expr("CAST(hits_sc div n_tokens AS BIGINT)").alias("quality_ppm"),
    )
    phase = F.ntile(CURRICULUM_PHASES).over(
        Window.orderBy(F.desc("quality_ppm"), F.asc("doc_id"))
    )
    return (
        q.withColumn("phase", phase.cast("bigint"))
        .groupBy("phase")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            F.max("quality_ppm").cast("bigint").alias("max_quality_ppm"),
            F.min("quality_ppm").cast("bigint").alias("min_quality_ppm"),
        )
        .orderBy("phase")
    )
