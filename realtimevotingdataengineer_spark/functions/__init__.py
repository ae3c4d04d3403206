"""Engine scalar-function library (SURVEY.md §2.9).

Everything here is a *column expression builder* — JVM-side, codegen'd,
no Python UDFs. Two design rules make results oracle-comparable and
cluster-deterministic:

1. **Exact money math**: double sums are order-dependent, and a 1000-way
   parallel sum would differ run-to-run. All monetary/qty aggregates cast
   to DECIMAL first (exact, associative), then cast the final result back
   to double. Identical results on 1 core or 1000 executors.
2. **Portable hashing**: where an operator needs a hash that a plain-SQL
   oracle must reproduce (minhash, simhash, fingerprints), use md5 (both
   Spark and ANSI-ish engines have it), never xxhash64/crc32.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Round-robin party list, reference main.py:8.
PARTIES = ["Management_Party", "Savior_Party", "Tech_Republic_Party"]

#: Event-time format used on the wire, reference voting.py:101.
TIME_FMT = "yyyy-MM-dd HH:mm:ss"


def shuffle_width(spark) -> int:
    """The session's ``spark.sql.shuffle.partitions`` as an int.

    Contract: the value is an integer. Spark 4.1 type-checks this conf on
    ``conf.set`` and rejects a non-integer such as ``'auto'`` with
    INVALID_CONF_VALUE.TYPE_MISMATCH; tests/test_plans.py pins that
    rejection, so a Spark that starts accepting ``'auto'`` fails that
    test instead of crashing the callers here."""
    return int(spark.conf.get("spark.sql.shuffle.partitions", "32"))


def spread(df, *cols):
    """Repartition a small-but-compute-heavy DataFrame across the session's
    full parallelism. Local single-file parquet reads arrive as ONE
    partition, which serializes CPU-bound per-row work (notably
    higher-order functions, which evaluate interpreted outside codegen).
    On a real cluster the input is already split; this makes the local
    plan shape match the cluster plan shape.

    STANDS ASIDE when the underlying scan already has >= the session's
    shuffle parallelism in input files (the cluster case): there the
    repartition would be a pure extra exchange — measured ~0.1-0.25s
    constant on the test tables, a regression with no CPU win (round-4
    verdict #8). File count is the split proxy because it is free
    driver-side metadata; ``df.rdd.getNumPartitions()`` would finalize
    the physical plan and, under AQE, can trigger upstream stage
    execution. Every operator using spread() is partition-invariant by
    repo rule (order-pinned folds / explicit tie-breaks), so the two
    shapes are result-identical — asserted in tests/test_plans.py."""
    n = shuffle_width(df.sparkSession)
    try:
        # Guarded to SINGLE-relation lineage: inputFiles() aggregates
        # files across the whole plan, so on a joined/unioned frame the
        # summed count could exceed the threshold and silently skip a
        # repartition the one hot scan still needs. One leaf ⇒ the file
        # count IS that scan's split count and the proxy is sound.
        # Round 7: count leaves STRUCTURALLY (collectLeaves on the
        # analyzed plan) instead of substring-matching "Relation" in
        # the pretty-printed tree — node names/aliases containing the
        # substring skewed the count, and a future leaf type could be
        # missed entirely.
        n_leaves = df._jdf.queryExecution().analyzed().collectLeaves().size()
        if n_leaves == 1 and len(df.inputFiles()) >= n:
            return df
    except Exception:
        pass  # non-file-backed lineage: keep the explicit repartition
    return df.repartition(n, *[F.col(c) if isinstance(c, str) else c for c in cols])


#: local_rows_df falls back to createDataFrame above this row count: a
#: literal struct array is one Catalyst expression per cell, and the
#: wins below are all bounded relations (query sets, dial lists, merge
#: tables — tens of rows). Driver-data relations past this size belong
#: in an RDD anyway.
_LOCAL_DF_MAX_ROWS = 2048


def local_rows_df(spark, rows, schema):
    """A driver-literal relation as a pure-JVM plan: ``range(1)`` +
    ``inline(array(struct(lit...)))`` instead of ``createDataFrame``.

    ``spark.createDataFrame(list)`` builds a PICKLED-PYTHON RDD
    (``applySchemaToPythonRDD``), parallelized over defaultParallelism
    slices — so every action that evaluates the relation launches one
    Python worker per core (measured ~0.2 s × 32 tasks ≈ 6–8 s executor
    time per evaluation at local[32]), and a relation consumed by N
    broadcast builds is evaluated N times. Literal structs stay entirely
    in the JVM (whole-stage codegen, no Python workers, no pickling) and
    carry exact values (``F.lit`` builds Literal nodes — no SQL-text
    escaping). Row/column values and types are identical to the
    createDataFrame form; only the physical source node changes
    (Scan ExistingRDD → Range + Generate inline).

    Empty or >_LOCAL_DF_MAX_ROWS inputs fall back to createDataFrame
    (inline needs ≥1 struct; giant literal trees would bloat the plan),
    and so does any row that is not a tuple or list with exactly one
    value per schema field: createDataFrame validates it and raises,
    where zipping it against the fields would drop or misplace values.
    """
    from pyspark.sql.types import StructType, _parse_datatype_string

    st = schema if isinstance(schema, StructType) else _parse_datatype_string(schema)
    rows = list(rows)
    width = len(st.fields)
    if (
        not rows
        or len(rows) > _LOCAL_DF_MAX_ROWS
        or any(not isinstance(r, (tuple, list)) or len(r) != width for r in rows)
    ):
        return spark.createDataFrame(rows, st)
    structs = [
        F.struct(
            *[
                F.lit(v).cast(f.dataType).alias(f.name)
                for v, f in zip(r, st.fields)
            ]
        )
        for r in rows
    ]
    df = spark.range(1).select(F.inline(F.array(*structs)))
    # match createDataFrame's schema exactly: literal structs infer
    # nullable=false on all-non-null columns, so relax those fields with
    # nullif(col, NULL) — value-preserving (the NULL comparand never
    # equals anything), nullable at analysis time
    cols = [
        F.nullif(F.col(f.name), F.lit(None).cast(f.dataType)).alias(f.name)
        if f.nullable and not df.schema[f.name].nullable
        else F.col(f.name)
        for f in st.fields
    ]
    return df.select(*cols)


def dec(col: Column | str, precision: int = 18, scale: int = 2) -> Column:
    """Cast to an exact decimal for associative (parallel-safe) arithmetic."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(f"decimal({precision},{scale})")


def money_sum(col: Column | str, alias: str, precision: int = 18, scale: int = 2) -> Column:
    """Exact sum of a money-like double column, returned as double.

    DECIMAL addition is associative ⇒ the same answer regardless of
    partitioning/combine order — required both for the DuckDB oracle
    hash-match and for run-to-run stability on a real cluster.
    """
    return F.sum(dec(col, precision, scale)).cast("double").alias(alias)


def disc_price() -> Column:
    """l_extendedprice * (1 - l_discount), exact decimal.

    discount/tax are 2-decimal rates in this schema, so DECIMAL(4,2)
    captures them exactly and keeps the product scale at 4 — small
    scales matter: the final sum→double cast is then a single correctly
    rounded conversion in every engine (a scale-14 decimal would hit
    DuckDB's double-rounding on int128→double)."""
    return dec("l_extendedprice", 15, 2) * (dec(F.lit(1), 4, 2) - dec("l_discount", 4, 2))


def charge() -> Column:
    """l_extendedprice * (1 - l_discount) * (1 + l_tax), exact decimal,
    final scale 6. Mirrors operators/tpch.py:_CH digit-for-digit."""
    return dec(disc_price(), 21, 4) * (dec(F.lit(1), 4, 2) + dec("l_tax", 4, 2))


def round_robin(index: Column, choices: list[str]) -> Column:
    """``choices[index % len(choices)]`` — reference main.py:80 party assignment."""
    return F.element_at(
        F.array(*[F.lit(c) for c in choices]),
        (F.pmod(index, F.lit(len(choices))) + 1).cast("int"),
    )


def event_time_str(ts: Column | str) -> Column:
    """UTC 'yyyy-MM-dd HH:mm:ss' string — the wire format of voting_time."""
    c = F.col(ts) if isinstance(ts, str) else ts
    return F.date_format(c, TIME_FMT)


def normalize_text(col: Column | str) -> Column:
    """Canonical text form for fingerprinting/dedup: lower, collapse
    whitespace, trim. Pure built-ins → whole-stage codegen."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization of already-normalized text."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(normalize_text(c), " ")


#: The DuckDB-SQL twin of ``tokens("text")`` — THE single definition all
#: oracle strings must build on (dedup/text/corpus compose their CTEs
#: from it; a second copy drifting from normalize_text/tokens would
#: silently break Spark↔oracle parity).
TOKENS_SQL = r"str_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')"


def ngram_cte_sql(name: str, n: int, source_cte: str = "tk") -> str:
    """A DuckDB CTE computing distinct word ``n``-grams per doc_id from a
    token-array CTE ``source_cte`` (columns: doc_id, tk). Shared by the
    decontamination oracle and the pretrain-corpus capstone so the gram
    construction cannot diverge between them."""
    concat = "tk[i]" + "".join(f" || ' ' || tk[i+{j}]" for j in range(1, n))
    return (
        f"{name} AS (SELECT DISTINCT doc_id, g FROM {source_cte}, "
        f"LATERAL unnest(list_transform(range(1, len(tk) - {n - 2}), "
        f"i -> {concat})) AS u(g))"
    )


# ---------------------------------------------------------------------------
# Embedding math — explicit left-associated chains so the IEEE evaluation
# order is pinned and a SQL oracle that writes the same chain gets the
# bitwise-identical double. (F.aggregate would also be sequential, but an
# explicit chain is provably the same shape as the SQL text we emit.)
# ---------------------------------------------------------------------------

def counts_to_vector(
    dims,
    group_cols: list[str],
    width: int,
    value_cast: str,
    out: str,
    wide: bool = True,
):
    """(group…, dim, c) → (group…, out = [v₀ … v_{width−1}]): the
    hashed-TF pivot as ONE map aggregate + ONE transform instead of
    ``width`` sum(CASE WHEN dim = j …) aggregates. Round 15: the
    64-aggregate form generates an update method past HotSpot's 8 KB
    JIT ceiling, so the whole aggregation ran as interpreted bytecode —
    measured 12.8 s for the 5k-doc pivot at sf0.1 vs ~0.3 s for this
    shape. Exact by construction: counts are integers, each dim key
    appears at most once per group (dims is already aggregated), and
    absent dims coalesce to the same 0 the CASE form summed. The oracle
    SQL keeps its sum(CASE) text — identical integers either way.

    Round 16 (``wide=True``, the corpus-sized call sites): the pivot
    output is ~100 B/group, so AQE's byte-based coalescing handed the
    downstream dim-wide fold cosines 1–2 tasks (§2.5 rows-not-bytes).
    A REPARTITION_BY_NUM on the group keys AFTER the vector projection
    (exempt from coalescing) materializes each group's vector exactly
    once and spreads the consumers to cluster width. Placement matters
    and was measured: repartitioning BEFORE the aggregation removes the
    exchange boundary that materializes ``out``, so every consumer
    re-evaluated the width-element map-lookup transform per scored row
    (pipeline_rag_chunk_index 1.9 s → 4.4 s); the post-projection
    exchange gives 1.66 s. Query-side pivots over a handful of groups
    pass ``wide=False``."""
    m = F.map_from_entries(F.collect_list(F.struct(F.col("dim"), F.col("c"))))
    # try_element_at: explicit null-on-missing-key semantics (r15
    # ADVICE — plain element_at under ANSI mode throws
    # MAP_KEY_DOES_NOT_EXIST on Spark 3.x; same values on 4.1.2)
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(width - 1)),
        lambda j: F.coalesce(
            F.try_element_at(F.col("__m"), j.cast("bigint")), F.lit(0)
        ).cast(value_cast),
    )
    res = (
        dims.groupBy(*group_cols)
        .agg(m.alias("__m"))
        .select(*group_cols, vec.alias(out))
    )
    if wide:
        res = res.repartition(
            shuffle_width(dims.sparkSession), *[F.col(c) for c in group_cols]
        )
    return res


#: dot_expr dispatch boundary: unrolled chains JIT-compile and win below
#: this width (dim=8: 0.78 s vs 1.30 s HOF; dim=16: 0.43 vs 1.36 over 2M
#: rows); at dim≥32 the generated method passes HotSpot's 8 KB JIT
#: ceiling and runs interpreted (dim=32: 3.48 vs 1.54; dim=64: 7.22 vs
#: 3.71 — tools/probe_dot_kernel_r15.log, round 15).
_DOT_CHAIN_MAX_DIM = 16


def dot_expr(a: str, b: str, dim: int) -> Column:
    """Σ a[i]*b[i] with the fixed left-assoc IEEE evaluation order.

    Two implementations, SAME doubles (probe-verified bitwise,
    tools/probe_dot_kernel_r15.log):

    - dim ≤ _DOT_CHAIN_MAX_DIM: the unrolled chain as ONE SQL text
      (single Py4J round trip; JIT-compiles at these widths).
    - wider: zip_with products + F.aggregate left fold SEEDED WITH THE
      FIRST TERM, i.e. ((t1+t2)+t3)+… — the chain's exact association.
      (A 0.0 seed would be (0.0+t1)+…, which flips a -0.0 running sum
      to +0.0 — the seed trick keeps even that degenerate case exact.)
      The unrolled chain at dim=64 is a >8 KB method HotSpot never
      JIT-compiles: whole stages ran as interpreted bytecode, ~2× the
      fold's cost — and the O(dim)-node expression tree slowed every
      Catalyst pass over these plans."""
    if dim <= _DOT_CHAIN_MAX_DIM:
        chain = " + ".join(
            f"CAST(element_at({a}, {i}) AS DOUBLE) * CAST(element_at({b}, {i}) AS DOUBLE)"
            for i in range(1, dim + 1)
        )
        return F.expr(chain)
    z = F.zip_with(
        F.col(a), F.col(b), lambda x, y: x.cast("double") * y.cast("double")
    )
    return F.aggregate(
        F.slice(z, 2, dim - 1), F.element_at(z, 1), lambda acc, v: acc + v
    )


def norm_expr(a: str, dim: int) -> Column:
    """L2 norm with the same pinned evaluation order."""
    return F.sqrt(dot_expr(a, a, dim))


def dot_sql(a: str, b: str, dim: int) -> str:
    """The SQL twin of :func:`dot_expr` (1-based list indexing, DuckDB/ANSI)."""
    return " + ".join(
        f"CAST({a}[{i}] AS DOUBLE) * CAST({b}[{i}] AS DOUBLE)" for i in range(1, dim + 1)
    )


def norm_sql(a: str, dim: int) -> str:
    return f"sqrt({dot_sql(a, a, dim)})"
