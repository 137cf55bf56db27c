"""Deterministic synthetic `sequences` generator — oracle-replayable.

The 10^12-sequence Iceberg token table (BASELINE.json north_star) is stood in
for by a generator whose every column derives from the row index through pure
64-bit integer arithmetic (a MINSTD Lehmer chain: x -> x*48271 mod 2^31-1).
Both Spark and DuckDB evaluate this arithmetic bit-identically, so any query
over the synthetic table is exactly checkable by the DuckDB oracle — the same
role `synthetic_data.py` (seed 46, /root/reference/synthetic_data.py:48) plays
for the reference's golden tests.

Distribution properties required by FIXTURES.md F1:
- token length in [8, 2048] with a long-tail (quadratic-skewed) distribution;
- `n_tok == size(tokens)` invariant holds by construction and is asserted in
  tests (BASELINE.json input_hint: per-row token-array equality);
- `source` categorical {web, code, books, wiki, chat} with skewed weights
  ~(0.55, 0.25, 0.10, 0.07, 0.03) — exercises salting;
- ingest timestamps on a 300 s batch grid starting 2026-01-01T00:00:00Z with
  deterministic holes (every 8th batch slot empty) — exercises gap-fill.

Generation is `spark.range(n)` + Catalyst expressions only: no Python UDF, no
driver-side data, fully parallel, O(n/cores) — the pattern scales to any n.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# MINSTD Lehmer generator: full-period multiplicative LCG mod the Mersenne
# prime 2^31-1. All intermediates < 2^62 → exact in int64 in Spark AND DuckDB.
MINSTD_A = 48271
MINSTD_M = 2147483647
TOK_A = 2654435761  # Knuth multiplicative hash constant
TOK_B = 40503
VOCAB = 50257  # GPT-2-ish vocab size
EPOCH0 = 1767225600  # 2026-01-01T00:00:00Z
BATCH_SECONDS = 300
DEFAULT_DOCS_PER_BATCH = 50


def _lcg(x: Column) -> Column:
    return (x * F.lit(MINSTD_A)) % F.lit(MINSTD_M)


def n_batches(n_docs: int, docs_per_batch: int = DEFAULT_DOCS_PER_BATCH) -> int:
    return max(1, n_docs // docs_per_batch)


def sequences(
    spark: SparkSession,
    n_docs: int,
    seed: int = 42,
    docs_per_batch: int = DEFAULT_DOCS_PER_BATCH,
    partitions: int | None = None,
) -> DataFrame:
    """The synthetic `(doc_id, tokens, n_tok, source, ingest_*)` table."""
    nb = n_batches(n_docs, docs_per_batch)
    rng = spark.range(0, n_docs, 1, partitions) if partitions else spark.range(n_docs)
    df = rng.select(F.col("id").alias("i"))

    h1 = _lcg(F.col("i") + F.lit(1 + seed))
    df = df.withColumn("h1", h1)
    df = df.withColumn("h2", _lcg(F.col("h1")))
    df = df.withColumn("h3", _lcg(F.col("h2")))

    # quadratic-skewed length in [8, 2048]
    lm = F.col("h1") % F.lit(2041)
    df = df.withColumn("n_tok", (F.lit(8) + F.floor(lm * lm / F.lit(2041))).cast("int"))

    p = F.col("h2") % F.lit(100)
    source = (
        F.when(p < 55, F.lit("web"))
        .when(p < 80, F.lit("code"))
        .when(p < 90, F.lit("books"))
        .when(p < 97, F.lit("wiki"))
        .otherwise(F.lit("chat"))
    )

    batch = F.col("h3") % F.lit(nb)
    # stretch batch index so every 8th grid slot is empty (deterministic gaps)
    slot = batch + F.floor(batch / F.lit(7))
    ingest_es = (F.lit(EPOCH0) + slot * F.lit(BATCH_SECONDS)).cast("long")

    tokens = F.transform(
        F.sequence(F.lit(0), F.col("n_tok") - 1),
        lambda j: ((F.col("i") * F.lit(TOK_A) + j * F.lit(TOK_B)) % F.lit(VOCAB)).cast(
            "int"
        ),
    )

    return df.select(
        F.concat(F.lit("doc"), F.lpad(F.col("i").cast("string"), 8, "0")).alias(
            "doc_id"
        ),
        tokens.alias("tokens"),
        F.col("n_tok"),
        source.alias("source"),
        ingest_es.alias("ingest_es"),
        F.timestamp_seconds(ingest_es).alias("ingest_ts"),
    )


def series_wide(
    spark: SparkSession,
    n_docs: int,
    n_steps: int = 92,
    seed: int = 46,
    gap_pct: int = 20,
    partitions: int | None = None,
) -> DataFrame:
    """Per-doc observation series with gaps (FIXTURES.md F2): the KFTS
    synthetic-network analogue (92 epochs @ 12 days, the signal model of
    the reference's synthetic_data.py:19-36), generated entirely with
    Catalyst expressions — scales to any n_docs with zero driver data.
    ONE row per doc with ``values: array<double>``.

    value = m1·t + A·sin(2πt) + B·cos(2πt) + step·H(t−1.5) + pseudo-noise,
    with per-doc params from the MINSTD hash chain; ~gap_pct% of (doc, step)
    observations NULL (the gap-fill workload).

    This is the hot-path layout (SURVEY.md §2.8 F12 — arrays stay arrays):
    the per-row PySpark Arrow exchange costs ~µs/row JVM-side and was
    measured NOT to scale with cores; packing the 92-step series into one
    array row shrinks exchanged rows 92× and the serialization becomes
    vectorized buffer copies. It is also the honest analogue of the
    reference's storage (one HDF5 row per pixel, kf/readinput.py:77-106).
    """
    rng = spark.range(0, n_docs, 1, partitions) if partitions else spark.range(n_docs)
    df = rng.select(F.col("id").alias("i"))
    h1 = _lcg(df.i + F.lit(1 + seed))
    h2 = _lcg(h1)
    h3 = _lcg(h2)
    m1 = F.lit(5.0) + (h1 % 1000).cast("double") / 100.0
    amp_s = F.lit(2.0) + (h2 % 400).cast("double") / 100.0
    amp_c = F.lit(2.0) + (h3 % 400).cast("double") / 100.0
    step_amp = F.lit(10.0) + (h2 % 2000).cast("double") / 100.0
    two_pi = 6.283185307179586

    def value_at(step):
        t = step.cast("double") * F.lit(12.0 / 365.25)
        hk = _lcg(df.i * F.lit(n_steps) + step + F.lit(7 + seed))
        noise = ((hk % 2001).cast("double") - 1000.0) / 1000.0
        val = (
            m1 * t
            + amp_s * F.sin(t * F.lit(two_pi))
            + amp_c * F.cos(t * F.lit(two_pi))
            + F.when(t >= 1.5, step_amp).otherwise(0.0)
            + noise * 0.5
        )
        is_gap = (step > 0) & ((hk % 100) < gap_pct)
        return F.when(is_gap, None).otherwise(val)

    values = F.transform(F.sequence(F.lit(0), F.lit(n_steps - 1)), value_at)
    return df.select(
        F.concat(F.lit("doc"), F.lpad(df.i.cast("string"), 8, "0")).alias("doc_id"),
        values.alias("values"),
    )


def sequences_sql(
    n_docs: int,
    seed: int = 42,
    docs_per_batch: int = DEFAULT_DOCS_PER_BATCH,
    with_tokens: bool = True,
) -> str:
    """DuckDB SQL replaying :func:`sequences` bit-for-bit (oracle side).

    Returns a SELECT usable as a CTE body; columns mirror the Spark version
    (minus `ingest_ts`, the bigint `ingest_es` is the comparison-safe axis).
    """
    nb = n_batches(n_docs, docs_per_batch)
    tokens_sql = (
        f", list_transform(range(0, n_tok), j -> CAST((i*{TOK_A} + j*{TOK_B}) % {VOCAB} AS INT)) AS tokens"
        if with_tokens
        else ""
    )
    return f"""
SELECT
  'doc' || lpad(CAST(i AS VARCHAR), 8, '0')                       AS doc_id,
  n_tok,
  CASE WHEN h2 % 100 < 55 THEN 'web'
       WHEN h2 % 100 < 80 THEN 'code'
       WHEN h2 % 100 < 90 THEN 'books'
       WHEN h2 % 100 < 97 THEN 'wiki'
       ELSE 'chat' END                                            AS source,
  CAST({EPOCH0} + ((h3 % {nb}) + (h3 % {nb}) // 7) * {BATCH_SECONDS} AS BIGINT) AS ingest_es
  {tokens_sql}
FROM (
  SELECT i, h1, h2, (h2 * {MINSTD_A}) % {MINSTD_M} AS h3,
         CAST(8 + ((h1 % 2041) * (h1 % 2041)) // 2041 AS INT) AS n_tok
  FROM (
    SELECT i, h1, (h1 * {MINSTD_A}) % {MINSTD_M} AS h2
    FROM (
      SELECT i, ((i + {1 + seed}) * {MINSTD_A}) % {MINSTD_M} AS h1
      FROM range(0, {n_docs}) t(i)
    )
  )
)
"""
