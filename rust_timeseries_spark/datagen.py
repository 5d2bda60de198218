"""Deterministic synthetic data generators.

Two families:

1. ``token_table`` — the engine's authoritative input shape
   ``(doc_id string, tokens array<int>, n_tok int, source string)``
   (FIXTURES.md F-1). Generated on the executors from ``spark.range``:
   ``doc_id``, ``n_tok`` and ``source`` are JVM hash expressions, and
   the token arrays come from a vectorised Arrow kernel (numpy XXH64
   over whole batches), so it scales to any row count without driver
   involvement — the same recipe works at 10^12 rows on a cluster.
   Building the plan costs a fixed handful of driver calls. A query
   that does not read ``tokens`` plans no Python at all.
   Deterministic in (n_rows, seed) only.

2. Small numpy fixtures for the statistical kernels (durations,
   residuals, score matrices — FIXTURES.md F-2/F-3/F-4), mirroring the
   reference's own test fixtures (reference
   tests/integration_acd_pipline.rs:83-90, .github/workflows/ci.yml:86-89).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .constants import DEFAULT_SEED, VOCAB_SIZE
from .functions.xxh64 import hash_int_np

# ~20 Zipf-weighted source names (FIXTURES.md F-1): weight(i) ∝ 1/(i+1).
SOURCE_NAMES = [
    "web", "code", "books", "wiki", "news", "forums", "papers", "social",
    "docs", "mail", "chat", "legal", "patents", "subtitles", "recipes",
    "reviews", "qa", "logs", "transcripts", "misc",
]

EPOCH = "2026-01-01 00:00:00"
EPOCH_UNIX = 1767225600  # 2026-01-01T00:00:00Z


def _zipf_slots(n_slots: int = 1000) -> list[str]:
    """Slot table for inverse-CDF sampling of the Zipf source mix."""
    w = 1.0 / (np.arange(len(SOURCE_NAMES)) + 1.0)
    w /= w.sum()
    counts = np.maximum(1, np.round(w * n_slots).astype(int))
    slots: list[str] = []
    for name, c in zip(SOURCE_NAMES, counts):
        slots.extend([name] * int(c))
    return slots[:n_slots] if len(slots) >= n_slots else slots + [SOURCE_NAMES[0]] * (n_slots - len(slots))


# Rows of one kernel step hold at most this many tokens, so the uint64
# temporaries stay a few MB whatever the Arrow batch size
_KERNEL_TOKENS = 1 << 20


def _tokens_kernel(row_seed: pa.Array, n_tok: pa.Array) -> pa.Array:
    """``tokens`` of each row as Arrow ``list<int32>``: element ``i``
    (1-based, ``i`` ≤ ``n_tok``) is ``pmod(hashInt(i, row_seed),
    VOCAB_SIZE)``. With ``row_seed = xxhash64(doc_id, seed)`` this is
    bit-identical to the expression
    ``transform(sequence(1, n_tok), i -> pmod(xxhash64(doc_id, seed, i), VOCAB_SIZE))``,
    because Spark's xxhash64 hashes each child with the running hash as
    seed and an int child through ``hashInt``."""
    seeds = row_seed.to_numpy(zero_copy_only=False)
    n = n_tok.to_numpy(zero_copy_only=False).astype(np.int64)
    offsets = np.zeros(len(n) + 1, dtype=np.int64)
    np.cumsum(n, out=offsets[1:])
    values = np.empty(offsets[-1], dtype=np.int32)
    start = 0
    while start < len(n):
        # the most rows from ``start`` within the budget, at least one
        stop = max(int(np.searchsorted(offsets, offsets[start] + _KERNEL_TOKENS, "right")) - 1, start + 1)
        lo, hi = offsets[start], offsets[stop]
        counts = n[start:stop]
        i = np.arange(1, hi - lo + 1, dtype=np.int64) - np.repeat(offsets[start:stop] - lo, counts)
        h = hash_int_np(i, np.repeat(seeds[start:stop], counts))
        values[lo:hi] = np.mod(h, VOCAB_SIZE)
        start = stop
    return pa.ListArray.from_arrays(pa.array(offsets.astype(np.int32)), pa.array(values))


def token_table(
    spark: SparkSession,
    n_rows: int,
    seed: int = DEFAULT_SEED,
    max_len: int = 2048,
    horizon_seconds: int = 7 * 24 * 3600,
    num_partitions: int | None = None,
) -> DataFrame:
    """Deterministic token table: (doc_id, tokens, n_tok, source).

    Everything is a pure function of (doc_id, seed) via xxhash64, so the
    table is reproducible at any parallelism and any scale.
    ``n_tok == size(tokens)`` holds by construction (the BASELINE.json
    per-row invariant). The token arrays come from ``_tokens_kernel``;
    the Zipf slot table is one split literal, constant-folded by the
    optimizer.
    """
    df = spark.range(0, n_rows, 1, numPartitions=num_partitions)
    df = df.withColumn("doc_id", F.format_string("doc-%012d", F.col("id")))
    h = lambda salt: F.xxhash64(F.col("doc_id"), F.lit(seed), F.lit(salt))  # noqa: E731
    slots = _zipf_slots()
    tokens = F.arrow_udf(_tokens_kernel, "array<int>")
    df = (
        df.withColumn("n_tok", (F.pmod(h("len"), F.lit(max_len)) + F.lit(1)).cast("int"))
        .withColumn("tokens", tokens(F.xxhash64(F.col("doc_id"), F.lit(seed)), F.col("n_tok")))
        .withColumn(
            "source",
            F.element_at(
                F.split(F.lit(",".join(slots)), ","),
                (F.pmod(h("src"), F.lit(len(slots))) + F.lit(1)).cast("int"),
            ),
        )
        .select("doc_id", "tokens", "n_tok", "source")
    )
    return df


def with_event_time(df: DataFrame, seed: int = DEFAULT_SEED, horizon_seconds: int = 7 * 24 * 3600) -> DataFrame:
    """Derive the deterministic event timestamp for each sequence.

    ``ts = epoch + (xxhash64(doc_id) mod horizon)`` seconds
    (FIXTURES.md F-1) — not stored in the raw table, derived identically
    everywhere it is needed.
    """
    off = F.pmod(F.xxhash64(F.col("doc_id"), F.lit(seed), F.lit("ts")), F.lit(horizon_seconds))
    return df.withColumn("ts", F.timestamp_seconds(F.lit(EPOCH_UNIX) + off))


def document_corpus(
    spark: SparkSession,
    n_docs: int,
    words_per_doc: int = 40,
    dup_every: int = 20,
    vocab: int = 1_000_000,
    seed: int = DEFAULT_SEED,
    num_partitions: int | None = None,
) -> DataFrame:
    """Deterministic synthetic document corpus with PLANTED near-dups —
    entirely JVM-side expressions (no Python in the row path), so it
    scales to 10⁷+ docs for dedup stress tests.

    Doc ``i``: ``words_per_doc`` pseudo-words ``w<xxhash64(i,j,seed) mod
    vocab>``. Every ``dup_every``-th doc instead copies doc ``i−1``'s
    words with the first word replaced — a near-dup with shingle-set
    Jaccard ≈ (W−k)/(W+k) (≈0.85 at W=40, k=3), i.e. above every LSH
    threshold the engine uses. Planted near-dup pairs therefore number
    ``⌊n_docs/dup_every⌋`` and candidate-pair counts must scale ~O(N),
    never O(N²) — the collision-rate law the scale tests pin."""
    base = spark.range(0, n_docs, 1, num_partitions or spark.sparkContext.defaultParallelism)
    base = base.select(F.col("id").alias("doc_id"))
    is_dup = F.pmod(F.col("doc_id"), F.lit(dup_every)) == (dup_every - 1)
    src_id = F.when(is_dup, F.col("doc_id") - 1).otherwise(F.col("doc_id"))
    words = F.transform(
        F.sequence(F.lit(0), F.lit(words_per_doc - 1)),
        lambda j: F.concat(
            F.lit("w"),
            F.pmod(F.xxhash64(src_id, j, F.lit(seed)), F.lit(vocab)).cast("string"),
        ),
    )
    words = F.when(
        is_dup,
        F.concat(F.array(F.lit("dupmark")), F.slice(words, 2, words_per_doc - 1)),
    ).otherwise(words)
    return base.select("doc_id", F.array_join(words, " ").alias("text"))


# ---------------------------------------------------------------------------
# numpy fixtures (FIXTURES.md F-2/F-3/F-4) — small, driver-side by design
# ---------------------------------------------------------------------------

def trending_durations(n: int, base: float, slope: float | None = None) -> np.ndarray:
    """``x_t = max(base + slope·t, base)`` — the reference's integration
    fixture (tests/integration_acd_pipline.rs:83-90)."""
    if slope is None:
        slope = 0.01 * base
    t = np.arange(n, dtype=np.float64)
    return np.maximum(base + slope * t, base)


def noisy_durations(n: int = 200, seed: int = 12345) -> np.ndarray:
    """``1 + |N(1, 0.2)|`` — the reference CI smoke fixture
    (.github/workflows/ci.yml:86-89)."""
    rng = np.random.default_rng(seed)
    return 1.0 + np.abs(rng.normal(1.0, 0.2, size=n))


def normal_residuals(n: int = 200, seed: int = 12345) -> np.ndarray:
    """N(0,1) residuals — EL smoke fixture (ci.yml:76-77)."""
    rng = np.random.default_rng(seed)
    return rng.normal(0.0, 1.0, size=n)


def ar1_residuals(n: int, phi: float = 0.5, seed: int = 12345) -> np.ndarray:
    rng = np.random.default_rng(seed)
    eps = rng.normal(0.0, 1.0, size=n)
    out = np.empty(n)
    acc = 0.0
    for i in range(n):
        acc = phi * acc + eps[i]
        out[i] = acc
    return out


def iid_scores(n: int = 300, k: int = 4, seed: int = 12345) -> np.ndarray:
    """N(0,1) iid score matrix — HAC smoke fixture (ci.yml:116)."""
    rng = np.random.default_rng(seed)
    return rng.normal(0.0, 1.0, size=(n, k))


def series_df(spark: SparkSession, keyed_arrays: dict[str, np.ndarray]) -> DataFrame:
    """Pack {key: 1-D array} into a (key string, t long, v double) DataFrame."""
    rows = [
        (k, int(t), float(v))
        for k, arr in keyed_arrays.items()
        for t, v in enumerate(np.asarray(arr, dtype=np.float64))
    ]
    return spark.createDataFrame(rows, "key string, t long, v double")


# ---------------------------------------------------------------------------
# ACD path simulation (reference G1/G2: innovations.rs:611-627 draw law,
# SimOpts defaults options.rs:404-411 — the reference's own simulation
# engine is declared planned-but-unimplemented, README.md:406-409)
# ---------------------------------------------------------------------------

def draw_innovations(n: int, law: str = "exponential", law_params: dict | None = None,
                     seed: int = 42) -> np.ndarray:
    """Unit-mean innovation draws per the reference's law definitions:
    Exponential(1); Weibull(λ(k), k); GeneralizedGamma via Z~Gamma(d/p,1),
    ε = a·Z^{1/p} (innovations.rs:611-627)."""
    from .functions.scalar import gengamma_a, weibull_lambda

    rng = np.random.default_rng(seed)
    law_params = law_params or {}
    if law == "exponential":
        return rng.exponential(1.0, size=n)
    if law == "weibull":
        k = law_params["k"]
        lam = weibull_lambda(k)
        return lam * rng.weibull(k, size=n)
    if law == "generalized_gamma":
        p, d = law_params["p"], law_params["d"]
        a = gengamma_a(p, d)
        z = rng.gamma(d / p, 1.0, size=n)
        return a * z ** (1.0 / p)
    raise ValueError(law)


def simulate_acd(
    n: int,
    omega: float,
    alpha: list[float],
    beta: list[float],
    law: str = "exponential",
    law_params: dict | None = None,
    seed: int = 42,
    burn_in: int = 2000,
    psi_init: list[float] | None = None,
) -> dict:
    """Simulate an ACD(p,q) duration path x_t = ψ_t·ε_t with the pinned
    recursion semantics (warm start = SimStart::Warm{burn_in=2000}
    default, options.rs:450-454; cold start from explicit ψ-lags).
    Returns {x, psi, eps} for the post-burn-in sample."""
    from .operators.recursion import psi_recursion_np  # noqa: F401 (semantics ref)
    from .validation import validate_horizon

    validate_horizon(n)  # ZeroSimulationHorizon (errors.rs:282)
    alpha_a = np.asarray(alpha, dtype=np.float64)
    beta_a = np.asarray(beta, dtype=np.float64)
    q, p = len(alpha_a), len(beta_a)
    total = n + (burn_in if psi_init is None else 0)
    eps = draw_innovations(total, law, law_params, seed)
    mu = omega / (1.0 - alpha_a.sum() - beta_a.sum())
    psi_hist = list(psi_init) if psi_init is not None else [mu] * p
    dur_hist = [mu] * q
    psi_out = np.empty(total)
    x_out = np.empty(total)
    for t in range(total):
        # same lag conventions as the in-sample recursion: α over the
        # last q durations newest→oldest, β over ψ history
        s_alpha = sum(alpha_a[i] * dur_hist[-(i + 1)] for i in range(q))
        s_beta = sum(beta_a[j] * psi_hist[-(j + 1)] for j in range(p))
        psi_t = omega + s_alpha + s_beta
        x_t = psi_t * eps[t]
        psi_out[t] = psi_t
        x_out[t] = x_t
        psi_hist.append(psi_t)
        dur_hist.append(x_t)
    skip = total - n
    return {"x": x_out[skip:], "psi": psi_out[skip:], "eps": eps[skip:]}
