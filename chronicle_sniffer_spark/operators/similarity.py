"""Embedding similarity search (SURVEY.md §2B L3).

Two paths over an ``array<float>`` embedding column:

- :func:`cosine_pairs` / the catalog's ``l3_cosine_topk`` — exact
  brute force.  Correct baseline; O(n²), only viable when one side is
  tiny (a single query vector, a small probe set).
- :func:`with_bucket_keys` + :func:`ann_topk` — the scale path: sign-random-
  projection LSH (SimHash for vectors).  L hash tables × B hyperplane
  bits each; vectors agree with the query in all B bits of any one
  table become candidates, exact cosine is computed for candidates
  only.  At 100 TB this turns the all-pairs cross join into one
  equi-join on (table, bucket) — a plain hash shuffle with
  cryptographically well-spread keys — plus a candidate set ~1/2^B of
  the corpus per table.

Determinism: hyperplanes are ±1 Rademacher vectors derived from MD5 of
the (table, bit, dim) index — no RNG, reproducible across engines, so
the DuckDB oracle can re-derive the identical structure (the literal
plane matrix is spliced into the oracle SQL at import time).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from chronicle_sniffer_spark.tables import spread

N_TABLES = 8  # L hash tables
N_BITS = 4  # hyperplane bits per table
DIM = 64  # embedding dimensionality of the testdata corpus


def _plane(table: int, bit: int) -> list[float]:
    """Deterministic ±1 hyperplane from MD5 parity (no RNG)."""
    return [
        1.0 if hashlib.md5(f"p{table}_{bit}_{i}".encode()).digest()[0] % 2 == 0 else -1.0
        for i in range(DIM)
    ]


PLANES: list[list[float]] = [_plane(t, b) for t in range(N_TABLES) for b in range(N_BITS)]

_BIT_WEIGHTS = [2 ** (N_BITS - 1 - i) for i in range(N_BITS)]  # [8,4,2,1]


def as_double(emb: Column) -> Column:
    # array cast, not transform(x -> cast): same per-element semantics
    # but codegen (a transform lambda is CodegenFallback and would
    # knock the enclosing Project out of whole-stage codegen)
    return emb.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    """JVM-side dot product: zip_with + aggregate (no UDF)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


def with_bucket_keys(embeddings: DataFrame) -> DataFrame:
    """Adds ``bkeys``: array of L strings "t_bucket" — the vector's LSH
    bucket per table.

    Computed as ONE Arrow-batched numpy matmul per batch
    (``batch×64 @ 64×32`` then sign-bits → bucket ids).  A pure
    column-expression formulation exists but instantiates a
    2048-literal plane matrix in the plan — Catalyst analysis/codegen
    of that tree costs seconds per query while the matmul is
    microseconds; this is the case where the built-ins genuinely lose
    to an Arrow batch.  Deterministic: the plane matrix is a module
    constant.
    """
    import numpy as np
    import pandas as pd

    planes_t = np.array(PLANES, dtype="f8").T  # 64 × 32
    weights = np.array(_BIT_WEIGHTS, dtype="i8")
    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in embeddings.schema.fields)

    def op(batches):
        for pdf in batches:
            emb = np.stack([np.asarray(v, dtype="f8") for v in pdf["embedding"]])
            bits = (emb @ planes_t >= 0).astype("i8").reshape(len(pdf), N_TABLES, N_BITS)
            buckets = (bits * weights).sum(axis=2)
            pdf = pdf.copy()
            pdf["bkeys"] = [
                [f"{t}_{b}" for t, b in enumerate(row)] for row in buckets
            ]
            yield pdf

    return embeddings.mapInPandas(op, f"{schema}, bkeys array<string>")


def ann_topk(embeddings: DataFrame, query_vec_id: int, k: int = 10) -> DataFrame:
    """LSH-bucketed approximate top-k neighbors of one corpus vector.

    Plan shape: one narrow projection computes bucket keys, the
    query's L keys broadcast to the scan, candidates de-dup on vec_id,
    exact cosine on candidates only, TakeOrderedAndProject for top-k.
    """
    keyed = with_bucket_keys(embeddings).select(
        "vec_id", "embedding", F.explode("bkeys").alias("bkey")
    )
    q = keyed.filter(F.col("vec_id") == query_vec_id).select(
        F.col("bkey").alias("qkey"), as_double(F.col("embedding")).alias("qv")
    )
    cand = (
        keyed.filter(F.col("vec_id") != query_vec_id)
        .join(F.broadcast(q), F.col("bkey") == F.col("qkey"))
        .select("vec_id", "embedding", "qv")
        .dropDuplicates(["vec_id"])
    )
    scored = cand.select(
        "vec_id", F.round(cosine(as_double(F.col("embedding")), F.col("qv")), 6).alias("sim")
    )
    topk = scored.orderBy(F.col("sim").desc(), F.col("vec_id")).limit(k)
    w = Window.orderBy(F.col("sim").desc(), F.col("vec_id"))
    return topk.withColumn("rank", F.row_number().over(w))


BRUTE_FORCE_MAX = 65_536


def cosine_sims(embeddings: DataFrame) -> DataFrame:
    """Exact all-pairs cosine similarities (vec_a < vec_b, 6-dp
    rounded), computed as a broadcast BLOCK MATMUL: the normalized
    matrix (N×d doubles) broadcasts once, each Arrow batch of vectors
    scores against it with one numpy matmul, and only (id, id, sim)
    rows leave the stage.

    The earlier formulation — a theta self-join carrying both float
    arrays through a 2M-row shuffle, scored by a zip_with/aggregate
    fold — measured 124 s at sf0.1: higher-order-function lambdas are
    CodegenFallback, so every one of the ~128M multiply-adds ran
    interpreted.  The matmul form runs the same corpus in ~2 s.

    Scope: brute force is the ORACLE BASELINE — O(N²) by definition —
    so the broadcast collect is bounded by ``BRUTE_FORCE_MAX`` and the
    function raises beyond it; the 100 TB paths are the LSH bucket
    join (:func:`ann_topk`) and the IVF index (operators/ivf.py)."""
    import numpy as np
    import pandas as pd
    from typing import Iterator

    spark = embeddings.sparkSession
    slim = embeddings.select("vec_id", as_double(F.col("embedding")).alias("v"))
    # Guard BEFORE the collect spends driver memory: an executor-side
    # limit+count trips on the (BRUTE_FORCE_MAX+1)-th row without ever
    # shipping a vector to the driver.
    probe = slim.limit(BRUTE_FORCE_MAX + 1).count()
    if probe > BRUTE_FORCE_MAX:
        raise ValueError(
            f"more than {BRUTE_FORCE_MAX} vectors exceeds the brute-force "
            "scope; use ann_topk / operators.ivf at scale"
        )
    rows = slim.collect()  # bounded: guard above capped the cardinality
    ids = np.array([r.vec_id for r in rows], dtype=np.int64)
    mat = np.array([r.v for r in rows], dtype=np.float64)
    norms = np.linalg.norm(mat, axis=1)
    norms[norms == 0.0] = 1.0
    normed = mat / norms[:, None]
    bc = spark.sparkContext.broadcast((ids, normed))

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        all_ids, m = bc.value
        for pdf in batches:
            bids = pdf["vec_id"].to_numpy(dtype=np.int64)
            vecs = np.stack(pdf["v"].to_numpy()).astype(np.float64)
            vn = np.linalg.norm(vecs, axis=1)
            vn[vn == 0.0] = 1.0
            raw = (vecs / vn[:, None]) @ m.T
            # round half-AWAY-from-zero to match Spark round() and
            # DuckDB round(); np.round's banker's rounding would flip a
            # sim landing exactly on a 6-dp half boundary (round-4
            # advice: close the channel rather than document it)
            sims = np.sign(raw) * np.floor(np.abs(raw) * 1e6 + 0.5) / 1e6
            mask = all_ids[None, :] > bids[:, None]
            bi, oj = np.nonzero(mask)
            yield pd.DataFrame(
                {"vec_a": bids[bi], "vec_b": all_ids[oj], "sim": sims[bi, oj]}
            )

    # spread(): the single-file testbed scan yields ONE task, which
    # would run the entire N x N matmul on one core (measured 157 s at
    # sf1 in SCALE_r10); at 100 TB the corpus arrives pre-split
    return spread(slim).mapInPandas(op, "vec_a bigint, vec_b bigint, sim double")


def cosine_pairs(embeddings: DataFrame, threshold: float) -> DataFrame:
    """Exact all-pairs cosine ≥ a FIXED threshold."""
    return cosine_sims(embeddings).filter(F.col("sim") >= threshold)


NEAR_DUP_SIGMA = 3.5


def _sigma_thr_from_moments(mom: DataFrame, c: float) -> DataFrame:
    """round(mean + c·σ_pop, 6) from integer micro-unit moments
    (n BIGINT, s BIGINT, s2 DECIMAL) — THE one shared threshold
    algebra, so robust_sigma_threshold and cosine_pairs_adaptive can
    never drift apart: num = n·Σmic² − (Σmic)² in non-demoting
    decimal widths (scale-0 products cap at (38,0) with ZERO scale
    loss — exact while the VALUE fits 38 digits, i.e. n ≤ 1e13 pairs,
    three decades past any brute-force scope), one exact
    integer→double conversion per term, then identical IEEE ops in
    both engines.  num ≥ 0 exactly (Cauchy–Schwarz on integers);
    greatest() is belt-and-braces.  The earlier (10,0)/(22,0) casts
    silently NULLed the threshold past ~1e10 pairs (round-11 advisor
    finding); the (19,0)/(38,0) widths below are free and push the
    ceiling to the 38-digit value cap.  n² runs in decimal too — a
    bigint n·n would wrap silently past n ≈ 3e9."""
    n_d = F.col("n").cast("decimal(19,0)")
    s_d = F.col("s").cast("decimal(19,0)")
    s2_d = F.col("s2").cast("decimal(38,0)")
    num = (n_d * s2_d - s_d * s_d).cast("double")
    mean_mic = F.col("s").cast("double") / F.col("n").cast("double")
    sd_mic = F.sqrt(F.greatest(num, F.lit(0.0)) / (n_d * n_d).cast("double"))
    return mom.select(
        F.round(mean_mic / F.lit(1e6) + F.lit(c) * sd_mic / F.lit(1e6), 6).alias("thr")
    )


def robust_sigma_threshold(sims: DataFrame, c: float = NEAR_DUP_SIGMA) -> DataFrame:
    """One-row DataFrame [thr]: ``round(mean + c * stddev_pop, 6)`` of
    the pair-sim distribution — the corpus-DERIVED near-duplicate
    cutoff.  A literal threshold has to track the corpus (0.45 sat
    0.063 under the sf0.01 noise ceiling and the ceiling rises with
    scale: max noise sim 0.48 → 0.51 → 0.60 across the shipped SFs); a
    c-sigma cutoff rides the distribution instead.  Deterministic and
    engine-portable: sims are exact 1e-6 multiples, so the moments
    accumulate as exact integer micro-units (association-order-free)
    and the threshold algebra makes ONE exact integer→double
    conversion per term — the same integer-exact formulation as
    :func:`cosine_pairs_adaptive`'s in-worker moment pass, so the two
    stay in lockstep to the last bit."""
    mic = F.round(F.col("sim") * F.lit(1e6)).cast("bigint")
    mom = sims.agg(
        F.count("*").alias("n"),
        F.sum(mic).alias("s"),
        F.sum((mic * mic).cast("decimal(28,0)")).alias("s2"),
    )
    return _sigma_thr_from_moments(mom, c)


def cosine_pairs_adaptive(embeddings: DataFrame) -> DataFrame:
    """Near-dup pairs with the corpus-derived c-sigma threshold, in
    two matmul passes with NO pair materialization:

    - pass 1 reduces each Arrow batch's sims to one (n, s, s2) moment
      row INSIDE the matmul worker — only ~#batches rows leave the
      stage, against ~N²/2 before;
    - the 1-row threshold (round(mean + c·σ_pop, 6), identical algebra
      to :func:`robust_sigma_threshold`) broadcast-joins into pass 2,
      which re-runs the matmul and filters ``sim ≥ thr`` inside numpy,
      emitting only the near-dup rows.

    The earlier formulation cached the full pair table to share it
    between the threshold agg and the filter: at sf0.1 that is 12.5M
    rows Arrow-shipped to the JVM and pinned in storage memory per
    invocation — measured 1.6–5.9 s swings within one session (GC/
    storage churn) where this form holds ~1.3 s; redoing the matmul
    (~0.2 s of BLAS) is far cheaper than materializing its output.
    Threshold parity with the DuckDB oracle is INTEGER-EXACT: sims are
    exact multiples of 1e-6 after rounding, so the moments accumulate
    as int64/decimal micro-units (n, Σ sim_mic, Σ sim_mic²) — the same
    integer values in both engines regardless of association order —
    and the threshold algebra runs on one exact integer→double
    conversion per term (round-11 advisor fix: the earlier float
    moments carried a ~1e-12 association-order residual that could in
    principle flip the 6-dp-rounded thr on a boundary, the same
    cross-engine class as the l6_moore_lewis flake).  Σ sim_mic² can
    exceed int64 (1e12 per pair × up to n_max²/2 pairs), so batches
    reduce in int64 CHUNKS sized to be overflow-safe and emit the
    exact total as DECIMAL(28,0); the final sum is an exact decimal."""
    import numpy as np
    import pandas as pd
    from typing import Iterator

    spark = embeddings.sparkSession
    slim = embeddings.select("vec_id", as_double(F.col("embedding")).alias("v"))
    probe = slim.limit(BRUTE_FORCE_MAX + 1).count()
    if probe > BRUTE_FORCE_MAX:
        raise ValueError(
            f"more than {BRUTE_FORCE_MAX} vectors exceeds the brute-force "
            "scope; use ann_topk / operators.ivf at scale"
        )
    rows = slim.collect()  # bounded: guard above capped the cardinality
    ids = np.array([r.vec_id for r in rows], dtype=np.int64)
    mat = np.array([r.v for r in rows], dtype=np.float64)
    norms = np.linalg.norm(mat, axis=1)
    norms[norms == 0.0] = 1.0
    normed = mat / norms[:, None]
    bc = spark.sparkContext.broadcast((ids, normed))

    def _batch_sims(pdf, all_ids, m):
        bids = pdf["vec_id"].to_numpy(dtype=np.int64)
        vecs = np.stack(pdf["v"].to_numpy()).astype(np.float64)
        vn = np.linalg.norm(vecs, axis=1)
        vn[vn == 0.0] = 1.0
        raw = (vecs / vn[:, None]) @ m.T
        # half-away-from-zero, matching Spark/DuckDB round()
        sims = np.sign(raw) * np.floor(np.abs(raw) * 1e6 + 0.5) / 1e6
        mask = all_ids[None, :] > bids[:, None]
        return bids, sims, mask

    def moments(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from decimal import Decimal

        all_ids, m = bc.value
        for pdf in batches:
            _, sims, mask = _batch_sims(pdf, all_ids, m)
            # sims are exact 1e-6 multiples — recover the integers
            vals_mic = np.rint(sims[mask] * 1e6).astype(np.int64)
            # Σ mic² in overflow-safe int64 chunks (≤4e6 elems × 1e12
            # per term < 2^62), totalled in arbitrary-precision Python
            s2 = 0
            for lo in range(0, vals_mic.size, 4_000_000):
                c = vals_mic[lo : lo + 4_000_000]
                s2 += int(np.sum(c * c, dtype=np.int64))
            yield pd.DataFrame(
                {
                    "n": [int(vals_mic.size)],
                    "s": [int(vals_mic.sum())],
                    "s2": [Decimal(s2)],
                }
            )

    # spread() both passes: one scan task would serialize the matmul
    mom = spread(slim).mapInPandas(moments, "n bigint, s bigint, s2 decimal(28,0)").agg(
        F.sum("n").alias("n"), F.sum("s").alias("s"), F.sum("s2").alias("s2")
    )
    # Spark types sum(decimal(28,0)) as (38,0); _sigma_thr_from_moments
    # consumes it at (38,0) — no narrowing anywhere on the path
    thr = _sigma_thr_from_moments(mom, NEAR_DUP_SIGMA)

    def filtered(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        all_ids, m = bc.value
        for pdf in batches:
            t = float(pdf["thr"].iloc[0])
            bids, sims, mask = _batch_sims(pdf, all_ids, m)
            keep = mask & (sims >= t)
            bi, oj = np.nonzero(keep)
            yield pd.DataFrame(
                {"vec_a": bids[bi], "vec_b": all_ids[oj], "sim": sims[bi, oj]}
            )

    return spread(slim).crossJoin(F.broadcast(thr)).mapInPandas(
        filtered, "vec_a bigint, vec_b bigint, sim double"
    )


# ---------------------------------------------------------------------------
# oracle-SQL fragments (DuckDB re-derivation of the same LSH structure)
# ---------------------------------------------------------------------------


def _sql_plane(p: list[float]) -> str:
    return "[" + ", ".join(str(v) for v in p) + "]::DOUBLE[]"


def oracle_bucket_keys_sql() -> str:
    """DuckDB list expr: the L bucket-key strings for column `embedding`."""
    keys = []
    for t in range(N_TABLES):
        bits = [
            f"(CASE WHEN list_dot_product(embedding::DOUBLE[],"
            f" {_sql_plane(PLANES[t * N_BITS + i])}) >= 0 THEN {w} ELSE 0 END)"
            for i, w in enumerate(_BIT_WEIGHTS)
        ]
        keys.append(f"('{t}_' || CAST({' + '.join(bits)} AS VARCHAR))")
    return "[" + ", ".join(keys) + "]"


# ---------------------------------------------------------------------------
# The catalog's fixed retrieval query: top-k neighbors of one vector
# ---------------------------------------------------------------------------

ANN_QUERY_VEC = 0
ANN_K = 10

# DuckDB oracle of the brute-force cosine top-k (``l3_cosine_topk``),
# also nested verbatim by the rank-fusion entry
COSINE_TOPK_ORACLE = """
    WITH q AS (
      SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0
    ), scored AS (
      SELECT e.vec_id,
             round(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 6) AS sim
      FROM embeddings e, q WHERE e.vec_id <> 0
    )
    SELECT vec_id, sim, CAST(rank AS INTEGER) AS rank FROM (
      SELECT vec_id, sim, row_number() OVER (ORDER BY sim DESC, vec_id) AS rank
      FROM scored
    ) WHERE rank <= 10
    """
