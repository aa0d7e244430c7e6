"""Invariants for the ML1-ML3 in-plan training/evaluation entries.

Oracle parity runs in tests/test_catalog.py (auto-parametrized); this
file proves the claims a hash can't: bit-reproducibility of the
quantized-gradient training under arbitrary repartitioning, and the
structural soundness of the confusion sweep.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from chronicle_sniffer_spark.plans.ml import (
    LOGREG_ITERS,
    _km_centroids,
    _km_features,
    _logreg_features,
    _logreg_weights,
    ml1_logreg_gd,
    ml2_naive_bayes,
    ml3_eval_confusion,
    ml4_kmeans,
)
from tests.conftest import SF_SMOKE


def test_logreg_weights_bit_identical_under_repartition(spark):
    """The deterministic-allreduce claim: fixed-point gradient
    accumulation makes the trained weights EXACTLY equal (not just
    close) no matter how the feature rows are partitioned — the
    property a plain sum(double) loses."""
    feats = _logreg_features(spark, SF_SMOKE)
    runs = [
        _logreg_weights(feats.repartition(p)).collect()[0]
        for p in (1, 7, 31)
    ]
    assert runs[0] == runs[1] == runs[2]
    w = runs[0]
    assert all(abs(w[f"w{j}"]) < 10.0 for j in range(3))


def test_logreg_training_actually_descends(spark):
    """T steps of GD must reduce the quantized mean |residual| vs the
    zero-weight start (training does something, not just terminates)."""
    feats = _logreg_features(spark, SF_SMOKE).cache()
    try:
        def mean_abs_residual(wdf):
            from chronicle_sniffer_spark.plans.ml import _fast_sigmoid, _z

            j = feats.crossJoin(F.broadcast(wdf))
            d = _fast_sigmoid(_z()) - F.col("y")
            row = j.agg(
                (F.sum(F.abs(d)) / F.count("*")).alias("mar")
            ).collect()[0]
            return row["mar"]

        w0 = feats.sparkSession.range(1).select(
            F.lit(0.0).alias("w0"), F.lit(0.0).alias("w1"), F.lit(0.0).alias("w2")
        )
        before = mean_abs_residual(w0)
        after = mean_abs_residual(_logreg_weights(feats))
        assert after < before
    finally:
        feats.unpersist()


def test_ml1_output_shape(spark):
    row = ml1_logreg_gd(spark, SF_SMOKE).collect()[0]
    assert row["n"] > 0
    assert 0.0 <= row["acc"] <= 1.0
    assert LOGREG_ITERS == 3  # oracle CTE chain length is part of the contract


def test_naive_bayes_model_is_a_distribution(spark):
    pdf = ml2_naive_bayes(spark, SF_SMOKE).toPandas()
    assert (pdf["rank"] >= 1).all() and (pdf["rank"] <= 10).all()
    assert ((pdf["prob"] > 0.0) & (pdf["prob"] < 1.0)).all()
    # per-class priors are a distribution over classes
    priors = pdf.drop_duplicates("lang")["prior"]
    assert abs(priors.sum() - 1.0) < 1e-4
    # ranks are dense per class
    for _, grp in pdf.groupby("lang"):
        assert sorted(grp["rank"]) == list(range(1, len(grp) + 1))


def test_confusion_sweep_is_consistent(spark):
    pdf = (
        ml3_eval_confusion(spark, SF_SMOKE).toPandas().sort_values("thr")
    )
    assert len(pdf) == 9
    totals = pdf["tp"] + pdf["fp"] + pdf["fn"] + pdf["tn"]
    assert totals.nunique() == 1  # every threshold classifies every row
    # raising the threshold can only shrink the positive set
    pos = (pdf["tp"] + pdf["fp"]).to_numpy()
    assert all(pos[i] >= pos[i + 1] for i in range(len(pos) - 1))
    # recall is non-increasing in the threshold
    rec = pdf["recall"].to_numpy()
    assert all(rec[i] >= rec[i + 1] - 1e-12 for i in range(len(rec) - 1))


def test_dp_release_noise_is_laplace_shaped(spark):
    """The released counts differ from the exact ones by bounded,
    deterministic Laplace noise; re-running yields the identical
    release (deterministic mechanism = auditable pipeline tests)."""
    from chronicle_sniffer_spark.plans.ml import dq3_dp_release

    a = dq3_dp_release(spark, SF_SMOKE).toPandas().sort_values("o_orderpriority")
    b = dq3_dp_release(spark, SF_SMOKE).toPandas().sort_values("o_orderpriority")
    assert a.equals(b)
    # noise is centred-ish and bounded by the inverse CDF at 52 bits:
    # |noise| <= ln(2^52)/eps ~= 36
    assert (a["noise"].abs() <= 37.0).all()
    assert (a["n_released"] - a["n_true"] - a["noise"]).abs().max() < 1e-6


def test_offline_trained_model_scores_stream_equals_batch(spark, tmp_path):
    """Serving integration: weights trained offline (in-plan GD) score
    a STREAM of the same rows — the quantized score aggregate from the
    AvailableNow replay must equal the batch plan exactly (fast
    sigmoid + fixed-point quantization are partition- and
    micro-batch-order-invariant)."""
    import chronicle_sniffer_spark.plans.ml as ml

    feats = ml._logreg_features(spark, SF_SMOKE)
    w = ml._logreg_weights(feats).collect()[0]

    def scored_agg(df):
        z = F.lit(w.w0) + F.lit(w.w1) * F.col("x1") + F.lit(w.w2) * F.col("x2")
        s = F.lit(0.5) * (F.lit(1.0) + z / (F.lit(1.0) + F.abs(z)))
        return df.agg(
            F.count("*").alias("n"),
            F.sum(F.floor(s * F.lit(1e9)).cast("decimal(38,0)")).alias("qscore"),
        )

    batch = scored_agg(feats).collect()[0]

    import os

    schema = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet").schema
    # the file stream source wants a DIRECTORY; stage the table file in
    stage = str(tmp_path)
    os.symlink(f"{SF_SMOKE}/lineitem.parquet", os.path.join(stage, "lineitem.parquet"))
    stream = spark.readStream.schema(schema).parquet(stage)
    q = (
        scored_agg(ml._featurize(stream))
        .writeStream.format("memory")
        .queryName("ml_stream_scores")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM ml_stream_scores").collect()
    assert len(rows) == 1
    assert rows[0]["n"] == batch["n"]
    assert rows[0]["qscore"] == batch["qscore"]


def test_threshold_sweep_stream_equals_batch(spark, tmp_path):
    """Serving-time evaluation: the ml3 confusion/threshold sweep run
    over a STREAM of rows (offline-trained frozen weights, 9-threshold
    broadcast grid, AvailableNow replay, complete mode) must equal the
    identical batch aggregate — the shape a training-data pipeline
    runs to watch a live operating point drift."""
    import os

    import chronicle_sniffer_spark.plans.ml as ml

    feats = ml._logreg_features(spark, SF_SMOKE)
    w = ml._logreg_weights(feats).collect()[0]

    def sweep(df):
        z = F.lit(w.w0) + F.lit(w.w1) * F.col("x1") + F.lit(w.w2) * F.col("x2")
        s = F.lit(0.5) * (F.lit(1.0) + z / (F.lit(1.0) + F.abs(z)))
        scored = df.select(s.alias("s"), "y")
        thr = spark.range(30, 71, 5).select(
            (F.col("id").cast("double") / F.lit(100.0)).alias("thr")
        )
        pos = F.col("y") == F.lit(1.0)
        hit = F.col("s") >= F.col("thr")
        return (
            scored.join(F.broadcast(thr))  # stream-static cross fan-out
            .groupBy("thr")
            .agg(
                F.sum(F.when(hit & pos, 1).otherwise(0)).cast("bigint").alias("tp"),
                F.sum(F.when(hit & ~pos, 1).otherwise(0)).cast("bigint").alias("fp"),
                F.sum(F.when(~hit & pos, 1).otherwise(0)).cast("bigint").alias("fn"),
                F.sum(F.when(~hit & ~pos, 1).otherwise(0)).cast("bigint").alias("tn"),
            )
        )

    batch = {r["thr"]: (r["tp"], r["fp"], r["fn"], r["tn"]) for r in sweep(feats).collect()}

    schema = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet").schema
    stage = str(tmp_path)
    os.symlink(f"{SF_SMOKE}/lineitem.parquet", os.path.join(stage, "lineitem.parquet"))
    stream = spark.readStream.schema(schema).parquet(stage)
    q = (
        sweep(ml._featurize(stream))
        .writeStream.format("memory")
        .queryName("ml3_stream_sweep")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["thr"]: (r["tp"], r["fp"], r["fn"], r["tn"])
        for r in spark.sql("SELECT * FROM ml3_stream_sweep").collect()
    }
    assert len(got) == 9
    assert got == batch


def test_nb_classify_covers_every_doc_and_ln_is_boundary_safe(spark, oracle):
    """(a) every document with at least one model-vocab token gets
    exactly one prediction; (b) the BM25-style boundary check for the
    quantized ln: every log-likelihood/prior input sits >= 1e-9 from
    the nearest 9-dp half-boundary, so a JVM-vs-libm last-ulp
    difference can never flip the quantization."""
    import math

    from chronicle_sniffer_spark.plans.ml import NB_MODEL_K, ml2b_nb_classify

    pdf = ml2b_nb_classify(spark, SF_SMOKE).toPandas()
    assert pdf["doc_id"].is_unique
    assert len(pdf) > 0
    assert set(pdf["correct"].unique()) <= {0, 1}
    # the model's 50-feature-per-class design is part of the contract
    assert NB_MODEL_K == 50

    # boundary-distance audit over the actual ln inputs
    rows = oracle.sql(
        """
        WITH cw AS (
          SELECT lang, word, count(*) AS c
          FROM (SELECT lang, unnest(string_split(text,' ')) AS word FROM documents)
          GROUP BY lang, word
        ),
        ct AS (SELECT lang, CAST(sum(c) AS BIGINT) AS tw FROM cw GROUP BY lang),
        v AS (SELECT count(DISTINCT word) AS vsz FROM cw),
        pri AS (SELECT lang, count(*) AS nd FROM documents GROUP BY lang),
        tot AS (SELECT count(*) AS ndocs FROM documents)
        SELECT CAST(c + 1 AS DOUBLE) / CAST(tw + vsz AS DOUBLE) AS x
        FROM cw JOIN ct USING (lang), v
        UNION ALL
        SELECT CAST(nd AS DOUBLE) / CAST(ndocs AS DOUBLE) FROM pri, tot
        """
    ).fetchall()
    for (x,) in rows:
        frac = abs(math.log(x)) * 1e9 % 1.0
        assert abs(frac - 0.5) > 1e-6, f"ln({x}) too close to a 9dp half-boundary"


def test_gbt_stumps_recover_planted_structure(spark):
    """The target has a planted slope (y = 1000x + noise/100), so a
    correct split search MUST cut mid-range in round 1 with leaves
    separated by roughly 1000x the threshold gap, and round 2 must
    refine below the first cut.  Also bit-identical under
    repartitioning (quantized residual sums)."""
    from chronicle_sniffer_spark.plans.ml import ml5_gbt_stumps

    pdf = ml5_gbt_stumps(spark, SF_SMOKE).toPandas().sort_values("round")
    r1, r2 = pdf.iloc[0], pdf.iloc[1]
    assert 15.0 <= r1["threshold"] <= 35.0  # mid-range cut
    assert r1["leaf_right"] - r1["leaf_left"] > 10_000  # planted slope found
    assert r2["leaf_left"] < r2["leaf_right"]  # residual still increasing in x

    import chronicle_sniffer_spark.plans.ml as ml

    feats = ml.load_table(spark, SF_SMOKE, "lineitem")
    a = ml5_gbt_stumps(spark, SF_SMOKE).collect()
    # repartition invariance: run through a different partitioning of
    # the same session (the plan re-reads the scan; partitioning of the
    # aggregate inputs changes with shuffle.partitions, sums must not)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    try:
        b = ml5_gbt_stumps(spark, SF_SMOKE).collect()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert feats is not None


def test_kmeans_centroids_bit_identical_under_repartition(spark):
    feats = _km_features(spark, SF_SMOKE)
    runs = [
        _km_centroids(feats.repartition(p)).collect()[0] for p in (1, 5, 23)
    ]
    assert runs[0] == runs[1] == runs[2]


def test_kmeans_output_partitions_the_data(spark):
    pdf = ml4_kmeans(spark, SF_SMOKE).toPandas().sort_values("cluster")
    feats_n = _km_features(spark, SF_SMOKE).count()
    assert list(pdf["cluster"]) == [1, 2, 3]
    assert pdf["n"].sum() == feats_n  # every point assigned exactly once
    assert (pdf["wcss"] >= 0).all()
    # centroids stay inside the unit square the features live in
    assert ((pdf["cx"] >= 0) & (pdf["cx"] <= 1)).all()
    assert ((pdf["cy"] >= 0) & (pdf["cy"] <= 1)).all()
