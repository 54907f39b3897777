"""train_match_model / apply_ml_matcher: the pyspark.ml supervised
matcher over featurize_pairs output — separable-corpus F1, null
imputation, prediction determinism, model save/load round-trip."""

from __future__ import annotations

import pytest

from sparksimjoin.features import featurize_pairs
from sparksimjoin.ml import apply_ml_matcher, train_match_model


def _labeled_feature_pairs(spark):
    """Blocked-candset stand-in: every l<r pair of a tiny corpus where
    entity duplicates share most tokens and non-duplicates share
    none — separable on jaccard_ws by a wide margin."""
    ents = {
        0: ["acme rocket supplies inc", "acme rocket supplies"],
        1: ["zylker data systems llc", "zylker data systems"],
        2: ["northern pine furniture co", "northern pine furniture"],
        3: ["blue river analytics", "blue river analytics ltd"],
        4: ["quantum widget factory", "quantum widget factory gmbh"],
    }
    rows, eid = [], {}
    rid = 0
    for e, names in ents.items():
        for n in names:
            rows.append((rid, n))
            eid[rid] = e
            rid += 1
    df = spark.createDataFrame(rows, ["id", "name"])
    cand = df.alias("a").crossJoin(df.alias("b")).selectExpr(
        "a.id AS l_id", "b.id AS r_id").where("l_id < r_id")
    feats = featurize_pairs(cand, "l_id", "r_id", df, df, "id", "id",
                            "name", "name")
    from pyspark.sql import functions as F

    lbl = spark.createDataFrame(
        [(i, e) for i, e in eid.items()], ["rid", "eid"])
    feats = (
        feats.join(lbl.selectExpr("rid AS l_id", "eid AS le"), "l_id")
        .join(lbl.selectExpr("rid AS r_id", "eid AS re"), "r_id")
        .withColumn("label", (F.col("le") == F.col("re")).cast("int"))
        .drop("le", "re")
    )
    return feats, eid


@pytest.fixture(scope="module")
def labeled(spark):
    """(feats, eid), the features cached once for the whole module."""
    feats, eid = _labeled_feature_pairs(spark)
    feats = feats.cache()
    feats.count()
    yield feats, eid
    feats.unpersist()


@pytest.fixture(scope="module")
def logistic(labeled):
    """The one seed-7 logistic model shared by the tests that only
    score it (``train_match_model`` strips its summary, so scoring
    never mutates it)."""
    return train_match_model(labeled[0], seed=7)


@pytest.mark.parametrize("model", ["logistic", "random_forest"])
def test_separable_corpus_perfect_f1(labeled, logistic, model):
    feats, eid = labeled
    m = logistic if model == "logistic" else train_match_model(
        feats, model=model, seed=7)
    out = apply_ml_matcher(m, feats.drop("label"))
    got = {(r.l_id, r.r_id) for r in out.collect() if r._match == 1}
    want = {(a, b) for a in eid for b in eid if a < b and eid[a] == eid[b]}
    assert got == want
    # probabilities are well-separated, not boundary-straddling
    probs = {(r.l_id, r.r_id): r._match_prob for r in out.collect()}
    assert all(probs[p] > 0.8 for p in want)
    assert all(probs[p] < 0.2 for p in set(probs) - want)


def test_prediction_determinism(labeled):
    feats, _ = labeled
    m1 = train_match_model(feats, seed=7)
    m2 = train_match_model(feats, seed=7)
    o1 = sorted((r.l_id, r.r_id, r._match)
                for r in apply_ml_matcher(m1, feats).collect())
    o2 = sorted((r.l_id, r.r_id, r._match)
                for r in apply_ml_matcher(m2, feats).collect())
    assert o1 == o2


def test_null_features_are_imputed(labeled, logistic):
    feats, _ = labeled
    m = logistic
    from pyspark.sql import functions as F

    # knock out a feature on some rows: scoring must not raise and
    # must still emit a probability for every input row
    holed = feats.withColumn(
        "jaro", F.when(F.col("l_id") % 3 == 0, None).otherwise(F.col("jaro"))
    )
    out = apply_ml_matcher(m, holed)
    assert out.count() == feats.count()
    assert out.where(F.col("_match_prob").isNull()).count() == 0


def test_model_save_load_roundtrip(labeled, logistic, tmp_path):
    from pyspark.ml import PipelineModel

    feats, _ = labeled
    m = logistic
    path = str(tmp_path / "match_model")
    m.write().overwrite().save(path)
    m2 = PipelineModel.load(path)
    a = sorted((r.l_id, r.r_id, r._match)
               for r in apply_ml_matcher(m, feats).collect())
    b = sorted((r.l_id, r.r_id, r._match)
               for r in apply_ml_matcher(m2, feats).collect())
    assert a == b


def test_validation_errors(labeled):
    feats, _ = labeled
    with pytest.raises(ValueError):
        train_match_model(feats, model="svm")
    with pytest.raises(AssertionError):
        train_match_model(feats, feature_cols=["not_a_feature"])
    with pytest.raises(AssertionError):
        train_match_model(feats.drop("label"))


def test_sample_pairs_deterministic_and_stratified(spark):
    from pyspark.sql import functions as F

    from sparksimjoin.ml import sample_pairs

    rows = [(i, j, (i * 31 + j) % 100 / 100.0)
            for i in range(40) for j in range(i + 1, 40)]
    cand = spark.createDataFrame(rows, ["l_id", "r_id", "score"])

    s1 = sorted(map(tuple, sample_pairs(cand, "l_id", "r_id", 50).collect()))
    s2 = sorted(map(tuple, sample_pairs(
        cand.repartition(7), "l_id", "r_id", 50).collect()))
    assert s1 == s2  # partitioning-invariant
    assert len(s1) == 50
    s3 = sorted(map(tuple, sample_pairs(cand, "l_id", "r_id", 50,
                                        seed=99).collect()))
    assert s3 != s1  # seed actually changes the draw

    strat = sample_pairs(cand, "l_id", "r_id", 50, stratify_col="score",
                         n_strata=10)
    got = strat.collect()
    assert len(got) == 50
    buckets = {min(9, int(r.score * 10)) for r in got}
    assert len(buckets) == 10  # every score decile represented
    # deterministic too
    again = sample_pairs(cand.repartition(5), "l_id", "r_id", 50,
                         stratify_col="score", n_strata=10).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, again))


def test_sample_pairs_empty_and_degenerate(spark):
    from sparksimjoin.ml import sample_pairs

    empty = spark.createDataFrame([], "l_id long, r_id long, score double")
    assert sample_pairs(empty, "l_id", "r_id", 10,
                        stratify_col="score").count() == 0
    # constant stratify column: single bucket, still returns rows
    one = spark.createDataFrame([(1, 2, 0.5), (1, 3, 0.5), (2, 3, 0.5)],
                                ["l_id", "r_id", "score"])
    out = sample_pairs(one, "l_id", "r_id", 10, stratify_col="score",
                       n_strata=5).collect()
    assert 1 <= len(out) <= 3


def test_ml_survives_session_observation(spark, labeled):
    """Round-4 regression: Spark 4.1's classic SparkSession holds a
    lazily-materialized, NON-transient, non-serializable
    ``observationManager``. It is null (and harmless) until the
    session's first ``Dataset.observe()`` — which this engine issues
    routinely (stop-token metrics, incremental vocab counters). A
    fitted pyspark.ml model whose ``trainingSummary`` is still
    attached pins the session into the scoring task closure, so
    scoring then dies with ``NotSerializableException:
    ObservationManager``. train_match_model/apply_ml_matcher strip
    summaries (ml.py::_strip_training_summaries); this test poisons
    the session FIRST and asserts the full fit+score path still runs.
    (A LocalRelation-only plan would dodge the bug via driver-side
    ConvertToLocalRelation evaluation — _labeled_feature_pairs goes
    through real joins/shuffles, and the module's cached copy is
    scanned by executor tasks, which is what makes this a regression
    test and not a vacuous one.)"""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    spark.range(100).observe(obs, F.count(F.lit(1)).alias("n")).count()
    assert obs.get["n"] == 100  # observation really registered

    feats, eid = labeled
    m = train_match_model(feats, seed=7)
    assert not m.stages[-1].hasSummary  # summary stripped at fit time
    out = apply_ml_matcher(m, feats.drop("label"))
    got = {(r.l_id, r.r_id) for r in out.collect() if r._match == 1}
    want = {(l, r) for l in eid for r in eid if l < r and eid[l] == eid[r]}
    assert got == want


def test_apply_warns_once_when_stripping_caller_summary(labeled, logistic):
    """apply_ml_matcher mutates a caller-supplied model in place
    (clearing JVM training summaries). That trade-off is deliberate
    (see _strip_training_summaries), but it must be AUDIBLE: exactly
    one UserWarning per call when a summary actually gets cleared,
    and silence when the model was already stripped (the
    train_match_model path)."""
    import warnings

    from pyspark.ml import Pipeline
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import VectorAssembler

    from sparksimjoin.ml import _feature_cols, _prep

    feats, _ = labeled
    cols = _feature_cols(feats, None)
    asm = VectorAssembler(inputCols=cols, outputCol="__features")
    clf = LogisticRegression(featuresCol="__features", labelCol="label")
    raw = Pipeline(stages=[asm, clf]).fit(_prep(feats, cols, 0.0))
    assert raw.stages[-1].hasSummary  # summary attached pre-call
    with pytest.warns(UserWarning, match="training summary"):
        apply_ml_matcher(raw, feats.drop("label")).count()
    assert not raw.stages[-1].hasSummary  # and it really was cleared
    # second call: already stripped -> no warning
    with warnings.catch_warnings():
        warnings.simplefilter("error", UserWarning)
        apply_ml_matcher(raw, feats.drop("label")).count()
    # the in-house training path never warns (strips at fit time)
    with warnings.catch_warnings():
        warnings.simplefilter("error", UserWarning)
        apply_ml_matcher(logistic, feats.drop("label")).count()
