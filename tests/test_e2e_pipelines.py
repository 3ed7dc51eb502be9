"""End-to-end pipeline tests mirroring the reference's three flagship
workloads (SURVEY §3 E3 / BASELINE Part A): an image featurization +
solve chain (RandomPatchCifar shape), a text n-gram classification chain
(AmazonReviewsPipeline shape), and a random-feature + least-squares chain
(TimitPipeline shape). Each asserts an accuracy floor on synthetic,
seeded data — the reference's smoke-test pattern (SURVEY §5.4)."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

RNG = np.random.default_rng(31)


def _accuracy(df, label="label", pred="pred") -> float:
    from keystone_spark.operators.evaluation import accuracy

    return accuracy(df, label, pred)


def test_image_pipeline_conv_pool_solve(spark):
    """Images whose class is encoded in which half is brighter: random-filter
    convolution -> symmetric rectify -> sum-pool -> vectorize -> least
    squares one-hot solve -> argmax. The ConvNet-without-learning recipe."""
    from keystone_spark.operators.images import Convolver, Pooler
    from keystone_spark.operators.learning import LeastSquaresEstimator
    from keystone_spark.operators.stats import (
        ClassLabelIndicators,
        ImageVectorizer,
        MaxClassifier,
        SymmetricRectifier,
    )

    n, h, w = 80, 8, 8
    labels = RNG.integers(0, 2, size=n)
    rows = []
    for i in range(n):
        img = RNG.random((h, w, 1)) * 0.2
        if labels[i] == 1:
            img[:, : w // 2] += 1.0  # left half bright
        else:
            img[:, w // 2 :] += 1.0
        rows.append(
            (i, int(labels[i]),
             {"height": h, "width": w, "n_channels": 1,
              "data": img.astype(np.float32).ravel().tolist()})
        )
    df = spark.createDataFrame(
        rows,
        "id int, label int, image struct<height:int,width:int,n_channels:int,data:array<float>>",
    )

    filters = RNG.normal(size=(4, 3 * 3 * 1))  # 4 random 3x3 filters
    feats = (
        Pooler(stride=3, pool="sum")(
            Convolver(filters, 3, 3, 1)(df, "image", "conv"), "conv", "pooled"
        )
    )
    feats = ImageVectorizer("pooled", "features")(feats)
    feats = SymmetricRectifier("features")(feats)
    feats = ClassLabelIndicators(2)(feats)
    model = LeastSquaresEstimator("features", "y", reg_param=1e-6).fit(feats)
    scored = MaxClassifier("scores", "pred")(model(feats))
    assert _accuracy(scored) >= 0.95


def test_text_pipeline_ngrams_to_classifier(spark):
    """Two synthetic 'languages' with disjoint vocabularies: tokenize ->
    1..2-grams -> top-k sparse features -> densify -> logistic regression."""
    from keystone_spark.operators.learning import LogisticRegressionEstimator
    from keystone_spark.operators.nlp import (
        CommonSparseFeatures,
        NGramsFeaturizer,
        Tokenizer,
    )
    

    vocab_a = [f"alpha{i}" for i in range(20)]
    vocab_b = [f"beta{i}" for i in range(20)]
    rows = []
    for i in range(100):
        lbl = i % 2
        words = RNG.choice(vocab_a if lbl == 0 else vocab_b, size=12)
        rows.append((i, int(lbl), " ".join(words)))
    df = spark.createDataFrame(rows, "id int, label int, text string")

    chain = Tokenizer("text") | NGramsFeaturizer(1, 2)
    toks = chain(df)
    k = 64
    sparse_model = CommonSparseFeatures(k, in_col="ngrams").fit(toks)
    # presence multi-hot over the learned vocab indices
    feats = sparse_model(toks).withColumn(
        "features",
        F.transform(
            F.sequence(F.lit(0), F.lit(k - 1)),
            lambda i: F.when(F.array_contains("sparse", i), 1.0).otherwise(0.0),
        ),
    )
    model = LogisticRegressionEstimator().fit(feats)
    assert _accuracy(model(feats)) >= 0.98


def test_speech_shape_pipeline_random_features_solve(spark):
    """TIMIT shape: dense frames -> cosine random features -> one-hot least
    squares -> argmax. Classes are Gaussian blobs, so random Fourier
    features + a linear solve must separate them."""
    from keystone_spark.operators.learning import LeastSquaresEstimator
    from keystone_spark.operators.stats import (
        ClassLabelIndicators,
        CosineRandomFeatures,
        MaxClassifier,
        StandardScaler,
    )

    d, classes, per = 8, 3, 40
    centers = RNG.normal(size=(classes, d)) * 3
    X = np.vstack([c + RNG.normal(size=(per, d)) * 0.4 for c in centers])
    y = np.repeat(np.arange(classes), per)
    df = spark.createDataFrame(
        [(i, int(y[i]), X[i].tolist()) for i in range(len(X))],
        "id int, label int, features array<double>",
    )
    pipe_in = StandardScaler("features", "z").fit(df)(df)
    rf = CosineRandomFeatures(d, 256, gamma=0.5, seed=11, in_col="z")(pipe_in)
    rf = ClassLabelIndicators(classes)(rf)
    model = LeastSquaresEstimator("rf", "y", reg_param=1e-4).fit(rf)
    scored = MaxClassifier("scores", "pred")(model(rf))
    assert _accuracy(scored) >= 0.95


def test_text_classify_app_runs_above_chance(spark, sf_dir):
    """E3 entry-point shape: the example app must run end-to-end and beat
    the 5-class chance floor on the (weakly separable) synthetic fixture."""
    from keystone_spark.apps.text_classify import build_and_eval

    out = build_and_eval(spark, sf_dir, k=128)
    assert out["n_docs"] == 500
    assert len(out["classes"]) == 5
    assert out["accuracy"] > 0.25


def test_image_classify_app_whitened_patch_filters(spark):
    """RandomPatchCifar shape as an app: patch sampling -> ZCA -> conv with
    whitened-patch filters -> pool -> solve must separate the synthetic
    two-class images."""
    from keystone_spark.apps.image_classify import build_and_eval

    out = build_and_eval(spark, n=120, n_filters=4)
    assert out["filter_bank"] == [4, 9]
    assert out["accuracy"] >= 0.95


def test_image_classify_app_sift_fisher_vector(spark):
    """ImageNetSiftLcsFV shape as an app: dense SIFT -> GMM -> FisherVector
    -> solve must separate the synthetic two-class images."""
    from keystone_spark.apps.image_classify import build_and_eval

    out = build_and_eval(spark, n=120, featurizer="sift")
    assert out["featurizer"] == "sift"
    assert out["accuracy"] >= 0.95


@pytest.mark.slow
def test_curate_corpus_app_monotone_stages(spark, sf_dir):
    """North-star LLM curation pipeline: stage counts must be monotonically
    non-increasing and near-dedup must actually drop the fixture's planted
    near-duplicates."""
    from keystone_spark.apps.curate_corpus import curate

    out = curate(spark, sf_dir)
    assert out["docs_in"] >= out["after_exact_dedup"] >= out["after_near_dedup"]
    assert out["after_near_dedup"] >= out["after_quality_filter"]
    assert out["after_near_dedup"] < out["docs_in"]  # near-dups exist
    assert out["ws_tokens"] > 0 and out["bpe_tokens"] > 0
    # packing: no multi-doc pack may exceed the budget
    assert out["n_packs"] > 0
    assert out["over_budget_packs"] == 0


@pytest.mark.slow
def test_curate_corpus_app_writes_shards(spark, sf_dir, tmp_path):
    """--out writes the packed corpus partitioned by predicted language;
    reading one language back prunes the rest and budgets hold."""
    import os

    import pyspark.sql.functions as F

    from keystone_spark.apps.curate_corpus import curate

    out_dir = str(tmp_path / "shards")
    out = curate(spark, sf_dir, pack_budget=512, out_dir=out_dir)
    assert out["shards_written"]
    parts = [d for d in os.listdir(out_dir) if d.startswith("lang_pred=")]
    assert len(parts) == out["langs_seen"]
    back = spark.read.parquet(out_dir)
    assert back.count() == out["after_quality_filter"]
    tot = (
        back.groupBy("lang_pred", "pack_id")
        .agg(F.sum("ws_toks").alias("t"), F.count("*").alias("n"))
        .where((F.col("t") > 512) & (F.col("n") > 1))
    )
    assert tot.count() == 0


def test_ann_index_app(spark, sf_dir, tmp_path):
    """ANN index lifecycle app: build-once (second call reuses the saved
    index), recall over the exact kernel clears the declared threshold,
    and the accounting reports the real compression ratio."""
    from keystone_spark.apps.ann_index import run

    idx_dir = str(tmp_path / "annidx")
    first = run(spark, sf_dir, idx_dir, k=10, n_probe_cells=8, refine=8)
    assert first["built"] is True
    assert first["recall_at_k"] >= 0.5
    assert first["rows_per_probe"] == 10
    assert first["compression_x"] == 16.0

    again = run(spark, sf_dir, idx_dir)
    assert again["built"] is False  # fit-once: reused the saved index
    assert again["recall_at_k"] == first["recall_at_k"]


def test_quality_classifier_pipeline(spark, sf_dir):
    """DCLM/fasttext-style quality classifier, end to end on the fixture
    corpus: codegen gopher/quality signals as the feature vector, a
    planted low-quality cohort (symbol + digit spam on doc_id % 3), a
    LogisticRegressionEstimator fit on even doc_ids, evaluated on odd —
    the learned filter must recover the planted signal near-perfectly
    (majority baseline is ~0.67)."""
    from keystone_spark.functions.text import gopher_rules
    from keystone_spark.operators.learning import LogisticRegressionEstimator

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    spam = F.concat(
        F.col("text"),
        F.lit(" # # # # "),
        F.repeat(F.lit(" 1234567890123456789012345"), 10),
    )
    labeled = d.select(
        "doc_id",
        F.when(F.col("doc_id") % 3 == 0, spam).otherwise(F.col("text"))
        .alias("text"),
        (F.col("doc_id") % 3 == 0).cast("long").alias("label"),
    )
    feats = labeled.withColumn("g", gopher_rules("text")).select(
        "doc_id", "label",
        F.array(
            F.col("g.mean_word_len"), F.col("g.symbol_ratio"),
            F.col("g.alpha_ratio"), F.col("g.n_words").cast("double"),
        ).alias("features"),
    )
    train = feats.where(F.col("doc_id") % 2 == 0)
    test = feats.where(F.col("doc_id") % 2 == 1)
    model = LogisticRegressionEstimator(max_iter=50).fit(train)
    acc = _accuracy(model(test))
    assert acc >= 0.95, acc


def test_maintain_app_cli(spark, tmp_path):
    """maintain CLI: compact emits file accounting; dq exits non-zero on
    planted violations and zero on a clean table. The four subcommands
    are independent JVMs over pre-built fixtures, so they run
    concurrently (each is ~16 s of session bootstrap + one tiny job;
    serially they dominated the suite's pytest budget)."""
    import json
    import os
    import subprocess
    import sys

    from pyspark.sql import functions as F

    from keystone_spark.operators.nlp import Bm25Index

    # --- fixtures first, all of them -------------------------------
    src = str(tmp_path / "frag")
    spark.range(2000).selectExpr("id", "id % 5 AS k").repartition(
        16
    ).write.parquet(src)

    bad = str(tmp_path / "bad")
    spark.range(10).selectExpr(
        "CAST(NULL AS BIGINT) AS id", "id AS k"
    ).write.parquet(bad)

    # index-compact fixture: an appended-to Bm25Index (the OPTIMIZE
    # pass must preserve the tbucket layout generic compact would drop)
    docs = spark.range(20).select(
        F.col("id").alias("doc_id"),
        F.array(F.concat(F.lit("w"), (F.col("id") % 4).cast("string")),
                F.lit("c")).alias("toks"),
    )
    ipath = str(tmp_path / "bm25_idx")
    Bm25Index.build(docs.where("doc_id < 10"), n_term_buckets=4).save(ipath)
    Bm25Index.add(spark, ipath, docs.where("doc_id >= 10"))

    # --- all four CLI JVMs in flight at once -----------------------
    def launch(*argv):
        return subprocess.Popen(
            [sys.executable, "-m", "keystone_spark.apps.maintain", *argv],
            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
            cwd=REPO,
        )

    procs = {
        "compact": launch("compact", "--src", src, "--dst",
                          str(tmp_path / "out"), "--target-mb", "128"),
        "dq_clean": launch("dq", "--src", src, "--not-null", "k",
                           "--unique", "id"),
        "dq_bad": launch("dq", "--src", bad, "--not-null", "id"),
        "index_compact": launch("index-compact", "--path", ipath,
                                "--kind", "bm25"),
    }
    res = {}
    for k, p in procs.items():
        out, err = p.communicate()
        res[k] = (p.returncode, out, err)

    rc, out, err = res["compact"]
    assert rc == 0, err[-2000:]
    stats = json.loads(out.strip().splitlines()[-1])
    assert stats["files_before"] == 16 and stats["files_after"] <= 2

    rc, out, err = res["dq_clean"]
    assert rc == 0, err[-2000:]

    rc, out, err = res["dq_bad"]
    assert rc == 1, (out, err[-500:])

    rc, out, err = res["index_compact"]
    assert rc == 0, err[-2000:]
    stats = json.loads(out.strip().splitlines()[-1])
    assert stats["postings_files_after"] < stats["postings_files_before"]
    assert any(x.startswith("tbucket=") for x in
               os.listdir(os.path.join(ipath, "postings")))


@pytest.mark.slow
def test_maintain_index_delete_cli(spark, tmp_path):
    """index-delete (r11): the takedown entry point — ids land as
    tombstones (string CLI input cast to the stored id type), search
    hides them immediately, and index-compact purges the bytes. Driven
    end-to-end on an IvfIndex; the kind map covers all four families."""
    import json
    import subprocess
    import sys

    from pyspark.sql import functions as F

    from keystone_spark.operators.similarity import IvfIndex
    from keystone_spark.sources import load_table

    def run(*argv):
        return subprocess.run(
            [sys.executable, "-m", "keystone_spark.apps.maintain", *argv],
            capture_output=True, text=True, cwd=REPO,
        )

    e = load_table(spark, "embeddings", "/root/testdata/sf0.001")
    path = str(tmp_path / "ivf_cli")
    IvfIndex.build(e, n_cells=8).save(path)
    probes = e.limit(3)
    before = IvfIndex.load(spark, path).search(probes, k=5, n_probe_cells=8)
    victims = sorted(r.vec_id for r in
                     before.select("vec_id").distinct().limit(2).collect())

    r = run("index-delete", "--path", path, "--kind", "ivf",
            "--ids", ",".join(str(v) for v in victims))
    assert r.returncode == 0, r.stderr[-2000:]
    stats = json.loads(r.stdout.strip().splitlines()[-1])
    assert stats["tombstones_added"] == 2

    after = IvfIndex.load(spark, path).search(probes, k=5, n_probe_cells=8)
    served = {r.vec_id for r in after.select("vec_id").distinct().collect()}
    assert not served & set(victims)

    r = run("index-compact", "--path", path, "--kind", "ivf")
    assert r.returncode == 0, r.stderr[-2000:]
    kept = spark.read.parquet(f"{path}/corpus")
    assert kept.where(F.col("vec_id").isin(victims)).count() == 0
