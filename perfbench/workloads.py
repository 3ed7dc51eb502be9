"""The benchmark's workloads. Each one drives the engine only through its
public API (``__spark_entry__.queries()``, ``apps.*``,
``plans.pipeline.Pipeline``, the stored-index classes) and checks what
it gets back.

A workload has ``setup`` (part of set-up time), ``run_pass`` (one timed
pass of operations, each through ``Bench.attempt``), ``check`` (output
checks made once, outside timing) and ``layer_metrics`` (its own
per-layer figures from the recorded operations).
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
from typing import Callable, NamedTuple

import numpy as np

QUERY_SLOTS = (
    ("b1_filtered_agg", "group_agg"),
    ("b2_star_join", "multi_join"),
    ("b3_topk_window", "topk_per_group"),
    ("b4_rollup", "rollup"),
    ("b5_anti_join", "anti_join"),
    ("b6_token_topk", "token_counts"),
    ("b7_scaler_moments", "scaler_moments"),
    ("b8_confusion", "confusion_matrix"),
    ("b9_dedup", "dedup_exact"),
    ("b10_cosine_topk", "cosine_topk"),
    ("b11_event_window", "event_hourly_window"),
    ("b12_sessionization", "sessionization"),
)
FAMILIES = ("ivf", "ivfpq")
INDEX_OPS = ("build", "add", "delete", "compact", "search")


def noop_write(df) -> None:
    """Materialize every output column with no sink IO, then release the
    query's own persisted inputs (the ``_keystone_caches`` contract)."""
    df.write.format("noop").mode("overwrite").save()
    release(df)


def release(df) -> None:
    for c in getattr(df, "_keystone_caches", []):
        c.unpersist()


def rows_digest(rows, ndigits: int = 6) -> str:
    """Order-independent digest of result rows; floats rounded."""
    canon = sorted(
        repr(tuple(round(v, ndigits) if isinstance(v, float) else v for v in r))
        for r in rows
    )
    return hashlib.sha1("\n".join(canon).encode()).hexdigest()


def dir_size(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``."""
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(d, n))
    return files, size


def oracle_compare(name: str, got, want, rel_tol: float = 1e-9) -> list[str]:
    """``tools/verify_oracle.compare``, except that two float cells also
    match when they agree to ``rel_tol``. Spark and DuckDB sum doubles in
    different orders, so a ROUND(sum, 6) of ~1e9 can differ in its last
    bits (3 ulps on ``multi_join`` over the sf0.1 fixture); a wrong row
    or aggregate differs by far more."""
    import math

    from tools import verify_oracle as vo

    errs = vo.compare(name, got, want)
    if not errs or len(got) != len(want) or sorted(got.columns) != sorted(want.columns):
        return errs
    s, o = vo.canon(got), vo.canon(want)
    bad = []
    for c in s.columns:
        if str(s[c].dtype) != str(o[c].dtype):
            bad.append(f"dtype[{c}] spark={s[c].dtype} oracle={o[c].dtype}")
        for i, (x, y) in enumerate(zip(s[c].tolist(), o[c].tolist())):
            if vo.values_equal(x, y):
                continue
            if isinstance(x, float) and isinstance(y, float) and math.isclose(
                    x, y, rel_tol=rel_tol, abs_tol=rel_tol):
                continue
            bad.append(f"value[{c}][row{i}] spark={x!r} oracle={y!r}")
    return bad


class Workload:
    name = ""
    tables: tuple[str, ...] = ()  # the input tables it reads

    def setup(self, b) -> None:
        pass

    def run_pass(self, b) -> None:
        raise NotImplementedError

    def check(self, b) -> None:
        pass

    def layer_metrics(self, b, pass_no: int) -> dict[str, float]:
        """This workload's own per-layer figures for one timed pass."""
        return {f"query.{o.name}_s": o.seconds
                for o in b.rec.pass_ops(pass_no) if o.kind == "query"}

    def end_to_end(self, b, passes: list[int]) -> dict[str, list[float]]:
        """Workload-specific end-to-end samples, one per timed pass."""
        return {}


class QueryMix(Workload):
    """bench.py's twelve declared queries, in a seed-chosen order."""

    name = "query_mix"
    tables = ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings")

    def setup(self, b) -> None:
        import __spark_entry__ as entry

        self.entry = entry
        self.qs = entry.queries()
        self.order = list(QUERY_SLOTS)
        random.Random(b.seed).shuffle(self.order)

    def run_pass(self, b) -> None:
        for slot, key in self.order:
            def op(h, key=key):
                with h.phase("construct"):
                    df = self.qs[key](b.spark, b.data_dir)
                h.catalyst(df)
                with h.phase("exec"):
                    noop_write(df)
            b.attempt("query", slot, op)

    def check(self, b) -> None:
        """Every query against its DuckDB oracle, through the repo's own
        ``tools/verify_oracle.py`` loader and comparison."""
        from tools.verify_oracle import load_duck

        con = load_duck(b.data_dir)
        oracles = self.entry.oracle_sql()
        for slot, key in QUERY_SLOTS:
            def chk(key=key):
                df = self.qs[key](b.spark, b.data_dir)
                got = df.toPandas()
                release(df)
                return oracle_compare(key, got, con.execute(oracles[key]).df())
            b.check(f"oracle.{slot}", chk)
        con.close()


class FitPipeline(Workload):
    """KeystoneML's shape: a text Pipeline (Tokenizer ->
    CommonSparseFeatures -> binary features -> logistic regression)
    fitted on a seed-chosen 96% of ``documents`` and applied to the rest,
    then the image-classification app.

    The fixture's ``lang`` and ``source`` columns are drawn independently
    of the text, so a model of either can only learn the majority class.
    The label is therefore read from the text: a document is class 1 when
    it holds at least ``LABEL_MIN`` of the ``LABEL_WORDS`` (54% of the
    sf0.1 documents). That is a linear threshold over the binary token
    features, so a working fit scores far above the majority share and a
    fit that ignores its input does not."""

    name = "fit_pipeline"
    tables = ("documents",)
    n_features = 256
    test_share = 25  # one document in 25 is held out: ~200 at sf0.1
    LABEL_WORDS = ("spark", "join", "vector", "stream", "hash", "window", "merge", "filter")
    LABEL_MIN = 7

    def setup(self, b) -> None:
        from pyspark.sql import functions as F

        from keystone_spark.sources import load_table

        docs = load_table(b.spark, "documents", b.data_dir)
        words = F.array(*[F.lit(w) for w in self.LABEL_WORDS])
        present = F.size(F.array_intersect(F.split("text", " "), words))
        labeled = docs.select(
            "doc_id", "text", (present >= self.LABEL_MIN).cast("int").alias("label"))
        test = F.pmod(F.xxhash64("doc_id", F.lit(b.seed)), F.lit(self.test_share)) == 0
        self.train, self.test = labeled.where(~test), labeled.where(test)
        self.per_pass: dict[int, tuple] = {}

    def _pipeline(self):
        from pyspark.sql import functions as F

        from keystone_spark.operators.learning import LogisticRegressionEstimator
        from keystone_spark.operators.nlp import CommonSparseFeatures, Tokenizer
        from keystone_spark.plans.pipeline import Pipeline, Transformer

        k = self.n_features

        def binary(df):
            return df.withColumn("features", F.transform(
                F.sequence(F.lit(0), F.lit(k - 1)),
                lambda i: F.when(F.array_contains("sparse", i), 1.0).otherwise(0.0)))

        return Pipeline([
            Tokenizer("text"),
            CommonSparseFeatures(k, in_col="tokens"),
            Transformer(binary, "binary_features"),
            LogisticRegressionEstimator(),
        ])

    def run_pass(self, b) -> None:
        from keystone_spark.apps.image_classify import build_and_eval
        from keystone_spark.operators.evaluation import accuracy

        def fit(h):
            with h.phase("fit"):
                return self._pipeline().fit(self.train)

        fitted = b.attempt("fit", "text", fit)
        text = None
        if fitted is not None:
            def apply(h):
                with h.phase("construct"):
                    scored = fitted(self.test)
                h.catalyst(scored)
                with h.phase("apply"):
                    acc = accuracy(scored)
                    preds = sorted(r[0] for r in scored.select("pred").distinct().collect())
                return round(acc, 6), tuple(preds)
            text = b.attempt("apply", "text", apply)

        def image(h):
            with h.phase("fit"):
                return build_and_eval(b.spark)["accuracy"]
        self.per_pass[b.rec.pass_no] = (text, b.attempt("fit", "image", image))

    def check(self, b) -> None:
        results = list(self.per_pass.values())

        def same_every_pass():
            return [] if len(set(results)) == 1 else [f"results differ across passes: {results}"]

        def learned():
            counts = [r[1] for r in self.test.groupBy("label").count().collect()]
            majority = max(counts) / sum(counts)
            errs = []
            for text, image in results:
                if text is None or image is None:
                    errs.append("an operation returned no result")
                    continue
                acc, preds = text
                if preds != (0, 1):
                    errs.append(f"predicted classes {preds}, not both of (0, 1)")
                if acc < majority + MIN_LIFT:
                    errs.append(f"text accuracy {acc} < majority share {majority:.3f} "
                                f"+ {MIN_LIFT}")
                if image < 0.9:
                    errs.append(f"image accuracy {image} < 0.9")
            n_docs = sum(counts) + self.train.count()
            pinned = TEXT_RESULTS.get(b.seed) if n_docs == FIXTURE_DOCS else None
            if pinned is not None and results and results[0][0] != pinned:
                errs.append(f"text (accuracy, classes) {results[0][0]} != pinned {pinned}")
            return errs

        b.check("fit.same_every_pass", same_every_pass)
        b.check("fit.learned_and_pinned", learned)

    def layer_metrics(self, b, pass_no: int) -> dict[str, float]:
        ops = b.rec.pass_ops(pass_no)
        fit = [p for o in ops for p in o.phases if p.name == "fit"]
        return {
            "plans.fit_s": sum(p.seconds for p in fit),
            "plans.fit_jobs": sum(len(p.jobs) for p in fit),
            "plans.apply_s": sum(o.seconds for o in ops if o.kind == "apply"),
        }

    def end_to_end(self, b, passes: list[int]) -> dict[str, list[float]]:
        text = [o for o in b.rec.ops if o.pass_no in passes and o.name == "text"]
        return {"fit_s": [o.seconds for o in text if o.kind == "fit"],
                "apply_s": [o.seconds for o in text if o.kind == "apply"]}


# a fitted text model must beat always-the-majority-class by this much
MIN_LIFT = 0.2
# (accuracy, predicted classes) of the text pipeline on the test split of
# the sf0.1 fixture (5,000 documents), per seed, as measured; other seeds
# and inputs get the checks above only. The label is a linear threshold
# of the binary features, so the unregularised fit separates it exactly
FIXTURE_DOCS = 5000
TEXT_RESULTS: dict[int, tuple] = dict.fromkeys(range(1, 11), (1.0, (0, 1)))


class Family(NamedTuple):
    """One stored-index family's lifecycle calls."""

    build: Callable    # (df, path)
    add: Callable      # (path, df)
    delete: Callable   # (path, ids)
    compact: Callable  # (path)
    search: Callable   # (path) -> DataFrame


K = 10  # neighbours per index search
# share of the exact top-K an index search must find: a floor well under
# what the sf0.1 fixture gives (0.69 for IVF, 0.745 for IVF-PQ at seed 1)
# and far over what ids served at random would find (about 0.005)
MIN_RECALL = 0.5


class IndexMaintain(Workload):
    """The stored-index lifecycle of the two vector families (IVF and
    IVF-PQ over ``embeddings``): build on the low half of the ids, add the
    high half, delete ``N_DELETE`` live ids, search, compact, search again.
    Every pass starts from an empty directory.

    BM25 and MinHash are left out, and there is one round of add, delete
    and search, so that a run fits the benchmark's time budget: an index
    operation costs about 1-2 s on 4 cores whatever the input size, and a
    BM25 cycle alone took 42 s at sf0.1."""

    name = "index_maintain"
    tables = ("embeddings",)
    N_DELETE = 50
    N_PROBES = 20

    def setup(self, b) -> None:
        from pyspark.sql import functions as F

        from keystone_spark.sources import load_table

        self.spark = b.spark
        # one fresh directory per pass, all removed after the checks
        self.root = os.path.join(b.work, "indexes")
        shutil.rmtree(self.root, ignore_errors=True)
        self.emb = load_table(b.spark, "embeddings", b.data_dir)
        n, lo, hi = self.emb.agg(F.count("*"), F.min("vec_id"), F.max("vec_id")).first()
        if (lo, hi) != (0, n - 1):
            raise ValueError(f"embeddings ids run {lo}..{hi} over {n} rows, not 0..{n - 1}")
        self.plan = self._plan(np.random.default_rng([b.seed, 7]), n)
        self.probes = self.emb.where(F.col("vec_id").isin(self.plan["probes"]))
        self.per_pass: dict[int, dict] = {}
        self.final_rows: dict[str, list] = {}  # of the last pass

    def _plan(self, rng, n: int) -> dict:
        """Build ids (the low half), the add batch (the high half), delete
        ids drawn from all of them, and probes drawn from the survivors."""
        half = n // 2
        deleted = sorted(int(x) for x in rng.choice(n, self.N_DELETE, replace=False))
        live = sorted(set(range(n)) - set(deleted))
        probes = sorted(int(x) for x in rng.choice(live, self.N_PROBES, replace=False))
        return {"half": half, "deleted": deleted, "deleted_set": set(deleted),
                "probes": probes, "live": live}

    def _family(self, fam: str) -> Family:
        from keystone_spark.operators.similarity import IvfIndex, IvfPqIndex

        spark = self.spark
        if fam == "ivf":
            return Family(
                lambda df, p: IvfIndex.build(df, n_cells=16).save(p),
                lambda p, df: IvfIndex.add(spark, p, df),
                lambda p, ids: IvfIndex.delete(spark, p, ids),
                lambda p: IvfIndex.compact(spark, p),
                lambda p: IvfIndex.load(spark, p).search(
                    self.probes, k=K, n_probe_cells=6))
        return Family(
            lambda df, p: IvfPqIndex.build(df, n_cells=16, m=16, ks=32).save(p),
            lambda p, df: IvfPqIndex.add(spark, p, df),
            lambda p, ids: IvfPqIndex.delete(spark, p, ids),
            lambda p: IvfPqIndex.compact(spark, p),
            lambda p: IvfPqIndex.load(spark, p).search(
                self.emb, self.probes, k=K, n_probe_cells=8, refine=8))

    def _cycle(self, b, fam: str, path: str) -> dict:
        from pyspark.sql import functions as F

        f, plan, vid = self._family(fam), self.plan, F.col("vec_id")

        def write(kind, fn):
            def op(h):
                with h.phase("write"):
                    return fn()
            return b.attempt(f"index.{fam}.{kind}", kind, op)

        def search(name):
            def op(h):
                with h.phase("construct"):
                    df = f.search(path)
                h.catalyst(df)
                with h.phase("read"):
                    rows = df.collect()
                release(df)
                return rows
            return b.attempt(f"index.{fam}.search", name, op)

        write("build", lambda: f.build(self.emb.where(vid < plan["half"]), path))
        write("add", lambda: f.add(path, self.emb.where(vid >= plan["half"])))
        write("delete", lambda: f.delete(path, plan["deleted"]))
        before = search("search")
        write("compact", lambda: f.compact(path))
        after = search("search_final")
        files, size = dir_size(path)
        self.final_rows[fam] = after
        return {"pre_compact": None if before is None else rows_digest(before),
                "final": None if after is None else rows_digest(after),
                "files": files, "bytes": size}

    def run_pass(self, b) -> None:
        root = os.path.join(self.root, f"pass{b.rec.pass_no}")
        self.per_pass[b.rec.pass_no] = {
            fam: self._cycle(b, fam, os.path.join(root, fam)) for fam in FAMILIES}

    def check(self, b) -> None:
        passes = list(self.per_pass.values())
        unit = self._unit_vectors()
        for fam in FAMILIES:
            digests = [p[fam]["final"] for p in passes]
            b.check(f"index.{fam}.same_every_pass",
                    lambda d=digests: [] if len(set(d)) == 1 and d[0]
                    else [f"final search digests {d}"])
            # a rebuild retrains the centroids, so compact is held to what
            # the tombstoned index already served, and the served rows to
            # an exact search over the surviving vectors
            b.check(f"index.{fam}.compact_keeps_results",
                    lambda fam=fam: [f"pass {i}: post-compact differs from pre-compact"
                                     for i, p in enumerate(passes)
                                     if p[fam]["final"] != p[fam]["pre_compact"]])
            b.check(f"index.{fam}.against_exact_search",
                    lambda fam=fam: self._against_exact(fam, unit, passes[-1][fam]))
        shutil.rmtree(self.root, ignore_errors=True)

    def _unit_vectors(self) -> np.ndarray:
        """Every embedding scaled to unit length, row i holding vec_id i."""
        pdf = self.emb.select("vec_id", "embedding").toPandas().sort_values("vec_id")
        x = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        return x / np.linalg.norm(x, axis=1, keepdims=True)

    def _against_exact(self, fam: str, unit: np.ndarray, res: dict) -> list[str]:
        """The final search serves only surviving ids, k per probe, with
        their exact cosines, and finds at least ``MIN_RECALL`` of the
        exact top-k; the recall is kept in the pass's result."""
        rows = self.final_rows.get(fam)
        if rows is None:
            return ["no final search result"]
        live = np.asarray(self.plan["live"])
        served: dict[int, list] = {}
        for r in rows:
            served.setdefault(r["probe"], []).append((r["vec_id"], r["cos"]))
        errs, found = [], 0
        for p in self.plan["probes"]:
            got = served.get(p, [])
            cos = unit[live] @ unit[p]
            exact = [int(live[i]) for i in np.argsort(-cos, kind="stable") if live[i] != p][:K]
            found += len({i for i, _ in got} & set(exact))
            errs += [f"probe {p}: deleted or self id {i} served" for i, _ in got
                     if i == p or i in self.plan["deleted_set"]]
            errs += [f"probe {p}: id {i} cos {c} != exact {unit[i] @ unit[p]}"
                     for i, c in got if abs(c - unit[i] @ unit[p]) > 1e-5]
            if len(got) != K:
                errs.append(f"probe {p}: {len(got)} results, not {K}")
        res["recall"] = found / (K * len(self.plan["probes"]))
        if res["recall"] < MIN_RECALL:
            errs.append(f"recall@{K} {res['recall']:.3f} < {MIN_RECALL}")
        return errs[:5]

    def layer_metrics(self, b, pass_no: int) -> dict[str, float]:
        out = {}
        ops = b.rec.pass_ops(pass_no)
        for fam in FAMILIES:
            for kind in INDEX_OPS:
                out[f"index.{fam}.{kind}_s"] = sum(
                    o.seconds for o in ops if o.kind == f"index.{fam}.{kind}")
            res = self.per_pass.get(pass_no, {}).get(fam, {})
            out[f"index.{fam}.files"] = res.get("files", 0)
            out[f"index.{fam}.bytes"] = res.get("bytes", 0)
        return out

    def end_to_end(self, b, passes: list[int]) -> dict[str, list[float]]:
        ops = lambda p, kinds: sum(  # noqa: E731
            o.seconds for o in b.rec.pass_ops(p) if o.kind.rsplit(".", 1)[-1] in kinds)
        n_live = len(self.plan["live"]) * len(FAMILIES)
        return {
            "read_s": [ops(p, ("search",)) for p in passes],
            "write_s": [ops(p, ("add", "delete", "compact")) for p in passes],
            "index_bytes_per_doc": [
                sum(r["bytes"] for r in self.per_pass[p].values()) / n_live
                for p in passes if p in self.per_pass],
        }


class Curation(Workload):
    """``apps.curate_corpus.curate`` followed by the ``simhash_pairs``
    query. Not in BENCHMARK.json: a run takes about 90 s on 4 cores even
    at sf0.01, more than the benchmark's schedule of runs leaves room
    for; run it by name. At sf0.1 (the default input) its process tree
    has peaked at 12-15 GB with a 4g driver heap, so mind the host's
    memory; ``SPARK_GRAFT_SF_DIR`` points it at a smaller fixture."""

    name = "curation"
    tables = ("documents",)

    def setup(self, b) -> None:
        import __spark_entry__ as entry

        self.qs = entry.queries()
        self.per_pass: dict[int, dict] = {}

    def run_pass(self, b) -> None:
        from keystone_spark.apps.curate_corpus import curate

        def cur(h):
            with h.phase("exec"):
                return curate(b.spark, b.data_dir)

        def simhash(h):
            with h.phase("construct"):
                df = self.qs["simhash_pairs"](b.spark, b.data_dir)
            h.catalyst(df)
            with h.phase("exec"):
                noop_write(df)
        self.per_pass[b.rec.pass_no] = b.attempt("curate", "curate", cur)
        b.attempt("query", "simhash_pairs", simhash)

    def check(self, b) -> None:
        results = list(self.per_pass.values())
        b.check("curation.same_every_pass",
                lambda: [] if len({repr(r) for r in results}) == 1 and results[0]
                else [f"stage counts differ: {results}"])
        b.check("curation.no_over_budget_packs",
                lambda: [f"over_budget_packs={r['over_budget_packs']}"
                         for r in results if r and r["over_budget_packs"]])
        pinned = CURATION_COUNTS.get(results[0]["docs_in"]) if results and results[0] else None
        if pinned:
            b.check("curation.pinned_counts", lambda: [
                f"{k}={results[0][k]} != {v}" for k, v in pinned.items()
                if results[0][k] != v])


# stage counts of curate() on the fixture's documents, by input size:
# sf0.1 as measured when the workload was specified, sf0.01 as measured
# by this benchmark
CURATION_COUNTS: dict[int, dict] = {
    5000: {"docs_in": 5000, "after_near_dedup": 4756, "over_budget_packs": 0},
    500: {"docs_in": 500, "after_exact_dedup": 500, "after_near_dedup": 476,
          "after_quality_filter": 476, "ws_tokens": 25901, "n_packs": 13,
          "over_budget_packs": 0},
}

WORKLOADS = {w.name: w for w in (QueryMix, FitPipeline, IndexMaintain, Curation)}
