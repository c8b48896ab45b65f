"""The benchmark's workloads: seeded inputs, the calls of one round,
and the check each call's output must pass.

Every workload is a sequence of identical rounds.  ``round_calls()``
returns the round's calls in order; each :class:`Call` carries the timed
work (``run``, which must materialize its result) and an untimed ``check``
of that result.  Inputs are generated with numpy from the seed and written
to local parquet, so every timed call reads from files, never from driver
memory.  Only public ``cuml_spark`` estimators and text functions are
called; nothing here touches the query harness.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass
from typing import Any, Callable

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq


@dataclass
class Call:
    name: str  # ledger name, "<cuml_spark subpackage>.<call>"
    run: Callable[[], Any]  # timed work; returns the materialized output
    check: Callable[[Any], bool]  # untimed check of that output
    rows: int  # rows of the seeded input tables the call reads


def write_parquet(frame: pd.DataFrame, path: str, n_files: int) -> None:
    """Write ``frame`` as ``n_files`` parquet files under ``path`` so the
    scan has one split per core."""
    os.makedirs(path, exist_ok=True)
    for i, part in enumerate(np.array_split(np.arange(len(frame)), n_files)):
        pq.write_table(
            pa.Table.from_pandas(frame.iloc[part], preserve_index=False),
            os.path.join(path, f"part-{i:03d}.parquet"),
        )


def frame_digest(frame: pd.DataFrame, key: str) -> str:
    """Order-independent digest of a result frame (sorted on ``key``)."""
    ordered = frame.sort_values(key, kind="mergesort").reset_index(drop=True)
    hashed = pd.util.hash_pandas_object(ordered, index=False).to_numpy()
    return hashlib.sha1(hashed.tobytes()).hexdigest()


class Workload:
    """Seeded inputs plus one round's calls.  ``setup`` builds the inputs;
    the runner first runs one untimed round of a toy-sized instance
    (``tiny``), so every call has run before timing starts."""

    def __init__(self, spark, workdir: str, seed: int, tiny: bool):
        self.spark = spark
        self.workdir = workdir
        self.rng = np.random.default_rng(seed)
        self.tiny = tiny
        self.n_files = spark.sparkContext.defaultParallelism
        self._digests: dict[str, str] = {}

    def same_as_first(self, key: str, digest: str) -> bool:
        """True when ``digest`` equals the first digest seen under ``key``
        (the first round's), so every round must reproduce it."""
        return self._digests.setdefault(key, digest) == digest

    def read(self, name: str, frame: pd.DataFrame):
        path = os.path.join(self.workdir, name)
        write_parquet(frame, path, self.n_files)
        return self.spark.read.parquet(path)

    def setup(self) -> None:
        raise NotImplementedError

    def round_calls(self) -> list[Call]:
        raise NotImplementedError

    def end_round(self) -> None:
        """Release what a round kept for its later calls (untimed)."""


# -- ml_fit_serve ---------------------------------------------------------------

N_FEATURES = 8
N_CLUSTERS = 4
FEATURES = [f"f{i}" for i in range(N_FEATURES)]


def planted_matrix(rng: np.random.Generator, n: int) -> dict[str, np.ndarray]:
    """Dense blob matrix with planted structure: ``N_CLUSTERS`` well-separated
    unit-variance blobs, a binary label driven by a planted weight
    direction, and a linear regression target."""
    while True:
        centers = rng.normal(0.0, 10.0, (N_CLUSTERS, N_FEATURES))
        gaps = np.linalg.norm(centers[:, None] - centers[None], axis=-1)
        if gaps[np.triu_indices(N_CLUSTERS, 1)].min() >= 20.0:
            break
    blob = rng.integers(0, N_CLUSTERS, n)
    X = centers[blob] + rng.normal(size=(n, N_FEATURES))
    w = rng.normal(size=N_FEATURES)
    w /= np.linalg.norm(w)
    # a well-specified logistic model, so the fitted direction is w
    z = X @ w
    margin = 4.0 * (z - np.median(z)) / max(z.std(), 1e-12)
    label = (rng.random(n) < 1.0 / (1.0 + np.exp(-margin))).astype(np.int64)
    beta = rng.normal(size=N_FEATURES)
    target = X @ beta + 0.1 * rng.normal(size=n)
    return {"X": X, "centers": centers, "w": w, "label": label, "target": target}


def feature_frame(X: np.ndarray, **extra: np.ndarray) -> pd.DataFrame:
    frame = pd.DataFrame(X, columns=FEATURES)
    frame.insert(0, "row_id", np.arange(len(X), dtype=np.int64))
    for name, col in extra.items():
        frame[name] = col
    return frame


def ridge_reference(X: np.ndarray, y: np.ndarray, alpha: float):
    """Closed-form ridge with an unpenalized intercept, in numpy."""
    xbar, ybar = X.mean(axis=0), y.mean()
    Xc = X - xbar
    beta = np.linalg.solve(Xc.T @ Xc + alpha * np.eye(X.shape[1]), Xc.T @ (y - ybar))
    return beta, ybar - xbar @ beta


def cosine(a: np.ndarray, b: np.ndarray) -> float:
    return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))


def tree_arrays(node):
    """A fitted MLlib decision tree, read through py4j: an internal node
    becomes (feature, threshold, left, right), a leaf its class
    probabilities."""
    if node.getClass().getSimpleName() == "InternalNode":
        split = node.split()
        return (split.featureIndex(), split.threshold(),
                tree_arrays(node.leftChild()), tree_arrays(node.rightChild()))
    counts = np.array(list(node.impurityStats().stats()), dtype=np.float64)
    return counts / counts.sum() if counts.sum() else counts


def tree_proba(node, X: np.ndarray) -> np.ndarray:
    if isinstance(node, np.ndarray):
        return np.broadcast_to(node, (len(X), len(node)))
    feature, threshold, left, right = node
    go_left = X[:, feature] <= threshold
    left_p, right_p = tree_proba(left, X[go_left]), tree_proba(right, X[~go_left])
    out = np.empty((len(X), max(left_p.shape[1], right_p.shape[1])))
    out[go_left], out[~go_left] = left_p, right_p
    return out


def forest_predict(forest: list, X: np.ndarray) -> np.ndarray:
    """MLlib's forest classifier rule: the class with the largest sum of
    per-tree leaf probabilities (first class on ties)."""
    return sum(tree_proba(tree, X) for tree in forest).argmax(axis=1)


def farthest_first(points: np.ndarray, k: int) -> np.ndarray:
    """Farthest-first traversal (Gonzalez): each next center is the point
    farthest from those already chosen."""
    chosen = [0]
    dist = np.linalg.norm(points - points[0], axis=1)
    for _ in range(k - 1):
        chosen.append(int(dist.argmax()))
        dist = np.minimum(dist, np.linalg.norm(points - points[chosen[-1]], axis=1))
    return points[chosen]


def centers_match(fitted: np.ndarray, planted: np.ndarray, tol: float) -> bool:
    """Each planted center has its own fitted center within ``tol``."""
    dist = np.linalg.norm(planted[:, None] - fitted[None], axis=-1)
    nearest = dist.argmin(axis=1)
    return len(set(nearest)) == len(planted) and bool(dist.min(axis=1).max() <= tol)


class MLFitServe(Workload):
    """Each round fits KMeans, LogisticRegression, Ridge,
    RandomForestClassifier and PCA afresh on one seeded parquet matrix,
    then scores one seeded batch through the models fitted in the first
    round (which serve every round, like a deployed model) plus one
    ``kneighbors`` batch against a fixed index."""

    RIDGE_ALPHA = 1.0
    PCA_COMPONENTS = 3
    N_NEIGHBORS = 5
    DIM = 16

    def setup(self) -> None:
        from cuml_spark.cluster.kmeans import KMeans
        from cuml_spark.decomposition.pca import PCA
        from cuml_spark.ensemble.random_forest import RandomForestClassifier
        from cuml_spark.linear_model.logistic_regression import LogisticRegression
        from cuml_spark.linear_model.ridge import Ridge
        from cuml_spark.neighbors.nearest_neighbors import NearestNeighbors

        rng = self.rng
        self.n = 4_000 if self.tiny else 50_000
        d = planted_matrix(rng, self.n)
        self.data = d
        self.train = self.read(
            "train", feature_frame(d["X"], label=d["label"], target=d["target"]))
        self.ridge_ref = ridge_reference(d["X"], d["target"], self.RIDGE_ALPHA)
        cov = np.cov(d["X"], rowvar=False)
        self.pca_ref = np.sort(np.linalg.eigvalsh(cov))[::-1][: self.PCA_COMPONENTS]
        # explicit init centers (cuML's ``init=ndarray``): the default
        # k-means|| path lands in a local minimum on some seeds
        self.init_centers = farthest_first(
            d["X"][rng.choice(self.n, 1_000, replace=False)], N_CLUSTERS)
        self.makers = {
            "kmeans": lambda: KMeans(n_clusters=N_CLUSTERS, max_iter=10,
                                     init_centers=self.init_centers),
            "logreg": lambda: LogisticRegression(max_iter=20),
            "ridge": lambda: Ridge(alpha=self.RIDGE_ALPHA),
            "rf": lambda: RandomForestClassifier(n_estimators=4, max_depth=4, n_bins=16),
            "pca": lambda: PCA(n_components=self.PCA_COMPONENTS),
        }
        self.served: dict[str, Any] = {}
        self.forest: list | None = None

        # the serving batch: fresh rows from the training blobs
        self.n_batch = 200 if self.tiny else 1_000
        blob = rng.integers(0, N_CLUSTERS, self.n_batch)
        self.Xb = d["centers"][blob] + rng.normal(size=(self.n_batch, N_FEATURES))
        self.batch = self.read("batch", feature_frame(self.Xb))

        n_index = 2_000 if self.tiny else 20_000
        n_queries = 16 if self.tiny else 64
        self.index_vecs = rng.normal(size=(n_index, self.DIM))
        self.query_vecs = rng.normal(size=(n_queries, self.DIM))
        index = self.read("index", pd.DataFrame({
            "vec_id": np.arange(n_index, dtype=np.int64),
            "embedding": list(self.index_vecs)}))
        # query ids must not collide with index ids: knn_join treats an
        # equal id as the query itself and excludes it
        self.queries = self.read("queries", pd.DataFrame({
            "vec_id": np.arange(n_index, n_index + n_queries, dtype=np.int64),
            "embedding": list(self.query_vecs)}))
        self.nn = NearestNeighbors(n_neighbors=self.N_NEIGHBORS).fit(index)

    def _fit(self, kind: str, *label: str):
        def run():
            model = self.makers[kind]().fit(self.train, FEATURES, *label)
            self.served.setdefault(kind, model)  # the first round's fit serves
            return model
        return run

    def _score(self, kind: str, col: str):
        return lambda: (self.served[kind].predict(self.batch)
                        .select("row_id", col).toPandas())

    def round_calls(self) -> list[Call]:
        d, n, nb = self.data, self.n, self.n_batch
        return [
            Call("cluster.kmeans_fit", self._fit("kmeans"),
                 lambda m: centers_match(m.cluster_centers_, d["centers"], 0.25), n),
            Call("linear_model.logreg_fit", self._fit("logreg", "label"),
                 lambda m: cosine(m.coef_.ravel(), d["w"]) >= 0.95, n),
            Call("linear_model.ridge_fit", self._fit("ridge", "target"),
                 self._check_ridge, n),
            Call("ensemble.rf_fit", self._fit("rf", "label"),
                 self._check_rf_fit, n),
            Call("decomposition.pca_fit", self._fit("pca"),
                 lambda m: np.allclose(m.explained_variance_, self.pca_ref, rtol=1e-6),
                 n),
            Call("cluster.kmeans_predict", self._score("kmeans", "label"),
                 self._check_kmeans, nb),
            Call("linear_model.logreg_predict", self._score("logreg", "prediction"),
                 self._check_logreg, nb),
            Call("ensemble.rf_predict", self._score("rf", "prediction"),
                 self._check_rf, nb),
            Call("decomposition.pca_transform",
                 lambda: self.served["pca"].transform(self.batch).toPandas(),
                 self._check_pca, nb),
            Call("neighbors.kneighbors",
                 lambda: self.nn.kneighbors(self.queries).toPandas(),
                 self._check_knn, len(self.index_vecs) + len(self.query_vecs)),
        ]

    def _check_rf_fit(self, model) -> bool:
        # the forest is seeded, so every round must grow the first round's
        # trees; its accuracy is checked through rf_predict
        imp = model.feature_importances_
        return (np.isclose(imp.sum(), 1.0)
                and self.same_as_first("rf_fit", hashlib.sha1(imp.tobytes()).hexdigest()))

    def _check_ridge(self, model) -> bool:
        beta, intercept = self.ridge_ref
        return (np.allclose(model.coef_, beta, rtol=1e-6, atol=1e-9)
                and np.isclose(model.intercept_, intercept, rtol=1e-6, atol=1e-9))

    @staticmethod
    def _by_row(out: pd.DataFrame, col: str) -> np.ndarray:
        return out.sort_values("row_id")[col].to_numpy()

    def _check_kmeans(self, out: pd.DataFrame) -> bool:
        c = self.served["kmeans"].cluster_centers_
        ref = ((self.Xb[:, None] - c[None]) ** 2).sum(-1).argmin(axis=1)
        return len(out) == self.n_batch and bool((self._by_row(out, "label") == ref).all())

    def _check_logreg(self, out: pd.DataFrame) -> bool:
        model = self.served["logreg"]
        z = self.Xb @ model.coef_.ravel() + model.intercept_[0]
        clear = np.abs(z) > 1e-9  # a row exactly on the boundary may round either way
        got = self._by_row(out, "prediction")
        return len(out) == self.n_batch and bool((got[clear] == (z[clear] > 0)).all())

    def _check_rf(self, out: pd.DataFrame) -> bool:
        if self.forest is None:  # read the served forest's trees once
            self.forest = [tree_arrays(t._java_obj.rootNode())
                           for t in self.served["rf"]._model.trees]
        return (len(out) == self.n_batch
                and bool((self._by_row(out, "prediction") == forest_predict(
                    self.forest, self.Xb)).all()))

    def _check_pca(self, out: pd.DataFrame) -> bool:
        model = self.served["pca"]
        ref = (self.Xb - model.mean_) @ model.components_.T
        got = out.sort_values("row_id")[[f"pc{i}" for i in range(ref.shape[1])]]
        return len(out) == self.n_batch and np.allclose(got.to_numpy(), ref, atol=1e-9)

    def _check_knn(self, out: pd.DataFrame) -> bool:
        d = ((self.query_vecs[:, None] - self.index_vecs[None]) ** 2).sum(-1)
        ref = np.argsort(d, axis=1, kind="stable")[:, : self.N_NEIGHBORS]
        got = out.sort_values(["query_id", "rank"])  # query ids follow index order
        return (len(got) == ref.size
                and bool((got["neighbor_id"].to_numpy().reshape(ref.shape) == ref).all()))


# -- text_curation -------------------------------------------------------------

GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")
VOCAB = 5_000
ZIPF = 1.0


def make_vocab(rng: np.random.Generator, size: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: set[str] = set()
    while len(words) < size:
        words.add("".join(rng.choice(letters, rng.integers(4, 10))))
    return np.array(sorted(words - set(GOPHER_STOPWORDS)))


class TextCuration(Workload):
    """Each round runs the curation pipeline over a seeded corpus with
    planted near-duplicate variants: quality features, Gopher flags, MinHash
    LSH into near-duplicate groups, a bigram LM fit, DSIR fit and top-k
    selection, and BM25 retrieval for seeded queries."""

    BM25_K = 10

    def setup(self) -> None:
        from cuml_spark.similarity.neardup import near_dup_groups
        from cuml_spark.text.dedup import lsh_candidate_pairs
        from cuml_spark.text.dsir import dsir_select_topk, fit_dsir
        from cuml_spark.text.gopher import gopher_quality_flags
        from cuml_spark.text.lm import fit_bigram_lm
        from cuml_spark.text.quality import quality_features
        from cuml_spark.text.retrieval import bm25_topk

        self.fns = dict(
            quality_features=quality_features, gopher=gopher_quality_flags,
            lsh=lsh_candidate_pairs, groups=near_dup_groups, lm=fit_bigram_lm,
            fit_dsir=fit_dsir, dsir_topk=dsir_select_topk, bm25=bm25_topk)
        rng = self.rng
        n_docs = 500 if self.tiny else 5_000
        n_variants = 10 if self.tiny else 100
        n_queries = 8 if self.tiny else 32
        n_target = 50 if self.tiny else 500

        vocab = make_vocab(rng, VOCAB)
        # two topics: independent Zipf orderings over one vocabulary
        zipf = 1.0 / np.arange(1, len(vocab) + 1) ** ZIPF
        topic_p = [np.zeros(len(vocab)) for _ in range(2)]
        for p in topic_p:
            p[rng.permutation(len(vocab))] = zipf / zipf.sum()
        topic = rng.integers(0, 2, n_docs)
        lengths = rng.integers(15, 61, n_docs)
        tokens = np.empty(lengths.sum(), dtype=vocab.dtype)
        token_topic = np.repeat(topic, lengths)
        for t, p in enumerate(topic_p):
            is_t = token_topic == t
            tokens[is_t] = rng.choice(vocab, int(is_t.sum()), p=p)
        is_stop = rng.random(len(tokens)) < 0.12
        tokens[is_stop] = rng.choice(GOPHER_STOPWORDS, int(is_stop.sum()))
        docs = [words.tolist() for words in np.split(tokens, np.cumsum(lengths)[:-1])]

        # planted near-duplicates: one word substituted in a long source doc
        long_docs = np.flatnonzero(lengths >= 40)
        sources = rng.choice(long_docs, n_variants, replace=False)
        self.planted = []
        for i, src in enumerate(sources):
            words = list(docs[src])
            words[rng.integers(len(words))] = str(rng.choice(vocab))
            docs.append(words)
            self.planted.append((int(src), n_docs + i))
        texts = [" ".join(w) for w in docs]
        n_all = len(texts)
        self.n_all = n_all
        self.corpus = self.read("corpus", pd.DataFrame(
            {"doc_id": np.arange(n_all, dtype=np.int64), "text": texts}))

        # BM25 queries: the four corpus-rarest words of a source document
        # that has no planted variant
        doc_freq: dict[str, int] = {}
        for words in docs:
            for w in set(words):
                doc_freq[w] = doc_freq.get(w, 0) + 1
        eligible = np.setdiff1d(np.arange(n_docs), sources)
        self.query_src = rng.choice(eligible, n_queries, replace=False)
        q_text = [" ".join(sorted(set(docs[s]), key=lambda w: (doc_freq[w], w))[:4])
                  for s in self.query_src]
        self.queries = self.read("queries", pd.DataFrame(
            {"query_id": np.arange(n_queries, dtype=np.int64), "text": q_text}))

        # DSIR target: a sample of topic-0 documents
        target_ids = rng.choice(np.flatnonzero(topic == 0), n_target, replace=False)
        self.target = self.read("target", pd.DataFrame(
            {"doc_id": target_ids.astype(np.int64),
             "text": [texts[i] for i in target_ids]}))
        self.topic = np.concatenate([topic, topic[sources]])
        self.n_target = n_target

        self.vocab_size = len({w for words in docs for w in words})
        self.n_bigrams = sum(len(words) - 1 for words in docs)
        self._pairs = None

    def round_calls(self) -> list[Call]:
        f, corpus, n = self.fns, self.corpus, self.n_all
        return [
            Call("text.quality_features",
                 lambda: f["quality_features"](corpus).toPandas(),
                 lambda out: self._check_per_doc("quality_features", out), n),
            Call("text.gopher_quality_flags",
                 lambda: f["gopher"](corpus).toPandas(),
                 lambda out: self._check_per_doc("gopher", out), n),
            Call("text.lsh_candidate_pairs", self._lsh, lambda n_pairs: n_pairs > 0, n),
            # its input is the previous call's output, not a seeded input
            # table, and the number of candidate pairs varies with the seed
            Call("similarity.near_dup_groups",
                 lambda: f["groups"](self._pairs).toPandas(), self._check_groups, 0),
            Call("text.fit_bigram_lm", lambda: f["lm"](corpus), self._check_lm, n),
            Call("text.fit_dsir", self._dsir, self._check_dsir, n + self.n_target),
            Call("text.bm25_topk",
                 lambda: f["bm25"](corpus, self.queries, k=self.BM25_K).toPandas(),
                 self._check_bm25, n + len(self.query_src)),
        ]

    def _lsh(self) -> int:
        """Candidate pairs, persisted for the near-duplicate grouping call
        (released after the round by ``end_round``)."""
        self._pairs = self.fns["lsh"](self.corpus).persist()
        return self._pairs.count()

    def end_round(self) -> None:
        if self._pairs is not None:
            self._pairs.unpersist(blocking=True)
            self._pairs = None

    def _dsir(self) -> pd.DataFrame:
        model = self.fns["fit_dsir"](self.target, self.corpus)
        return self.fns["dsir_topk"](self.corpus, model, self.n_target).toPandas()

    def _check_per_doc(self, key: str, out: pd.DataFrame) -> bool:
        return (len(out) == self.n_all and out["doc_id"].nunique() == self.n_all
                and self.same_as_first(key, frame_digest(out, "doc_id")))

    def _check_groups(self, out: pd.DataFrame) -> bool:
        group = dict(zip(out["vid"], out["group_id"]))
        found = sum(1 for a, b in self.planted
                    if a in group and group.get(a) == group.get(b))
        return (found / len(self.planted) >= 0.9
                and self.same_as_first("groups", frame_digest(out, "vid")))

    def _check_lm(self, model) -> bool:
        digest = hashlib.sha1(repr(sorted(model.bigram_counts.items())).encode()).hexdigest()
        return (model.vocab_size == self.vocab_size
                and sum(model.context_counts.values()) == self.n_bigrams
                and self.same_as_first("lm", digest))

    def _check_dsir(self, out: pd.DataFrame) -> bool:
        picked = out["doc_id"].to_numpy()
        return (len(picked) == self.n_target and len(set(picked)) == len(picked)
                and float((self.topic[picked] == 0).mean()) >= 0.8
                and self.same_as_first("dsir", frame_digest(out, "doc_id")))

    def _check_bm25(self, out: pd.DataFrame) -> bool:
        hits = out.groupby("query_id")["doc_id"].apply(set).to_dict()
        return all(int(src) in hits.get(q, ()) for q, src in enumerate(self.query_src))


WORKLOADS = {"ml_fit_serve": MLFitServe, "text_curation": TextCuration}

# every call the ledger reports, across all workloads
LEDGER_CALLS = (
    "cluster.kmeans_fit", "cluster.kmeans_predict",
    "linear_model.logreg_fit", "linear_model.logreg_predict",
    "linear_model.ridge_fit",
    "ensemble.rf_fit", "ensemble.rf_predict",
    "decomposition.pca_fit", "decomposition.pca_transform",
    "neighbors.kneighbors",
    "text.quality_features", "text.gopher_quality_flags",
    "text.lsh_candidate_pairs", "text.fit_bigram_lm", "text.fit_dsir",
    "text.bm25_topk", "similarity.near_dup_groups",
)
