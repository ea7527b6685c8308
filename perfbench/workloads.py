"""The benchmark's workloads: inputs, unit operation, traced operation
and output checks. ``batch_jobs`` alternates the two batch jobs
(``KnnClassify``, ``CurateBatch``); ``index_serve`` serves three stores.

Every timed result is materialized through the ``noop`` sink, never
``count()``: a count lets the optimizer prune every column it does not
need (``label`` in the KNN plan), which hides most of the real cost of
writing or returning the result.

Each workload is driven by ``run.py`` in the same order: ``setup`` a few
times (the last setup's inputs are kept), ``warmup`` (untimed, and it
runs the output checks), then ``op`` in a closed loop, one client, each
operation sent after the previous one returned.
"""

from __future__ import annotations

import os
import shutil
from concurrent.futures import ThreadPoolExecutor

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gen
from knn_using_hadoop_spark import contract
from knn_using_hadoop_spark.contract.knn_core import load_docs_wide
from knn_using_hadoop_spark.contract.round3 import q_corpus_curation_pipeline
from knn_using_hadoop_spark.functions.distance import sq_euclidean
from knn_using_hadoop_spark.operators import curation, dedup, retrieval, text
from knn_using_hadoop_spark.operators import similarity as sim
from knn_using_hadoop_spark.operators.knn import (
    knn_accuracy, knn_neighbors, knn_predict, knn_vote_histogram)
from knn_using_hadoop_spark.sources import index_store
from knn_using_hadoop_spark.sources.arff import read_arff_features
from spans import Tracer, median

_UNTRACED = Tracer(enabled=False)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def _docs_table(ids, texts) -> pa.Table:
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(["en"] * len(texts), pa.string()),
        "source": pa.array([f"src{int(i) % 7}" for i in ids], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


class CheckFailed(AssertionError):
    pass


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


class Workload:
    """Common state: the Spark session, a work directory, the seed."""

    name = ""
    item = ""
    SETUPS = 3  # set-ups per run; setup_s is their median

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.checks: dict[str, object] = {}
        self.report: dict[str, float] = {}

    def setup(self) -> None:
        """Generate inputs (and build stores) into a fresh directory,
        replacing those of an earlier set-up."""
        d = os.path.join(self.work, "setup")
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        self.dir = d
        self._setup(d)

    def _setup(self, d: str) -> None:
        raise NotImplementedError

    def round_done(self) -> bool:
        """May the closed loop stop after the last operation?"""
        return True

    def probe(self, t) -> None:
        """Traced calls into single layers, each materialized at its span
        boundary; they run after the traced loop, so they are not part
        of any operation."""

    def extra_metrics(self, res) -> dict:
        """Workload-specific end-to-end figures for the report."""
        return {}


# --------------------------------------------------------------------
# knn_classify


class KnnClassify(Workload):
    """Exact KNN classify jobs (k=3, 11 features). Set-up writes the
    generated pair as ARFF text, the reference's input format, and
    ingests it through the package's ARFF source into parquet, which
    every job reads."""

    name = "knn_classify"
    # more train rows than knn_neighbors' prefilter sample (1024), so
    # the prefilter pass scores a quarter of the train set
    N_TRAIN, N_TEST, K, DIM = 4000, 100, 3, 11

    def size(self):
        return (f"{self.N_TRAIN} train x {self.N_TEST} test rows, "
                f"{self.DIM} features, k={self.K}")

    def _setup(self, d):
        self.pair = gen.knn_pair(self.seed, self.N_TRAIN, self.N_TEST,
                                 self.DIM)
        trx, try_, tex, tey = self.pair
        for name, x, y in (("train", trx, try_), ("test", tex, tey)):
            arff = os.path.join(d, f"{name}.arff")
            write_arff_text(arff, name, x, y)
            (read_arff_features(self.spark, arff).write.mode("overwrite")
             .parquet(os.path.join(d, f"{name}.parquet")))

    def _inputs(self):
        rd = self.spark.read.parquet
        return (rd(os.path.join(self.dir, "train.parquet")),
                rd(os.path.join(self.dir, "test.parquet")))

    def _check_accuracy(self, preds, te):
        acc = knn_accuracy(preds, te.select("id", "label")).collect()
        expect(acc[0]["accuracy"] == self.oracle_acc,
               "knn_accuracy differs from the oracle accuracy")

    def warmup(self):
        """One classify job as ``op`` runs it, its predictions collected
        and compared with the NumPy oracle."""
        trx, try_, tex, tey = self.pair
        self.oracle = knn_oracle(trx, try_, tex, self.K)
        self.oracle_acc = float(np.mean(self.oracle == tey))
        tr, te = self._inputs()
        preds = knn_predict(tr, te, self.K, dim=self.DIM).cache()
        got = {r.test_id: r.prediction for r in preds.collect()}
        expect(got == dict(enumerate(self.oracle.tolist())),
               "knn_predict differs from the NumPy exact oracle")
        self.checks["predictions_equal_oracle"] = True
        self._check_accuracy(preds, te)
        preds.unpersist()

    def op(self, t=None):
        """One classify job: the predictions written, then their accuracy
        from the cached predictions (without the cache, the accuracy job
        would run the whole KNN plan a second time)."""
        t = t or _UNTRACED
        tr, te = self._inputs()
        with t.span("operators.knn.predict"):
            preds = knn_predict(tr, te, self.K, dim=self.DIM).cache()
            noop(preds)
        with t.span("operators.knn.accuracy"):
            self._check_accuracy(preds, te)
        preds.unpersist()
        return {"items": self.N_TRAIN + self.N_TEST, "kind": "knn",
                "work": self.N_TRAIN * self.N_TEST}

    def probe(self, t):
        """The per-layer probes, each materialized at its span boundary."""
        tr, te = self._inputs()
        with t.span("functions.distance.score"):
            pairs = tr.select(F.col("features").alias("x")).crossJoin(
                F.broadcast(te.select(F.col("features").alias("q"))))
            pairs.agg(F.min(sq_euclidean("q", "x", dim=self.DIM))).collect()
        self.report["functions.distance.pairs_scored"] = float(
            self.N_TRAIN * self.N_TEST)
        with t.span("operators.knn.neighbors"):
            nb = knn_neighbors(tr, te, self.K, dim=self.DIM).localCheckpoint(
                eager=True)
        with t.span("operators.knn.vote"):
            noop(knn_vote_histogram(nb))

    def layer_metrics(self, lt):
        out = {}
        for name in ("functions.distance.score", "operators.knn.neighbors",
                     "operators.knn.vote", "operators.knn.accuracy",
                     "operators.knn.predict"):
            out[f"{name}_s"] = lt[name]["self_s"] / lt[name]["n"]
        out["functions.distance.pairs_scored"] = self.report[
            "functions.distance.pairs_scored"]
        out["operators.knn.overhead_ratio"] = (
            out["operators.knn.neighbors_s"]
            / out["functions.distance.score_s"])
        return out


def write_arff_text(path, relation, x, y) -> None:
    """A numeric ARFF file: one attribute per feature, the integer class
    last. ``repr`` round-trips every double exactly."""
    lines = [f"@relation {relation}"]
    lines += [f"@attribute f{j} numeric" for j in range(x.shape[1])]
    lines += ["@attribute class numeric", "@data"]
    lines += [",".join(map(repr, row.tolist())) + f",{int(c)}"
              for row, c in zip(x, y)]
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")


def knn_oracle(trx, try_, tex, k):
    """Exact KNN predictions in NumPy: squared distances summed left to
    right (the order Spark's expanded expression uses, so values are
    bit-identical), neighbours ordered by (distance, train id), majority
    vote with the lowest label winning ties."""
    preds = np.empty(len(tex), dtype=np.int64)
    ids = np.arange(len(trx))
    for i, q in enumerate(tex):
        d = np.zeros(len(trx))
        for j in range(trx.shape[1]):
            diff = q[j] - trx[:, j]
            d = d + diff * diff
        nn = np.lexsort((ids, d))[:k]
        labels, counts = np.unique(try_[nn], return_counts=True)
        preds[i] = labels[counts == counts.max()].min()
    return preds


# --------------------------------------------------------------------
# curate_batch


def _canon(v):
    if isinstance(v, float):
        return repr(v + 0.0)
    return repr(v)


def canonical_rows(cols, rows):
    """Rows as sorted tuples of canonical strings, columns by name."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_canon(r[i]) for i in order) for r in rows)


class CurateBatch(Workload):
    """One curation job per operation: the registry's
    ``corpus_curation_pipeline`` over a generated corpus."""

    name = "curate_batch"
    N_DOCS = 1000

    def size(self):
        return f"{self.N_DOCS} documents"

    def _setup(self, d):
        ids, texts, self.plants = gen.zipf_corpus(self.seed, self.N_DOCS)
        pq.write_table(_docs_table(ids, texts),
                       os.path.join(d, "documents.parquet"))

    def _pipeline(self):
        return q_corpus_curation_pipeline(self.spark, self.dir)

    def _oracle_rows(self):
        con = duckdb.connect()
        try:
            con.execute("CREATE VIEW documents AS SELECT * FROM "
                        f"'{os.path.join(self.dir, 'documents.parquet')}'")
            cur = con.execute(contract.oracle_sql()["corpus_curation_pipeline"])
            return canonical_rows([c[0] for c in cur.description],
                                  cur.fetchall())
        finally:
            con.close()

    def warmup(self):
        """The pipeline collected once and compared with its DuckDB twin,
        which runs meanwhile in a second thread."""
        with ThreadPoolExecutor(1) as pool:
            oracle = pool.submit(self._oracle_rows)
            df = self._pipeline()
            rows = df.collect()
            want = oracle.result()
        expect(canonical_rows(df.columns, rows) == want,
               "curation pipeline differs from its DuckDB oracle")
        self.checks["pipeline_equals_duckdb_oracle"] = True
        flag = {"exact": "exact_dup", "near": "neardup_pruned",
                "contam": "contaminated"}
        by_id = {r["doc_id"]: r for r in rows}
        for kind, col in flag.items():
            planted = self.plants[kind]
            hit = sum(1 for i in planted if by_id[i][col])
            self.checks[f"recall_{kind}"] = hit / max(len(planted), 1)
        expect(self.checks["recall_exact"] == 1.0,
               "a planted exact duplicate was not flagged")

    def op(self, t=None):
        t = t or _UNTRACED
        with t.span("operators.curation.pipeline"):
            noop(self._pipeline())
        return {"items": self.N_DOCS, "kind": "curate", "work": self.N_DOCS}

    def probe(self, t):
        with t.span("sources.scan"):
            docs = load_docs_wide(self.spark, self.dir)
            noop(docs)
        with t.span("operators.text.quality"):
            noop(text.quality_score(docs))
        with t.span("operators.dedup.signature"):
            sigs = dedup.minhash_signatures(docs).localCheckpoint(eager=True)
        with t.span("operators.dedup.candidates"):
            bands = dedup.minhash_band_buckets(sigs)
            shared = (bands.groupBy("band", "sig0", "sig1")
                      .agg(F.count("*").alias("n")).filter("n > 1"))
            cand = (bands.join(shared, ["band", "sig0", "sig1"])
                    .select("doc_id").distinct().collect())
        with t.span("operators.dedup.prune"):
            pruned = dedup.minhash_sig_est_pruned(docs, threshold=0.5).collect()
        self.report["operators.dedup.candidate_docs"] = float(len(cand))
        self.report["operators.dedup.pruned_per_candidate"] = (
            len(pruned) / max(len(cand), 1))
        with t.span("operators.curation.decontaminate"):
            noop(curation.decontaminate(docs))

    def layer_metrics(self, lt):
        out = {f"{n}_s": lt[n]["self_s"] / lt[n]["n"] for n in (
            "sources.scan", "operators.text.quality",
            "operators.dedup.signature", "operators.curation.decontaminate",
            "operators.curation.pipeline")}
        out["operators.dedup.candidate_docs"] = self.report[
            "operators.dedup.candidate_docs"]
        out["operators.dedup.pruned_per_candidate"] = self.report[
            "operators.dedup.pruned_per_candidate"]
        return out


class BatchJobs(Workload):
    """The package's two batch jobs in alternation: an exact-KNN classify
    job, then a curation job. A round is one of each, and runs cover
    whole rounds, so every run weighs the two jobs equally."""

    name = "batch_jobs"
    item = "input rows"

    def __init__(self, spark, work, seed):
        super().__init__(spark, work, seed)
        self.jobs = (KnnClassify(spark, os.path.join(work, "knn"), seed),
                     CurateBatch(spark, os.path.join(work, "curate"), seed))
        self.n_op = 0

    def size(self):
        return "; ".join(j.size() for j in self.jobs)

    def setup(self):
        for j in self.jobs:
            j.setup()

    def warmup(self):
        """Both jobs' checks side by side, one thread each."""
        with ThreadPoolExecutor(len(self.jobs)) as pool:
            for f in [pool.submit(j.warmup) for j in self.jobs]:
                f.result()
        for j in self.jobs:
            self.checks.update(j.checks)

    def round_done(self):
        return self.n_op % len(self.jobs) == 0

    def op(self, t=None):
        job = self.jobs[self.n_op % len(self.jobs)]
        self.n_op += 1
        return job.op(t)

    def probe(self, t):
        for j in self.jobs:
            j.probe(t)

    def extra_metrics(self, res):
        out = {}
        for kind, unit in (("knn", "pairs/s"), ("curate", "docs/s")):
            secs = sum(x for x, k in zip(res["lat"], res["kinds"]) if k == kind)
            work = sum(w for w, k in zip(res["work"], res["kinds"]) if k == kind)
            out[f"{kind}_items_per_s"] = (work / secs, unit)
        return out

    def layer_metrics(self, lt):
        out = {}
        for j in self.jobs:
            out.update(j.layer_metrics(lt))
        return out


# --------------------------------------------------------------------
# index_serve

STORES = ("text", "ivf", "dedup")
LAYER = {"text": "operators.retrieval", "ivf": "operators.similarity",
         "dedup": "operators.dedup"}


def each_store(fn) -> None:
    """``fn(store)`` for the three stores at once, one thread each: the
    stores are independent, and most of their Spark stages run a single
    task, so building or checking them side by side uses the idle cores.
    Only set-up and checks do this; the measured loop is one client."""
    with ThreadPoolExecutor(len(STORES)) as pool:
        for f in [pool.submit(fn, s) for s in STORES]:
            f.result()


class IndexServe(Workload):
    """A mixed stream against the BM25 text store, the IVF vector store
    and the dedup fingerprint store: an upsert per store, a query batch
    per store over the new segments and tombstones, and the compactions
    that end each round."""

    name = "index_serve"
    item = "queries"
    # one set-up: each costs 20-25 s, most of a timed round, and the run
    # budget has no room for a second
    SETUPS = 1
    N_DOCS, N_VEC, DIM = 2000, 2000, 64
    Q_BATCH, K, NPROBE = 50, 10, 2
    APPEND, DELETE = 20, 5
    # recall@10 against exact cosine top-10 was 0.96-0.99 on the seeds
    # tried at these sizes (well-separated clusters, 2 of 8 cells probed)
    IVF_RECALL_FLOOR = 0.9
    # one round: an upsert (a delete, then an append) per store, a query
    # batch per store over the new segments and tombstones, then the
    # three compactions that fold them. An upsert is one operation, so
    # the round's median falls among operations of similar cost
    ROUND = tuple(f"{v}_{s}" for v in ("upsert", "q", "compact")
                  for s in STORES)

    def size(self):
        return (f"{self.N_DOCS} documents, {self.N_VEC} {self.DIM}-d vectors, "
                f"{self.Q_BATCH}-query batches, k={self.K}")

    def _setup(self, d):
        ids, texts, _ = gen.zipf_corpus(self.seed, self.N_DOCS)
        vid, vec, _ = gen.clustered_embeddings(self.seed, self.N_VEC,
                                               dim=self.DIM)
        pq.write_table(_docs_table(ids, texts), f"{d}/docs.parquet")
        pq.write_table(pa.table({
            "vec_id": pa.array(vid, pa.int64()),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        }), f"{d}/emb.parquet")
        docs = self.spark.read.parquet(f"{d}/docs.parquet").select(
            "doc_id", "text")
        emb = self.spark.read.parquet(f"{d}/emb.parquet")
        build = {
            "text": lambda: retrieval.build_text_index(
                docs, f"{d}/text", n_buckets=2, n_blocks=2),
            "ivf": lambda: sim.build_ivf_index(
                emb, f"{d}/ivf", n_centroids=8, dim=self.DIM),
            "dedup": lambda: dedup.build_dedup_index(
                docs, f"{d}/dedup", n_buckets=2),
        }
        each_store(lambda s: build[s]())
        self.input_bytes = (sum(len(t.encode()) + 8 for t in texts)
                            + vec.nbytes + 8 * len(vid))
        # per store: the rows physically written, the deleted ids, the
        # next fresh id, a request generator, appended and written bytes
        self.rows = {"text": dict(zip(ids.tolist(), texts)),
                     "ivf": dict(zip(vid.tolist(), vec)),
                     "dedup": dict(zip(ids.tolist(), texts))}
        self.dead = {s: set() for s in STORES}
        self.next_id = {s: (i + 1) * 10 ** 9 for i, s in enumerate(STORES)}
        self.rng = {s: gen.rng_for(self.seed, f"serve-{s}") for s in STORES}
        self.io = {s: [0, 0] for s in STORES}
        # text queries draw their terms from the first 300 documents
        self.queries = texts[:300]
        self.n_op = 0

    def round_done(self):
        return self.n_op % len(self.ROUND) == 0

    def live(self, store):
        return {i: v for i, v in self.rows[store].items()
                if i not in self.dead[store]}

    # -- requests ---------------------------------------------------

    def _request(self, store, b):
        """Query batch ``b`` for ``store`` as a DataFrame."""
        if store == "text":
            qid, qt = gen.text_queries(self.seed, self.Q_BATCH, self.queries,
                                       first_id=b * self.Q_BATCH)
            return self.spark.createDataFrame(
                list(zip(qid.tolist(), qt)), "query_id long, text string")
        if store == "ivf":
            qid, qv, _ = gen.clustered_embeddings(
                self.seed, self.Q_BATCH, dim=self.DIM,
                first_id=-(b + 2) * self.Q_BATCH, stream=f"q{b}")
            return self.spark.createDataFrame(
                [(int(i), v.tolist()) for i, v in zip(qid, qv)],
                "vec_id long, embedding array<float>")
        # half near copies of live corpus docs, half fresh documents
        rng = gen.rng_for(self.seed, f"dq{b}")
        live = sorted(self.live("dedup"))
        first = -(b + 2) * 1000
        fid, ftx, _ = gen.zipf_corpus(self.seed, self.Q_BATCH // 2,
                                      first_id=first, stream=f"dq{b}")
        out = list(zip(fid.tolist(), ftx))
        for j in range(self.Q_BATCH - len(out)):
            toks = self.rows["dedup"][live[int(rng.integers(len(live)))]]
            toks = toks.split(" ")
            toks[int(rng.integers(len(toks)))] = "zz"
            out.append((first + 500 + j, " ".join(toks)))
        return self.spark.createDataFrame(out, "doc_id long, text string")

    def _query_df(self, store, req):
        path = f"{self.dir}/{store}"
        if store == "text":
            return retrieval.query_text_index(self.spark, path, req, self.K)
        if store == "ivf":
            return sim.query_ivf_index(self.spark, path, req, self.K,
                                       nprobe=self.NPROBE, dim=self.DIM)
        return dedup.query_dedup_index(self.spark, path, req)

    # -- operations -------------------------------------------------

    def _query(self, store, b, t):
        lay = LAYER[store]
        with t.span(f"{lay}.query"):
            with t.span(f"{lay}.query.call"):
                df = self._query_df(store, self._request(store, b))
            if t.enabled:
                with t.span("trace.gauge"):
                    self.report.setdefault("files", []).append(
                        len(df.inputFiles()))
            with t.span(f"{lay}.query.exec"):
                noop(df)

    def _append(self, store, t):
        path = f"{self.dir}/{store}"
        with t.span("trace.gauge"):
            before = dir_bytes(path) if t.enabled else 0
        first = self.next_id[store]
        self.next_id[store] += self.APPEND
        if store == "ivf":
            ids, vec, _ = gen.clustered_embeddings(
                self.seed, self.APPEND, dim=self.DIM, first_id=first,
                stream=f"a{first}")
            new = dict(zip(ids.tolist(), vec))
            df = self.spark.createDataFrame(
                [(int(i), v.tolist()) for i, v in new.items()],
                "vec_id long, embedding array<float>")
            raw = vec.nbytes + 8 * len(ids)
        else:
            ids, texts, _ = gen.zipf_corpus(
                self.seed, self.APPEND, first_id=first, stream=f"a{first}")
            new = dict(zip(ids.tolist(), texts))
            df = self.spark.createDataFrame(list(new.items()),
                                            "doc_id long, text string")
            raw = sum(len(x.encode()) + 8 for x in texts)
        with t.span(f"{LAYER[store]}.append"):
            if store == "text":
                retrieval.append_text_index(self.spark, path, df)
            elif store == "ivf":
                sim.append_ivf_index(self.spark, path, df, dim=self.DIM)
            else:
                dedup.append_dedup_index(self.spark, path, df)
        self.rows[store].update(new)
        if t.enabled:
            with t.span("trace.gauge"):
                self.io[store][0] += raw
                self.io[store][1] += dir_bytes(path) - before

    def _delete(self, store, t):
        live = sorted(self.live(store))
        doomed = sorted(int(live[int(i)]) for i in self.rng[store].choice(
            len(live), size=self.DELETE, replace=False))
        fn = {"text": retrieval.delete_from_text_index,
              "ivf": sim.delete_from_ivf_index,
              "dedup": dedup.delete_from_dedup_index}[store]
        with t.span(f"{LAYER[store]}.delete"):
            fn(self.spark, f"{self.dir}/{store}", doomed)
        self.dead[store].update(doomed)

    def _upsert(self, store, t):
        self._delete(store, t)
        self._append(store, t)

    def _compact(self, store, t):
        if t.enabled and store == STORES[0]:
            # the round's most segments and tombstones, before it folds them
            with t.span("trace.gauge"):
                self.report.update(self.store_gauges())
        fn = {"text": retrieval.compact_text_index,
              "ivf": sim.compact_ivf_index,
              "dedup": dedup.compact_dedup_index}[store]
        with t.span(f"{LAYER[store]}.compact"):
            fn(self.spark, f"{self.dir}/{store}")
        # compaction drops tombstoned rows physically
        for i in self.dead[store]:
            del self.rows[store][i]
        self.dead[store] = set()

    def op(self, t=None):
        t = t or _UNTRACED
        b = self.n_op
        verb, store = self.ROUND[b % len(self.ROUND)].split("_")
        self.n_op += 1
        if verb == "q":
            self._query(store, b, t)
            return {"items": self.Q_BATCH, "kind": "read"}
        getattr(self, f"_{verb}")(store, t)
        return {"items": 0, "kind": "write"}

    # -- checks -----------------------------------------------------

    def warmup(self):
        """Per store, untimed: an upsert, so the store has a live segment
        and tombstones, then its query results checked against the inline
        oracle over the live rows."""
        def one(store):
            self._upsert(store, _UNTRACED)
            getattr(self, f"check_{store}")(-1)
        each_store(one)

    def check_text(self, b):
        """Tombstoned documents are never returned, but corpus statistics
        (N, df, avgdl) count every stored row until a compaction (the
        store's documented Lucene semantics). So the oracle ranks over
        the stored rows, drops the deleted ids and ranks the rest."""
        q = self._request("text", b)
        got = sorted(map(tuple, self._query_df("text", q).collect()))
        docs = self.spark.createDataFrame(
            list(self.rows["text"].items()), "doc_id long, text string")
        dead = self.dead["text"]
        ranked = sorted((r.query_id, r.rank, r.doc_id, r.bm25)
                        for r in retrieval.bm25_topk(
                            docs, q, self.K + len(dead)).collect()
                        if r.doc_id not in dead)
        want, n = [], {}
        for qid, _rank, did, score in ranked:
            n[qid] = n.get(qid, 0) + 1
            if n[qid] <= self.K:
                want.append((qid, n[qid], did, score))
        expect(got == sorted(want) and got,
               "text store results differ from inline bm25_topk")
        self.checks["text_equals_bm25_topk"] = True

    def check_ivf(self, b):
        q = self._request("ivf", b)
        got = {(r.query_id, r.vec_id)
               for r in self._query_df("ivf", q).collect()}
        corpus = self.spark.createDataFrame(
            [(i, v.tolist()) for i, v in self.live("ivf").items()],
            "vec_id long, embedding array<float>")
        exact = {(r.query_id, r.vec_id) for r in sim.cosine_topk(
            corpus, q, self.K, self.DIM).collect()}
        recall = len(got & exact) / len(exact)
        self.checks["ivf_recall_at_10"] = recall
        expect(recall >= self.IVF_RECALL_FLOOR,
               f"IVF recall@10 {recall:.3f} below {self.IVF_RECALL_FLOOR}")

    def check_dedup(self, b):
        batch = self._request("dedup", b)
        got = {(r.doc_id, r.corpus_id): (r.n_agree, round(r.est_jaccard, 6))
               for r in self._query_df("dedup", batch).collect()}
        corpus = self.spark.createDataFrame(
            list(self.live("dedup").items()), "doc_id long, text string")
        bids = {r.doc_id for r in batch.select("doc_id").collect()}
        want = {}
        for r in dedup.minhash_sig_est_pairs(
                corpus.unionByName(batch), 0.5).collect():
            for q, c in ((r.doc_a, r.doc_b), (r.doc_b, r.doc_a)):
                if q in bids and c not in bids:
                    want[(q, c)] = (r.n_agree, round(r.est_jaccard, 6))
        expect(got == want and got,
               "dedup store hits differ from the inline MinHash pairs")
        self.checks["dedup_equals_inline_minhash"] = True

    # -- metrics ----------------------------------------------------

    def store_gauges(self):
        segs = sum(len(index_store.segment_batch_ids(self.spark, f"{self.dir}/{d}"))
                   for d in ("text/postings_seg", "ivf/stream_cells",
                             "dedup/sigs_seg"))
        return {"sources.index_store.live_segments": float(segs),
                "sources.index_store.tombstones": float(
                    sum(len(v) for v in self.dead.values()))}

    def extra_metrics(self, res):
        lat = res["lat"]
        reads = [x for x, k in zip(lat, res["kinds"]) if k == "read"]
        writes = [x for x, k in zip(lat, res["kinds"]) if k == "write"]
        stored = sum(dir_bytes(f"{self.dir}/{s}") for s in STORES)
        return {"read_p50_s": (median(reads), "s"),
                "write_p50_s": (median(writes), "s"),
                "bytes_stored_per_input_byte": (
                    stored / self.input_bytes, "B/B")}

    def layer_metrics(self, lt):
        out = {}
        for store in STORES:
            lay = LAYER[store]
            for part in ("query", "query.call", "query.exec", "append",
                         "delete", "compact"):
                d = lt.get(f"{lay}.{part}")
                if d:
                    out[f"{lay}.{part.replace('.', '_')}_s"] = (
                        d["total_s"] / d["n"])
        files = self.report.get("files", [])
        out["sources.index_store.files_per_query"] = (
            sum(files) / max(len(files), 1))
        out["sources.index_store.live_segments"] = self.report[
            "sources.index_store.live_segments"]
        out["sources.index_store.tombstones"] = self.report[
            "sources.index_store.tombstones"]
        appended = sum(v[0] for v in self.io.values())
        out["sources.index_store.bytes_written_per_append_byte"] = (
            sum(v[1] for v in self.io.values()) / max(appended, 1))
        return out
