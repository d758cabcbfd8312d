"""``llm_corpus``: the LLM-data operators on their own, no Engine.

Bypasses every engine layer; the time goes to the operators' eager
driver-side jobs, Python/Arrow workers and per-query-batch fixed cost.

Cycle: ``build`` (curation: ``quality_features``, ``detect_language``,
``minhash_dedup``; index builds: ``bm25_index``, ``ivf_index_build``,
both written to parquet), ``query`` (a seeded batch of text queries
against the BM25 index and of vectors against the IVF index and the
exact ``cosine_topk_blas``) and ``rebuild`` (index maintenance:
``ivf_index_append`` of a new vector batch, written back).

Each DataFrame's action consumes every column: the ``noop`` sink for
results nobody keeps, parquet for the deduplicated corpus and the
indexes, ``collect()`` for query results, which go back to the caller
and are what the checks verify.  ``.count()`` would let column pruning
skip most of the work.  Every
cycle writes to its own directory, so the checks can compare the
outputs of two independent builds.
"""

from __future__ import annotations

import os
import random
import re
import shutil
from collections import Counter, defaultdict
from contextlib import contextmanager

import numpy as np

import inputs
import refcheck

N_DOCS = 400
N_VEC = 600
N_QUERY_POOL = 256
N_APPEND = 128
QUERY_BATCH = 16
TOP_K = 10
N_CELLS = 16
N_PROBE = 4
IVF_RECALL_FLOOR = 0.8
DEDUP_RECALL_FLOOR = 0.95


def words(text: str) -> list[str]:
    """The operators' tokenizer: lowercase, non-alphanumerics to spaces."""
    return [w for w in re.sub(r"[^a-z0-9 ]", " ", text.lower()).split() if w]


def bm25_reference(corpus: dict[int, str], queries: dict[int, str],
                   top_k: int) -> list[tuple]:
    """Brute-force BM25 (k1 = 1.2, b = 0.75) with the operators'
    integer milli/micro flooring; rows (query_id, doc_id, score_micro,
    rank)."""
    tf = {d: Counter(words(t)) for d, t in corpus.items()}
    dl = {d: sum(c.values()) for d, c in tf.items()}
    n, total = len(tf), sum(dl.values())
    df_t: Counter = Counter()
    for c in tf.values():
        df_t.update(c.keys())
    idf = {t: int(np.floor(np.log(1.0 + (n - d + 0.5) / (d + 0.5)) * 1000))
           for t, d in df_t.items()}
    postings = defaultdict(list)
    for d, c in tf.items():
        for t, f in c.items():
            postings[t].append((d, f))
    out = []
    for q, text in queries.items():
        scores: dict[int, int] = defaultdict(int)
        for t in set(words(text)):
            for d, f in postings.get(t, ()):
                scores[d] += int(np.floor(
                    float(idf[t]) * (44.0 * f * total)
                    / (20.0 * f * total + 6.0 * total + 18.0 * dl[d] * n)
                    * 1000.0))
        ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:top_k]
        out += [(q, d, s, r) for r, (d, s) in enumerate(ranked, start=1)]
    return out


def exact_topk(corpus_ids, corpus, q_ids, q, k: int) -> dict[int, list[int]]:
    cn = corpus / np.linalg.norm(corpus, axis=1, keepdims=True)
    qn = q / np.linalg.norm(q, axis=1, keepdims=True)
    sims = qn @ cn.T
    out = {}
    for i, qid in enumerate(q_ids):
        order = np.lexsort((corpus_ids, -np.round(sims[i], 9)))[:k]
        out[int(qid)] = [int(corpus_ids[j]) for j in order]
    return out


def shingles(text: str, n: int = 3) -> set:
    w = words(text)
    return {" ".join(w[i:i + n]) for i in range(len(w) - n + 1)}


class LlmCorpus:
    name = "llm_corpus"

    def __init__(self, spark, seed: int, threads: int) -> None:
        self.spark, self.seed, self.threads = spark, seed, threads
        self.rng = random.Random(seed * 15485863 + 5)
        self.tracer = None
        self.stats = None
        self.cycle_no = 0
        self.last_query = None

    # -- setup -----------------------------------------------------------------

    def generate(self, out: str) -> dict:
        os.makedirs(out, exist_ok=True)
        self.dir = out
        self.planted = inputs.documents(f"{out}/documents.parquet", self.seed,
                                        N_DOCS)
        self.vecs = inputs.embeddings(f"{out}/embeddings.parquet", self.seed, N_VEC)
        self.qvecs = inputs.embeddings(f"{out}/queries.parquet", self.seed + 1,
                                       N_QUERY_POOL, id_offset=1_000_000,
                                       centers_seed=self.seed)
        self.avecs = inputs.embeddings(f"{out}/append.parquet", self.seed + 2,
                                       N_APPEND, id_offset=2_000_000,
                                       centers_seed=self.seed)
        import pyarrow.parquet as pq

        self.texts = dict(zip(
            *pq.read_table(f"{out}/documents.parquet",
                           columns=["doc_id", "text"]).to_pydict().values()))
        return {"documents": N_DOCS, "vectors": N_VEC, "dim": 64,
                "query_batch": QUERY_BATCH, "append": N_APPEND,
                "planted_duplicates": len(self.planted)}

    def instrument(self, tracer) -> None:
        import harness

        self.tracer = tracer
        self.stats = harness.SparkStats(self.spark)

    # -- timed steps --------------------------------------------------------------

    @contextmanager
    def _step(self, mod: str, fn: str, part: str):
        """Span plus job count around one operator call or action."""
        if self.tracer is None or not self.tracer.enabled:
            yield
            return
        name = f"operators.{mod}.{fn}.{part}"
        mark = self.stats.mark()
        idx = self.tracer.begin(f"{name}_s")
        try:
            yield
        finally:
            self.tracer.end(idx)
            self.tracer.count(f"{name}_jobs", self.stats.jobs_since(mark))

    def _run(self, mod: str, fn, *args, sink: str | tuple | None = None,
             collect: bool = False, **kwargs):
        """Call an operator (its DataFrame construction, with any eager
        jobs), then run the action: parquet to ``sink``, ``collect()``
        for query results returned to the caller, else the noop sink.
        Returns the collected rows when ``collect``."""
        with self._step(mod, fn.__name__, "build"):
            out = fn(*args, **kwargs)
        frames = out if isinstance(out, tuple) else (out,)
        sinks = sink if isinstance(sink, tuple) else (sink,) * len(frames)
        with self._step(mod, fn.__name__, "action"):
            if collect:
                return out.collect()
            for df, path in zip(frames, sinks):
                if path is None:
                    df.write.format("noop").mode("overwrite").save()
                else:
                    df.write.mode("overwrite").parquet(path)
        return None

    def _frames(self):
        read = self.spark.read.parquet
        return (read(f"{self.dir}/documents.parquet"),
                read(f"{self.dir}/embeddings.parquet"))

    def cycle(self, loop, repeat: bool = True) -> None:
        """One build, query batch and rebuild; every operation is slow
        enough that ``repeat`` adds no samples here."""
        from dbt_core_spark.operators import dedup, similarity, textstats

        docs, emb = self._frames()
        idx = os.path.join(self.dir, f"cycle{self.cycle_no}")
        if self.cycle_no >= 2:  # the checks read the last two cycles
            shutil.rmtree(os.path.join(self.dir, f"cycle{self.cycle_no - 2}"),
                          ignore_errors=True)

        def build():
            self._run("textstats", textstats.quality_features, docs)
            self._run("textstats", textstats.detect_language, docs)
            self._run("dedup", dedup.minhash_dedup, docs, sink=f"{idx}/dedup")
            self._run("textstats", textstats.bm25_index, docs,
                      sink=f"{idx}/bm25")
            self._run("similarity", similarity.ivf_index_build, emb,
                      n_cells=N_CELLS, sink=(f"{idx}/cents", f"{idx}/assigns"))
            return {"nodes": 5}

        loop.op("build", build)
        read = self.spark.read.parquet
        ids = self.rng.sample(range(N_DOCS), QUERY_BATCH)
        vids = [1_000_000 + i
                for i in self.rng.sample(range(N_QUERY_POOL), QUERY_BATCH)]

        def query():
            qdocs = docs.where(docs.doc_id.isin(ids))
            queries = read(f"{self.dir}/queries.parquet")
            qv = queries.where(queries.vec_id.isin(vids))
            self.last_query = (ids, vids, *(
                self._run("textstats", textstats.bm25_query,
                          read(f"{idx}/bm25"), qdocs, top_k=TOP_K,
                          collect=True),
                self._run("similarity", similarity.ivf_index_search,
                          read(f"{idx}/cents"), read(f"{idx}/assigns"), qv,
                          k=TOP_K, n_probe=N_PROBE, collect=True),
                self._run("similarity", similarity.cosine_topk_blas, emb,
                          k=TOP_K, queries=qv, collect=True)))
            return {"queries": 2 * QUERY_BATCH}

        loop.op("query", query)

        def rebuild():
            batch = read(f"{self.dir}/append.parquet")
            self._run("similarity", similarity.ivf_index_append,
                      read(f"{idx}/cents"), batch,
                      sink=f"{idx}/assigns_appended")
            return {}

        loop.op("rebuild", rebuild)
        self.cycle_no += 1

    # -- metrics -------------------------------------------------------------------

    def cycle_metrics(self, records, per: float) -> dict:
        return {}

    # -- checks --------------------------------------------------------------------

    def check(self) -> list[str]:
        """The last query batch's results against brute force, and the
        outputs of the last two cycles, which built everything
        independently, against each other."""
        errors: list[str] = []
        if self.cycle_no < 2 or self.last_query is None:
            return ["llm_corpus: fewer than two cycles ran"]
        read = self.spark.read.parquet
        prev, last = (os.path.join(self.dir, f"cycle{self.cycle_no - k}")
                      for k in (2, 1))
        qids, vids, bm25_rows, ivf_rows, cos_rows = self.last_query

        # BM25 scores and ranks against brute force
        errors += refcheck.compare(
            "llm_corpus bm25_query", bm25_rows,
            bm25_reference(self.texts, {q: self.texts[q] for q in qids}, TOP_K))

        # exact cosine top-k against NumPy
        rows = [v - 1_000_000 for v in vids]
        want = exact_topk(np.arange(N_VEC), self.vecs.astype("float64"), vids,
                          self.qvecs[rows].astype("float64"), TOP_K)
        got: dict[int, list] = defaultdict(list)
        for r in sorted(cos_rows, key=lambda r: (r["query_id"], r["rank"])):
            got[r["query_id"]].append(r["nbr_id"])
        if dict(got) != want:
            errors.append("llm_corpus cosine_topk_blas: neighbours differ from "
                          "the NumPy brute force")

        # IVF: two independent builds are identical, and the search meets
        # the recall floor against the exact neighbours
        builds = [[refcheck.rows_hash(read(f"{d}/{part}").collect(), 9)
                   for part in ("cents", "assigns")] for d in (prev, last)]
        if builds[0] != builds[1]:
            errors.append("llm_corpus ivf_index_build: two builds differ")
        hits = sum(len({r["nbr_id"] for r in ivf_rows if r["query_id"] == q}
                       & set(want[q])) for q in want)
        recall = hits / (TOP_K * len(want))
        if recall < IVF_RECALL_FLOOR:
            errors.append(f"llm_corpus ivf recall@{TOP_K} {recall:.3f} "
                          f"< {IVF_RECALL_FLOOR}")

        # IVF append: each new vector's cell is its nearest centroid
        cents = read(f"{last}/cents").collect()
        cv = np.array([r["cv"] for r in sorted(cents, key=lambda r: r["cell"])])
        cells = np.array(sorted(r["cell"] for r in cents))
        av = self.avecs.astype("float64")
        near = cells[np.argmax((av / np.linalg.norm(av, axis=1, keepdims=True))
                               @ cv.T, axis=1)]
        got_cells = {r["id"]: r["cell"]
                     for r in read(f"{last}/assigns_appended").collect()}
        want_cells = {2_000_000 + i: int(c) for i, c in enumerate(near)}
        if got_cells != want_cells:
            bad = sum(got_cells.get(k) != v for k, v in want_cells.items())
            errors.append(f"llm_corpus ivf_index_append: {bad} vectors in "
                          "another cell than their nearest centroid")

        # minhash: two builds agree; planted copies go, nothing else does
        kept = [frozenset(r[0] for r in read(f"{d}/dedup").select("doc_id")
                          .collect()) for d in (prev, last)]
        if kept[0] != kept[1]:
            errors.append("llm_corpus minhash_dedup: two runs differ")
        removed = set(range(N_DOCS)) - kept[1]
        copies = {c for s, c in self.planted
                  if len(shingles(self.texts[s]) & shingles(self.texts[c]))
                  / len(shingles(self.texts[s]) | shingles(self.texts[c])) >= 0.7}
        recall = len(removed & copies) / max(1, len(copies))
        if recall < DEDUP_RECALL_FLOOR:
            errors.append(f"llm_corpus minhash_dedup recall {recall:.3f} "
                          f"< {DEDUP_RECALL_FLOOR}")
        planted_copies = {c for _, c in self.planted}
        if removed - planted_copies:
            errors.append(f"llm_corpus minhash_dedup removed "
                          f"{len(removed - planted_copies)} unplanted documents")
        return errors

    def cleanup(self) -> None:
        """Nothing outside the run's work directory."""
