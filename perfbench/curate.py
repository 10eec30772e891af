"""``curate`` workload: one LLM-data-pipeline pass after another over a
generated document corpus with planted exact and near duplicates. Each
pass runs, in order, and writes every stage's output to parquet the way
a large pipeline checkpoints:

exact dedup (``operators.dedup.exact_dedup``) → MinHash/LSH candidates
over the survivors (``shingle_table`` / ``minhash_doc_table`` /
``lsh_candidate_pairs``) → chunking (``operators.chunking``) → hash
embedding (``functions.embed.make_embed_udf``, a pandas UDF) → LSH
index build (``operators.ann.write_lsh_index``) → batch kNN of a
seeded query batch (``operators.search.batch_knn``).

primary = one pass, secondary = its dedup stages, work_per_s = input
docs over the median pass time, recall = planted near-duplicate pairs
found, bytes_per_row = checkpoint bytes written per input doc.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time

import numpy as np
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from perfbench import gen
from perfbench.runtime import Unit, Workload, data_files, dot_fold, top_k, tree_bytes

from quick_and_easy_vectordb_spark.functions.embed import hash_embed_py, make_embed_udf
from quick_and_easy_vectordb_spark.operators.ann import python_lsh_signature, write_lsh_index
from quick_and_easy_vectordb_spark.operators.chunking import chunk_documents
from quick_and_easy_vectordb_spark.operators.dedup import (
    exact_dedup,
    lsh_candidate_pairs,
    minhash_doc_table,
    shingle_table,
)
from quick_and_easy_vectordb_spark.operators.search import batch_knn
from quick_and_easy_vectordb_spark.sources.writers import read_corpus, write_corpus

ORIGINALS = 2500  # + 10% exact and 10% near copies = 3000 docs a pass
# the first pass of a process pays class loading, code generation and
# Python worker start (~22 s on 4 shared cores); while the JIT compiles
# in the background the second runs ~40% and the third ~20% slower than
# later ones, so all three run inside setup_s
WARM_PASSES = 3
CHUNK, OVERLAP = 200, 50
EMBED_DIM = 16
PLANES = 4
QUERIES = 16
K = 10
EMBED_SAMPLE = 64  # embeddings re-computed in Python per pass
# MinHash defaults of lsh_candidate_pairs: 12 hashes in 4 bands of 3
HASHES, BANDS = 12, 4
CHECKPOINTS = ("exact", "candidates", "chunks", "embeddings", "index", "knn")


def _min_recall(jaccards) -> float:
    """Floor for the near-dup recall check: the LSH S-curve's expected
    recall for the planted pairs' true Jaccards, less a wide margin
    (MinHash draws are random; a broken stage lands far below)."""
    js = np.array(list(jaccards))
    r = HASHES // BANDS
    return float(np.mean(1 - (1 - js**r) ** BANDS)) - 0.15


class Curate(Workload):
    primary, secondary = "pass", "dedup"
    ALIASES = {
        "work_per_s": "curate_docs_per_s",
        "primary_p50_ms": "pass wall time",
        "secondary_p50_ms": "exact + MinHash/LSH stages",
        "recall": "curate_dedup_recall",
        "bytes_per_row": "checkpoint bytes per input doc",
    }

    def __init__(self, ctx) -> None:
        super().__init__(ctx)
        self.passes = 0
        self.found = self.planted = 0
        self.pass_bytes: list[float] = []
        self.stats: dict[int, dict] = {}  # pass root span → counts

    # ---------------------------------------------------------------- setup
    def setup_once(self, rep: int, tracer) -> None:
        """Generate the corpus and the kNN query batch."""
        d = os.path.join(self.ctx.work, f"curate-{rep}")
        os.makedirs(d)
        self.corpus = gen.doc_corpus(self.ctx.seed, ORIGINALS)
        self.docs = os.path.join(d, "documents.parquet")
        gen.write_docs(self.docs, self.corpus.ids, self.corpus.texts)
        self.queries = gen.doc_queries(self.ctx.seed, QUERIES, EMBED_DIM)
        self.query_file = os.path.join(d, "queries.parquet")
        gen.write_queries(self.query_file, self.queries)

    def warm_up(self) -> None:
        for i in range(WARM_PASSES):
            out = os.path.join(self.ctx.work, f"pass-warm-{i}")
            self.run_pass(out, self.ctx.null)
            self.verify(out)
            shutil.rmtree(out)

    # ------------------------------------------------------------- the pass
    def _read(self, path: str, tr):
        with tr.span("sources.read"):
            return read_corpus(self.ctx.spark, path)

    def run_pass(self, out: str, tr):
        """The pipeline; returns (dedup stages ms, root span)."""
        p = lambda name: os.path.join(out, name)  # noqa: E731
        with tr.span("pass") as root:
            docs = self._read(self.docs, tr)
            t = time.perf_counter()
            with tr.span("operators.dedup.exact"):
                with tr.span("operators.dedup.exact.plan"):
                    plan = exact_dedup(docs)
                with tr.span("operators.dedup.exact.exec"):
                    write_corpus(plan, p("exact"))
            with tr.span("operators.dedup.minhash_lsh"):
                with tr.span("operators.dedup.minhash_lsh.plan"):
                    keep = self._read(p("exact"), tr).select(F.col("keep_id").alias("doc_id"))
                    survivors = docs.join(keep, "doc_id", "left_semi")
                    plan = lsh_candidate_pairs(minhash_doc_table(shingle_table(survivors)),
                                               num_hashes=HASHES, bands=BANDS)
                with tr.span("operators.dedup.minhash_lsh.exec"):
                    write_corpus(plan, p("candidates"))
            dedup_ms = (time.perf_counter() - t) * 1000
            with tr.span("operators.chunking"):
                with tr.span("operators.chunking.plan"):
                    plan = chunk_documents(survivors, chunk_size=CHUNK, overlap=OVERLAP)
                with tr.span("operators.chunking.exec"):
                    write_corpus(plan, p("chunks"))
            with tr.span("functions.embed"):
                with tr.span("functions.embed.plan"):
                    chunks = self._read(p("chunks"), tr)
                    embed = make_embed_udf("hash", EMBED_DIM)
                    plan = chunks.select("chunk_id", embed("chunk_text").alias("vec"))
                with tr.span("functions.embed.exec"):
                    write_corpus(plan, p("embeddings"))
            with tr.span("operators.ann.index_build"):
                write_lsh_index(self._read(p("embeddings"), tr), p("index"),
                                vec_col="vec", num_planes=PLANES, dim=EMBED_DIM)
            with tr.span("operators.search.batch_knn"):
                with tr.span("operators.search.batch_knn.plan"):
                    plan = batch_knn(self._read(self.query_file, tr),
                                     self._read(p("embeddings"), tr), k=K,
                                     corpus_id="chunk_id", corpus_vec="vec",
                                     metric="dot")
                with tr.span("operators.search.batch_knn.exec"):
                    write_corpus(plan.select("query_id", "chunk_id", "score", "rank"),
                                 p("knn"))
        return dedup_ms, root

    def loop(self) -> list[Unit]:
        units: list[Unit] = []
        end = time.perf_counter() + self.ctx.seconds
        while time.perf_counter() < end:
            traced = self.ctx.traces(self.passes)
            out = os.path.join(self.ctx.work, f"pass-{self.passes}")
            unit = Unit("pass", 0.0, traced,
                        info={"pass": self.passes, "rows": len(self.corpus.ids)})
            units.append(self.ctx.attempt(
                unit, lambda tr: self.run_pass(out, tr)))
            if unit.ok:
                stats = self.verify(out, unit)
                if unit.root is not None:
                    self.stats[unit.root] = stats
                self.pass_bytes.append(tree_bytes(out) / len(self.corpus.ids))
            shutil.rmtree(out, ignore_errors=True)
            print(f"pass {self.passes}: {unit.ms:.0f} ms, dedup {unit.out or 0:.0f} ms",
                  file=sys.stderr)
            self.passes += 1
        return units

    # --------------------------------------------------------------- checks
    def verify(self, out: str, unit: Unit | None = None) -> dict:
        """Check every stage's output of one pass against the generator's
        ground truth and Python re-computations; read with pyarrow."""
        corpus = self.corpus
        fail = lambda msg: self.ctx.fail(msg, unit)  # noqa: E731
        p = lambda name: os.path.join(out, name)  # noqa: E731

        keep = set(pq.read_table(p("exact"), columns=["keep_id"])["keep_id"].to_pylist())
        if keep != corpus.survivors:
            fail(f"exact dedup kept {len(keep)} docs, want {len(corpus.survivors)}")

        cand = pq.read_table(p("candidates")).to_pydict()
        pairs = set(zip(cand["id_a"], cand["id_b"]))
        if any(a >= b or a not in keep or b not in keep for a, b in pairs):
            fail("candidate pairs must be ordered pairs of exact-dedup survivors")
        found = len(pairs & corpus.near_pairs)
        recall, floor = found / len(corpus.near_pairs), _min_recall(corpus.near_jaccard.values())
        if recall < floor:
            fail(f"near-dup recall {recall:.3f} below the LSH S-curve floor {floor:.3f}")
        if unit is not None:
            self.found += found
            self.planted += len(corpus.near_pairs)

        text = dict(zip(corpus.ids.tolist(), corpus.texts))
        step = CHUNK - OVERLAP
        want = sum((len(text[i]) - 1) // step + 1 for i in corpus.survivors if text[i])
        chunks = pq.read_table(p("chunks"), columns=["chunk_id", "chunk_text"]).to_pydict()
        if len(chunks["chunk_id"]) != want:
            fail(f"{len(chunks['chunk_id'])} chunks, want {want} by the window formula")

        emb = pq.read_table(p("embeddings")).to_pydict()
        chunk_text = dict(zip(chunks["chunk_id"], chunks["chunk_text"]))
        if len(emb["chunk_id"]) != want:
            fail(f"{len(emb['chunk_id'])} embeddings, want {want}")
        for cid, vec in list(zip(emb["chunk_id"], emb["vec"]))[:EMBED_SAMPLE]:
            if vec != hash_embed_py(chunk_text[cid], EMBED_DIM):
                fail(f"embedding of chunk {cid} differs from hash_embed_py")
                break

        idx = ds.dataset(p("index"), format="parquet",
                         partitioning=ds.partitioning(flavor="hive")).to_table()
        # partition values read back as integers; compare as bit strings
        buckets = idx["lsh_bucket"].to_pylist()
        if len(buckets) != want:
            fail(f"index holds {len(buckets)} rows, want {want}")
        for vec, b in list(zip(idx["vec"].to_pylist(), buckets))[:EMBED_SAMPLE]:
            if int(python_lsh_signature(vec, PLANES)) != int(b):
                fail("index bucket differs from python_lsh_signature")
                break

        knn = pq.read_table(p("knn")).to_pydict()
        got: dict[int, list] = {}
        for q, c, s, r in zip(knn["query_id"], knn["chunk_id"], knn["score"], knn["rank"]):
            got.setdefault(q, []).append((r, c, s))
        ids = np.array(emb["chunk_id"], dtype=np.int64)
        vecs = np.array(emb["vec"], dtype=np.float64)
        scores = dot_fold(vecs, self.queries.T)
        for q in range(QUERIES):
            truth = top_k(scores[:, q], ids, K)
            mine = [(c, s) for _, c, s in sorted(got.get(q, []))]
            if mine != truth:
                fail(f"batch kNN for query {q}: {mine} != {truth}")
                break
        return {"candidates": len(pairs), "true": found, "chunks": want,
                "files": statistics.fmean(data_files(p(t)) for t in CHECKPOINTS)}

    def samples(self, units: list[Unit], kind: str) -> list[float]:
        ok = [u for u in units if u.ok]
        if kind == "dedup":
            return [u.out for u in ok]
        return [u.ms for u in ok]

    def work_per_s(self, units: list[Unit]) -> float:
        """Input docs over the median pass time: a run holds a handful of
        passes, and one slowed by the host would move a mean."""
        ms = self.samples(units, "pass")
        return len(self.corpus.ids) / (statistics.median(ms) / 1000) if ms else 0.0

    def check(self, units: list[Unit]) -> dict:
        return {
            "recall": self.found / self.planted if self.planted else 0.0,
            "bytes_per_row": statistics.median(self.pass_bytes) if self.pass_bytes else 0.0,
        }

    def layer_extra(self, traced, spans, log, extra) -> dict:
        stats = [self.stats[u.root] for u in traced if u.root in self.stats]
        if not stats:
            return {}
        med = lambda name: statistics.median(  # noqa: E731
            (s.end - s.start) / 1000 for s in spans if s.name == name)
        chunks = statistics.fmean(s["chunks"] for s in stats)
        cands = statistics.fmean(s["candidates"] for s in stats)
        return {
            "operators.dedup.candidate_pairs": cands,
            "operators.dedup.pair_precision":
                statistics.fmean(s["true"] for s in stats) / cands if cands else 0.0,
            "functions.embed.rows_per_s": chunks / med("functions.embed"),
            "operators.search.batch_knn_pairs_per_s":
                QUERIES * chunks / med("operators.search.batch_knn"),
            "sources.files_per_table": statistics.fmean(s["files"] for s in stats),
        }
