"""``ingest`` workload: writes beside reads. One closed-loop client
repeats steps of (append a generated batch with ``sources.writers.
append_rows``, then run an exact top-10 whose query is the batch's
marker row) on a table that grows one file per append. After ``EPOCH``
steps the table is reset to its initial file outside the timed region,
so every run sees the same growth pattern however long it is.

primary = the search after an append, secondary = the append,
recall = share of searches returning their marker top-1,
bytes_per_row = on-disk table bytes per live row at each epoch end.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import numpy as np
import pyarrow.parquet as pq

from perfbench import gen
from perfbench.runtime import Unit, Workload, data_files, dot_fold, top_k, tree_bytes

from quick_and_easy_vectordb_spark.operators.search import top_k_by_dot
from quick_and_easy_vectordb_spark.sources.writers import append_rows, read_corpus

INITIAL = 6_000
BATCH = 300
EPOCH = 8  # appends before the table is reset; a 12 s run completes one
DIM = 64
CLUSTERS = 32
MARKER_NORM = 4.0  # generated rows have norm ~1.1, see gen.append_batch
K = 10
WARMUP = 6  # steps, inside setup_s


def exact_top_k(df, q: list[float], tr) -> list[tuple[int, float]]:
    """Exact dot-product top-10 of ``df`` (vec_id, embedding) as
    (id, score) pairs, with plan and exec spans."""
    with tr.span("operators.search.plan"):
        plan = top_k_by_dot(df, q, k=K, vector_col="embedding",
                            id_col="vec_id").select("vec_id", "similarity")
    with tr.span("operators.search.exec"):
        rows = plan.collect()
    return [(r.vec_id, r.similarity) for r in rows]


class Ingest(Workload):
    primary, secondary = "search", "append"
    ALIASES = {
        "work_per_s": "appended rows/s",
        "primary_p50_ms": "ingest_search_p50_ms",
        "secondary_p50_ms": "ingest_append_p50_ms",
        "recall": "marker top-1 rate",
        "bytes_per_row": "ingest_bytes_per_row",
    }

    def __init__(self, ctx) -> None:
        super().__init__(ctx)
        self.epoch_bytes: list[float] = []

    # ---------------------------------------------------------------- setup
    def setup_once(self, rep: int, tracer) -> None:
        """Generate the initial table and every batch of an epoch."""
        d = os.path.join(self.ctx.work, f"ingest-{rep}")
        os.makedirs(d)
        corpus = gen.vector_corpus(self.ctx.seed, INITIAL, DIM, CLUSTERS)
        self.initial = os.path.join(d, "initial.parquet")
        gen.write_vectors(self.initial, corpus.ids, corpus.vecs, corpus.labels)
        self.batches, self.batch_files = [], []
        for step in range(EPOCH):
            b = gen.append_batch(self.ctx.seed, step, INITIAL + step * BATCH, BATCH,
                                 corpus.centers, MARKER_NORM)
            path = os.path.join(d, f"batch-{step:03d}.parquet")
            gen.write_vectors(path, b.ids, b.vecs, b.labels)
            self.batches.append(b)
            self.batch_files.append(path)
        self.corpus = corpus
        self.table = os.path.join(d, "table")

    def warm_up(self) -> None:
        self._reset()
        for step in range(WARMUP):
            self.append(step, self.ctx.null)
            self.search(step, self.ctx.null)

    def _reset(self) -> None:
        shutil.rmtree(self.table, ignore_errors=True)
        os.makedirs(self.table)
        shutil.copy(self.initial, os.path.join(self.table, "part-initial.parquet"))

    # ------------------------------------------------------------- requests
    def append(self, step: int, tr):
        with tr.span("request.append") as root:
            with tr.span("sources.append"):
                batch = read_corpus(self.ctx.spark, self.batch_files[step])
                append_rows(batch, self.table)
        return None, root

    def search(self, step: int, tr):
        q = [float(v) for v in self.batches[step].vecs[self.batches[step].marker]]
        with tr.span("request.search") as root:
            with tr.span("sources.read"):
                df = read_corpus(self.ctx.spark, self.table)
            out = exact_top_k(df, q, tr)
        return out, root

    def loop(self) -> list[Unit]:
        units: list[Unit] = []
        end = time.perf_counter() + self.ctx.seconds
        epoch, step = 0, 0
        self._reset()
        while time.perf_counter() < end:
            traced = self.ctx.traces(epoch * EPOCH + step)
            info = {"epoch": epoch, "step": step}
            app = Unit("append", 0.0, traced, info={**info, "rows": BATCH})
            units.append(self.ctx.attempt(app, lambda tr: self.append(step, tr)))
            srch = Unit("search", 0.0, traced,
                        info={**info, "rows": K, "files": data_files(self.table)})
            units.append(self.ctx.attempt(srch, lambda tr: self.search(step, tr)))

            step += 1
            if step == EPOCH or time.perf_counter() >= end:
                self._end_epoch(epoch, step)
                epoch, step = epoch + 1, 0
                self._reset()
        return units

    def _end_epoch(self, epoch: int, steps: int) -> None:
        """Row count check and space use at the end of an epoch (outside
        the timed region; read with pyarrow, not the engine)."""
        rows = pq.read_table(self.table, columns=["vec_id"]).num_rows
        want = INITIAL + steps * BATCH
        if rows != want:
            self.ctx.fail(f"epoch {epoch}: table holds {rows} rows, want {want}")
        if steps == EPOCH or not self.epoch_bytes:
            self.epoch_bytes.append(tree_bytes(self.table) / max(rows, 1))

    # --------------------------------------------------------------- checks
    def check(self, units: list[Unit]) -> dict:
        """Each search must return its batch's marker top-1 and equal a
        numpy brute force over the rows appended so far."""
        ids = np.concatenate([self.corpus.ids] + [b.ids for b in self.batches])
        vecs = np.concatenate([self.corpus.vecs] + [b.vecs for b in self.batches])
        hits = []
        for u in units:
            if u.kind != "search" or not u.ok:
                continue
            step = u.info["step"]
            b = self.batches[step]
            live = INITIAL + (step + 1) * BATCH
            q = b.vecs[b.marker].astype(np.float64)
            truth = top_k(dot_fold(vecs[:live], q), ids[:live], K)
            hit = u.out[0][0] == int(b.ids[b.marker])
            hits.append(hit)
            if not hit or u.out != truth:
                self.ctx.fail(f"search epoch {u.info['epoch']} step {step}: "
                              f"{u.out} != {truth}", u)
        return {
            "recall": float(np.mean(hits)) if hits else 0.0,
            "bytes_per_row": statistics.median(self.epoch_bytes),
        }

    def work_per_s(self, units: list[Unit]) -> float:
        appended = BATCH * sum(u.kind == "append" for u in units)
        return appended / (sum(u.ms for u in units) / 1000)

    def layer_extra(self, traced, spans, log, extra) -> dict:
        searches = [u for u in traced if u.kind == "search"]
        return {
            "sources.files_per_table": statistics.fmean(
                u.info["files"] for u in searches) if searches else 0.0,
        }
