"""index_lifecycle: the persisted-index tier of the LLM-data extension.

Set-up builds one IVF-PQ vector index and one positioned winnow text index
through the CLI (``ann-index build --pq``, ``winnow-index build``). Then one
client runs a fixed cycle of operations over both, with seeded inputs:
single-query ANN probes and a winnow span + dedup probe of a small batch
(reads), exactly-once batch adds and tombstone removes on both indexes
(writes), and a compaction of both indexes once per cycle (the job).

Checks: ANN recall@k against numpy brute force over the live vectors, no
removed id ever returned, identical probe results across each compaction,
exact copies of live documents always caught by the winnow probes and the
streaming dedup. The traced run adds an incremental corpus build against
the text index (unique ids, contiguous sequence packing, no live copy
kept, and a repeat build with the same content digest) and prices its
near-dup tier and PII scrub by public-config ablation.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import sys
import time

import numpy as np
import pyarrow.parquet as pq

import gen
from common import Context, Run, WriteMeter, layer, timed

NAME = "index_lifecycle"
N_VECS = 2_000
N_DOCS = 800
N_QUERIES = 50
ADD_VECS = 50
ADD_DOCS = 20
PROBE_DOCS = 20
REMOVE_VECS = 5
REMOVE_DOCS = 3
BUILD_DOCS = 400  # traced run only
DUP_RATE = 0.25
SETUP_REPS = 1  # the cold CLI builds; a second, warm pair would cost ~5 s a run
K = 10
NPROBE = 8
RERANK = 16
RECALL_SLACK = 0.15  # a run's mean recall@k may sit this far under set-up's
THRESHOLD = 0.5
MAX_DF = 50  # the registry's winnow stop-gram cap (plans.oracle_lib)
BLOCK = 128
# one cycle of the operation stream, repeated: the same mix in every run,
# so run-to-run medians compare like with like; the seed picks the queries,
# batches and ids. ANN probes are most reads and ANN adds most writes, so
# the medians sit inside one operation's distribution, not between two.
CYCLE = (
    "ann_search", "ann_add", "ann_search", "text_probe", "ann_search",
    "ann_remove", "text_add", "ann_search", "ann_add", "ann_search",
    "text_remove", "compact",
)


def corpus_config(**over):
    from bigdata_usaspending_spark.plans.build_corpus import CorpusBuildConfig

    base = dict(
        langs=("en", "de", "es", "fr"), near_threshold=THRESHOLD,
        near_method="winnow", near_max_df=MAX_DF, block_size=BLOCK, seed=7,
    )
    return CorpusBuildConfig(**{**base, **over})


def corpus_digest(path: str) -> str:
    t = pq.read_table(path).sort_by("doc_id")
    h = hashlib.sha256()
    for col in ("doc_id", "text", "position", "seq_id", "seq_offset"):
        h.update(repr(t.column(col).to_pylist()).encode())
    return h.hexdigest()


def packing_ok(path: str, block: int) -> tuple[bool, int]:
    """Unique doc ids and sequence packing that follows the position order
    with no gaps: each doc starts where the previous one's tokens end."""
    t = pq.read_table(path).sort_by("position").to_pydict()
    ids = t["doc_id"]
    start, ok = 0, len(set(ids)) == len(ids)
    for n_tok, seq_id, seq_off in zip(t["n_tokens"], t["seq_id"], t["seq_offset"]):
        ok = ok and (seq_id, seq_off) == divmod(start, block)
        start += n_tok
    return ok, len(ids)


class State:
    """What the client knows the indexes hold: live vectors and documents."""

    def __init__(self, vec_ids, vecs, docs):
        self.vecs = {int(i): v for i, v in zip(vec_ids, vecs)}
        self.docs = {d[0]: d for d in docs}
        self.next_vec = int(max(vec_ids)) + 1
        self.next_doc = max(self.docs) + 1

    def brute_topk(self, q: np.ndarray, k: int) -> set[int]:
        ids = np.fromiter(self.vecs, dtype=np.int64)
        mat = np.stack([self.vecs[i] for i in ids]).astype(np.float64)
        d = ((mat - q) ** 2).sum(axis=1)
        return set(ids[np.argsort(d, kind="stable")[:k]].tolist())

    def doc_batch(self, rng, maker, n: int, dup_rate: float):
        fresh = maker.docs(rng, range(self.next_doc, self.next_doc + n))
        self.next_doc += n
        rows, origin = gen.with_duplicates(
            rng, maker, fresh, list(self.docs.values()), dup_rate
        )
        # exact copies of docs that are live in the index right now
        exact = {r[0] for r, o in zip(rows, origin)
                 if o >= 0 and o in self.docs and r[1] == self.docs[o][1]}
        return rows, exact


def corpus_layers(ctx: Context, out: Run, st: State, rng, maker, widx: str) -> None:
    """Traced run only: one incremental corpus build against the text index
    (``build_corpus(dedup_index=...)`` + ``write_corpus``) with its checks,
    a repeat build that must give the same content digest, and the
    public-config ablations that price the near tier and the PII scrub."""
    from bigdata_usaspending_spark.plans.build_corpus import build_corpus, write_corpus

    spark = ctx.spark
    rows, exact = st.doc_batch(rng, maker, BUILD_DOCS, DUP_RATE)
    src = os.path.join(ctx.work, "build_in.parquet")
    gen.write(gen.doc_table(rows), src)

    def build(tag: str, cfg, dedup_index, traced: bool = False) -> tuple[str, float]:
        path = os.path.join(ctx.work, f"corpus_{tag}")
        t0 = time.perf_counter()
        df = spark.read.parquet(src).select("doc_id", "text", "source")
        if traced:
            corpus = layer(ctx, "plans.build_corpus.build_corpus", build_corpus,
                           df, cfg=cfg, dedup_index=dedup_index)
            layer(ctx, "plans.build_corpus.write_corpus", write_corpus, corpus, path)
        else:
            write_corpus(build_corpus(df, cfg=cfg, dedup_index=dedup_index), path)
        return path, time.perf_counter() - t0

    res = timed(ctx, out, "corpus", "build_corpus",
                lambda: build("full", corpus_config(), widx, traced=True))
    if res is None:
        return
    built, build_s = res
    ok, n_out = packing_ok(built, BLOCK)
    kept = set(pq.read_table(built, columns=["doc_id"]).column(0).to_pylist())
    out.check(ok and not (kept & exact) and kept <= {r[0] for r in rows},
              "built corpus: duplicate ids, packing gap, or a live copy kept")
    again, _ = build("again", corpus_config(), widx)
    out.check_run(corpus_digest(again) == corpus_digest(built),
                  "repeat corpus build changed the content digest")
    _, no_near = build("no_near", corpus_config(near_threshold=None), None)
    _, no_pii = build("no_pii", corpus_config(scrub_pii=False), widx)
    out.detail.update({
        "plans.build_corpus.docs_out_frac": n_out / BUILD_DOCS,
        "plans.build_corpus.docs_per_s": BUILD_DOCS / build_s,
        "operators.dedup.near_tier_s": build_s - no_near,
        "operators.text.pii_scrub_s": build_s - no_pii,
    })


def run(ctx: Context) -> Run:
    from bigdata_usaspending_spark import cli
    from bigdata_usaspending_spark.operators import dedup, similarity
    from bigdata_usaspending_spark.streaming import jobs

    spark, out = ctx.spark, Run()
    maker = gen.DocMaker()
    centers = gen.vector_centers()

    # ---- set-up: generate, then build both indexes the way the CLI does
    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        d = os.path.join(ctx.work, f"setup{rep}")
        os.makedirs(d)
        rng = np.random.default_rng([ctx.seed, 30])
        base = gen.vectors(rng, centers, N_VECS)
        gen.write(gen.vector_table(np.arange(N_VECS), base), f"{d}/vectors.parquet")
        docs = maker.docs(rng, range(N_DOCS))
        gen.write(gen.doc_table(docs), f"{d}/docs.parquet")
        idx, widx = f"{d}/ann_index", f"{d}/text_index"
        with contextlib.redirect_stdout(sys.stderr):
            t1 = time.perf_counter()
            rc = cli.main(["ann-index", "build", "--vectors", f"{d}/vectors.parquet",
                           "--index", idx, "--pq"])
            t2 = time.perf_counter()
            rc |= cli.main(["winnow-index", "build", "--documents",
                            f"{d}/docs.parquet", "--index", widx])
        if rc:
            raise RuntimeError(f"index build exited with {rc}")
        out.setup_s.append(time.perf_counter() - t0)
        out.detail["setup.ann_index_build_s"] = t2 - t1
        out.detail["setup.text_index_build_s"] = time.perf_counter() - t2
    out.detail["inputs"] = {
        "vectors": N_VECS, "dim": gen.VEC_DIM, "docs": N_DOCS,
        "build_docs": BUILD_DOCS, "dup_rate": DUP_RATE,
    }

    st = State(np.arange(N_VECS), base, docs)
    rng = np.random.default_rng([ctx.seed, 31])
    queries = gen.vectors(rng, centers, N_QUERIES)
    q_p = gen.zipf_weights(N_QUERIES)
    meter = WriteMeter([idx, widx])
    sink = os.path.join(ctx.work, "dedup_sink")
    cells, recalls, per_update, per_compact, frag = [], [], [], [], []

    def probe(q) -> list[tuple]:
        return [tuple(r) for r in similarity.ivf_pq_index_topk(
            spark, idx, q.tolist(), k=K, nprobe=NPROBE, rerank_factor=RERANK).collect()]

    # recall floor: the index as built, on a few pool queries
    base_recall = float(np.mean([
        len({r[0] for r in probe(q)} & st.brute_topk(q, K)) / K for q in queries[:2]
    ]))

    def write_op(name: str, fn, batch_bytes: int = 0):
        res = timed(ctx, out, "write", name, fn)
        written = meter.delta()
        per_update.append(written)
        if res is not None and batch_bytes:
            out.amp.append(written / batch_bytes)
        return res

    if ctx.tracer.enabled:
        corpus_layers(ctx, out, st, rng, maker, widx)

    # ---- the operation stream
    adds = text_batches = 0
    n = 0
    start = time.perf_counter()
    # the window, and at least one whole cycle so every class has samples
    while time.perf_counter() - start < ctx.seconds or n < len(CYCLE):
        op = CYCLE[n % len(CYCLE)]
        n += 1
        if op == "compact":
            q = queries[0]
            before = probe(q)
            if ctx.tracer.enabled:
                frag.append(similarity.ann_index_stats(spark, idx)["files_per_populated_cell"])

            def compact():
                a = layer(ctx, "similarity.ann_index_compact",
                          similarity.ann_index_compact, spark, idx)
                w = layer(ctx, "dedup.winnow_index_compact",
                          dedup.winnow_index_compact, spark, widx)
                return a, w

            res = timed(ctx, out, "job", "compact", compact)
            per_compact.append(meter.delta())
            if res is not None:
                a, w = res
                out.check(probe(q) == before and a["rows"] == len(st.vecs)
                          and w["rows"] == len(st.docs),
                          "compaction changed probe results or live counts")
            continue

        if op == "ann_search":
            q = queries[int(rng.choice(N_QUERIES, p=q_p))]
            stats: dict = {}
            rows = timed(ctx, out, "read", op, lambda: layer(
                ctx, "similarity.ivf_pq_index_topk",
                lambda: similarity.ivf_pq_index_topk(
                    spark, idx, q.tolist(), k=K, nprobe=NPROBE,
                    rerank_factor=RERANK, probe_stats=stats).collect()))
            if rows is None:
                continue
            ids = [r[0] for r in rows]
            dist = [r[1] for r in rows]
            recalls.append(len(set(ids) & st.brute_topk(q, K)) / K)
            cells.append(len(stats.get("cells_scanned", ())))
            out.check(len(ids) == min(K, len(st.vecs)) and len(set(ids)) == len(ids)
                  and all(i in st.vecs for i in ids) and dist == sorted(dist),
                  f"ann probe returned {ids}")
        elif op == "text_probe":
            # overlap spans, then the dedup verdict, for one incoming batch
            rows, exact = st.doc_batch(rng, maker, PROBE_DOCS, 0.5)
            path = os.path.join(ctx.work, f"probe{n}.parquet")
            gen.write(gen.doc_table(rows), path)
            batch_ids = {r[0] for r in rows}

            def text_probe():
                batch = spark.read.parquet(path)
                spans = layer(ctx, "dedup.winnow_index_spans", lambda: dedup.winnow_index_spans(
                    spark, widx, batch, threshold=THRESHOLD,
                    max_fingerprint_df=MAX_DF).collect())
                kept = layer(ctx, "dedup.winnow_index_dedup", lambda: dedup.winnow_index_dedup(
                    spark, widx, batch, threshold=THRESHOLD,
                    max_fingerprint_df=MAX_DF).collect())
                return spans, [r["doc_id"] for r in kept]

            got = timed(ctx, out, "read", op, text_probe)
            if got is not None:
                spans, kept = got
                full = {r["id_batch"] for r in spans if r["jaccard"] == 1.0}
                out.check(all(r["id_batch"] in batch_ids and r["id_index"] in st.docs
                              and THRESHOLD <= r["jaccard"] <= 1.0
                              and r["b_start"] < r["b_end"] for r in spans)
                          and exact <= full
                          and len(set(kept)) == len(kept) and set(kept) <= batch_ids
                          and not (set(kept) & exact),
                          "winnow probe: span out of range, or a live copy missed or kept")
        elif op == "ann_add":
            ids = np.arange(st.next_vec, st.next_vec + ADD_VECS)
            st.next_vec += ADD_VECS
            vecs = gen.vectors(rng, centers, ADD_VECS)
            path = os.path.join(ctx.work, f"vec_batch{adds}.parquet")
            size = gen.write(gen.vector_table(ids, vecs), path)
            applied = write_op(op, lambda: layer(
                ctx, "similarity.ann_index_add_batch", similarity.ann_index_add_batch,
                spark, idx, spark.read.parquet(path), adds), size)
            if applied is not None:
                st.vecs.update(zip(ids.tolist(), vecs))
                replay = (similarity.ann_index_add_batch(
                    spark, idx, spark.read.parquet(path), adds) if adds == 0 else False)
                out.check(applied is True and replay is False,
                      "exactly-once add applied twice or not at all")
            adds += 1
        elif op == "text_add":
            rows, exact = st.doc_batch(rng, maker, ADD_DOCS, 0.3)
            path = os.path.join(ctx.work, f"doc_batch{text_batches}.parquet")
            size = gen.write(gen.doc_table(rows), path)
            bid = text_batches
            applied = write_op(op, lambda: layer(
                ctx, "streaming.jobs.winnow_index_dedup_batch",
                jobs.winnow_index_dedup_batch, spark.read.parquet(path), widx, sink,
                bid, threshold=THRESHOLD, max_fingerprint_df=MAX_DF), size)
            if applied is not None:
                flags = pq.read_table(os.path.join(sink, f"_batch_id={bid}")).to_pydict()
                dropped = {i for i, s in zip(flags["doc_id"], flags["survivor"]) if not s}
                out.check(applied is True and sorted(flags["doc_id"]) == sorted(r[0] for r in rows)
                      and exact <= dropped,
                      "streaming dedup flags missing or a live copy survived")
                st.docs.update((r[0], r) for r in rows)
            text_batches += 1
        else:
            pool = st.vecs if op == "ann_remove" else st.docs
            count = REMOVE_VECS if op == "ann_remove" else REMOVE_DOCS
            keys = sorted(pool)
            ids = [keys[int(i)] for i in rng.choice(len(keys), count, replace=False)]
            fn = (similarity.ann_index_remove if op == "ann_remove"
                  else dedup.winnow_index_remove)
            mod = "similarity" if op == "ann_remove" else "dedup"
            path = idx if op == "ann_remove" else widx
            rep = write_op(op, lambda: layer(
                ctx, f"{mod}.{fn.__name__}", fn, spark, path, ids))
            if rep is not None:
                out.check(rep["matched_live"] == count, f"{op} matched {rep}")
                for i in ids:
                    del pool[i]

    mean_recall = float(np.mean(recalls)) if recalls else 0.0
    if recalls:
        out.check_run(mean_recall >= base_recall - RECALL_SLACK,
                      f"mean recall@{K} {mean_recall:.3f} < set-up {base_recall:.3f}")
    out.detail.update({
        "similarity.probe.recall_at_k": mean_recall,
        "similarity.probe.recall_at_k_setup": base_recall,
        "similarity.probe.cells_scanned_per_search": float(np.mean(cells)) if cells else 0.0,
        "io.bytes_written_per_update": float(np.mean(per_update)) if per_update else 0.0,
        "io.bytes_rewritten_per_compact": float(np.mean(per_compact)) if per_compact else 0.0,
    })
    if frag:
        out.detail["io.files_per_cell_before_compact"] = float(np.mean(frag))

    return out
