"""The benchmark's two closed-loop workloads, their oracles and metrics.

``build`` is the write path: a bulk build of a stored transcripts table
and a landed batch appended as a segment. ``query`` is the read path:
single one-shot queries and served queries over an index built in set-up.
Traced runs add what does not fit the untraced run budget: the merge of
base and segment and the curation layers (dedup, ANN) to ``build``; a
500-query batch and a longer served series to ``query``.

One client runs whole rounds of a fixed operation order; a new operation
starts only after the previous one returns. Every output is checked
against an oracle computed in set-up through the DataFrame path (never
the code under test); a mismatch is recorded in ``errors`` and fails the
run.
"""

from __future__ import annotations

import hashlib
import os
import statistics
import time

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from splade_spark import bm25, documents, stats, tokenize
from splade_spark.index import build as index_build
from splade_spark.index import codec
from splade_spark.index import merge as index_merge
from splade_spark.pipeline import ann_index, dedup, similarity
from splade_spark.query import wand
from splade_spark.streaming import incremental

from perfbench import gen

K = 10

# "full" is what the benchmark measures; "tiny" keeps its own tests short.
SIZES = {
    "full": dict(
        build_convs=1000, build_shards=16, batch_convs=10, query_convs=120,
        query_shards=8, pool=500, batch=500, singles=2,
        served_per_single=3, drift_calls=12, cur_docs=200, vecs=2000, dim=32, nbits=8,
        ann_probes=3, ann_queries=2,
    ),
    "tiny": dict(
        build_convs=24, build_shards=4, batch_convs=4, query_convs=24,
        query_shards=4, pool=40, batch=20, singles=1,
        served_per_single=2, drift_calls=4, cur_docs=40, vecs=200, dim=8, nbits=3,
        ann_probes=2, ann_queries=1,
    ),
}


class OpFailed(Exception):
    """An engine call raised; the rest of the round is not attempted."""


def topk_rows(pdf: pd.DataFrame, id_col: str = "doc_id",
              score_col: str = "score") -> dict[str, list[tuple]]:
    """query_id -> [(id, score, rank), ...] in rank order."""
    out: dict[str, list[tuple]] = {}
    for r in pdf.sort_values(["query_id", "rank"]).itertuples(index=False):
        d = r._asdict()
        out.setdefault(d["query_id"], []).append(
            (int(d[id_col]), float(d[score_col]), int(d["rank"]))
        )
    return out


def diff_topk(expected: dict, got: dict, qids, what: str) -> list[str]:
    """Rank- and score-exact comparison; one message per differing query."""
    return [
        f"{what}: query {q} expected {expected.get(q, [])[:3]}... "
        f"got {got.get(q, [])[:3]}..."
        for q in qids
        if expected.get(q, []) != got.get(q, [])
    ]


def data_files(path: str) -> list[str]:
    """Parquet data files under an index directory (no ledger, meta or
    checksum files)."""
    return sorted(
        os.path.join(d, f)
        for d, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    )


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(f) for f in data_files(path))


def index_hash(path: str) -> str:
    """Content hash of a posting index, independent of file layout."""
    tbl = pq.read_table(path).to_pandas()
    tbl["shard_id"] = tbl["shard_id"].astype(np.int64)
    tbl = tbl.sort_values(["shard_id", "term_id", "block_id"], ignore_index=True)
    h = hashlib.sha256()
    for col in ("shard_id", "term_id", "block_id", "first_doc", "last_doc",
                "n", "block_max"):
        h.update(tbl[col].to_numpy(np.int64).tobytes())
    for col in ("doc_bytes", "w_bytes"):
        for b in tbl[col]:
            h.update(len(b).to_bytes(4, "little") + b)
    return h.hexdigest()


def summarize(samples: list[float]) -> dict:
    """Median, and the highest percentile with at least ten samples
    beyond it (absent below eleven samples)."""
    xs = sorted(samples)
    out = {"n": len(xs), "p50": statistics.median(xs) if xs else None}
    if len(xs) >= 11:
        out["tail"] = xs[len(xs) - 11]
        out["tail_pct"] = 100.0 * (len(xs) - 10) / len(xs)
    return out


class Workload:
    """Shared op bookkeeping; subclasses define setup(), round() and
    the metric methods."""

    def __init__(self, spark, workdir: str, seed: int, sizes: dict):
        self.spark = spark
        self.dir = workdir
        self.seed = seed
        self.sz = sizes
        self.samples: dict[str, list[float]] = {}
        self.errors: list[str] = []
        self.attempted = 0
        self.failed = 0
        self.rounds = 0
        self.raised: list[str] = []
        self.facts: dict = {}

    def path(self, *parts: str) -> str:
        return os.path.join(self.dir, *parts)

    def op(self, tracer, kind: str, layer: str, fn):
        """Time one engine call (its result fully consumed by fn)."""
        self.attempted += 1
        with tracer.span(layer):
            t0 = time.perf_counter()
            try:
                out = fn()
            except Exception as e:  # counted as failed; the run continues
                self.failed += 1
                self.raised.append(f"{kind}: {type(e).__name__}: {e}"[:500])
                raise OpFailed(kind) from e
            dt = time.perf_counter() - t0
        self.samples.setdefault(kind, []).append(dt)
        return out

    def check(self, ok: bool, msg: str) -> None:
        if not ok:
            self.errors.append(msg)

    def p50(self, kind: str) -> float:
        return statistics.median(self.samples[kind])

    def detail(self) -> dict:
        return {k: {**summarize(v), "samples": v}
                for k, v in self.samples.items()}


def bulk_build(spark, src: str, out: str, shards: int):
    """The engine's bulk build chain over a stored transcripts table."""
    docs = documents.build_documents(spark.read.parquet(src))
    tf = tokenize.term_freqs(docs)
    n, avgdl = stats.corpus_stats_from_docs(docs)
    w = bm25.bm25_weights(tf, n, avgdl).select("doc_id", "term_id", "weight")
    scale = bm25.quantization_scale(w)
    m = index_build.build_index(w, out, scale, num_shards=shards, resume=False)
    return m, {"docs": docs, "tf": tf, "w": w, "n": n, "avgdl": avgdl, "scale": scale}


def query_terms(spark, pool_path: str) -> pd.DataFrame:
    return (
        tokenize.query_term_freqs(spark.read.parquet(pool_path))
        .select("query_id", "term_id", "qtf").toPandas()
    )


def oracle_topk(spark, weights_q, qt: pd.DataFrame, scale: float) -> dict:
    """Exact top-k of bm25.bm25_topk on integer-quantized weights."""
    return topk_rows(
        bm25.bm25_topk(weights_q, spark.createDataFrame(qt), k=K, scale=scale)
        .toPandas()
    )


class Build(Workload):
    """Write path: a round is one bulk build and one landed batch appended
    as a segment."""

    def setup(self) -> None:
        sp, sz, seed = self.spark, self.sz, self.seed
        self.src = gen.write(gen.transcripts_table(seed, sz["build_convs"]),
                             self.path("transcripts.parquet"))
        self.landed = gen.write(
            gen.transcripts_table(seed, sz["batch_convs"], first_conv=sz["build_convs"],
                                  stream="ingest"),
            self.path("landed.parquet"))

        # the set-up build: the warm-up of every timed build, and their
        # reference — each must reproduce its content hash
        ref = self.path("ref_index")
        m, b = bulk_build(sp, self.src, ref, sz["build_shards"])
        self.ref_hash = index_hash(ref)

        # the base statistics ingest freezes, and the oracle postings: the
        # quantized weights straight from the DataFrame path — the base
        # with its own stats, the landed batch with the frozen ones,
        # clipped to u8 like the segment encoder
        n, avgdl, self.scale = b["n"], b["avgdl"], b["scale"]
        df_path = self.path("frozen_df")
        stats.doc_freqs(b["tf"]).select("term_id", "df").write.parquet(df_path)
        self.frozen = incremental.FrozenStats(n, avgdl, self.scale, df_path)
        self.n_docs_all = sz["build_convs"]  # one document per conversation
        docs_b = documents.build_documents(sp.read.parquet(self.landed)).withColumn(
            "doc_id", F.col("doc_id") + F.lit(self.n_docs_all))
        w_b = bm25.bm25_weights(
            tokenize.term_freqs(docs_b), n, avgdl, df_table=sp.read.parquet(df_path),
        ).select("doc_id", "term_id", "weight")
        self.want_base = quantized_postings(b["w"], self.scale)
        self.want_landed = quantized_postings(w_b, self.scale, clip=255.0)
        sp.catalog.clearCache()
        self.check_build(m, ref, "set-up build")
        self.check_postings(ref, self.want_base, "set-up build")
        # warm-up: the first append in a fresh JVM is slow and varies
        # from run to run; the timed appends after it track the host
        seg = self.append_segment(self.path("ref_ingest"))
        self.check_postings(seg, self.want_landed, "set-up segment")
        self.facts.update(
            postings=len(self.want_base), docs=self.n_docs_all,
            landed_docs=sz["batch_convs"], landed_postings=len(self.want_landed),
        )

    def round(self, tracer) -> None:
        sp, sz, r = self.spark, self.sz, self.rounds
        self.idx = idx = self.path(f"r{r}", "index")
        if tracer.enabled:
            m = self._traced_build(tracer, idx)
        else:
            m, _ = self.op(tracer, "bulk_build", "index.build",
                           lambda: bulk_build(sp, self.src, idx, sz["build_shards"]))
        sp.catalog.clearCache()
        self.check_build(m, idx, "build")
        self.postings, self.index_bytes = m["postings"], dir_bytes(idx)

        base_dir = self.path(f"r{r}", "ingest")
        self.seg = self.op(tracer, "segment", "streaming.incremental",
                           lambda: self.append_segment(base_dir))
        self.check_postings(self.seg, self.want_landed, "segment")
        self.segments_live = 1 + len(incremental.list_segments(base_dir))

    def append_segment(self, base_dir: str) -> str:
        """The landed batch appended as a segment beside a base of
        build_convs documents."""
        incremental.set_doc_watermark(base_dir, self.n_docs_all)
        seg = incremental.build_segment_from_batch(
            self.spark.read.parquet(self.landed), base_dir, self.frozen,
            self.sz["build_shards"], 0)
        self.spark.catalog.clearCache()
        return seg

    def traced_extras(self, tracer) -> None:
        """Traced runs only: fold the last round's segment into its base,
        then the curation layers."""
        merged = self.path("merged")
        self.op(tracer, "merge", "index.merge",
                lambda: index_merge.merge_indexes(self.spark, [self.idx, self.seg], merged))
        self.check_postings(merged, np.sort(np.concatenate(
            [self.want_base, self.want_landed])), "merge")
        self.seg_bytes, self.merged_bytes = dir_bytes(self.seg), dir_bytes(merged)
        self._curate(tracer)

    def _curate(self, tracer) -> None:
        """A dedup pass over documents with planted duplicates, then
        served probes of an LSH index over embeddings with planted
        neighbours."""
        sp, sz = self.spark, self.sz
        cur, exact, near = gen.curation_docs(self.seed, sz["cur_docs"])
        d = sp.read.parquet(gen.write(cur, self.path("curation.parquet")))
        ex = self.op(tracer, "dedup_exact", "pipeline.dedup.exact",
                     lambda: dedup.exact_duplicates(d).toPandas())
        ng = self.op(tracer, "dedup_ngram", "pipeline.dedup.ngram_jaccard",
                     lambda: dedup.ngram_jaccard_pairs(d).toPandas())
        mh = self.op(tracer, "dedup_minhash", "pipeline.dedup.minhash",
                     lambda: dedup.minhash_dedup_pairs(d).toPandas())
        sh = self.op(tracer, "dedup_simhash", "pipeline.dedup.simhash",
                     lambda: dedup.simhash_near_dup_pairs(
                         dedup.simhash_signatures(tokenize.term_freqs(d))).toPandas())
        with tracer.span("pipeline.dedup.minhash_candidates"):
            candidates = dedup.minhash_lsh_candidates(dedup.minhash_signatures(d)).count()
        canon = dict(zip(ex["doc_id"], ex["canonical_id"]))
        pairs = {name: set(zip(f["doc_a"], f["doc_b"]))
                 for name, f in (("ngram", ng), ("minhash", mh), ("simhash", sh))}
        for o, c in exact:
            self.check(c in canon and canon[c] == canon.get(o),
                       f"curate: planted exact duplicate {c} of {o} not grouped")
            for name in pairs:
                self.check((o, c) in pairs[name],
                           f"curate: planted exact duplicate ({o}, {c}) missing from {name}")
        for o, c in near:
            for name in ("ngram", "minhash"):
                self.check((o, c) in pairs[name],
                           f"curate: planted near duplicate ({o}, {c}) missing from {name}")

        corpus, qv, targets = gen.embeddings(self.seed, sz["vecs"], sz["dim"],
                                             sz["ann_queries"])
        emb = sp.read.parquet(gen.write(corpus, self.path("embeddings.parquet")))
        lsh = self.path("lsh_index")
        ann_index.build_lsh_index(emb, lsh, nbits=sz["nbits"])
        qv = qv.to_pandas()
        want = topk_rows(similarity.brute_cosine_topk(emb, qv, k=K).toPandas(),
                         id_col="vec_id", score_col="cosine")
        recall, first = [], {}
        for j in range(sz["ann_probes"]):
            i = j % len(qv)
            pdf = self.op(tracer, "ann_probe", "pipeline.ann_index",
                          lambda: ann_index.lsh_topk_from_index(
                              sp, lsh, qv.iloc[[i]], k=K).toPandas())
            qid = qv["query_id"].iloc[i]
            got = topk_rows(pdf, id_col="vec_id", score_col="cosine").get(qid, [])
            self.check(bool(got) and got[0][0] == targets[i],
                       f"ann: planted neighbour {targets[i]} not first for {qid}")
            self.check(first.setdefault(qid, got) == got,
                       f"ann: output for {qid} differs between probes")
            recall.append(len({g[0] for g in got} & {w[0] for w in want[qid]})
                          / len(want[qid]))
        self.facts.update(
            curation_docs=sz["cur_docs"], planted_exact=len(exact),
            planted_near=len(near),
            dup_rate=(len(exact) + len(near)) / sz["cur_docs"],
            vectors=sz["vecs"], dim=sz["dim"], lsh_nbits=sz["nbits"],
            ann_recall_at_k=statistics.mean(recall),
        )
        self.minhash_ratio = candidates / max(len(mh), 1)
        self.index_files = len(data_files(lsh))

    def check_build(self, meta: dict, path: str, what: str) -> None:
        """Postings = weight rows and content hash = the set-up build's,
        whose every decoded posting is checked against the oracle once."""
        self.check(meta["postings"] == len(self.want_base),
                   f"{what}: {meta['postings']} postings != {len(self.want_base)} weight rows")
        self.check(index_hash(path) == self.ref_hash,
                   f"{what}: index content hash differs from the set-up build")

    def check_postings(self, path: str, want: np.ndarray, what: str) -> None:
        got = decoded_postings(path)
        self.check(np.array_equal(got, want),
                   f"{what}: {len(got)} decoded postings differ from the "
                   f"{len(want)} oracle postings")

    def _traced_build(self, tracer, idx: str) -> dict:
        """The bulk build with each layer boundary forced by a count (or
        an aggregate), so every layer's time is its own."""
        sp, sz = self.spark, self.sz
        docs = self.op(tracer, "documents", "documents", lambda: _cached(
            documents.build_documents(sp.read.parquet(self.src))))
        tf = self.op(tracer, "tokenize", "tokenize",
                     lambda: _cached(tokenize.term_freqs(docs)))
        n, avgdl = self.op(tracer, "stats", "stats",
                           lambda: stats.corpus_stats_from_docs(docs))

        def weigh():
            w = _cached(bm25.bm25_weights(tf, n, avgdl).select(
                "doc_id", "term_id", "weight"))
            return w, bm25.quantization_scale(w)

        w, scale = self.op(tracer, "bm25", "bm25", weigh)
        self.op(tracer, "encode", "index.build.encode", lambda: index_build.build_postings(
            w, scale, num_shards=sz["build_shards"]).agg(F.sum("n")).collect())
        return self.op(tracer, "bulk_build", "index.build", lambda: index_build.build_index(
            w, idx, scale, num_shards=sz["build_shards"], resume=False))

    def e2e(self) -> dict:
        return {
            "op_p50_s": (self.p50("segment"), "s"),
            "rate_per_s": (self.postings / self.p50("bulk_build"), "1/s"),
        }

    def named(self) -> dict:
        """The per-operation end-to-end numbers this workload produces."""
        out = {
            "build_postings_per_s": (self.postings / self.p50("bulk_build"), "1/s"),
            "index_bytes_per_posting": (self.index_bytes / self.postings, "B"),
            "ingest_segment_p50_s": (self.p50("segment"), "s"),
        }
        if "merge" in self.samples:
            out["ingest_merge_s"] = (self.p50("merge"), "s")
        if "ann_probe" in self.samples:
            dedup_s = sum(self.p50(k) for k in (
                "dedup_exact", "dedup_ngram", "dedup_minhash", "dedup_simhash"))
            out["curate_docs_per_s"] = (self.sz["cur_docs"] / dedup_s, "1/s")
            out["curate_ann_p50_s"] = (self.p50("ann_probe"), "s")
        return out

    def layers(self, table: dict) -> dict:
        def wall(layer):
            return statistics.median(s["wall_s"] for s in table[layer])

        build = table["index.build"][0]
        encode = wall("index.build.encode")
        return {
            "documents.s": wall("documents"),
            "tokenize.s": wall("tokenize"),
            "stats.s": wall("stats"),
            "bm25.s": wall("bm25"),
            "index.build.encode_s": encode,
            "index.build.write_s": build["wall_s"] - encode,
            "index.build.shuffle_write_bytes": build["shuffle_write_bytes"],
            "index.build.spill_bytes": build["spill_bytes"],
            "streaming.incremental.segment_s": wall("streaming.incremental"),
            "index.merge.s": wall("index.merge"),
            "index.merge.bytes_rewritten": float(self.merged_bytes),
            "ingest.write_amp": (self.index_bytes + self.seg_bytes + self.merged_bytes)
            / self.merged_bytes,
            "ingest.segments_live": float(self.segments_live),
            "pipeline.dedup.exact_s": wall("pipeline.dedup.exact"),
            "pipeline.dedup.ngram_jaccard_s": wall("pipeline.dedup.ngram_jaccard"),
            "pipeline.dedup.minhash_s": wall("pipeline.dedup.minhash"),
            "pipeline.dedup.simhash_s": wall("pipeline.dedup.simhash"),
            "pipeline.dedup.minhash_candidates_per_pair": self.minhash_ratio,
            "pipeline.ann_index.probe_s": wall("pipeline.ann_index"),
            "pipeline.ann_index.index_files": float(self.index_files),
        }


POSTING = np.dtype([("term_id", "<i8"), ("doc_id", "<i8"), ("q", "<i8")])


def quantized_postings(weights, scale: float, clip: float | None = None) -> np.ndarray:
    """Sorted (term_id, doc_id, q) of bm25.quantize'd weights: one row
    per weight row, so its length is the weight row count."""
    q = bm25.quantize(weights, scale)
    if clip is not None:
        q = q.withColumn("weight", F.least(F.col("weight"), F.lit(clip)))
    pdf = q.select("term_id", "doc_id", "weight").toPandas()
    out = np.empty(len(pdf), dtype=POSTING)
    out["term_id"], out["doc_id"] = pdf["term_id"], pdf["doc_id"]
    out["q"] = pdf["weight"].astype(np.int64)
    return np.sort(out)


def decoded_postings(path: str) -> np.ndarray:
    """Sorted (term_id, doc_id, q) decoded from every block of an index."""
    meta = index_build.read_index_meta(path)
    bits, kind = meta.get("bits", 8), meta.get("codec", "varint")
    tbl = pq.read_table(path, columns=["term_id", "first_doc", "n",
                                       "doc_bytes", "w_bytes"]).to_pydict()
    n = np.array(tbl["n"], dtype=np.int64)
    out = np.empty(int(n.sum()), dtype=POSTING)
    out["term_id"] = np.repeat(tbl["term_id"], n)
    if kind == "varint":
        # varints are self-delimiting, so all blocks decode in one call:
        # each block's first doc, then its n - 1 deltas
        starts = np.cumsum(n) - n
        vals = np.empty(len(out), dtype=np.int64)
        is_start = np.zeros(len(out), dtype=bool)
        is_start[starts] = True
        vals[is_start] = tbl["first_doc"]
        vals[~is_start] = codec.decode_varint(b"".join(tbl["doc_bytes"]))
        docs = np.cumsum(vals)
        out["doc_id"] = docs - np.repeat(docs[starts] - vals[starts], n)
        out["q"] = np.frombuffer(b"".join(tbl["w_bytes"]),
                                 dtype=np.uint8 if bits <= 8 else np.uint16)
    else:
        blocks = [codec.decode_block_raw(fd, k, db, wb, bits=bits, codec=kind)
                  for fd, k, db, wb in zip(tbl["first_doc"], tbl["n"],
                                           tbl["doc_bytes"], tbl["w_bytes"])]
        out["doc_id"] = np.concatenate([d for d, _ in blocks]) if blocks else []
        out["q"] = np.concatenate([q for _, q in blocks]) if blocks else []
    return np.sort(out)


def _cached(df):
    df = df.cache()
    df.count()
    return df


class Query(Workload):
    """Read path: a round is single one-shot queries, each followed by
    served queries."""

    def setup(self) -> None:
        sp, sz, seed = self.spark, self.sz, self.seed
        src = gen.write(gen.transcripts_table(seed, sz["query_convs"]),
                        self.path("transcripts.parquet"))
        pool = gen.query_pool(seed, sz["pool"])
        pool_path = gen.write(pool, self.path("query_pool.parquet"))

        idx = self.path("index")
        m, b = bulk_build(sp, src, idx, sz["query_shards"])
        self.meta = index_build.read_index_meta(idx)
        self.postings = index_build.load_postings(sp, idx)
        self.qt = query_terms(sp, pool_path)
        self.qids = pool.column("query_id").to_pylist()
        self.expected = oracle_topk(sp, bm25.quantize(b["w"], b["scale"]),
                                    self.qt, b["scale"])
        self.served = wand.prepare_serving(self.postings, self.meta["num_shards"]).cache()
        self.served.count()
        # the fixture edge cases (head-only, OOV, duplicate, empty) once
        # through each path: checked, and the warm-up of both paths; the
        # timed rounds then rotate over the seeded queries behind them
        edge = self.qids[: len(gen.EDGE_QUERIES)]
        for postings, kw in ((self.postings, {"merge": "auto"}),
                             (self.served, {"merge": "driver", "prepartitioned": True})):
            self.errors += diff_topk(self.expected, self._retrieve(postings, edge, **kw),
                                     edge, "edge cases")
        self.rotation = self.qids[len(gen.EDGE_QUERIES):]
        self.served_lat: list[float] = []
        self.next_single = self.next_served = 0
        self.facts.update(
            postings=m["postings"], pool=sz["pool"],
            terms_per_query=float(self.qt.groupby("query_id")["qtf"].sum().mean()),
        )

    def _retrieve(self, postings, qids, **kw) -> dict:
        qt = self.qt[self.qt["query_id"].isin(qids)]
        return topk_rows(wand.retrieve(
            postings, qt, self.meta["scale"], k=K,
            num_shards=self.meta["num_shards"], bits=self.meta.get("bits", 8),
            codec=self.meta.get("codec", "varint"), **kw).toPandas())

    def single(self, tracer) -> None:
        """One query through the path `cli query` uses."""
        q = [self.rotation[self.next_single % len(self.rotation)]]
        self.next_single += 1
        got = self.op(tracer, "single", "query.wand",
                      lambda: self._retrieve(self.postings, q, merge="auto"))
        self.errors += diff_topk(self.expected, got, q, "single")

    def served_query(self, tracer) -> None:
        """One query on prepare_serving output."""
        q = [self.rotation[-1 - self.next_served % len(self.rotation)]]
        self.next_served += 1
        got = self.op(tracer, "served", "query.wand.served",
                      lambda: self._retrieve(self.served, q, merge="driver",
                                             prepartitioned=True))
        self.served_lat.append(self.samples["served"][-1])
        self.errors += diff_topk(self.expected, got, q, "served")

    def round(self, tracer) -> None:
        for _ in range(self.sz["singles"]):
            self.single(tracer)
            for _ in range(self.sz["served_per_single"]):
                self.served_query(tracer)

    def e2e(self) -> dict:
        return {
            "op_p50_s": (self.p50("single"), "s"),
            "rate_per_s": (1.0 / self.p50("served"), "1/s"),
        }

    def named(self) -> dict:
        out = {
            "query_single_p50_s": (self.p50("single"), "s"),
            "query_served_p50_s": (self.p50("served"), "s"),
        }
        if "batch" in self.samples:
            out[f"query_batch{self.sz['batch']}_qps"] = (
                self.sz["batch"] / self.p50("batch"), "1/s")
        for kind in ("single", "served"):
            s = summarize(self.samples[kind])
            if "tail" in s:
                out[f"query_{kind}_p{s['tail_pct']:.0f}_s"] = (s["tail"], "s")
        return out

    def traced_extras(self, tracer) -> None:
        """Traced runs only: one batch through the one-shot path (driver
        merge below DRIVER_MERGE_MAX_ROWS), the block rows its term filter
        leaves, and a run of served calls long enough to show whether
        served latency levels off."""
        batch = self.qids[: self.sz["batch"]]
        got = self.op(tracer, "batch", "query.wand.batch",
                      lambda: self._retrieve(self.postings, batch, merge="auto"))
        self.errors += diff_topk(self.expected, got, batch, "batch")
        with tracer.span("query.wand.scan"):
            terms = self.qt[self.qt["query_id"].isin(batch)]["term_id"].unique()
            self.scan_rows = self.postings.filter(
                F.col("term_id").isin(terms.tolist())).count()
        for _ in range(self.sz["drift_calls"]):
            self.served_query(tracer)

    def detail(self) -> dict:
        return {**super().detail(), "served_latencies_s": self.served_lat}

    def drift(self) -> float:
        """Median latency of the last quarter of served calls over that of
        the first quarter (1.0 = level)."""
        lat = self.served_lat
        q = max(1, len(lat) // 4)
        return statistics.median(lat[-q:]) / statistics.median(lat[:q])

    def layers(self, table: dict) -> dict:
        def med(layer, key):
            return statistics.median(s[key] for s in table[layer])

        batch = table["query.wand.batch"][0]
        return {
            "query.wand.call_s": med("query.wand", "wall_s"),
            "query.wand.driver_s": med("query.wand", "driver_s"),
            "query.wand.kernel_tasks": med("query.wand", "kernel_tasks"),
            "query.wand.scheduler_delay_s": med("query.wand", "scheduler_delay_s"),
            "query.wand.scan_rows": float(self.scan_rows),
            "query.wand.exchange_bytes": batch["shuffle_write_bytes"],
            "query.wand.kernel_run_s": batch["kernel_run_s"],
            "query.wand.kernel_cpu_s": batch["kernel_cpu_s"],
            "query.wand.python_bytes_sent": batch["py_sent_bytes"],
            "query.wand.merge_s": batch["after_kernel_s"],
            "query.served_drift": self.drift(),
        }


WORKLOADS = {"build": Build, "query": Query}
