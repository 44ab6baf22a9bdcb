"""Seeded input generator for the benchmark.

Every input the engine sees is made here from ``--seed`` and written to
parquet: transcripts, the query pool, curation documents with planted
exact and near duplicates, and embeddings with planted neighbours. The
same seed gives byte-identical tables; different named streams of one
seed are independent (``numpy.random.default_rng([seed, stream])``).

Text reuses the engine fixtures' closed Zipf vocabulary
(``splade_spark.fixtures.vocab``) so posting lengths keep their realistic
skew, but none of the fixtures' fixed seeds.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from splade_spark.fixtures import BASE_EPOCH, ROLES, TOOLS, VOCAB_SIZE, vocab

VOCAB = np.array(vocab())
MID_BAND = np.arange(50, 1500)  # the fixture queries' mid-frequency band
MAX_TURNS = 40  # turns per conversation, as in the fixtures
DUP_RATE = 0.05  # share of curation documents planted as exact copies (and near)
NEIGHBOUR_NOISE = 0.05  # std of the offset of a probe from its planted neighbour
# Zipf over the vocabulary index, same shape as the fixtures' (s = 1.07)
_P = np.arange(1, VOCAB_SIZE + 1, dtype=np.float64) ** -1.07
ZIPF = _P / _P.sum()

STREAMS = {
    "transcripts": 1, "queries": 2, "curate": 3, "embeddings": 4, "ingest": 5,
}


def rng(seed: int, stream: str) -> np.random.Generator:
    return np.random.default_rng([seed, STREAMS[stream]])


def _word_runs(g: np.random.Generator, lengths: np.ndarray) -> list[str]:
    """One Zipf bag-of-words string per requested length."""
    idx = g.choice(VOCAB_SIZE, size=int(lengths.sum()), p=ZIPF)
    words = VOCAB[idx]
    ends = np.cumsum(lengths)
    return [" ".join(words[e - n:e].tolist()) for n, e in zip(lengths, ends)]


def transcripts_table(
    seed: int, n_conv: int, first_conv: int = 0, stream: str = "transcripts",
) -> pa.Table:
    """Transcripts in the engine's input schema: conversations
    ``first_conv .. first_conv + n_conv - 1``, 1..MAX_TURNS turns of 3..59
    words each, with 3% empty turns and 5% tab/newline-bearing turns."""
    g = rng(seed, stream)
    n_turns = g.integers(1, MAX_TURNS + 1, size=n_conv)
    total = int(n_turns.sum())
    conv = np.repeat(np.arange(first_conv, first_conv + n_conv), n_turns)
    turn = np.arange(total) - np.repeat(np.cumsum(n_turns) - n_turns, n_turns)
    roles = np.array(ROLES)[g.integers(0, len(ROLES), size=total)]
    roles[turn == 0] = "user"
    tools = np.where(
        roles == "tool", np.array(TOOLS)[g.integers(0, len(TOOLS), size=total)], None
    )
    r = g.random(total)
    texts = _word_runs(g, g.integers(3, 60, size=total))
    for i in np.flatnonzero(r < 0.08):
        texts[i] = (
            "" if r[i] < 0.03
            else texts[i].replace(" ", "\t", 1).replace(" ", "\n", 1)
        )
    ts = (BASE_EPOCH + conv * 3600 + turn * 60) * 1_000_000
    return pa.table(
        {
            "conv_id": pa.array([f"conv-{c:08d}" for c in conv.tolist()]),
            "turn_idx": pa.array(turn, type=pa.int32()),
            "role": pa.array(roles.tolist()),
            "text": pa.array(texts),
            "tool": pa.array(tools.tolist(), type=pa.string()),
            "ts": pa.array(ts, type=pa.timestamp("us", tz="UTC")),
        }
    )


EDGE_QUERIES = [
    " ".join(VOCAB[:4].tolist()),  # head terms only
    "zzzunknownterm " + VOCAB[200],  # out-of-vocabulary term
    f"{VOCAB[300]} {VOCAB[300]} {VOCAB[301]}",  # duplicate term
    "!!! ???",  # empty after tokenization
]


def query_pool(seed: int, n: int) -> pa.Table:
    """(query_id, text): the four fixture edge cases first, then queries in
    the mix of ``splade_spark.fixtures.queries`` (the dev-queries analogue):
    2..8 distinct terms, each from the mid band."""
    g = rng(seed, "queries")
    texts = list(EDGE_QUERIES)
    for _ in range(n - len(EDGE_QUERIES)):
        terms = g.choice(MID_BAND, size=int(g.integers(2, 9)), replace=False)
        texts.append(" ".join(VOCAB[terms].tolist()))
    return pa.table(
        {"query_id": [f"q{i:05d}" for i in range(n)], "text": texts}
    )


def curation_docs(
    seed: int, n_docs: int
) -> tuple[pa.Table, list[tuple[int, int]], list[tuple[int, int]]]:
    """(doc_id, text) documents of 80..239 words, with planted duplicates.

    ``DUP_RATE`` of the documents are exact copies of an earlier original
    (case and whitespace varied, so only normalisation makes them equal)
    and as many again are near copies (1 word in ~100 replaced; 3-shingle
    Jaccard stays above 0.9). Returns the table and the planted
    (original, copy) pairs of each kind."""
    g = rng(seed, "curate")
    texts = _word_runs(g, g.integers(80, 240, size=n_docs))
    n_plant = max(1, int(n_docs * DUP_RATE))
    slots = g.permutation(np.arange(n_docs // 2, n_docs))[: 2 * n_plant]
    origs = g.choice(n_docs // 2, size=2 * n_plant, replace=False)
    exact, near = [], []
    for j, (o, c) in enumerate(zip(origs.tolist(), slots.tolist())):
        words = texts[o].split(" ")
        if j < n_plant:
            words[0] = words[0].upper()
            texts[c] = "  ".join(words) + " \n"
            exact.append((o, c))
        else:
            for pos in g.choice(len(words), size=max(1, len(words) // 100),
                                replace=False):
                words[pos] = "planted%05d" % int(g.integers(0, 100_000))
            texts[c] = " ".join(words)
            near.append((o, c))
    table = pa.table(
        {"doc_id": pa.array(np.arange(n_docs), type=pa.int64()), "text": texts}
    )
    return table, exact, near


def embeddings(
    seed: int, n_vec: int, dim: int, n_queries: int
) -> tuple[pa.Table, pa.Table, list[int]]:
    """Unit-ish random vectors plus probe queries, each planted next to one
    corpus vector (its expected nearest neighbour)."""
    g = rng(seed, "embeddings")
    mat = g.standard_normal((n_vec, dim)).astype(np.float32)
    targets = g.choice(n_vec, size=n_queries, replace=False)
    q = mat[targets] + NEIGHBOUR_NOISE * g.standard_normal((n_queries, dim)).astype(
        np.float32
    )
    corpus = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vec), type=pa.int64()),
            "embedding": pa.array(list(mat), type=pa.list_(pa.float32())),
        }
    )
    queries = pa.table(
        {
            "query_id": [f"v{i:04d}" for i in range(n_queries)],
            "embedding": pa.array(list(q), type=pa.list_(pa.float32())),
        }
    )
    return corpus, queries, targets.tolist()


def write(table: pa.Table, path: str) -> str:
    pq.write_table(table, path)
    return path
