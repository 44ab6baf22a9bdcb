"""Log-structured tiered segment merge.

Incremental indexing produces partition-local *segments* (each a full sharded
index over a batch of new documents, built by index/build.py). Queries can
run over the union of segments (retrieval is distributive over docID-disjoint
segments), but block counts and per-term fan-out grow with segment count — so
segments are folded with a tiered merge, the standard log-structured policy
(reference delegates this to Lucene/PISA whose segment merging is the same
idea; in-repo, the reference rebuilds from scratch — inverted_index.py:23-46).

The merge itself is one Spark job: union the segments' postings (still
block-compressed — the shuffle carries compressed blocks, never raw posting
rows), repartition by (shard, term) + sortWithinPartitions(shard, term,
first_doc), then the build's streaming mapInArrow encoder
(build.py:stream_sorted_groups) decodes, concatenates by docID and
re-encodes every complete (shard, term) group per Arrow batch, carrying
the trailing possibly-incomplete group into the next batch. A per-group
applyInPandas is wrong here for the same reason it was wrong in the build:
Zipf tails create millions of tiny (shard, term) groups and per-group
pandas overhead dominates. Because shards partition docID space
identically in every segment (same num_shards), the merge never crosses
shards; segments are docID-disjoint, so blocks sorted by first_doc
concatenate into a globally docID-sorted list per group.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .build import (
    POSTINGS_SCHEMA,
    _write_index_meta,
    encode_partitions,
    read_index_meta,
    shard_sorted,
    stream_sorted_groups,
)
from .codec import check_bits, decode_for, decode_varint, encode_groups


def _binary_values(col: pa.ChunkedArray) -> np.ndarray:
    """The concatenated value bytes of an Arrow binary column, read
    zero-copy from its data buffer (offsets[0]..offsets[-1])."""
    arr = col.combine_chunks()
    _, offs_buf, data = arr.buffers()
    if data is None:
        return np.empty(0, dtype=np.uint8)
    otype = np.int64 if pa.types.is_large_binary(arr.type) else np.int32
    offs = np.frombuffer(offs_buf, dtype=otype)[arr.offset :][: len(arr) + 1]
    return np.frombuffer(data, dtype=np.uint8)[offs[0] : offs[-1]]


def merge_postings(
    segments: list[DataFrame],
    block_size: int = 128,
    bits: int = 8,
    codec: str = "varint",
) -> DataFrame:
    """Merge docID-sorted posting segments into one postings DataFrame.

    Streaming re-encode (see module docstring): one repartition of the
    compressed blocks, then all complete (shard, term) groups in each
    Arrow batch are decoded + re-encoded in a single vectorized
    encode_groups pass. The merge stays in the integer quantized domain
    end to end: the stored weights feed encode_groups unchanged, which
    is byte-identical to a from-scratch build over the union. Doc deltas
    and weights for ALL blocks in a batch are read straight from the
    Arrow binary columns' data buffers; varint deltas decode in ONE
    vectorized pass over the concatenated byte stream (FOR blocks decode
    one by one), and a segmented cumsum reconstructs absolute docIDs."""
    unioned = segments[0]
    for s in segments[1:]:
        unioned = unioned.unionByName(s)
    arranged = unioned.repartition(
        encode_partitions(unioned.sparkSession), "shard_id", "term_id"
    ).sortWithinPartitions("shard_id", "term_id", "first_doc")

    wdtype = np.uint8 if check_bits(bits) <= 8 else np.uint16

    def reencode(tbl: pa.Table) -> dict:
        n_arr = tbl.column("n").to_numpy().astype(np.int64)
        first = tbl.column("first_doc").to_numpy()
        if codec == "varint":
            # LEB128 is self-delimiting, so the concatenated buffers parse
            # in a single pass (sum(n-1) deltas, in block order)
            deltas = decode_varint(_binary_values(tbl.column("doc_bytes")))
        else:
            deltas = np.concatenate([
                decode_for(db, int(n) - 1)
                for db, n in zip(tbl.column("doc_bytes").to_pylist(), n_arr)
            ])
        starts = np.concatenate(([0], np.cumsum(n_arr)[:-1]))
        vals = np.empty(int(n_arr.sum()), dtype=np.int64)
        mask = np.ones(len(vals), dtype=bool)
        mask[starts] = False
        vals[starts] = first
        vals[mask] = deltas.astype(np.int64)
        c = np.cumsum(vals)
        # segmented cumsum: doc[j] = first_b + Σ deltas in block b
        doc = c - np.repeat(c[starts] - first, n_arr)
        q = _binary_values(tbl.column("w_bytes")).view(wdtype)
        return encode_groups(
            np.repeat(tbl.column("shard_id").to_numpy(), n_arr),
            np.repeat(tbl.column("term_id").to_numpy(), n_arr),
            doc, q, block_size=block_size, bits=bits, codec=codec,
        )

    return arranged.mapInArrow(
        lambda batches: stream_sorted_groups(batches, reencode),
        schema=POSTINGS_SCHEMA,
    )


def merge_indexes(
    spark: SparkSession, segment_paths: list[str], out_path: str
) -> dict:
    """Merge on-disk index segments (identical meta) into out_path.

    Segments must cover **disjoint docID ranges** (the incremental indexer
    allocates contiguous ranges above a persisted watermark —
    streaming/incremental.py). Two independent `cli build` runs both start
    doc ids at 0; merging those would silently alias different documents,
    so overlapping ranges are rejected."""
    metas = [read_index_meta(p) for p in segment_paths]
    scale = metas[0]["scale"]
    num_shards = metas[0]["num_shards"]
    block_size = metas[0]["block_size"]
    # explicit raises, not asserts — these guard against silent index
    # corruption and must survive python -O
    if not all(
        m["scale"] == scale and m["num_shards"] == num_shards for m in metas
    ):
        raise ValueError("segments must share quantization scale and shard count")
    if not all(
        m.get("codec", "varint") == metas[0].get("codec", "varint")
        and m.get("bits", 8) == metas[0].get("bits", 8)
        for m in metas
    ):
        raise ValueError("segments must share posting codec and quantization width")
    # explicit schema: an empty segment (no parquet files under the
    # partition dirs) fails schema inference; its (None, None) range is
    # skipped below rather than TypeError-ing against int ranges
    segs = [
        spark.read.schema(POSTINGS_SCHEMA).parquet(p) for p in segment_paths
    ]
    ranges = sorted(
        r
        for r in (
            tuple(s.agg(F.min("first_doc"), F.max("last_doc")).collect()[0])
            for s in segs
        )
        if r[0] is not None
    )
    for (lo_a, hi_a), (lo_b, _hi_b) in zip(ranges, ranges[1:]):
        if lo_b <= hi_a:
            raise ValueError(
                f"segment docID ranges overlap ({lo_a}..{hi_a} vs {lo_b}..): "
                "merge requires docID-disjoint segments (watermark-allocated)"
            )
    # same sink arrangement as build_index (without it, 2 048 slivers at
    # the bench shape, whose serial commit renames dominated merge time)
    merged = shard_sorted(
        merge_postings(
            segs, block_size,
            bits=metas[0].get("bits", 8),
            codec=metas[0].get("codec", "varint"),
        ),
        num_shards,
    )
    # STATIC overwrite, unlike build_index's dynamic mode: dynamic only
    # replaces partitions present in the new data, so a merge into a path
    # that previously held an index with more shards (or any shard the new
    # merge leaves empty) would keep the stale shard partitions on disk —
    # postings for documents that exist in no merged segment, silently
    # wrong at query time. Merge has no per-shard resume ledger, so the
    # whole-directory replace costs nothing and a killed merge re-run is
    # still idempotent.
    merged.write.mode("overwrite").partitionBy("shard_id").parquet(out_path)
    # atomic tmp+rename, same as the build path: a crash mid-write must not
    # leave a merged index the query path cannot open
    _write_index_meta(
        out_path,
        {
            "scale": scale,
            "num_shards": num_shards,
            "block_size": block_size,
            "bits": metas[0].get("bits", 8),
            "codec": metas[0].get("codec", "varint"),
            "lineage": {"merged_from": segment_paths},
        },
    )
    return {"segments": len(segment_paths), "out": out_path}


def tiered_merge_plan(segment_sizes: list[int], fanout: int = 4) -> list[list[int]]:
    """Which segments to fold this round (indices), grouped by tier.

    Tier t holds segments with size in [fanout^t, fanout^(t+1)); when a tier
    accumulates >= fanout segments they merge into the next tier. Driver-side
    planning only — the merges themselves are Spark jobs.
    """

    def _tier(sz: int) -> int:
        # integer floor-log: float math.log(fanout**t, fanout) rounds DOWN
        # for exact powers (int(math.log(3**5, 3)) == 4), dropping freshly
        # merged fanout^t-sized segments a tier low and re-merging them
        # prematurely
        t, sz = 0, max(sz, 1)
        while sz >= fanout:
            sz //= fanout
            t += 1
        return t

    tiers: dict[int, list[int]] = {}
    for i, sz in enumerate(segment_sizes):
        tiers.setdefault(_tier(sz), []).append(i)
    return [idxs for t, idxs in sorted(tiers.items()) if len(idxs) >= fanout]
