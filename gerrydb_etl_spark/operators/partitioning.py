"""Partitioning utilities shared by the compute-heavy operators."""

from __future__ import annotations

import os
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame

# Per-task input budget for LIGHT narrow text maps (explode + hash /
# tokenize): measured at sf0.1 (drift attribution in
# .scale/drift_r17.json + the target sweep in PERF.md): a
# 594 KB compressed documents scan runs the dsir pipeline fastest at
# 4-8 tasks (0.367s) — 32 tasks is task-overhead-bound (0.631s) and
# 1 task leaves cores idle (0.477s). 128 KB/task puts every measured
# corpus in its optimal band: sf0.1 docs -> 5, x10 docs (5.9 MB) ->
# 47 -> capped at parallelism (exactly the measured 4x win
# geometry), production -> the partition-count gate short-circuits
# first. NOT for vector paths: embeddings are incompressible floats
# with matmul-heavy work per byte (798 KB at sf0.1 genuinely wants
# all 32 cores), nor for heavy per-char fold chains (BPE) — those
# sites keep the plain parallelism target.
TEXT_CHUNK_BYTES = 128 << 10


def _input_bytes(df: DataFrame) -> int | None:
    """Total compressed size of the plan's input files, or None when
    it cannot be established cheaply (non-file sources, remote
    filesystems — callers then keep the full parallelism target)."""
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    total = 0
    for uri in files:
        parsed = urlparse(uri)
        if parsed.scheme not in ("", "file"):
            return None
        try:
            total += os.path.getsize(unquote(parsed.path))
        except OSError:
            return None
    return total


def fan_out(
    df: DataFrame,
    min_partitions: int | None = None,
    chunk_bytes: int | None = None,
) -> DataFrame:
    """Round-robin repartition a narrow input up to cluster
    parallelism when its scan yields fewer partitions.

    Compute-heavy narrow maps (regex tokenization, shingle explosion,
    signature hashing, fold-based cosine scoring) inherit the SCAN's
    partitioning: a corpus packed into one small parquet file runs
    them on ONE task regardless of cluster size. The gate reads the
    actual scan partition count, so at production scale — where the
    scan already yields more partitions than cores — this is a no-op
    and no extra shuffle of the corpus exists; at small scale it
    moves only the raw (id, payload) rows once, before any expansion.

    ``chunk_bytes``: an optional per-task
    input budget for LIGHT maps, where fanning a sub-MB scan all the
    way to cluster parallelism is task-overhead-bound (measured: 32
    tasks on 594 KB ran 1.7x slower than 4). When given AND the
    input size is establishable from local files, the target is
    capped at ceil(bytes / chunk_bytes); unknown sizes (remote
    stores) keep the full target — at that scale the partition-count
    gate has almost certainly short-circuited anyway.
    """
    sc = df.sparkSession.sparkContext
    target = min_partitions or sc.defaultParallelism
    n = df.rdd.getNumPartitions()
    if n >= target:
        return df
    if chunk_bytes:
        size = _input_bytes(df)
        if size is not None:
            target = min(target, max(1, -(-size // chunk_bytes)))
    if n < target:
        return df.repartition(target)
    return df
