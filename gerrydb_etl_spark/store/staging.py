"""Staged fixtures: write-once-reuse-many derived tables, one registry.

A staged fixture is derived corpus state that many queries share —
an inverted-index input (shingles, token hashes/codes), a fingerprint
index (SimHash, winnowing, dHash, banded MinHash), a trained model
(k-means, IVF, PQ, one-pass cell splits), a co-occurrence or
component table, or the streaming heads' epoch input directories.
Each is computed once per session and read by every consumer instead
of being recomputed per query. Every fixture is one ``Fixture`` entry
below — key, source tables, the code its derivation tag hashes,
parameters, build, tables, dependencies, read policy — and one
``Fixture.ensure`` owns the whole staging contract:

- Name: ``st_<key>_<param values>_<derivation tag>_<source
  fingerprint>`` plus a per-table suffix. The derivation tag hashes
  the source of the deriving code (the fixture's own and its
  dependencies'), the fingerprint the source files' paths, mtimes and
  sizes: regenerated data, or an edit to the deriving code, mints a
  new name — never a silent stale read.
- Session scope: a hit is every table present in the in-memory
  catalog, which forgets its tables when the JVM exits; a fresh
  process therefore always restages and never reads a previous run's
  staging work.
- All or nothing: a miss drops every table of the fixture and removes
  its warehouse directory before building, so a surviving half of a
  model pair (IVF assignment + centroids, PQ books + codes, split +
  sub-codebook) is never kept beside a rebuilt other half.
- Write: each table is saved as a managed parquet table under a
  REBALANCE hint, which sizes output files to the advisory partition
  size at any scale (one file for a tiny fixture instead of one per
  task — the small-files antipattern every consumer scan would pay).

Values are identical to the inline spelling by construction (each
build IS the consumers' operator pipeline), so the DuckDB value-hash
oracles, which replay the full derivation from the raw tables, are
unchanged by staging.
"""

from __future__ import annotations

import hashlib
import importlib
import inspect
import os
import shutil
from collections.abc import Callable, Iterator
from dataclasses import dataclass, field
from typing import Any
from urllib.parse import urlparse

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from gerrydb_etl_spark.functions.text import tokenize
from gerrydb_etl_spark.operators import (
    components, dedup, ivf, kmeans, multimodal, passages, pq, similarity,
    triangles,
)
from gerrydb_etl_spark.operators.partitioning import fan_out
from gerrydb_etl_spark.sources.registry import TABLE_SCHEMAS, load_table
from gerrydb_etl_spark.store.bucketing import _source_fingerprint


def _derivation_tag(*code_objs) -> str:
    """8-hex digest of the SOURCE of the code that derives a staged
    fixture (functions or whole modules; a constant contributes its
    repr). Folded into every staged table name next to the data
    fingerprint, so an edit to the builder pipeline mints a new table
    name and can never silently reuse a persisted stale staged value
    (VERDICT r8 item 5 — this replaces the hand-bumped "v1"/"v2"
    derivation constants, whose staleness depended on a human
    remembering to bump them)."""
    h = hashlib.sha256()
    for obj in code_objs:
        code = callable(obj) or inspect.ismodule(obj)
        h.update((inspect.getsource(obj) if code else repr(obj)).encode())
    return h.hexdigest()[:8]


def _ref(path: str) -> Any:
    """``"module:attr"`` (or a bare module) under the package, imported
    on first use: the query modules import this one at import time."""
    mod, _, attr = path.partition(":")
    m = importlib.import_module(f"gerrydb_etl_spark.{mod}")
    return getattr(m, attr) if attr else m


def _location(spark: SparkSession, name: str) -> str:
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    return os.path.join(wh, name)


def _save(spark: SparkSession, df: DataFrame, name: str, p: dict) -> None:
    writer = df.hint("rebalance").write
    writer.saveAsTable(name, format="parquet", mode="overwrite")


def _register_dir(spark: SparkSession, staged: str, name: str, p: dict):
    """Move a directory of parquet files a build wrote into the
    fixture's location and register it as a table of its source's
    declared schema (no inference job). The move keeps the files'
    mtimes, which the file-stream source orders epochs by."""
    dest = _location(spark, name)
    os.makedirs(os.path.dirname(dest), exist_ok=True)
    shutil.move(staged, dest)
    spark.catalog.createTable(
        name, path=dest, source="parquet", schema=TABLE_SCHEMAS[p["table"]]
    )


REQUIRED = inspect.Parameter.empty
FIXTURES: dict[str, Fixture] = {}


@dataclass(frozen=True)
class Fixture:
    """One staged fixture (the module docstring states the contract).

    ``sources`` are the fingerprinted source tables (``"{param}"``
    names one by parameter); ``code`` lists ``"module:attr"`` refs
    (a bare module, or a constant) the derivation tag hashes after
    every dependency's code; ``params`` maps each parameter, in
    positional order, to its default (``REQUIRED`` for none, a
    ``(spark, sf_dir, bound) -> value`` callable for a derived one);
    ``deps(params)`` lists the ``(fixture, args)`` staged first and
    passed to ``build`` as plain reads;
    ``build(spark, sf_dir, *dep_frames, **params)`` returns the frame
    of each of ``tables`` (a generator may bracket the writes), each
    handed to ``write``; ``reader(spark, names, **params)`` is the
    read policy."""

    key: str
    sources: tuple[str, ...]
    code: tuple[str, ...]
    build: Callable
    params: dict[str, Any] = field(default_factory=dict)
    tables: tuple[str, ...] = ("",)
    deps: Callable[[dict], tuple] = lambda p: ()
    reader: Callable = lambda spark, names, **p: spark.table(names[0])
    write: Callable = _save

    def __post_init__(self) -> None:
        FIXTURES[self.key] = self

    def bind(self, spark: SparkSession, sf_dir: str, *args, **kw) -> dict:
        """The call's parameters by name, defaults applied."""
        kind = inspect.Parameter.POSITIONAL_OR_KEYWORD
        sig = inspect.Signature(
            inspect.Parameter(k, kind, default=v)
            for k, v in self.params.items()
        )
        p = sig.bind(*args, **kw)
        p.apply_defaults()
        return {
            k: v(spark, sf_dir, p.arguments) if callable(v) else v
            for k, v in p.arguments.items()
        }

    def code_objs(self, spark: SparkSession, sf_dir: str, p: dict) -> list:
        """What the derivation tag hashes: the dependencies' code,
        then the fixture's own."""
        return [
            obj
            for d, a in self.deps(p)
            for obj in d.code_objs(spark, sf_dir, d.bind(spark, sf_dir, *a))
        ] + [_ref(c) for c in self.code]

    def names(self, spark: SparkSession, sf_dir: str, *args, **kw) -> tuple:
        """The fixture's table names for these parameters."""
        p = self.bind(spark, sf_dir, *args, **kw)
        srcs = tuple(s.format(**p) for s in self.sources)
        fp = _source_fingerprint(sf_dir, tables=srcs)
        tag = _derivation_tag(*self.code_objs(spark, sf_dir, p))
        base = "_".join(["st", self.key, *map(str, p.values()), tag, fp])
        return tuple(base + t for t in self.tables)

    def ensure(self, spark: SparkSession, sf_dir: str, *args, **kw) -> tuple:
        """Stage the fixture unless this session already has; returns
        its table names."""
        p = self.bind(spark, sf_dir, *args, **kw)
        names = self.names(spark, sf_dir, **p)
        if all(spark.catalog.tableExists(n) for n in names):
            return names
        deps = [
            spark.table(d.ensure(spark, sf_dir, *a)[0])
            for d, a in self.deps(p)
        ]
        # all or nothing: a table that survived its siblings is only
        # valid against them, so every table of the fixture restages
        for n in names:
            spark.sql(f"DROP TABLE IF EXISTS {n}")
            shutil.rmtree(_location(spark, n), ignore_errors=True)
        frames = self.build(spark, sf_dir, *deps, **p)
        frames = (frames,) if isinstance(frames, DataFrame) else frames
        try:
            for out, n in zip(frames, names):
                self.write(spark, out, n, p)
        finally:
            if isinstance(frames, Iterator):
                frames.close()
        return names

    def read(self, spark: SparkSession, sf_dir: str, *args, **kw) -> Any:
        """The fixture through its read policy (staging on first
        use)."""
        p = self.bind(spark, sf_dir, *args, **kw)
        return self.reader(spark, self.ensure(spark, sf_dir, **p), **p)


# corpus row counts keyed by source fingerprint: the scaled-k rules
# (operators/kmeans.py cells_for_corpus) need n_vecs per invocation,
# and an extra full count() action per query just to derive k is
# wasted work the staging layer already paid — the fingerprint key
# gives the same staleness contract as the staged tables (regenerated
# data at the same path mints a new key and recounts).
_COUNT_CACHE: dict[str, int] = {}


def corpus_count(spark: SparkSession, sf_dir: str, table: str) -> int:
    """Memoized row count of a source table, keyed by the source
    fingerprint (path + parquet part mtimes/sizes)."""
    key = f"{table}_{_source_fingerprint(sf_dir, tables=(table,))}"
    if key not in _COUNT_CACHE:
        _COUNT_CACHE[key] = load_table(spark, sf_dir, table).count()
    return _COUNT_CACHE[key]


def _fanned_model_read(spark: SparkSession, name: str) -> DataFrame:
    """Read the staged IVF assignment with the gated fan_out.

    The r17 REBALANCE-at-write collapses fixture-scale staged tables
    to ONE parquet file, and the ivf_topk / multiprobe_pairs
    consumers do fold-heavy work (per-row norm folds, candidate-pair
    cosine chains) whose query side is BROADCAST — a broadcast hash
    join inherits the streamed side's scan partitioning, so the whole
    fold chain runs on one task regardless of cluster size (the
    _blocked_qd failure class, reached through a different reader).
    Measured interleaved A/B at sf0.1 (PERF.md round-17 coda):
    embedding_split_leakage 2.710 -> 1.767s, ivf_index_quality
    1.100 -> 0.918, ivf_multiprobe_neardup 1.668 -> 1.396 with the
    fanned read; holds at x10 (SCALE_r17 staged_reader_fan). At
    production file counts the gate no-ops: no extra corpus exchange
    ships.

    SCOPE — measured per reader, not blanket: KMEANS and the splits
    stay PLAIN. Their heavy consumers fan internally
    (_blocked_qd, operators/kmeans.py:266), and their remaining
    consumers are light sub-second aggregations where the 1->32
    repartition's task overhead dominates (the dsir chunk_bytes
    finding, same round): embedding_drift_monitor 0.344 plain vs
    0.707 fanned, hierarchical_cells_assign 0.072 vs 0.136;
    kmeans_train_assign / semantic_dedup_survivors / twolevel at
    parity (deltas < 0.15s inside session noise). Token-instance
    staged reads (simhash shingle hashes) also stay unfanned — the
    measured negative A/B (operators/dedup.py, 3.46s vs 2.14s):
    their next op is an aggregation shuffle that already restores
    parallelism, and the exploded rows are corpus x tokens wide."""
    return fan_out(spark.table(name))


# driver-side model collects, memoized by staged-table name: the
# centroid dict / codebook list is re-collected on EVERY query call
# otherwise (one driver job each — the vector family pays 1-2 such
# jobs per query at bench scale for a model that cannot change: a
# staged table's name embeds the source fingerprint AND the builder
# code hash, and the fixed-point builder is deterministic, so a name
# uniquely determines its contents even across a drop + restage).
_MODEL_CACHE: dict[str, Any] = {}


def _read_ivf(spark: SparkSession, names: tuple, **p) -> tuple:
    """(fanned assignment, centroid dict) — probe ranking must use the
    centroids the final assignment was computed against."""
    name, cname = names
    if cname not in _MODEL_CACHE:
        rows = spark.table(cname).collect()
        _MODEL_CACHE[cname] = {r["cluster_id"]: list(r["cv"]) for r in rows}
    return _fanned_model_read(spark, name), _MODEL_CACHE[cname]


def _read_pq(spark: SparkSession, names: tuple, m_subs: int, **p) -> tuple:
    """(codebooks, codes) — the operators/pq.py ``books``/``codes``."""
    bname, kname = names
    if bname not in _MODEL_CACHE:
        books: list[dict[int, list[float]]] = [{} for _ in range(m_subs)]
        for r in spark.table(bname).collect():
            books[r["m"]][r["code"]] = list(r["cv"])
        _MODEL_CACHE[bname] = books
    return _MODEL_CACHE[bname], spark.table(kname)


def _docs(spark, sf_dir) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


def _build_shingles(spark, sf_dir, n: int) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return dedup.shingle_rows(docs, "doc_id", "text", n, with_size=True)


def _build_token_hashes(spark, sf_dir) -> DataFrame:
    return (
        fan_out(_docs(spark, sf_dir).select("doc_id", "text"))
        .select(
            F.col("doc_id").alias("doc"),
            F.explode(tokenize(F.col("text"))).alias("t"),
        )
        .select("doc", dedup.portable_token_hash(F.col("t")).alias("h"))
    )


def _build_token_codes(spark, sf_dir) -> DataFrame:
    return _docs(spark, sf_dir).select(
        F.col("doc_id"), passages._token_codes(tokenize("text")).alias("codes")
    )


def _build_components(spark, sf_dir, sh: DataFrame) -> DataFrame:
    pairs = dedup.jaccard_pairs(
        _docs(spark, sf_dir), "doc_id", "text", n=3, threshold=0.8,
        shingles=sh,
    )
    return components.connected_components(pairs)


def _build_copurchase(spark, sf_dir, min_support: int) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    )
    return triangles.copurchase_pair_supports(li, min_support)


def _build_kmeans(spark, sf_dir, k: int, iters: int) -> DataFrame:
    # no fan_out here (ADVICE r14): kmeans_train fans the corpus out
    # itself before its persisted quantize
    emb = load_table(spark, sf_dir, "embeddings")
    return kmeans.kmeans_train(emb, k=k, iters=iters, keep_qv=True)


def _build_lsh_sigs(spark, sf_dir, bits: int, tables: int) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    sig_udf = similarity._signature_udf(
        similarity.anchor_planes(emb, bits, tables)
    )
    return (
        fan_out(emb.select(F.col("vec_id").alias("doc"), "embedding"))
        .select("doc", sig_udf(F.col("embedding")).alias("sigs"))
        .select("doc", F.posexplode("sigs").alias("tbl", "sig"))
    )


def _quantized_corpus(spark, sf_dir) -> DataFrame:
    """The persisted quantized corpus the IVF/PQ trainers share,
    fanned out first (SCALE_r14 activation finding): quantize/_train
    have no internal fan_out, so a single-file corpus would run the
    Lloyd passes near-single-task; a no-op once the scan yields >=
    parallelism partitions. The caller unpersists it."""
    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    return kmeans.quantize(emb).persist()


def _build_ivf(spark, sf_dir, n_cells: int, iters: int) -> Iterator:
    quant = _quantized_corpus(spark, sf_dir)
    try:
        centroids, assigned = ivf._train(quant, n_cells, iters)
        yield assigned.select("vec_id", "cluster_id", "qv")
        yield spark.createDataFrame(
            [Row(cluster_id=c, cv=[float(x) for x in v])
             for c, v in sorted(centroids.items())]
        )
    finally:
        quant.unpersist()


def _build_pq(spark, sf_dir, m_subs: int, n_codes: int, iters: int):
    quant = _quantized_corpus(spark, sf_dir)
    try:
        dim = len(quant.select("qv").first()["qv"])
        books = pq.train_codebooks(
            quant, dim, m_subs=m_subs, k=n_codes, iters=iters
        )
        yield spark.createDataFrame(
            [
                Row(m=m, code=c, cv=[float(x) for x in v])
                for m, book in enumerate(books)
                for c, v in sorted(book.items())
            ]
        )
        yield pq.encode_codes(quant, books)
    finally:
        quant.unpersist()


def _build_split(
    spark, sf_dir, base: DataFrame, per_cell: int, split_iters: int, **_
) -> tuple[DataFrame, DataFrame]:
    # max_levels=1: the one-pass contract every oracle-replayed
    # consumer pins (the recursive default stays at the production
    # activation sites, which train inline)
    return kmeans.split_oversized_cells(
        base.select("vec_id", "cluster_id", "qv"),
        per_cell=per_cell, iters=split_iters, max_levels=1,
    )


def _build_dhash(spark, sf_dir) -> DataFrame:
    media = _ref("queries.llm_text:_netpbm_media")(_docs(spark, sf_dir))
    return multimodal.perceptual_dhash(media)


def _build_epochs(spark, sf_dir, **p) -> tuple[str]:
    stage = _ref("streaming.stream:_stage_key_range_batches")
    return (stage(spark, sf_dir, **p),)


def _files_per_epoch(spark, sf_dir, p: dict) -> int:
    derive = _ref("streaming.stream:_files_per_epoch")
    return derive(spark, sf_dir, p["table"], p["n_batches"])


_TOKENS = ("functions.text:tokenize",)
_SPLIT = dict(
    build=_build_split,
    tables=("", "_subcents"),
    reader=lambda spark, names, **p: tuple(map(spark.table, names)),
)

# the doc-side corpus indexes: the shingle inverted-index input WITH
# per-doc set sizes, the per-token-instance portable hashes (SimHash's
# dominant char-level fold) and the per-document token-code arrays the
# winnowing family folds
SHINGLES = Fixture(
    "shingles", ("documents",), ("operators.dedup:shingle_rows",),
    _build_shingles, params=dict(n=3),
)
TOKEN_HASHES = Fixture(
    "tokhash", ("documents",),
    (*_TOKENS, "operators.dedup:portable_token_hash"), _build_token_hashes,
)
TOKEN_CODES = Fixture(
    "tokcodes", ("documents",),
    (*_TOKENS, "operators.passages:_token_codes"), _build_token_codes,
)
# the BPE segmenter trained and applied over the vocabulary: model
# state of the three bpe_* heads (one merge collect, pair-count window
# and fold-chain codegen per session instead of per query)
SEGMENTED_VOCAB = Fixture(
    "bpeseg", ("documents",),
    ("queries.llm_text:_segmented_vocab_build",
     "queries.llm_text:_apply_merge", *_TOKENS,
     "queries.llm_text:BPE_APPLY_MERGES"),
    lambda spark, sf_dir: _ref("queries.llm_text:_segmented_vocab_build")(
        spark, sf_dir
    ),
)
# Jaccard>=0.8 pairs over the 3-shingles closed by pointer-jumping:
# the (doc, cluster_rep) tail of neardup_clusters and the survivor
# selection
COMPONENTS = Fixture(
    "ndcomp", ("documents",),
    ("operators.dedup:jaccard_pairs",
     "operators.components:connected_components"),
    _build_components, deps=lambda p: ((SHINGLES, (3,)),),
)
# support-filtered market-basket pairs (u < v) the graph family shares
COPURCHASE = Fixture(
    "copur", ("lineitem",), ("operators.triangles:copurchase_pair_supports",),
    _build_copurchase, params=dict(min_support=2),
)
# the trained quantizers: the fixed-point k-means assignment, the
# hyperplane-LSH signature index, the IVF model (assignment AND the
# centroids it was computed against) and the PQ model (codebooks AND
# the codes encoded against them)
KMEANS = Fixture(
    "kmeans", ("embeddings",), ("operators.kmeans",), _build_kmeans,
    params=dict(k=8, iters=3),
)
LSH_SIGS = Fixture(
    "lshsigs", ("embeddings",),
    ("operators.similarity:anchor_planes",
     "operators.similarity:_signature_udf"),
    _build_lsh_sigs, params=dict(bits=4, tables=8),
)
IVF = Fixture(
    "ivf", ("embeddings",), ("operators.kmeans", "operators.ivf"), _build_ivf,
    params=dict(n_cells=16, iters=2), tables=("", "_centroids"),
    reader=_read_ivf,
)
PQ = Fixture(
    "pq", ("embeddings",), ("operators.kmeans", "operators.pq"), _build_pq,
    params=dict(m_subs=4, n_codes=16, iters=2), tables=("", "_codes"),
    reader=_read_pq,
)
# the one-pass oversized-cell split of a staged quantizer: the refined
# (vec_id, cluster_id, sub_id, qv) assignment AND the fine codebook it
# was computed against
KMEANS_SPLIT = Fixture(
    "kmsplit", ("embeddings",), ("operators.kmeans:split_oversized_cells",),
    params=dict(k=REQUIRED, iters=REQUIRED, per_cell=REQUIRED, split_iters=2),
    deps=lambda p: ((KMEANS, (p["k"], p["iters"])),), **_SPLIT,
)
IVF_SPLIT = Fixture(
    "ivfsplit", ("embeddings",), ("operators.kmeans:split_oversized_cells",),
    params=dict(
        n_cells=REQUIRED, iters=REQUIRED, per_cell=REQUIRED, split_iters=2
    ),
    deps=lambda p: ((IVF, (p["n_cells"], p["iters"])),), **_SPLIT,
)
# the fingerprint indexes: perceptual dHash over the netpbm media,
# 64-bit SimHash per document, banded MinHash signatures + band keys,
# and robust-winnowing fingerprints at one (k, w) shape
DHASH = Fixture(
    "dhash", ("documents",),
    ("queries.llm_text:_netpbm_media",
     "operators.multimodal:perceptual_dhash",
     "operators.multimodal:_dhash_chunks",
     "operators.multimodal:_strict_pixels"),
    _build_dhash,
)
SIMHASH_FPS = Fixture(
    "simhashfp", ("documents",), ("operators.dedup:simhash",),
    lambda spark, sf_dir, th: dedup.simhash(
        _docs(spark, sf_dir), "doc_id", "text", token_hashes=th
    ),
    deps=lambda p: ((TOKEN_HASHES, ()),),
)
BANDED_MINHASH = Fixture(
    "mhband", ("documents",),
    ("operators.dedup:minhash_signatures",
     "operators.dedup:banded_signatures"),
    lambda spark, sf_dir, sh, n, num_hashes, bands: dedup.banded_signatures(
        sh, num_hashes, bands
    ),
    params=dict(n=3, num_hashes=32, bands=8),
    deps=lambda p: ((SHINGLES, (p["n"],)),),
)
WINNOW = Fixture(
    "winnow", ("documents",),
    ("operators.passages:kgram_hashes", "operators.passages:winnow_select",
     "operators.passages:winnow_fingerprints"),
    lambda spark, sf_dir, codes, k, w: passages.winnow_fingerprints(
        _docs(spark, sf_dir), k=k, w=w, codes=codes
    ),
    params=dict(k=REQUIRED, w=REQUIRED),
    deps=lambda p: ((TOKEN_CODES, ()),),
)
# the streaming heads' micro-batch epoch INPUT directories: ascending
# key ranges with pinned mtime ordering (in production the arriving
# files ARE the stream; only the demo harness manufactures them). The
# files per epoch default to the source-size-derived count; the read
# is the directory itself.
EPOCHS = Fixture(
    "epochs", ("{table}",), ("streaming.stream:_stage_key_range_batches",),
    _build_epochs,
    params=dict(
        table=REQUIRED, key_col=REQUIRED, prefix=REQUIRED,
        n_batches=REQUIRED, files_per_batch=_files_per_epoch,
    ),
    reader=lambda spark, names, **p: _location(spark, names[0]),
    write=_register_dir,
)

# the benchmark's entry points, under their historical names
ensure_staged_shingles = SHINGLES.ensure
ensure_staged_minhash_bands = BANDED_MINHASH.ensure
ensure_staged_dhash = DHASH.ensure
