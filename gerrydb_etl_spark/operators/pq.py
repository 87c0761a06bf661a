"""IVF-PQ: product-quantized approximate nearest neighbors with
asymmetric-distance (ADC) scoring and exact shortlist rescore.

The third scale path for similarity search (after hyperplane LSH and
IVF-Flat): vectors are stored as M small code ids — one per
16-dim subspace — instead of full float arrays, so the candidate
scan touches ~M bytes per vector and the scoring join moves code
ids, never vectors (Jégou, Douze & Schmid, "Product Quantization
for Nearest Neighbor Search", TPAMI 2011; the FAISS IVFPQ layout).

Pipeline: IVF coarse cells bound the candidate set (n_probe /
n_cells of the corpus, reusing operators/ivf.py's quantizer), ADC
ranks candidates from per-query lookup tables, and the top
k * refine shortlist is rescored with the exact quantized-double
cosine before the final top-k — the production recall repair.

Determinism contract (same family as operators/kmeans.py, which
makes the WHOLE pipeline — per-subspace codebook training included
— replayable in DuckDB SQL for a full value-hash oracle):

  * each subspace codebook is the fixed-point k-means on the
    SLICED quantized vectors (first-k init in id order, integer
    centroid sums, sequential-fold distances, lower-id ties);
  * ADC partials are folded sequentially in double per subspace,
    then snapped to exact integers (floor(x + 0.5) as BIGINT)
    BEFORE the cross-subspace sum — a 4-term double sum would be
    combine-order-dependent; a 4-term BIGINT sum is not;
  * the ADC score divides those exact integers in one fixed
    spelling, and ties rank on the lower neighbor id.

Scale notes (100 TB):

  * codebooks are M * k * (dim/M) literals — a bounded model (the
    same k x dim driver footprint as the coarse quantizer);
  * encoding is a narrow projection (argmin over literal
    centroids per subspace, whole-stage codegen, no join);
  * the ADC scoring join moves (query_id, m, code) lookups against
    a broadcast table of n_queries * M * k rows; candidate rows
    carry code ids only — the corpus vectors are read exactly
    twice ever (encode, shortlist rescore), never shuffled;
  * the shortlist rescore joins full vectors for
    n_queries * k * refine rows only.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from gerrydb_etl_spark.operators.ivf import _train
from gerrydb_etl_spark.operators.kmeans import assign_topn, quantize
from gerrydb_etl_spark.operators.similarity import fold_sum

PQ_M = 4  # subspaces; dim must divide evenly

# the corpus size where coarse-cell occupancy starts growing with the
# corpus (cells_for_corpus's 512-cell cap x the vector family's
# per_cell=125) — the same density point that activates the two-level
# IVF probe, and the point where the SCALE_r15 activation run showed
# the floor PQ parameters stop resolving neighbors (recall@5 0.109)
PQ_ACTIVATE = 512 * 125


def pq_params_for_corpus(
    n_vecs: int,
    floor_m: int = PQ_M,
    floor_codes: int = 16,
    floor_refine: int = 8,
) -> tuple[int, int, int]:
    """Corpus-scaled PQ parameters: (m_subs, n_codes, refine).

    Below PQ_ACTIVATE the floors are returned unchanged — they are
    the literals every driver-scale replay oracle was generated
    with, so oracle parity is untouched (the cells_for_corpus
    contract). Past it, cell occupancy grows with the corpus and the
    floor books stop discriminating: at the 256k natural-geometry
    activation point (SCALE_r15 pq_tuning) the shipped
    (4, 16, 8) measured recall@5 = 0.109 against a 0.872 IVF
    candidate ceiling — inside a dense cell most candidates quantize
    to IDENTICAL code words, the ADC shortlist becomes tie-noise,
    and the exact rescore cannot repair what never enters it. The
    scaled regime is a single point, (4, 64, 64), because every
    cheaper combination was measured and lost (SCALE_r15 pq_tuning +
    SCALE_r16 midpoint/refine sweeps):

      * n_codes is the binding knob: 16 -> 64 codes per subspace
        took recall 0.109 -> 0.662 (refine 16) at +34% query wall.
        Capped at 64 BY MEASUREMENT: 256-code books rank WORSE
        (0.731 vs 0.781 at refine 32), doubling their training does
        not rescue them (iters=4: 0.691 at a 327s build — the
        deficit is intrinsic to 256 codewords per 16-dim subspace
        on this geometry, not an under-training artifact), and they
        cost more even on the codebook-table join path
        (PQ_LITERAL_CODE_CAP) that removed adc_tables' unrolled-
        fold cliff (94.5s -> 51.9s query at 256 codes, values
        pinned identical by tests/test_pq.py dispatch-parity).
      * refine=64 is the second knob, measured: 32 -> 64 took
        recall 0.859 at 256k (~98.5% of the 0.872 IVF candidate
        ceiling; the sweep at refine=32 reached 0.781) and 0.831 at
        128k, at no measurable query-wall cost — the shortlist
        rescore is n_queries * k * refine rows, noise at these
        scales. refine only repairs ADC ordering once the codes
        discriminate: at 16 codes even refine=32 stalled at 0.338.
      * an interpolation (codes = n//4000 between the
        endpoints) was KILLED by the midpoint measurement: a
        128k corpus under the interpolated (4, 32, 32) measured
        recall 0.588 vs 0.791/0.831 for 64-code books on the same
        corpus — the mid-band traded away recall to save a 64-code
        build whose cost (~30s at 256k, less at 128k) is trivial
        next to the coarse IVF build it always accompanies
        (111-166s). Mid-scale corpora get the full-quality books.
      * doubling m to 8 doubles ADC join rows for less gain than
        doubling codes (0.728 at m=8/c64/r32 vs 0.781 at m=4) —
        the 16-dim subspaces are not the resolution bottleneck at
        this dimensionality."""
    if n_vecs <= PQ_ACTIVATE:
        return floor_m, floor_codes, floor_refine
    return floor_m, 64, 64


def _slice(col: Column, m: int, sub_dim: int) -> Column:
    """1-based subvector slice for subspace m."""
    return F.slice(col, m * sub_dim + 1, sub_dim)


def train_codebooks(
    quant: DataFrame, dim: int, m_subs: int = PQ_M, k: int = 16, iters: int = 2
) -> list[dict[int, list[float]]]:
    """One fixed-point k-means codebook per subspace, trained on the
    sliced quantized vectors. A driver loop over m_subs bounded
    models — each subspace run is the operators/kmeans.py job with
    dim/m_subs-wide vectors."""
    if dim % m_subs:
        raise ValueError(f"dim {dim} not divisible into {m_subs} subspaces")
    sub_dim = dim // m_subs
    books = []
    for m in range(m_subs):
        sub = quant.select("vec_id", _slice(F.col("qv"), m, sub_dim).alias("qv"))
        centroids, _ = _train(sub, k, iters)
        books.append(centroids)
    return books


# Above this many codes per subspace the literal-codebook paths stop
# being the right plan. adc_tables was the hard cliff: it UNROLLED
# one fold subtree per codeword (m x k struct entries in one array),
# so a 4x256 book became a ~50k-node projection whose analysis +
# compile dominated the job (measured 94.5s query at 256k, SCALE_r15
# pq_tuning — slower than the 64-code point it should beat).
# encode_codes' argmin is already the single-lambda loop pattern
# (operators/kmeans.py assign — one transform walking a nested
# literal array), but it still evaluates an O(k)-element interpreted
# higher-order fold per row over a literal array that grows with the
# book. Past the cap both paths dispatch to a codebook-TABLE
# broadcast join: the codewords become rows, the fold becomes ONE
# constant-size expression over (sub, cv) columns with the identical
# sequential spelling, and the work rides data volume
# (n x m x codes rows) the way a 100 TB encode must anyway.
#
# Cap = 0: the join path is the ONLY production dispatch. A
# nonzero cap would keep the literal spelling for
# small books on execution-cost grounds, but its CONSTRUCTION cost
# was never measured: building m x k fold subtrees is thousands of
# py4j Column round trips on the driver — measured 5.1s to CONSTRUCT
# the (4, 16) adc_tables expression vs ~1.1s to execute the whole
# pq_adc_topk query (guide §7.3: single-threaded driver work is
# invisible in stage metrics). The join path constructs three folds
# total regardless of book size and executes a tiny broadcast join;
# values are identical by the fold-spelling contract, pinned by
# test_join_path_matches_literal_path_exactly and the property
# suite. The literal spelling is retained solely as the executable
# reference those parity tests compare against.
PQ_LITERAL_CODE_CAP = 0


def _books_df(spark, books: list[dict[int, list[float]]]) -> DataFrame:
    """The codebooks as a bounded (m, code, cv: array<double>) table
    — the join-path twin of the literal arrays (m * k rows)."""
    from pyspark.sql import Row

    return spark.createDataFrame(
        [
            Row(m=m, code=c, cv=[float(x) for x in v])
            for m, book in enumerate(books)
            for c, v in sorted(book.items())
        ]
    )


def _sq_dist(sub: Column, cv: Column) -> Column:
    """Sequential-fold squared distance — the ONE spelling shared by
    the literal and join paths (and the SQL replay), so dispatch can
    never change a value."""
    return fold_sum(
        F.zip_with(
            sub,
            cv,
            lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
        )
    )


def _code_cells(sub: Column, book: dict[int, list[float]]) -> Column:
    """array<struct<d,c>> of (sequential-fold squared distance from
    the sliced vector to each codeword, code id) — operators/
    kmeans.py _cells generalized to an arbitrary input column."""
    cids = sorted(book)
    cent_lit = F.array(
        *[F.array(*[F.lit(float(x)) for x in book[cid]]) for cid in cids]
    )
    cid_lit = F.array(*[F.lit(cid) for cid in cids])
    return F.transform(
        cent_lit,
        lambda cv, i: F.struct(
            _sq_dist(sub, cv).alias("d"),
            F.element_at(cid_lit, i + 1).alias("c"),
        ),
    )


def encode_codes(
    quant: DataFrame, books: list[dict[int, list[float]]]
) -> DataFrame:
    """(vec_id, m, code): nearest codeword per subspace, ties to the
    lower code id. ONE narrow projection over the corpus — each
    subspace's argmin is an independent literal-codebook expression
    bound to its own slice column first (expression-tree hygiene:
    composing the slices inline N times would duplicate the slice
    subtree into every distance fold). Past PQ_LITERAL_CODE_CAP
    codewords per subspace the argmin dispatches to a broadcast join
    against the codebook table instead (see the cap's note);
    identical values — same fold spelling, same lower-code-id ties
    (min over struct(d, c) orders by d then c either way)."""
    n_codes = max(len(b) for b in books)
    sub_dim = len(books[0][sorted(books[0])[0]])
    if n_codes > PQ_LITERAL_CODE_CAP:
        subs = quant.select(
            "vec_id",
            F.posexplode(
                F.array(
                    *[_slice(F.col("qv"), m, sub_dim) for m in range(len(books))]
                )
            ).alias("m", "sub"),
        )
        bdf = F.broadcast(_books_df(quant.sparkSession, books))
        return (
            subs.join(bdf, "m")
            .groupBy("vec_id", "m")
            .agg(
                F.min(
                    F.struct(
                        _sq_dist(F.col("sub"), F.col("cv")).alias("d"),
                        F.col("code").alias("c"),
                    )
                ).getField("c").alias("code")
            )
            .select("vec_id", "m", "code")
        )
    bound = quant
    for m in range(len(books)):
        bound = bound.withColumn(
            f"_s{m}", _slice(F.col("qv"), m, sub_dim)
        )
    codes = F.array(
        *[
            F.array_min(_code_cells(F.col(f"_s{m}"), books[m])).getField("c")
            for m in range(len(books))
        ]
    )
    return bound.select(
        "vec_id", F.posexplode(codes).alias("m", "code")
    )


def adc_tables(
    queries_quant: DataFrame, books: list[dict[int, list[float]]]
) -> DataFrame:
    """Per-query ADC lookup tables: (query_id, m, code, pdot_q,
    pnorm2_q) where pdot_q / pnorm2_q are the subspace partial
    query·codeword dot and codeword squared norm, each folded
    sequentially in double and snapped to an exact BIGINT
    (floor(x + 0.5)) so the cross-subspace sums downstream are
    combine-order-free. n_queries * M * k rows — broadcast-sized by
    construction. Past PQ_LITERAL_CODE_CAP codewords per subspace
    the table is built by joining the exploded query subvectors
    against the codebook table instead of inlining one fold per
    codeword (see the cap's note); identical values — same fold
    spelling, same floor-snap."""
    n_codes = max(len(b) for b in books)
    if n_codes > PQ_LITERAL_CODE_CAP:
        sub_dim = len(books[0][sorted(books[0])[0]])
        q_nrm = F.sqrt(
            fold_sum(
                F.transform(
                    "qv", lambda x: x.cast("double") * x.cast("double")
                )
            )
        )
        subs = queries_quant.select(
            F.col("vec_id").alias("query_id"),
            q_nrm.alias("q_nrm"),
            F.posexplode(
                F.array(
                    *[_slice(F.col("qv"), m, sub_dim) for m in range(len(books))]
                )
            ).alias("m", "sub"),
        )
        bdf = F.broadcast(_books_df(queries_quant.sparkSession, books))
        pdot = fold_sum(
            F.zip_with(
                F.col("sub"), F.col("cv"), lambda x, y: x.cast("double") * y
            )
        )
        pnorm2 = fold_sum(F.transform(F.col("cv"), lambda y: y * y))
        return subs.join(bdf, "m").select(
            "query_id",
            "q_nrm",
            "m",
            "code",
            F.floor(pdot + F.lit(0.5)).cast("long").alias("pdot_q"),
            F.floor(pnorm2 + F.lit(0.5)).cast("long").alias("pnorm2_q"),
        )
    entries = []
    for m, book in enumerate(books):
        sub_dim = len(book[sorted(book)[0]])
        sub = _slice(F.col("qv"), m, sub_dim)
        for cid in sorted(book):
            cv = F.array(*[F.lit(float(x)) for x in book[cid]])
            pdot = fold_sum(
                F.zip_with(sub, cv, lambda x, y: x.cast("double") * y)
            )
            pnorm2 = fold_sum(F.transform(cv, lambda y: y * y))
            entries.append(
                F.struct(
                    F.lit(m).alias("m"),
                    F.lit(cid).alias("code"),
                    F.floor(pdot + F.lit(0.5)).cast("long").alias("pdot_q"),
                    F.floor(pnorm2 + F.lit(0.5)).cast("long").alias("pnorm2_q"),
                )
            )
    return queries_quant.select(
        F.col("vec_id").alias("query_id"),
        F.sqrt(
            fold_sum(
                F.transform(
                    "qv", lambda x: x.cast("double") * x.cast("double")
                )
            )
        ).alias("q_nrm"),
        F.explode(F.array(*entries)).alias("e"),
    ).select(
        "query_id", "q_nrm", "e.m", "e.code", "e.pdot_q", "e.pnorm2_q"
    )


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    n_probe: int = 4,
    iters: int = 2,
    m_subs: int = PQ_M,
    n_codes: int = 16,
    refine: int = 4,
    model: tuple[DataFrame, dict[int, list[float]]] | None = None,
    books: list[dict[int, list[float]]] | None = None,
    codes: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ cosine top-k: IVF probes bound candidates, ADC lookup
    tables rank them from code ids alone, and the per-query
    k * refine ADC shortlist is rescored with the exact
    quantized-double cosine before the final top-k.

    ``model``/``books``/``codes``: precomputed coarse (assignment,
    centroids), PQ codebooks, and corpus code assignment
    (store/staging.py fixtures) — fixed-point training/encoding
    makes staged values identical to inline.
    Returns (query_id, neighbor_id, cosine, rank) — exact cosines
    on the surfaced rows, the ADC approximation consumed only for
    shortlist selection (the FAISS IVFPQ + refine layout)."""
    quant = None
    try:
        if model is not None:
            assigned, centroids = model
        else:
            quant = quantize(
                corpus.select(id_col, vec_col), vec_col=vec_col, id_col=id_col
            ).persist()
            centroids, assigned = _train(quant, n_cells, iters)
        corpus_quant = assigned.select("vec_id", "qv")
        if books is None:
            dim = len(assigned.select("qv").first()["qv"])
            books = train_codebooks(
                corpus_quant, dim, m_subs=m_subs, k=n_codes, iters=iters
            )

        qq = quantize(queries, vec_col=vec_col, id_col=id_col)

        # IVF candidates: (query_id, neighbor_id) — code ids only,
        # vectors do NOT ride along
        corpus_cells = assigned.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("cluster_id").alias("cell"),
        )
        probes = F.broadcast(
            assign_topn(qq, centroids, n_probe).select(
                F.col("vec_id").alias("query_id"),
                F.col("cluster_id").alias("cell"),
            )
        )
        cand = corpus_cells.join(probes, "cell").filter(
            F.col("query_id") != F.col("neighbor_id")
        )

        # ADC scoring: codes join the broadcast lookup tables on
        # (query_id, m, code); integer partial sums then one fixed
        # double spelling
        if codes is None:
            codes = encode_codes(corpus_quant, books)
        codes = codes.withColumnRenamed("vec_id", "neighbor_id")
        dt = F.broadcast(adc_tables(qq, books))
        adc = (
            cand.join(codes, "neighbor_id")
            .join(dt, ["query_id", "m", "code"])
            .groupBy("query_id", "neighbor_id")
            .agg(
                F.sum("pdot_q").alias("adot_q"),
                F.sum("pnorm2_q").alias("anorm2_q"),
                F.first("q_nrm").alias("q_nrm"),
            )
            .select(
                "query_id",
                "neighbor_id",
                (
                    F.col("adot_q").cast("double")
                    / (
                        F.col("q_nrm")
                        * F.sqrt(F.col("anorm2_q").cast("double"))
                    )
                ).alias("adc_cosine"),
            )
        )
        w_adc = W.partitionBy("query_id").orderBy(
            F.desc("adc_cosine"), F.asc("neighbor_id")
        )
        shortlist = (
            adc.withColumn("_adc_rn", F.row_number().over(w_adc))
            .filter(F.col("_adc_rn") <= k * refine)
            .select("query_id", "neighbor_id")
        )

        # exact rescore on the shortlist only: join full quantized
        # vectors back for n_queries * k * refine rows
        def dv(col: str):
            return F.transform(col, lambda x: x.cast("double"))

        def nrm(col: str):
            return F.sqrt(fold_sum(F.transform(col, lambda x: x * x)))

        n_side = corpus_quant.select(
            F.col("vec_id").alias("neighbor_id"), dv("qv").alias("n_vec")
        ).withColumn("n_nrm", nrm("n_vec"))
        q_side = F.broadcast(
            qq.select(
                F.col("vec_id").alias("query_id"), dv("qv").alias("q_vec")
            ).withColumn("q_nrm", nrm("q_vec"))
        )
        dot = fold_sum(
            F.zip_with(F.col("q_vec"), F.col("n_vec"), lambda x, y: x * y)
        )
        rescored = (
            shortlist.join(n_side, "neighbor_id")
            .join(q_side, "query_id")
            .select(
                "query_id",
                "neighbor_id",
                (dot / (F.col("q_nrm") * F.col("n_nrm"))).alias("cosine"),
            )
        )
        w = W.partitionBy("query_id").orderBy(
            F.desc("cosine"), F.asc("neighbor_id")
        )
        return (
            rescored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "cosine", "rank")
        )
    finally:
        if quant is not None:
            quant.unpersist()
