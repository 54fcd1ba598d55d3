"""Similarity search over an embedding column (engine extension: the
LLM-training-pipeline surface; no reference equivalent — the reference's
closest notion is the dedup set of pushshift.py:119-145).

The ladder, exact → approximate, single → batched:

- ``cosine_topk``           — brute-force exact top-k for ONE query: 1-row
  broadcast, embarrassingly-parallel scan, TakeOrderedAndProject (k rows
  per partition to the driver reduce).  Correct plan even at 100 TB.
- ``cosine_topk_batch``     — exact top-k for M queries in ONE corpus
  pass: the query matrix is broadcast state, each Arrow batch scores all
  queries with fold-order float64 math (bit-identical to the JVM fold and
  the DuckDB oracle) and keeps local top-k; one survivors-only window
  ranks globally.
- ``cosine_topk_lsh``       — random-hyperplane LSH (SimHash for angles,
  Charikar 2002): L×B bit signatures, Hamming-radius multiprobe, exact
  verify on candidates.  Query signatures fold into the plan as literals.
  At scale the signed table is written pre-partitioned by (table, bucket).
- ``cosine_topk_ivf``       — IVF coarse quantizer: scan only the n_probe
  nearest Voronoi cells (partition pruning on a cell-partitioned table).
- ``cosine_topk_ivf_batch`` — IVF pruning × batch scoring: one pruned
  pass answers M queries; each row scores only against the queries
  probing its cell.
- ``cosine_topk_quantized`` — int8 symmetric quantization, int32
  accumulation; the memory-bound regime's format.
- ``embedding_near_dups[_blas|_lsh]`` — all-pairs near-dup ladder with an
  explicit size gate on the O(n²) paths.

Hyperplanes are derived deterministically from a seed via splitmix64 (no
RNG state, reproducible across engines/runs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from timesearch_spark.functions.vectors import as_double, cosine


def _splitmix64(seed: int, n: int) -> list[float]:
    """Deterministic pseudo-normals in [-1, 1) from a 64-bit mix — enough
    for hyperplane directions (only the sign structure matters)."""
    out = []
    x = seed & 0xFFFFFFFFFFFFFFFF
    for _ in range(n):
        x = (x + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
        z = x
        z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
        z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
        z = z ^ (z >> 31)
        out.append((z / 2**63) - 1.0)
    return out


def hyperplanes(dim: int, bits: int, tables: int, seed: int = 42) -> list[list[list[float]]]:
    """tables × bits hyperplane directions, each a dim-vector."""
    return [
        [_splitmix64(seed + t * 1000 + b, dim) for b in range(bits)]
        for t in range(tables)
    ]


def signature_col(vec_col, planes: list[list[float]]):
    """Bit signature of one table: sign(v·h) per hyperplane, packed long.
    Pure-expression form — fine for a handful of planes; use
    ``with_signatures`` (one BLAS matmul) when tables×bits is large."""
    sig = F.lit(0).cast("long")
    v = as_double(vec_col)
    for i, h in enumerate(planes):
        # F.lit(list): ONE py4j round-trip per plane literal — the
        # element-wise F.array(*[F.lit(x) ...]) form cost dim calls per
        # plane, which dominated wall-clock as driver-side plan
        # construction (measured seconds per query at 16 tables).
        d = F.aggregate(
            F.zip_with(v, F.lit([float(x) for x in h]), lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        sig = sig + F.when(d >= 0, F.lit(1 << i)).otherwise(F.lit(0)).cast("long")
    return sig


def pack_signatures(V, planes):
    """(n, dim) float64 matrix → (n, tables) packed-long signatures via one
    BLAS matmul: V @ H.T → signs → per-table bit-pack.  The ONE signature
    implementation — executor batches (with_signatures) and the driver-side
    query row (cosine_topk_lsh) both call it, so corpus and query
    signatures can never drift."""
    import numpy as np

    tables = len(planes)
    bits = len(planes[0])
    H = np.array([h for table in planes for h in table], dtype=np.float64)
    weights = np.array([1 << b for b in range(bits)], dtype=np.int64)
    signs = (V @ H.T) >= 0  # (n, tables*bits)
    return np.stack(
        [
            (signs[:, t * bits : (t + 1) * bits] * weights).sum(axis=1)
            for t in range(tables)
        ],
        axis=1,
    )


def with_signatures(df: DataFrame, planes, id_col: str, vec_col: str) -> DataFrame:
    """Append sig0..sig{T-1} packed-long columns via ONE numpy matmul per
    Arrow batch (pack_signatures).  tables×bits hyperplane dots per row
    collapse to a BLAS call instead of tables×bits interpreted
    expression folds."""
    import numpy as np

    tables = len(planes)
    out_schema = (
        f"{id_col} long, {vec_col} array<double>, "
        + ", ".join(f"sig{t} long" for t in range(tables))
    )

    def compute(batches):
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            V = np.array(list(pdf[vec_col]), dtype=np.float64)
            sigs = pack_signatures(V, planes)
            cols = {id_col: pdf[id_col], vec_col: pdf[vec_col]}
            for t in range(tables):
                cols[f"sig{t}"] = sigs[:, t]
            yield pd.DataFrame(cols)

    from timesearch_spark.tables import spread

    return spread(df).select(
        F.col(id_col), as_double(vec_col).alias(vec_col)
    ).mapInPandas(compute, out_schema)


def cosine_topk(
    emb: DataFrame,
    query: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact brute-force top-k by cosine against a 1-row ``query`` DataFrame
    (column ``q``).  Ties broken by id for determinism."""
    joined = emb.join(F.broadcast(query))
    scored = joined.select(
        F.col(id_col),
        cosine(vec_col, "q").alias("cos"),
    )
    return scored.orderBy(F.col("cos").desc(), F.col(id_col).asc()).limit(k)


def _round6(x: float) -> float:
    """ROUND(x, 6) with Spark's semantics: HALF_UP over the SHORTEST
    decimal repr of the double (java BigDecimal.valueOf) — Python's
    round() is round-half-even and diverges on .5-boundary values."""
    import decimal

    return float(
        decimal.Decimal(repr(x)).quantize(
            decimal.Decimal("0.000001"), rounding=decimal.ROUND_HALF_UP
        )
    )


def _fold_dot(V, q):
    """Row-wise Σⱼ V[:,j]·q[j] accumulated IN DIMENSION ORDER — the exact
    float64 operation sequence of functions.vectors.dot's left fold (and
    therefore of DuckDB's list_* on DOUBLE[]), vectorized across rows.
    np.dot would be faster but reassociates the sum (SIMD/pairwise), and
    last-ulp drift is exactly what breaks cross-engine top-k selection."""
    import numpy as np

    acc = np.zeros(V.shape[0], dtype=np.float64)
    for j in range(V.shape[1]):
        acc = acc + V[:, j] * q[j]
    return acc


def query_matrix_state(qrows):
    """Collected query rows → the driver-side broadcast scoring state
    ``(Qm, qids, qnorm)`` every batched scorer shares (cosine_topk_batch,
    embed.semantic_decontaminate).  qnorm uses the same fold-order
    ``_fold_dot`` as the per-batch scoring, so the whole cosine stays
    bit-identical across call sites and to the oracle arithmetic."""
    import numpy as np

    Qm = np.array([list(r[1]) for r in qrows], dtype=np.float64)
    qids = [r[0] for r in qrows]
    qnorm = np.sqrt(
        np.stack([_fold_dot(Qm[m:m + 1], Qm[m]) for m in range(len(qids))])
        .ravel()
    )
    return Qm, qids, qnorm


def batch_cosines(V, vnorm, Qm, qnorm, m):
    """Fold-order cosine of every row of ``V`` against query ``m`` —
    NaN where either norm is zero (zero vectors never match).  The ONE
    implementation all batched scorers call, so NaN/zero-denominator
    conventions can't drift between them."""
    import numpy as np

    denom = vnorm * qnorm[m]
    with np.errstate(divide="ignore", invalid="ignore"):
        return np.where(denom != 0.0, _fold_dot(V, Qm[m]) / denom, np.nan)


def cosine_topk_batch(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "qid",
    qvec_col: str = "q",
) -> DataFrame:
    """Exact top-k neighbors for a BATCH of query vectors in one corpus
    pass — the retrieve-neighbors-for-every-probe shape a training
    pipeline runs (hard-negative mining, kNN labeling, retrieval eval).

    The query set is broadcast state (M×dim doubles collected once, like
    the IVF codebook); each Arrow batch scores all M queries with
    fold-order float64 math (_fold_dot — bit-identical to the JVM
    expression AND the DuckDB oracle, so selection can't drift) and keeps
    only its local top-k per query.  Survivors are ≤ batches·M·k narrow
    rows; one window over qid picks the exact global top-k.  Corpus scan
    cost is paid ONCE for all M queries (vs M broadcast-join jobs), and
    the shuffle is survivors-only — the same per-partition-top-k-then-
    k-row-reduce shape cosine_topk gets from TakeOrdered, generalized per
    query.  Output: (qid, vec_id, cos, rn), rn = 1..k by (cos desc, id).
    """
    import numpy as np

    from pyspark.sql import Window

    qrows = [
        (r["qid"], r["q"])
        for r in queries.select(
            F.col(qid_col).alias("qid"), as_double(qvec_col).alias("q")
        ).collect()
    ]
    if not qrows:
        return emb.sparkSession.createDataFrame(
            [], "qid long, vec_id long, cos double, rn int"
        )
    Qm, qids, qnorm = query_matrix_state(qrows)

    out_schema = "qid long, vec_id long, cos double"

    def score(batches):
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            V = np.array(list(pdf[vec_col]), dtype=np.float64)
            ids = pdf[id_col].to_numpy()
            vnorm = np.sqrt(_fold_dot(V * V, np.ones(V.shape[1])))
            o_qid, o_id, o_cos = [], [], []
            for m, qid in enumerate(qids):
                cos = batch_cosines(V, vnorm, Qm, qnorm, m)
                ok = np.isfinite(cos)
                idx = np.flatnonzero(ok)
                # local top-k with the FINAL ordering (cos desc, id asc):
                # lexsort is stable, last key is primary
                top = idx[np.lexsort((ids[idx], -cos[idx]))][:k]
                o_qid.extend([qid] * len(top))
                o_id.extend(ids[top])
                o_cos.extend(cos[top])
            yield pd.DataFrame({"qid": o_qid, "vec_id": o_id, "cos": o_cos})

    from timesearch_spark.tables import spread

    local = (
        spread(emb)
        .select(F.col(id_col), as_double(vec_col).alias(vec_col))
        .mapInPandas(score, out_schema)
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        local.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
    )


def cosine_topk_lsh(
    emb: DataFrame,
    query: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    bits: int = 6,
    tables: int = 16,
    seed: int = 42,
    probe_hamming: int = 1,
) -> DataFrame:
    """ANN top-k: candidates = vectors sharing the query's signature in any
    of ``tables`` hyperplane tables; exact-cosine verify + top-k on the
    (much smaller) candidate set.

    Recall/cost knobs:
    - per-table collision prob for exact bucket match is (1-θ/π)^bits;
      overall 1-(1-p_table)^tables — fewer bits / more tables = higher
      recall and bigger candidate sets;
    - ``probe_hamming`` = multiprobe radius (Lv et al. 2007's idea in
      filter form): accepting buckets within Hamming 1 of the query's
      adds bits·c^(bits-1)·(1-c) to p_table, pushing 6x16 past 0.99
      recall at θ≈60° while verification keeps precision exact.  At
      scale, radius r means probing Σ C(bits,i) physical buckets per
      table instead of 1.

    The query row is BROADCAST STATE, not data: its signatures are
    computed driver-side (one numpy call through the same
    pack_signatures the corpus batches use) and folded into the plan as
    literals, so the whole query is ONE linear job — scan → signature
    mapInPandas → literal-signature filter → literal-vector cosine →
    TakeOrdered.  The r4 form computed query signatures as a second
    Spark job feeding a broadcast exchange; that nested job was pure
    overhead for one row and the only run-to-run-variant stage in the
    bench."""
    import numpy as np

    planes = hyperplanes(dim, bits, tables, seed)

    qrow = query.select(as_double("q").alias("q")).first()
    if qrow is None:  # empty query: empty result, stable schema
        return emb.select(
            F.col(id_col), F.lit(0.0).alias("cos")
        ).limit(0)
    qvec = [float(x) for x in qrow["q"]]
    qsig = pack_signatures(np.array([qvec], dtype=np.float64), planes)[0]

    sigs = with_signatures(emb, planes, id_col, vec_col)
    match = F.lit(False)
    for t in range(tables):
        match = match | (
            F.bit_count(F.col(f"sig{t}").bitwiseXOR(F.lit(int(qsig[t]))))
            <= probe_hamming
        )
    cand = sigs.filter(match)

    scored = cand.select(
        F.col(id_col), cosine(vec_col, F.lit(qvec)).alias("cos")
    )
    return scored.orderBy(F.col("cos").desc(), F.col(id_col).asc()).limit(k)


def centroid_seeds(
    emb: DataFrame, n_cells: int, id_col: str = "vec_id", vec_col: str = "embedding"
) -> list[tuple[int, list[float]]]:
    """Deterministic coarse-quantizer seeds: the ``n_cells`` lowest-id
    vectors.  A tiny driver-side collect (n_cells × dim doubles — the IVF
    codebook is broadcast state by design, like a dimension table).  In
    production the seeds would come from k-means (pyspark.ml) or k-means++
    sampling; determinism here keeps the operator oracle-checkable."""
    rows = (
        emb.select(F.col(id_col), as_double(vec_col).alias("v"))
        .orderBy(id_col)
        .limit(n_cells)
        .collect()
    )
    return [(r[0], list(r["v"])) for r in rows]


def train_codebook(
    emb: DataFrame,
    n_cells: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 20,
) -> list[tuple[int, list[float]]]:
    """Production IVF codebook: k-means|| (pyspark.ml.clustering.KMeans)
    over the embedding column, returned in the same
    ``[(cell_id, centroid), ...]`` shape ``centroid_seeds`` uses, so
    ``assign_cells`` / ``cosine_topk_ivf[_batch]`` take either
    interchangeably (pass ``centroids=train_codebook(...)`` via the
    pre-assigned-cell path or call assign_cells yourself).

    Deterministic for a fixed (data, seed).  The fit is one ML job over
    the corpus — run it once at index-build time and persist the
    codebook; queries only ever see the literal centroid list.  The
    toy ``centroid_seeds`` (lowest-id vectors) stays the oracle-checkable
    default; this is the quality upgrade when cell balance matters."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array

    feats = emb.select(
        array_to_vector(as_double(vec_col)).alias("features")
    )
    model = KMeans(k=n_cells, seed=seed, maxIter=max_iter).fit(feats)
    return [
        (cid, [float(x) for x in center])
        for cid, center in enumerate(model.clusterCenters())
    ]


def _centroid_scores(vec_col, centroids: list[tuple[int, list[float]]]):
    """array<struct<cos,negcid>> of ROUND(cos(v, centroid), 6) against
    every centroid, built as ONE transform lambda over a literal
    codebook array — the per-centroid expression form cost O(n_cells)
    py4j fold constructions (driver-side seconds); the math per element
    is the identical sequential fold, so values are unchanged."""
    cents = F.array(*[
        F.struct(
            F.lit(int(cid)).alias("cid"),
            F.lit([float(x) for x in cv]).alias("v"),
        )
        for cid, cv in centroids
    ])
    return F.transform(
        cents,
        lambda c: F.struct(
            F.round(cosine(vec_col, c["v"]), 6).alias("cos"),
            (-c["cid"]).alias("negcid"),
        ),
    )


def assign_cells(
    emb: DataFrame,
    centroids: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
) -> DataFrame:
    """Append ``cell`` = id of the nearest centroid (max rounded cosine,
    ties → lowest centroid id).  Pure per-row expression — NO shuffle: the
    codebook is folded into the plan as literals, so assignment rides the
    scan stage and survives any scale-up (the 100 TB path swaps the
    expression for one mapInPandas BLAS matmul against the broadcast
    codebook, as ``with_signatures`` does for LSH)."""
    best = F.array_max(_centroid_scores(vec_col, centroids))
    return emb.withColumn("cell", -best["negcid"])


def _cell_join_barrier(df: DataFrame) -> DataFrame:
    """No-op rewrite of the ``cell`` column that stops the optimizer
    deriving constraints through it: ``floor(rand(0) * 0)`` is always
    exactly 0 (value-deterministic), but a nondeterministic
    sub-expression makes Catalyst treat the column as underived.

    Why this exists: Spark 4.1's constraint propagation mis-binds the
    higher-order-function expression behind an in-query cell assignment
    (transform/aggregate argmax over the vector column) when it infers
    join-key filters across the cells⋈probed-cells equi-join — tasks
    die with INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND ("Could not find
    embedding#N in [q#.., qc#..]").  The failure is order-dependent
    (only after certain earlier queries ran in the session), so it
    escapes single-query tests; ``spark.sql.constraintPropagation.
    enabled=false`` also fixes it but would de-optimize the whole
    session.  The pre-assigned-cell path (read from storage) has no
    expression lineage and never needs this."""
    return df.withColumn(
        "cell", (F.col("cell") + F.floor(F.rand(0) * 0)).cast("int")
    )


def cosine_topk_ivf(
    emb: DataFrame,
    query: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    n_probe: int = 4,
    centroids: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """ANN top-k via an IVF (inverted-file) coarse quantizer: vectors are
    partitioned into ``n_cells`` Voronoi cells around centroid seeds; a
    query scans only the ``n_probe`` cells whose centroids are nearest to
    it, then exact-cosine ranks the candidates.

    ``centroids`` is the codebook (``train_codebook`` output or any
    ``[(cell_id, vector), ...]``); default = the deterministic
    ``centroid_seeds``.  A pre-assigned ``cell`` column MUST have been
    assigned from the same codebook — cell ids are meaningless across
    codebooks, so pass ``centroids`` whenever the table was bucketed
    with a trained one.

    Scale shape: the cell table is written partitioned by ``cell``, so a
    probe is partition pruning — a query touches n_probe/n_cells of the
    data (here 1/4; production 64-probe/65536-cell ≈ 1/1000).  The
    candidate scan is embarrassingly parallel and the only cross-partition
    traffic is TakeOrderedAndProject's k rows per partition."""
    if centroids is None:
        centroids = centroid_seeds(emb, n_cells, id_col, vec_col)
    # a pre-assigned cell column (the production case: the table is
    # written cell-partitioned at ingest, so the probe filter is pure
    # partition pruning) wins over re-deriving the assignment per query
    cells = (
        emb
        if "cell" in emb.columns
        else _cell_join_barrier(assign_cells(emb, centroids, vec_col))
    )

    qcells = (
        query.select(
            F.explode(
                F.slice(
                    F.sort_array(_centroid_scores("q", centroids), asc=False),
                    1,
                    n_probe,
                )
            ).alias("qc"),
            F.col("q"),
        )
        .select((-F.col("qc.negcid")).alias("cell"), "q")
    )

    cand = cells.join(F.broadcast(qcells), on="cell")
    scored = cand.select(F.col(id_col), cosine(vec_col, "q").alias("cos"))
    return scored.orderBy(F.col("cos").desc(), F.col(id_col).asc()).limit(k)


def cosine_topk_ivf_batch(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "qid",
    qvec_col: str = "q",
    n_cells: int = 16,
    n_probe: int = 4,
    centroids: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """Batched IVF ANN: ONE cell-pruned corpus pass answers M queries.

    Combines the two scale tricks of this module: the IVF coarse
    quantizer prunes the scan to the union of every query's ``n_probe``
    nearest cells (partition pruning when the corpus is written
    partitioned by ``cell``), and the batch scorer answers all M queries
    from that single pass — each Arrow batch scores a row only against
    the queries actually probing its cell (per-query boolean mask over
    the batch), keeps local top-k per query, and one survivors-only
    window ranks globally.  Per-query work tracks n_probe/n_cells of the
    corpus exactly as the single-query form; the pass over it is shared.

    Probe selection happens driver-side against the codebook (broadcast
    state, like the query set) — no per-query Spark jobs.  With
    ``n_probe = n_cells`` results equal ``cosine_topk_batch`` exactly
    (pytest-pinned); smaller probes trade recall for scan fraction.
    Output: (qid, vec_id, cos, rn)."""
    import numpy as np

    from pyspark.sql import Window

    if centroids is None:
        centroids = centroid_seeds(emb, n_cells, id_col, vec_col)
    # honor a pre-assigned cell column (see cosine_topk_ivf): at scale
    # the probe filter is then partition pruning on the stored layout;
    # it must have been assigned from the SAME codebook (pass centroids
    # for a trained one — ids don't transfer across codebooks)
    cells = (
        emb
        if "cell" in emb.columns
        else _cell_join_barrier(assign_cells(emb, centroids, vec_col))
    )

    qrows = queries.select(
        F.col(qid_col).alias("qid"), as_double(qvec_col).alias("q")
    ).collect()
    if not qrows:
        return emb.sparkSession.createDataFrame(
            [], "qid long, vec_id long, cos double, rn int"
        )
    qids = [r["qid"] for r in qrows]
    Qm = np.array([list(r["q"]) for r in qrows], dtype=np.float64)
    qnorm = np.sqrt(
        np.stack([_fold_dot(Qm[m : m + 1], Qm[m]) for m in range(len(qids))]).ravel()
    )
    # per-query probe cells (rounded cosine desc, centroid id asc — the
    # same ordering assign_cells' struct-max uses)
    probe: list[np.ndarray] = []
    for m in range(len(qids)):
        scored = []
        for cid, cv in centroids:
            c = np.array(cv, dtype=np.float64)
            cn = np.sqrt(_fold_dot(c[None, :], c)[0])
            d = qnorm[m] * cn
            cos = float(_fold_dot(Qm[m : m + 1], c)[0] / d) if d != 0.0 else -2.0
            # _round6, NOT Python round(): assign_cells ranks with Spark
            # F.round (BigDecimal HALF_UP over the shortest double repr);
            # banker's rounding here could probe a different cell set
            # than the stored assignment on a .5-boundary cosine
            scored.append((-_round6(cos), cid))
        scored.sort()
        probe.append(np.array([cid for _, cid in scored[:n_probe]]))
    probed_union = sorted({int(c) for p in probe for c in p})

    pruned = cells.filter(F.col("cell").isin(probed_union)).select(
        F.col(id_col), as_double(vec_col).alias(vec_col), "cell"
    )
    out_schema = "qid long, vec_id long, cos double"

    def score(batches):
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            V = np.array(list(pdf[vec_col]), dtype=np.float64)
            ids = pdf[id_col].to_numpy()
            cell = pdf["cell"].to_numpy()
            vnorm = np.sqrt(_fold_dot(V * V, np.ones(V.shape[1])))
            o_qid, o_id, o_cos = [], [], []
            for m, qid in enumerate(qids):
                mask = np.isin(cell, probe[m])
                if not mask.any():
                    continue
                Vm, im, nm = V[mask], ids[mask], vnorm[mask]
                denom = nm * qnorm[m]
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos = np.where(denom != 0.0, _fold_dot(Vm, Qm[m]) / denom, np.nan)
                ok = np.flatnonzero(np.isfinite(cos))
                top = ok[np.lexsort((im[ok], -cos[ok]))][:k]
                o_qid.extend([qid] * len(top))
                o_id.extend(im[top])
                o_cos.extend(cos[top])
            yield pd.DataFrame({"qid": o_qid, "vec_id": o_id, "cos": o_cos})

    from timesearch_spark.tables import spread

    local = spread(pruned).mapInPandas(score, out_schema)
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("vec_id"))
    return local.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)


def embedding_near_dups(
    emb: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact all-pairs near-duplicates: (a, b, cos) with cos ≥ threshold,
    a < b.  Quadratic — the correctness baseline; use the LSH variant at
    scale.  The stream side is spread so the nested-loop probes run with
    full parallelism even off a single-row-group scan."""
    from timesearch_spark.tables import spread

    a = spread(emb).select(F.col(id_col).alias("a"), F.col(vec_col).alias("va"))
    b = emb.select(F.col(id_col).alias("b"), F.col(vec_col).alias("vb"))
    pairs = a.join(b, F.col("a") < F.col("b"))
    return (
        pairs.select("a", "b", cosine("va", "vb").alias("cos"))
        .filter(F.col("cos") >= threshold)
    )


def embedding_near_dups_blas(
    emb: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_broadcast_rows: int = 200_000,
) -> DataFrame:
    """All-pairs cosine near-dups via broadcast matrix + numpy matmul.

    Block-nested-loop join: the full (normalized) matrix is broadcast to
    every executor, and each partition's rows score against it with one
    BLAS matmul inside mapInPandas — a few hundred FLOPs/pair instead of
    an interpreted fold.  O(n²) work but embarrassingly parallel and
    ~100× the per-pair throughput of expression evaluation.

    The broadcast side must fit in executor memory.  The guard collects
    at most ``max_broadcast_rows + 1`` rows (one evaluation, bounded —
    the driver can never OOM on the check itself); past the limit it
    DELEGATES to ``embedding_near_dups_lsh`` — the sparse scale path —
    instead of raising, so a pipeline written against this function
    degrades to approximate-recall/exact-precision rather than dying.
    Under the limit, results match the exact baseline up to float64
    matmul associativity (~1e-15).
    """
    import numpy as np

    spark = emb.sparkSession
    narrow = emb.select(_col_pair(id_col), _col_pair(vec_col))
    # Footer pre-check (no job): when the plan is row-PRESERVING the
    # parquet footers give the EXACT row count, so a provably-too-big
    # input skips the bounded Arrow probe entirely — at the default
    # gate that probe is ~200k × dim float64s of driver traffic spent
    # only to learn "too big".  row_count_exact (not the _bound
    # ceiling): the big branch changes semantics (approximate LSH), so
    # an over-estimate must never route a small-after-filter input
    # there.  dim comes from a 1-row peek instead of the 100 MB probe.
    from timesearch_spark.tables import row_count_exact

    exact = row_count_exact(narrow)
    if exact is not None and exact > max_broadcast_rows:
        peek = narrow.select(F.size(F.col(vec_col)).alias("d")).first()
        return embedding_near_dups_lsh(
            emb,
            threshold=threshold,
            id_col=id_col,
            vec_col=vec_col,
            dim=int(peek["d"]),
        )
    # limit(max+1).toPandas(): a bounded Arrow transfer that doubles as
    # the size probe AND the broadcast payload — never materializes more
    # than max_broadcast_rows+1 rows on the driver (unlike a
    # collect-then-len check, which OOMs before the guard can fire),
    # costs no separate count() job, and moves the vectors as Arrow
    # columnar batches instead of py4j row deserialization (r3's probe
    # paid ~2s at sf0.1 on the row path).
    pdf = narrow.limit(max_broadcast_rows + 1).toPandas()
    if len(pdf) > max_broadcast_rows:
        return embedding_near_dups_lsh(
            emb,
            threshold=threshold,
            id_col=id_col,
            vec_col=vec_col,
            dim=len(pdf[vec_col].iloc[0]),
        )
    ids = pdf[id_col].to_numpy(dtype=np.int64)
    mat = np.array(list(pdf[vec_col]), dtype=np.float64)
    norms = np.linalg.norm(mat, axis=1)
    norms[norms == 0] = 1.0
    matn = mat / norms[:, None]
    bc = spark.sparkContext.broadcast((ids, matn))

    def score(batches):
        import pandas as pd

        b_ids, b_mat = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            a_ids = pdf[id_col].to_numpy(dtype=np.int64)
            a = np.array(list(pdf[vec_col]), dtype=np.float64)
            an = np.linalg.norm(a, axis=1)
            an[an == 0] = 1.0
            sims = (a / an[:, None]) @ b_mat.T
            out_a, out_b, out_c = [], [], []
            for i in range(len(a_ids)):
                mask = (sims[i] >= threshold) & (b_ids > a_ids[i])
                js = np.nonzero(mask)[0]
                out_a.extend([a_ids[i]] * len(js))
                out_b.extend(b_ids[js])
                out_c.extend(sims[i][js])
            yield pd.DataFrame({"a": out_a, "b": out_b, "cos": out_c})

    from timesearch_spark.tables import spread

    return spread(emb).select(_col_pair(id_col), _col_pair(vec_col)).mapInPandas(
        score, "a long, b long, cos double"
    )


def _col_pair(name):
    return F.col(name) if isinstance(name, str) else name


def neardup_lsh_params(
    n: int,
    threshold: float,
    occupancy: float = 4.0,
    target_recall: float = 0.9,
    min_bits: int = 12,
) -> tuple[int, int]:
    """(bits, tables) for :func:`embedding_near_dups_lsh` at corpus
    size ``n`` — the hyperplane-LSH density rule: per-bucket occupancy
    n/2^bits must stay CONSTANT or the bucket self-join's candidate
    fanout grows quadratically with corpus (the r14 scaling probe
    measured 84× candidates at 10× rows with fixed 12-bit signatures),
    so bits = log2(n/occupancy); recall is then restored by scaling
    tables — per-table collision for a true pair at cos=threshold is
    p = (1-θ/π)^bits, and tables = ln(1-target_recall)/ln(1-p) keeps
    overall recall ≥ target.  Shared by the operator's ``bits="auto"``
    mode and the scaling probe's candidate counter so both always
    agree."""
    import math

    bits = max(min_bits, math.ceil(math.log2(max(n, 2) / occupancy)))
    p_bit = 1.0 - math.acos(min(max(threshold, -1.0), 1.0)) / math.pi
    p_table = min(max(p_bit ** bits, 1e-12), 1.0 - 1e-12)
    tables = min(64, max(2, math.ceil(
        math.log(1.0 - target_recall) / math.log1p(-p_table))))
    return bits, tables


def expected_lsh_candidates(n: int, bits: int, tables: int) -> float:
    """Analytic candidate-pair volume for the bucket self-join under a
    uniform-occupancy model: 2^bits buckets of m = n/2^bits vectors each
    give m·(m−1)/2 pairs per bucket per table.  Under the density rule
    (occupancy pinned) this still grows ~n^1.22 through the
    recall-pinned table count (SCALING_r14) — which is exactly what the
    ``max_candidates`` gate makes loud."""
    m = n / float(1 << bits)
    return tables * (1 << bits) * m * max(m - 1.0, 0.0) / 2.0


def embedding_near_dups_lsh(
    emb: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    bits: int | str = 12,
    tables: int | None = None,
    seed: int = 42,
    n: int | None = None,
    max_candidates: int | None = 100_000_000,
) -> DataFrame:
    """Near-dup pairs at scale: self-join per (table, signature) bucket —
    only same-bucket pairs are generated (the shuffle is on the signature,
    not the cross product) — then exact-cosine verification.

    High-cosine pairs collide in ≥1 table with probability
    1-(1-(1-θ/π)^bits)^tables; candidates are verified so precision is
    exact, recall is the tunable.  ``tables`` defaults to 6 with integer
    ``bits``.

    ``bits="auto"`` (the scale path) derives (bits, tables) from the
    corpus size via :func:`neardup_lsh_params` so per-bucket density
    stays constant as the corpus grows instead of the fixed-width
    buckets saturating (candidate fanout quadratic in corpus).  An
    explicit ``tables`` alongside ``bits="auto"`` RAISES (r15, ADVICE
    r14: recall at ``threshold`` pins the table count — silently
    ignoring the argument hid that); pass precomputed ``n`` to skip the
    count job (ADVICE r14: without it an expensive input plan is
    evaluated once for the count and again for the join).

    ``max_candidates`` (r15, VERDICT #4): whenever ``n`` is known (auto
    mode counts; fixed mode only if the caller passes ``n``), the
    analytic candidate volume (:func:`expected_lsh_candidates`) is
    checked against this bound BEFORE any job runs — the recall-pinned
    hyperplane-LSH floor grows ~n^1.22 (SCALING_r14: ~280× candidates
    at 100× corpus), and crossing it should be an actionable error, not
    a surprise bill.  ``None`` disables the gate."""
    if bits == "auto":
        if tables is not None:
            raise ValueError(
                "embedding_near_dups_lsh: tables is derived from corpus "
                "size in bits='auto' mode (recall at threshold pins it) "
                "— drop the explicit tables argument or pass integer "
                "bits"
            )
        if n is None:
            n = emb.count()
        bits, tables = neardup_lsh_params(n, threshold)
    elif tables is None:
        tables = 6
    if n is not None and max_candidates is not None:
        est = expected_lsh_candidates(n, bits, tables)
        if est > max_candidates:
            raise ValueError(
                "embedding_near_dups_lsh: estimated candidate pairs "
                f"~{est:.2e} for n={n} (bits={bits}, tables={tables}) "
                f"exceed max_candidates={max_candidates:.0e} — the "
                "recall-pinned LSH candidate floor grows ~n^1.22 "
                "(SCALING_r14); raise threshold, switch to the IVF "
                "family (cosine_topk_ivf / embedding_dedup_clusters), "
                "or raise max_candidates explicitly to accept the cost"
            )
    planes = hyperplanes(dim, bits, tables, seed)
    sigs = with_signatures(emb, planes, id_col, vec_col).select(
        F.col(id_col),
        F.col(vec_col),
        F.explode(
            F.array(*[
                F.struct(F.lit(t).alias("t"), F.col(f"sig{t}").alias("sig"))
                for t in range(tables)
            ])
        ).alias("ts"),
    ).select(id_col, vec_col, F.col("ts.t").alias("t"), F.col("ts.sig").alias("sig"))

    a = sigs.select(F.col("t"), F.col("sig"), F.col(id_col).alias("a"), F.col(vec_col).alias("va"))
    b = sigs.select(F.col("t"), F.col("sig"), F.col(id_col).alias("b"), F.col(vec_col).alias("vb"))
    cand = (
        a.join(b, on=["t", "sig"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", "va", "vb")
        .dropDuplicates(["a", "b"])
    )
    return (
        cand.select("a", "b", cosine("va", "vb").alias("cos"))
        .filter(F.col("cos") >= threshold)
    )


def quantize_embeddings(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, scale, q): symmetric per-vector int8 quantization —
    scale = max|v|/127, q_i = round(v_i/scale) in [-127, 127].

    The storage/bandwidth lever for ANN state at scale: a broadcast
    matrix, an IVF cell file, or an LSH bucket table shrinks 4× (int8
    vs float32, 8× vs float64) for ~1e-2 cosine error at 64 dims —
    decisive when the broadcast side must fit executor memory
    (embedding_near_dups_blas' guard) or the index is replicated per
    executor.  Map-only expressions, no shuffle; reconstruction error
    is bounded by scale/2 per component (pinned in pytest)."""
    v = as_double(vec_col)
    mx = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = F.when(mx > 0, mx / 127.0).otherwise(F.lit(1.0))
    q = F.transform(
        v,
        lambda x: F.greatest(
            F.lit(-127), F.least(F.lit(127), F.round(x / scale).cast("int"))
        ).cast("tinyint"),
    )
    return emb.select(
        _col_pair(id_col), scale.alias("scale"), q.alias("q")
    )


def cosine_topk_quantized(
    emb: DataFrame,
    query: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k by cosine over int8-quantized vectors: scores
    from integer dot products (cosine is scale-invariant, so the
    per-vector scales cancel out of the ranking except through rounding
    noise).  Same TakeOrderedAndProject plan as the exact path; pytest
    bounds the recall loss against exact brute force."""
    qz = quantize_embeddings(emb, id_col, vec_col)
    qq = quantize_embeddings(query.select(F.lit(-1).alias("__qid"), F.col("q")), "__qid", "q").select(
        F.col("q").alias("qq")
    )
    joined = qz.join(F.broadcast(qq))

    def idot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x.cast("long") * y.cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    d = idot(F.col("q"), F.col("qq")).cast("double")
    na = F.sqrt(idot(F.col("q"), F.col("q")).cast("double"))
    nb = F.sqrt(idot(F.col("qq"), F.col("qq")).cast("double"))
    scored = joined.select(
        _col_pair(id_col),
        F.when(na * nb > 0, d / (na * nb)).alias("cos_q8"),
    )
    return scored.orderBy(F.col("cos_q8").desc(), _col_pair(id_col).asc()).limit(k)


def embedding_dedup_clusters(
    emb: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "lsh",
    **kwargs,
) -> DataFrame:
    """(id, cluster_id, is_keeper): embedding-space near-dup clustering —
    cosine near-dup pairs (LSH-bucketed by default; "blas" / "exact" for
    the broadcast and expression baselines) closed into connected
    components (dedup.connected_components hash-min propagation), keeper
    = min id per cluster.  The embedding twin of the text-side
    dedup_cluster_assignments: filtering to is_keeper leaves one
    representative per semantic near-dup cluster, transitively closed."""
    from timesearch_spark.operators.dedup import connected_components

    fn = {
        "lsh": embedding_near_dups_lsh,
        "blas": embedding_near_dups_blas,
        "exact": embedding_near_dups,
    }[method]
    pairs = fn(emb, threshold=threshold, id_col=id_col, vec_col=vec_col, **kwargs)
    pairs = pairs.select("a", "b")
    # label only the edge-touching subgraph (nodes=None — see
    # connected_components): isolated vectors are their own keepers via
    # the left-join coalesce below, without label propagation
    comp = connected_components(None, pairs, id_col=id_col)
    labeled = emb.select(_col_pair(id_col)).join(comp, id_col, "left")
    cluster = F.coalesce(F.col("component"), F.col(id_col))
    return labeled.select(
        id_col,
        cluster.alias("cluster_id"),
        (cluster == F.col(id_col)).alias("is_keeper"),
    )
