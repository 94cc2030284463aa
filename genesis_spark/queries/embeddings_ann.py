"""Registry family: Embeddings & ANN (split from the monolithic queries.py)."""

from __future__ import annotations

from genesis_spark.queries._shared import *  # noqa: F401,F403



# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------

def q_ann_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-5 for 10 query vectors over the
    embeddings table (operators/similarity.cosine_topk) — the exact
    baseline the LSH / IVF / PQ paths are graded against
    (ann_recall_eval)."""
    emb = _t(spark, sf_dir, "embeddings")
    return SIM.cosine_topk(emb, emb.filter(F.col("vec_id") < 10), k=5)


ORACLE_ANN_COSINE = """
WITH scored AS (
  SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
         list_sum(list_transform(range(len(q.embedding)),
             i -> q.embedding[i+1]::DOUBLE * b.embedding[i+1]::DOUBLE))
         / (sqrt(list_sum(list_transform(range(len(q.embedding)),
             i -> q.embedding[i+1]::DOUBLE * q.embedding[i+1]::DOUBLE)))
          * sqrt(list_sum(list_transform(range(len(b.embedding)),
             i -> b.embedding[i+1]::DOUBLE * b.embedding[i+1]::DOUBLE))))
         AS cos
  FROM embeddings q JOIN embeddings b ON b.vec_id != q.vec_id
  WHERE q.vec_id < 10)
SELECT query_id, rnk AS rank, neighbor_id FROM (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id ASC) AS rnk
  FROM scored) WHERE rnk <= 5
"""


def q_ann_lsh_topk(spark, sf_dir):
    """The scale path for similarity search: multi-table hyperplane-LSH
    candidates (bucket equi-joins), exact cosine + top-k only within the
    candidate set. Plane sign vectors are driver-side literals (constants of
    (table, plane, dim) — never recomputed per row). 4 tables x 4 planes is
    the fixture-tuned setting (recall vs brute force measured in
    tests/test_operators.py and BENCH.md)."""
    emb = _t(spark, sf_dir, "embeddings")
    return SIM.lsh_topk(emb, emb.filter(F.col("vec_id") < 10), k=5,
                        n_planes=_LSH_PLANES, n_tables=_LSH_TABLES,
                        dim=_LSH_DIM)


ORACLE_ANN_LSH = _lsh_oracle()


def q_ann_ivf_topk(spark, sf_dir):
    """The coarse-quantizer ANN scale path (FAISS IVF-flat shape): assign
    every base vector to its nearest centroid cell once, probe the
    query's n_probe nearest cells, exact-rescore candidates only. ONE
    equi-join on cell id — at 10^9 rows the base is bucketed by cell at
    rest and a query touches n_probe/n_centroids of the data. Centroids
    here are the deterministic seeded stand-in so DuckDB can bake the
    same literals; production trains them (KMeans) and passes them in."""
    emb = _t(spark, sf_dir, "embeddings")
    return SIM.ivf_topk(emb, emb.filter(F.col("vec_id") < 10), k=5,
                        n_centroids=_IVF_CENTROIDS, n_probe=_IVF_PROBE,
                        dim=_IVF_DIM)


ORACLE_ANN_IVF = _ivf_oracle()


def q_embeddings_quantize(spark, sf_dir):
    """Int8 scalar quantization of the embedding column (the SQ8 storage
    path of large ANN indexes): per-dim (min, max) from one
    posexplode+groupBy pass (partial-agg shuffle of dim x partitions
    rows), folded back as array literals so the quantize pass is a pure
    zero-shuffle map. floor-based code assignment is bit-identical across
    engines; emits exact integer per-vector summaries
    (operators.similarity.quantize_int8)."""
    return SIM.quantize_int8(_t(spark, sf_dir, "embeddings"))


ORACLE_EMBEDDINGS_QUANTIZE = """
WITH st AS (
  SELECT pos, min(CAST(x AS DOUBLE)) AS mn, max(CAST(x AS DOUBLE)) AS mx
  FROM (SELECT unnest(embedding) AS x,
               generate_subscripts(embedding, 1) AS pos
        FROM embeddings)
  GROUP BY pos
), mm AS (
  SELECT list(mn ORDER BY pos) AS m, list(mx - mn ORDER BY pos) AS s
  FROM st
), q AS (
  SELECT vec_id, list_transform(
    range(1, len(embedding) + 1),
    i -> CASE WHEN mm.s[i] > 0
         THEN CAST(floor((CAST(embedding[i] AS DOUBLE) - mm.m[i])
                         * 255.0 / mm.s[i]) AS INT) - 128
         ELSE -128 END) AS codes
  FROM embeddings, mm
)
SELECT vec_id, CAST(len(codes) AS INT) AS n_dims,
       CAST(list_sum(codes) AS BIGINT) AS code_sum,
       CAST(list_min(codes) AS INT) AS code_min,
       CAST(list_max(codes) AS INT) AS code_max
FROM q
"""


def q_embeddings_pq(spark, sf_dir):
    """Product quantization (FAISS PQ): each 64-dim float32 vector becomes
    8 subspace codes against seeded 16-centroid codebooks, packed into one
    bigint — the 16x-compressed at-rest form a 10^10-vector index scans
    instead of raw floats. Pure zero-shuffle map (codebooks are driver
    literals); ``pq_adc_topk`` is the matching asymmetric-distance search
    path (operators.similarity). Codebooks here are the deterministic
    seeded stand-in so DuckDB bakes identical literals; production trains
    per-subspace KMeans and passes them in."""
    return SIM.pq_encode(_t(spark, sf_dir, "embeddings"),
                         m=_PQ_M, k=_PQ_K, dim=_PQ_DIM) \
        .select("vec_id", "pq_code")


ORACLE_EMBEDDINGS_PQ = _pq_oracle()


def q_ann_pq_topk(spark, sf_dir):
    """PQ asymmetric-distance top-k (FAISS IVFADC inner loop): base
    vectors live only as their 8 packed 4-bit codes; each query builds an
    8x16 LUT of exact subvector-to-centroid distances and candidates are
    scored by m table lookups — the raw floats of the base side are never
    touched after encoding. Broadcast query side, window top-5
    (operators.similarity.pq_adc_topk; codes verified independently by
    the embeddings_pq row and a pure-Python oracle in tests)."""
    emb = _t(spark, sf_dir, "embeddings")
    return SIM.pq_adc_topk(emb, emb.filter(F.col("vec_id") < 5), k_top=5,
                           m=_PQ_M, k=_PQ_K, dim=_PQ_DIM)


ORACLE_ANN_PQ = _pq_adc_oracle()


# ---------------------------------------------------------------------------
# block 9: IVF+PQ ANN, politeness schedule, URL-level doc dedup,
# n-gram-profile language ID, shingle containment, host components,
# uniform video frame sampling
# ---------------------------------------------------------------------------

def q_ann_ivfpq_topk(spark, sf_dir):
    """IVF+PQ composed (FAISS IVFADC, the real 10^10-vector index): base
    vectors stored only as (coarse cell, m PQ codes); queries probe
    n_probe coarse cells and score candidates by ADC lookups. Candidate
    generation = ONE equi-join on cell id; base floats never touched
    after encoding. Composition of the oracle-verified ivf_topk and
    pq_adc_topk halves; the oracle composes the same two CTE chains."""
    emb = _t(spark, sf_dir, "embeddings")
    return SIM.ivfpq_topk(emb, emb.filter(F.col("vec_id") < 5), k_top=5,
                          n_centroids=_IVF_CENTROIDS, n_probe=_IVF_PROBE,
                          m=_PQ_M, k=_PQ_K, dim=_PQ_DIM)


ORACLE_ANN_IVFPQ = _ivfpq_oracle()


def q_embeddings_kmeans_step(spark, sf_dir):
    """ONE distributed Lloyd iteration — the KMeans TRAINING step that
    produces the real centroids ivf_topk/dedup_semantic consume (their
    seeded stand-ins exist so oracles can bake literals; this row proves
    the training pass itself): assign every vector to its nearest current
    centroid (pure-codegen literal arithmetic), then recompute each
    centroid component as the member mean via posexplode + ONE
    map-side-combinable groupBy (cell, pos) — the exchange carries
    O(cells x dim x partitions) partials, never vectors. Means rounded to
    4dp (module convention: summation order must not flip the hash)."""
    emb = _t(spark, sf_dir, "embeddings")
    cents = SIM.seeded_centroids(_IVF_CENTROIDS, _IVF_DIM)
    assigned = emb.select(
        SIM.assign_cell_expr(
            F.transform("embedding", lambda x: x.cast("double")),
            cents).alias("cell"),
        F.posexplode("embedding").alias("pos", "x"))
    return (assigned.groupBy("cell", "pos")
            .agg(F.round(F.avg(F.col("x").cast("double")), 4)
                 .alias("centroid_val"),
                 F.count("*").alias("n_members")))


ORACLE_EMBEDDINGS_KMEANS = _kmeans_oracle()


def q_embeddings_rp(spark, sf_dir):
    """Johnson-Lindenstrauss random projection 64d -> 16d (the cheap
    dim-reduction pass upstream of IVF/KMeans training at 10^10
    vectors): deterministic +-1 matrix folded into the plan as array
    literals, zero-shuffle codegen arithmetic, floor-quantized int
    codes so the hash check is cross-engine exact
    (operators/similarity.py:random_projection)."""
    emb = _t(spark, sf_dir, "embeddings")
    out = SIM.random_projection(emb, out_dim=_RP_OUT_DIM, dim=_PQ_DIM,
                                sign_table=_RP_SIGN_TABLE)
    return out.select(
        "vec_id", F.array_join("rp_codes", ",").alias("codes_csv"))


ORACLE_EMBEDDINGS_RP = _rp_oracle()


def q_ann_recall_eval(spark, sf_dir):
    """Recall@5 of the two production ANN paths (hyperplane-LSH and
    IVF-flat) against the brute-force cosine truth — the ANN twin of
    dedup_minhash_eval: the approximation quality the 100 TB similarity
    path relies on, MEASURED inside the engine and value-hashed, not
    asserted in a notebook. Zero-hit queries still emit a row (left join
    from the truth's query set) so recall collapse is visible, never
    silently absent.

    Plan/scale: truth is brute-force only over the 10 probe queries
    (bounded), the two approximations are the same bucket-join plans
    their own rows carry; the grading join is (query_id, neighbor_id)
    equi — tiny. The expensive parts reuse the exact operator code paths
    (SIM.cosine_topk / lsh_topk / ivf_topk), so this row also pins their
    interfaces."""
    emb = _t(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 10)
    truth = (SIM.cosine_topk(emb, qs, k=5)
             .select("query_id", "neighbor_id"))
    qids = truth.select("query_id").distinct()

    def graded(approx, method):
        hits = (approx.select("query_id", "neighbor_id")
                .join(truth, ["query_id", "neighbor_id"])
                .groupBy("query_id").agg(F.count("*").alias("n")))
        return (qids.join(hits, "query_id", "left")
                .select(F.lit(method).alias("method"), "query_id",
                        F.coalesce("n", F.lit(0)).alias("n_hits"))
                .withColumn("recall",
                            F.round(F.col("n_hits") / 5.0, 4)))

    lsh = SIM.lsh_topk(emb, qs, k=5, n_planes=_LSH_PLANES,
                       n_tables=_LSH_TABLES, dim=_LSH_DIM)
    ivf = SIM.ivf_topk(emb, qs, k=5, n_centroids=_IVF_CENTROIDS,
                       n_probe=_IVF_PROBE, dim=_IVF_DIM)
    return graded(lsh, "lsh").unionByName(graded(ivf, "ivf"))


ORACLE_ANN_RECALL_EVAL = f"""
WITH truth AS (
  SELECT query_id, neighbor_id FROM ({ORACLE_ANN_COSINE}) t),
lsh AS (SELECT query_id, neighbor_id FROM ({ORACLE_ANN_LSH}) l),
ivf AS (SELECT query_id, neighbor_id FROM ({ORACLE_ANN_IVF}) v),
qids AS (SELECT DISTINCT query_id FROM truth),
lh AS (SELECT t.query_id, count(*) AS n FROM lsh
       JOIN truth t USING (query_id, neighbor_id) GROUP BY t.query_id),
ih AS (SELECT t.query_id, count(*) AS n FROM ivf
       JOIN truth t USING (query_id, neighbor_id) GROUP BY t.query_id)
SELECT 'lsh' AS method, q.query_id,
       CAST(coalesce(lh.n, 0) AS BIGINT) AS n_hits,
       round(coalesce(lh.n, 0) / 5.0, 4) AS recall
FROM qids q LEFT JOIN lh USING (query_id)
UNION ALL
SELECT 'ivf' AS method, q.query_id,
       CAST(coalesce(ih.n, 0) AS BIGINT) AS n_hits,
       round(coalesce(ih.n, 0) / 5.0, 4) AS recall
FROM qids q LEFT JOIN ih USING (query_id)
"""


def q_embeddings_standardize(spark, sf_dir):
    """Per-dimension standardization (zero mean / unit variance) of the
    embedding table — the classic pre-ANN / pre-quantization whitening
    step.  Elements quantize to 1e-6 integer units so the per-dim
    moments are EXACT integer sums (summation order free); mean/std/z
    then derive from those integers through identical IEEE double
    expressions in both engines.  Constant dimensions emit z = 0.

    Plan/scale: posexplode -> one (dim)-keyed partial agg (64 keys,
    map-side combine does everything) -> broadcast the 64 moment rows
    back.  One bounded shuffle at any corpus size."""
    e = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    ex = e.select("vec_id",
                  F.posexplode("embedding").alias("dim", "x"))
    xu = F.round(F.col("x").cast("double") * 1e6).cast("long")
    ex = ex.select("vec_id", "dim", xu.alias("x_u"))
    # ss accumulates in decimal(38,0): a long sum of x_u^2 (~3e11 each)
    # would wrap at ~27M vectors/dim — decimal stays exact to 1e38,
    # matching DuckDB's BIGINT-sum-into-HUGEINT on the oracle side
    mom = (ex.groupBy("dim")
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum("x_u").alias("s"),
                F.sum((F.col("x_u") * F.col("x_u"))
                      .cast("decimal(38,0)")).alias("ss")))
    mean = F.col("s") / (F.col("n") * 1e6)
    var = F.col("ss").cast("double") / (F.col("n") * 1e12) - mean * mean
    std = F.sqrt(F.greatest(var, F.lit(0.0)))
    mom = mom.select("dim", mean.alias("mu"), std.alias("sd"))
    z = F.when(F.col("sd") > 0,
               F.round((F.col("x_u") / 1e6 - F.col("mu")) / F.col("sd"), 4)
               ).otherwise(F.lit(0.0))
    return (ex.join(F.broadcast(mom), "dim")
            .select("vec_id", "dim", "x_u", z.alias("z")))


ORACLE_EMBEDDINGS_STANDARDIZE = """
WITH ex AS (
  SELECT vec_id, CAST(dim AS INT) AS dim,
         CAST(round(embedding[dim + 1]::DOUBLE * 1000000.0) AS BIGINT)
           AS x_u
  FROM (SELECT vec_id, embedding,
               unnest(range(len(embedding))) AS dim
        FROM embeddings)
),
mom AS (
  -- sum(BIGINT) lands in HUGEINT: exact like Spark's decimal(38,0)
  SELECT dim, count(*) AS n, CAST(sum(x_u) AS BIGINT) AS s,
         sum(x_u * x_u) AS ss
  FROM ex GROUP BY dim
),
ms AS (
  SELECT dim, s / (n * 1e6) AS mu,
         sqrt(greatest(ss / (n * 1e12) - (s / (n * 1e6)) * (s / (n * 1e6)),
                       0.0)) AS sd
  FROM mom
)
SELECT vec_id, dim, x_u,
       CASE WHEN sd > 0 THEN round((x_u / 1e6 - mu) / sd, 4)
            ELSE 0.0 END AS z
FROM ex JOIN ms USING (dim)
"""


def q_embeddings_mmr_rerank(spark, sf_dir):
    """Maximal-marginal-relevance re-ranking (Carbonell & Goldstein,
    SIGIR 1998) — the diversity pass retrieval stacks run AFTER top-k:
    from each query's 10 nearest neighbors, pick 5 greedily by
    MMR = 2*rel(c) - max_{s in selected} sim(c, s) (lambda = 1/2,
    doubled to avoid fractions), so near-duplicate neighbors are demoted
    in favor of coverage. Ties break by neighbor_id ASC; output is
    rank-only (query_id, mmr_rank, neighbor_id) — the float scores order
    but never leave the plan, the ann-family exactness discipline.

    Plan/scale: candidate generation is the brute-force top-10 (swap for
    ann_lsh/ann_ivf buckets at scale — MMR only ever sees k' = 10 rows
    per query); the candidate-pair sim matrix is 10x10 PER QUERY, built
    with one self-join; 4 unrolled greedy rounds, each one bounded
    window + one max-per-key agg over <= 10 rows per query. Nothing in
    the loop scales with corpus size."""
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").alias("e"))
    q = (emb.filter(F.col("vec_id") < 10)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("e").alias("qe")))
    scored = (q.join(emb.select(F.col("vec_id").alias("neighbor_id"),
                                F.col("e").alias("ne")),
                     F.col("neighbor_id") != F.col("query_id"))
              .select("query_id", "neighbor_id", "qe", "ne",
                      _mmr_cos("qe", "ne").alias("rel")))
    wk = Window.partitionBy("query_id").orderBy(
        F.col("rel").desc(), F.col("neighbor_id").asc())
    # no persist: the contract returns an unexecuted DataFrame, so a
    # build-time persist/unpersist pair would either leak cache blocks or
    # never exist during execution (q_host_pagerank's precedent) — the
    # repeated cand/sims subplans dedupe via ReusedExchange instead
    cand = (scored.withColumn("rk", F.row_number().over(wk))
            .filter(F.col("rk") <= 10)
            .select("query_id", "neighbor_id", "ne", "rel"))
    sims = (cand.select("query_id", F.col("neighbor_id").alias("a"),
                        F.col("ne").alias("ae"))
            .join(cand.select(F.col("query_id").alias("query_id"),
                              F.col("neighbor_id").alias("b"),
                              F.col("ne").alias("be")), "query_id")
            .filter(F.col("a") != F.col("b"))
            .select("query_id", "a", "b",
                    _mmr_cos("ae", "be").alias("sim")))
    pool = cand.select("query_id", "neighbor_id", "rel")
    sel = (pool.withColumn("rk", F.row_number().over(wk))
           .filter(F.col("rk") == 1)
           .select("query_id", "neighbor_id",
                   F.lit(1).alias("mmr_rank")))
    for t in range(2, 6):
        remaining = pool.join(sel.select("query_id", "neighbor_id"),
                              ["query_id", "neighbor_id"], "left_anti")
        pen = (sims.join(sel.select("query_id",
                                    F.col("neighbor_id").alias("b")),
                         ["query_id", "b"])
               .groupBy("query_id", F.col("a").alias("neighbor_id"))
               .agg(F.max("sim").alias("pen")))
        scored_t = (remaining.join(pen, ["query_id", "neighbor_id"])
                    .select("query_id", "neighbor_id",
                            (F.lit(2) * F.col("rel") - F.col("pen"))
                            .alias("mmr")))
        wm = Window.partitionBy("query_id").orderBy(
            F.col("mmr").desc(), F.col("neighbor_id").asc())
        pick = (scored_t.withColumn("rk", F.row_number().over(wm))
                .filter(F.col("rk") == 1)
                .select("query_id", "neighbor_id",
                        F.lit(t).alias("mmr_rank")))
        sel = sel.unionByName(pick)
    return sel.select("query_id",
                      F.col("mmr_rank").cast("int").alias("mmr_rank"),
                      "neighbor_id")


ORACLE_EMBEDDINGS_MMR = f"""
WITH scored AS (
  SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id, b.embedding AS ne,
         list_sum(list_transform(range(len(q.embedding)),
             i -> q.embedding[i+1]::DOUBLE * b.embedding[i+1]::DOUBLE))
         / (sqrt(list_sum(list_transform(range(len(q.embedding)),
             i -> q.embedding[i+1]::DOUBLE * q.embedding[i+1]::DOUBLE)))
          * sqrt(list_sum(list_transform(range(len(b.embedding)),
             i -> b.embedding[i+1]::DOUBLE * b.embedding[i+1]::DOUBLE))))
         AS rel
  FROM embeddings q JOIN embeddings b ON b.vec_id != q.vec_id
  WHERE q.vec_id < 10),
cand AS (
  SELECT query_id, neighbor_id, ne, rel FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
               ORDER BY rel DESC, neighbor_id ASC) AS rk
    FROM scored) WHERE rk <= 10),
sims AS (
  SELECT x.query_id, x.neighbor_id AS a, y.neighbor_id AS b,
         list_sum(list_transform(range(len(x.ne)),
             i -> x.ne[i+1]::DOUBLE * y.ne[i+1]::DOUBLE))
         / (sqrt(list_sum(list_transform(range(len(x.ne)),
             i -> x.ne[i+1]::DOUBLE * x.ne[i+1]::DOUBLE)))
          * sqrt(list_sum(list_transform(range(len(y.ne)),
             i -> y.ne[i+1]::DOUBLE * y.ne[i+1]::DOUBLE))))
         AS sim
  FROM cand x JOIN cand y ON y.query_id = x.query_id
   AND y.neighbor_id != x.neighbor_id),
sel1 AS (
  SELECT query_id, neighbor_id, 1 AS mmr_rank FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
             ORDER BY rel DESC, neighbor_id ASC) AS rk
    FROM cand) WHERE rk = 1),
{_mmr_round_sql("sel1", 2)},
{_mmr_round_sql("sel2", 3)},
{_mmr_round_sql("sel3", 4)},
{_mmr_round_sql("sel4", 5)}
SELECT query_id, CAST(mmr_rank AS INT) AS mmr_rank, neighbor_id
FROM sel5
"""


def q_embeddings_norm_audit(spark, sf_dir):
    """Embedding ingest audit — the data-quality gate an embedding
    pipeline runs before vectors enter an index (zeroed vectors poison
    IVF centroids; mis-scaled vectors break cosine assumptions): each
    vector's squared norm in EXACT 1e-12 integer units (elements
    quantized to 1e-6 like embeddings_standardize, so summation order
    is free), classified zero / low / high / ok against fixed
    thresholds. Corruption is injected deterministically: vec_id % 29
    zeroed, % 31 scaled x3 (norm2 x9 — exact integer), % 37 truncated
    to its first 4 dims.

    Plan/scale: per-row array codegen + one 4-row agg; nothing
    shuffles but the class key."""
    e = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    xu = "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1e6)" \
         " AS BIGINT))"
    full = (f"aggregate({xu}, CAST(0 AS BIGINT), "
            "(acc, v) -> acc + v * v)")
    head4 = (f"aggregate(slice({xu}, 1, 4), CAST(0 AS BIGINT), "
             "(acc, v) -> acc + v * v)")
    norm2 = F.when(F.col("vec_id") % 29 == 0, F.lit(0).cast("long")) \
        .when(F.col("vec_id") % 31 == 0, F.expr(f"9 * ({full})")) \
        .when(F.col("vec_id") % 37 == 0, F.expr(head4)) \
        .otherwise(F.expr(full))
    LOW, HIGH = 250_000_000_000, 4_000_000_000_000
    klass = (F.when(F.col("norm2") == 0, F.lit("zero"))
             .when(F.col("norm2") < LOW, F.lit("low"))
             .when(F.col("norm2") > HIGH, F.lit("high"))
             .otherwise(F.lit("ok")))
    audited = e.select("vec_id", norm2.alias("norm2")) \
        .withColumn("audit_class", klass)
    return audited.groupBy("audit_class").agg(
        F.count("*").cast("long").alias("n_vecs"),
        F.min("norm2").cast("long").alias("min_norm2"),
        F.max("norm2").cast("long").alias("max_norm2"))


ORACLE_EMBEDDINGS_NORM_AUDIT = """
WITH base AS (
  SELECT vec_id,
         list_transform(embedding,
             x -> CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT)) AS xu
  FROM embeddings),
norms AS (
  SELECT vec_id,
         CAST(CASE
           WHEN vec_id % 29 = 0 THEN 0
           WHEN vec_id % 31 = 0 THEN
             9 * list_sum(list_transform(xu, v -> v * v))
           WHEN vec_id % 37 = 0 THEN
             coalesce(list_sum(list_transform(xu[1:4], v -> v * v)), 0)
           ELSE list_sum(list_transform(xu, v -> v * v))
         END AS BIGINT) AS norm2
  FROM base),
classed AS (
  SELECT CASE WHEN norm2 = 0 THEN 'zero'
              WHEN norm2 < 250000000000 THEN 'low'
              WHEN norm2 > 4000000000000 THEN 'high'
              ELSE 'ok' END AS audit_class,
         norm2
  FROM norms)
SELECT audit_class,
       CAST(count(*) AS BIGINT) AS n_vecs,
       CAST(min(norm2) AS BIGINT) AS min_norm2,
       CAST(max(norm2) AS BIGINT) AS max_norm2
FROM classed GROUP BY audit_class
"""


def q_embeddings_mrl_eval(spark, sf_dir):
    """Matryoshka truncation eval — modern embedding pipelines store
    MRL-trained vectors and serve a truncated prefix for cheap
    retrieval; before turning that on you measure what truncation costs:
    top-5 cosine neighbors using only the FIRST 16 of 64 dims, graded
    against full-dim top-5 (recall@5 in exact ppm per query + the
    aggregate). The fixture's embeddings are NOT MRL-trained, so recall
    is expectedly mediocre — the row is the measurement harness, and
    the rank-only comparison keeps it engine-exact.

    Plan/scale: two brute-force scorings of the same broadcast query
    set (swap the full-dim side for an ANN path at scale), one
    rank-window each, one join on the pair key, one agg."""
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    q = (emb.filter(F.col("vec_id") < 10)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("qe")))
    b = emb.select(F.col("vec_id").alias("neighbor_id"),
                   F.col("embedding").alias("ne"))
    scored = (q.join(b, F.col("neighbor_id") != F.col("query_id"))
              .withColumn("qe16", F.slice("qe", 1, 16))
              .withColumn("ne16", F.slice("ne", 1, 16))
              .select("query_id", "neighbor_id",
                      _mmr_cos("qe", "ne").alias("cos_full"),
                      _mmr_cos("qe16", "ne16").alias("cos_16")))
    wf = Window.partitionBy("query_id").orderBy(
        F.col("cos_full").desc(), F.col("neighbor_id").asc())
    wt = Window.partitionBy("query_id").orderBy(
        F.col("cos_16").desc(), F.col("neighbor_id").asc())
    full5 = (scored.withColumn("rk", F.row_number().over(wf))
             .filter(F.col("rk") <= 5)
             .select("query_id", "neighbor_id"))
    trunc5 = (scored.withColumn("rk", F.row_number().over(wt))
              .filter(F.col("rk") <= 5)
              .select("query_id", "neighbor_id",
                      F.lit(1).alias("hit_flag")))
    return (full5.join(trunc5, ["query_id", "neighbor_id"], "left")
            .groupBy("query_id")
            .agg(F.sum(F.coalesce("hit_flag", F.lit(0))).cast("long")
                 .alias("n_hits"))
            .select("query_id", "n_hits",
                    F.expr("n_hits * 1000000 DIV 5").cast("long")
                    .alias("recall_ppm")))


ORACLE_EMBEDDINGS_MRL_EVAL = """
WITH scored AS (
  SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
         list_sum(list_transform(range(len(q.embedding)),
             i -> q.embedding[i+1]::DOUBLE * b.embedding[i+1]::DOUBLE))
         / (sqrt(list_sum(list_transform(range(len(q.embedding)),
             i -> q.embedding[i+1]::DOUBLE * q.embedding[i+1]::DOUBLE)))
          * sqrt(list_sum(list_transform(range(len(b.embedding)),
             i -> b.embedding[i+1]::DOUBLE * b.embedding[i+1]::DOUBLE))))
           AS cos_full,
         list_sum(list_transform(range(16),
             i -> q.embedding[i+1]::DOUBLE * b.embedding[i+1]::DOUBLE))
         / (sqrt(list_sum(list_transform(range(16),
             i -> q.embedding[i+1]::DOUBLE * q.embedding[i+1]::DOUBLE)))
          * sqrt(list_sum(list_transform(range(16),
             i -> b.embedding[i+1]::DOUBLE * b.embedding[i+1]::DOUBLE))))
           AS cos_16
  FROM embeddings q JOIN embeddings b ON b.vec_id != q.vec_id
  WHERE q.vec_id < 10),
full5 AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
             ORDER BY cos_full DESC, neighbor_id ASC) AS rk
    FROM scored) WHERE rk <= 5),
trunc5 AS (
  SELECT query_id, neighbor_id, 1 AS hit_flag FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
             ORDER BY cos_16 DESC, neighbor_id ASC) AS rk
    FROM scored) WHERE rk <= 5)
SELECT f.query_id,
       CAST(sum(coalesce(t.hit_flag, 0)) AS BIGINT) AS n_hits,
       CAST(sum(coalesce(t.hit_flag, 0)) * 1000000 // 5 AS BIGINT)
         AS recall_ppm
FROM full5 f LEFT JOIN trunc5 t
  ON t.query_id = f.query_id AND t.neighbor_id = f.neighbor_id
GROUP BY f.query_id
"""


def q_embeddings_pca_power(spark, sf_dir):
    """One matrix-free power-iteration step toward the corpus's top
    principal direction: y = X^T (X v0) with v0 = the all-ones probe —
    the Gram-vector product computed WITHOUT materializing the DxD
    covariance (the only way at 10^10 x 1024-dim scale; Halko et al.
    2011's randomized-SVD building block). Elements quantize to 1e-4
    integer units so every sum is exact (summation order free): the
    per-row projection t = x.v0 folds inside the array (F.aggregate,
    no explode/join), then y_d = sum(x_d * t) is ONE dim-keyed agg.
    Output per dim: exact y in integer units and its share of total
    |y| mass in exact ppm — the energy profile that decides how many
    PCA/MRL dimensions the embedding column actually needs.

    Plan/scale: zero joins; one shuffle of |dims| keys (64 here, 1024
    in prod) with map-side combine doing all the work. Subsequent
    iterations broadcast the 64-row v back — same shape."""
    e = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    xu = F.transform(
        "embedding",
        lambda v: F.round(v.cast("double") * 1e4).cast("long"))
    e2 = e.select(xu.alias("xu"))
    e2 = e2.withColumn(
        "t", F.aggregate("xu", F.lit(0).cast("long"),
                         lambda acc, x: acc + x))
    ex = e2.select(F.posexplode("xu").alias("dim", "x_u"), "t")
    y = (ex.groupBy("dim")
         .agg(F.sum(F.col("x_u") * F.col("t")).cast("long").alias("y_u")))
    tot = y.agg(F.sum(F.abs(F.col("y_u"))).cast("long").alias("ta"))
    return (y.crossJoin(F.broadcast(tot))
            .select("dim", "y_u",
                    F.expr("(abs(y_u) * 1000000) DIV greatest(ta, 1)")
                    .alias("share_ppm")))


ORACLE_EMBEDDINGS_PCA_POWER = """
WITH ex AS (
  SELECT vec_id, CAST(dim AS INT) AS dim,
         CAST(round(embedding[dim + 1]::DOUBLE * 10000.0) AS BIGINT)
           AS x_u
  FROM (SELECT vec_id, embedding,
               unnest(range(len(embedding))) AS dim
        FROM embeddings)),
t AS (SELECT vec_id, CAST(sum(x_u) AS BIGINT) AS t
      FROM ex GROUP BY vec_id),
y AS (SELECT dim, CAST(sum(ex.x_u * t.t) AS BIGINT) AS y_u
      FROM ex JOIN t USING (vec_id) GROUP BY dim),
tot AS (SELECT CAST(sum(abs(y_u)) AS BIGINT) AS ta FROM y)
SELECT dim, y_u,
       (abs(y_u) * 1000000) // greatest(ta, 1) AS share_ppm
FROM y, tot
"""


def q_embeddings_pq_distortion(spark, sf_dir):
    """Reconstruction-error grading of the PQ quantizer — the eval row
    that tells you whether the 16x compression of embeddings_pq is
    survivable (same grade-the-sketch shape as url_bloom_eval /
    dedup_minhash_eval): per subspace, the exact squared-L2 error
    between each subvector and its chosen centroid, quantized per row
    to 1e-6 units (the err expression is the identical IEEE tree in
    both engines; sums over rows are then exact integers). Output per
    subspace: vector count, total and mean squared error, worst case —
    the numbers that size k (centroids) per subspace and flag subspaces
    whose codebook underfits.

    Plan/scale: codebooks are plan literals (pq_codes_sql rationale),
    the err map is zero-shuffle, then ONE m-key agg. Never touches a
    join at any corpus size."""
    sub = _PQ_DIM // _PQ_M
    cents = SIM.pq_centroids(_PQ_M, _PQ_K, sub)
    cols = []
    for j, codebook in enumerate(cents):
        d = SIM._sub_dists_sql("`embedding`", codebook, j * sub, sub)
        xn = (f"aggregate(transform(slice(`embedding`, {j * sub + 1}, "
              f"{sub}), x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), "
              f"CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)")
        cols.append(f"CAST(round(({xn} + array_min({d})) * 1000000) "
                    f"AS BIGINT)")
    errs = F.expr("array(" + ", ".join(cols) + ")")
    ex = (_t(spark, sf_dir, "embeddings").select(errs.alias("errs"))
          .select(F.posexplode("errs").alias("subspace", "err_u")))
    return (ex.groupBy("subspace")
            .agg(F.count(F.lit(1)).cast("long").alias("n_vecs"),
                 F.sum("err_u").cast("long").alias("sse_u"),
                 F.max("err_u").cast("long").alias("max_err_u"))
            .withColumn("mse_u", F.expr("sse_u DIV greatest(n_vecs, 1)"))
            .select("subspace", "n_vecs", "sse_u", "mse_u", "max_err_u"))


ORACLE_EMBEDDINGS_PQ_DISTORTION = _pq_distortion_oracle()


def q_embeddings_cell_balance(spark, sf_dir):
    """IVF cell-occupancy audit — the index-health readout for
    ann_ivf_topk/ann_ivfpq_topk: assign every vector to its nearest
    coarse cell (the SAME assignment the ANN rows use) and grade the
    balance. A skewed cell is a skewed QUERY: probe latency follows
    cell size, so imbalance_ppm = n_cell * n_cells * 1e6 DIV n_total
    (1e6 = perfectly balanced) is the number that says 'retrain the
    centroids' — the embedding-space twin of shuffle_skew_audit.

    Plan/scale: codegen literal-centroid assignment (no Python), one
    partial agg to an n_cells-row census."""
    emb = _t(spark, sf_dir, "embeddings")
    cents = SIM.seeded_centroids(_IVF_CENTROIDS, _IVF_DIM)
    cells = emb.select(
        SIM.assign_cell_expr(F.col("embedding"), cents).alias("cell"))
    agg = cells.groupBy("cell").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"))
    w = Window.rowsBetween(Window.unboundedPreceding,
                           Window.unboundedFollowing)
    return (agg.withColumn("n_total", F.sum("n_vecs").over(w))
            .select(F.col("cell").cast("int").alias("cell"), "n_vecs",
                    F.expr("(n_vecs * 1000000) DIV n_total").cast("long")
                    .alias("share_ppm"),
                    F.expr(f"(n_vecs * {_IVF_CENTROIDS} * 1000000) "
                           "DIV n_total").cast("long")
                    .alias("imbalance_ppm")))


ORACLE_EMBEDDINGS_CELL_BALANCE = _cell_balance_oracle()


def q_ann_nndescent_step(spark, sf_dir):
    """One NN-Descent refinement round (Dong et al., WWW 2011) — the
    k-NN-GRAPH construction step behind graph-based ANN indexes
    (HNSW/NSG build pipelines): starting from a cheap deterministic
    initial graph (each vector's 4 successors by vec_id — the stand-in
    for an LSH-bucket bootstrap), candidates(v) = neighbors union
    neighbors-of-neighbors, scored by EXACT cosine, keep top-4. The
    local-join principle is the whole point at 10^10 vectors: each
    round compares only k + k^2 candidates per node (two edge-keyed
    equi-joins), never all pairs, and each round monotonically
    improves the graph.

    Exactness: cosine in float64 rounded to 6 dp BEFORE ranking (the
    module's fold-order convention), full (sim DESC, neighbor ASC)
    tie-break; the simplified variant here (forward-of-forward, no
    reverse edges) is documented — full NN-descent adds the reversed
    edge list to the same join, same shape.

    Plan/scale: edge-list self-join + one vector join per side; the
    rank window partitions by node. Nothing is ever all-pairs."""
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"))
    ids = emb.select("vec_id")
    e0 = (ids.select(F.col("vec_id").alias("v_id"),
                     F.explode(F.sequence(F.lit(1), F.lit(4)))
                     .alias("_j"))
          .select("v_id", (F.col("v_id") + F.col("_j")).alias("u_id"))
          .join(ids.select(F.col("vec_id").alias("u_id")), "u_id"))
    hop2 = (e0.alias("a")
            .join(e0.alias("b"), F.col("a.u_id") == F.col("b.v_id"))
            .select(F.col("a.v_id").alias("v_id"),
                    F.col("b.u_id").alias("u_id"))
            .filter(F.col("v_id") != F.col("u_id")))
    cand = e0.select("v_id", "u_id").unionByName(hop2).distinct()
    scored = (cand
              .join(emb.select(F.col("vec_id").alias("v_id"),
                               F.col("v").alias("va")), "v_id")
              .join(emb.select(F.col("vec_id").alias("u_id"),
                               F.col("v").alias("vb")), "u_id")
              .select("v_id", "u_id",
                      F.round(SIM.cosine_expr(F.col("va"), F.col("vb")), 6)
                      .alias("sim")))
    w = Window.partitionBy("v_id").orderBy(F.desc("sim"), F.asc("u_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 4)
            .select(F.col("v_id").alias("vec_id"),
                    F.col("u_id").alias("neighbor_id"), "rank", "sim"))


ORACLE_ANN_NNDESCENT = """
WITH e0 AS (
  SELECT a.vec_id AS v_id, b.vec_id AS u_id
  FROM embeddings a JOIN embeddings b
    ON b.vec_id - a.vec_id BETWEEN 1 AND 4),
cand AS (
  SELECT v_id, u_id FROM e0
  UNION
  SELECT e1.v_id, e2.u_id
  FROM e0 e1 JOIN e0 e2 ON e2.v_id = e1.u_id
  WHERE e2.u_id <> e1.v_id),
sc AS (
  SELECT c.v_id, c.u_id,
         round(
           list_sum(list_transform(range(64),
             i -> a.embedding[i+1]::DOUBLE * b.embedding[i+1]::DOUBLE))
           / (sqrt(list_sum(list_transform(range(64),
                i -> a.embedding[i+1]::DOUBLE * a.embedding[i+1]::DOUBLE)))
              * sqrt(list_sum(list_transform(range(64),
                i -> b.embedding[i+1]::DOUBLE * b.embedding[i+1]::DOUBLE)))),
           6) AS sim
  FROM cand c
  JOIN embeddings a ON a.vec_id = c.v_id
  JOIN embeddings b ON b.vec_id = c.u_id),
rk AS (
  SELECT v_id, u_id, sim,
         row_number() OVER (PARTITION BY v_id
                            ORDER BY sim DESC, u_id ASC) AS rank
  FROM sc)
SELECT v_id AS vec_id, u_id AS neighbor_id, CAST(rank AS INT) AS rank, sim
FROM rk WHERE rank <= 4
"""


def q_embeddings_centroid_drift(spark, sf_dir):
    """Lloyd-iteration convergence telemetry — per-cell centroid DRIFT
    after one KMeans step (embeddings_kmeans_step produces the new
    means; this row measures how far they moved from the current
    centroids): squared L2 movement and max component move per cell,
    the numbers a training loop watches to decide when the coarse
    quantizer behind ivf_topk / dedup_semantic has converged.

    Exactness: means use the kmeans row's proven round(avg, 4)
    convention, then BOTH engines quantize means and centroid
    literals to integer 1e-4 units — drift sums are exact integers
    (1e-8 units for the square), immune to fold order.

    Plan/scale: assignment is literal-arithmetic codegen; the drift
    join runs on the (cells x dim) mean table — 512 rows here,
    O(cells x dim) always — never on vectors."""
    cents = SIM.seeded_centroids(_IVF_CENTROIDS, _IVF_DIM)
    emb = _t(spark, sf_dir, "embeddings")
    assigned = emb.select(
        SIM.assign_cell_expr(
            F.transform("embedding", lambda x: x.cast("double")),
            cents).alias("cell"),
        F.posexplode("embedding").alias("pos", "x"))
    means = (assigned.groupBy("cell", "pos")
             .agg(F.round(F.avg(F.col("x").cast("double")), 4)
                  .alias("m"),
                  F.count("*").alias("n_members")))
    c0 = spark.createDataFrame(
        [(c, i, int(round(v * 10000)))
         for c, vec in enumerate(cents) for i, v in enumerate(vec)],
        "cell int, pos int, c0q long")
    q = (means
         .withColumn("mq", F.expr("CAST(floor(m * 10000 + 0.5) AS BIGINT)"))
         .join(c0, ["cell", "pos"]))
    return (q.groupBy("cell")
            .agg(F.max("n_members").cast("long").alias("n_members"),
                 F.sum((F.col("mq") - F.col("c0q"))
                       * (F.col("mq") - F.col("c0q")))
                 .cast("long").alias("drift_sq_e8"),
                 F.max(F.abs(F.col("mq") - F.col("c0q")))
                 .cast("long").alias("max_move_e4")))


ORACLE_EMBEDDINGS_CENTROID_DRIFT = _centroid_drift_oracle()


def q_ann_recall_vs_nprobe(spark, sf_dir):
    """IVF n_probe tuning sweep — recall@5 of the IVF-flat path at
    n_probe = 1, 2, 3 against the brute-force truth, per query: the
    table that answers 'how many cells must we probe for the recall we
    promised?' before committing a 10^10-vector index config. The
    operational counterpart to corpus_dedup_threshold_curve (threshold
    tuning) and ann_recall_eval (fixed-config grading): recall must be
    NON-DECREASING in n_probe (probing more cells only adds
    candidates), which the unit test pins.

    Plan/scale: the cell-assignment plan is built ONCE per n_probe
    via the same SIM.ivf_topk code path the production row uses;
    truth is brute force over the 10 bounded probe queries; grading
    joins are (query_id, neighbor_id) equi."""
    emb = _t(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 10)
    truth = (SIM.cosine_topk(emb, qs, k=5)
             .select("query_id", "neighbor_id"))
    qids = truth.select("query_id").distinct()
    parts = []
    for p in (1, 2, 3):
        approx = SIM.ivf_topk(emb, qs, k=5, n_centroids=_IVF_CENTROIDS,
                              n_probe=p, dim=_IVF_DIM)
        hits = (approx.select("query_id", "neighbor_id")
                .join(truth, ["query_id", "neighbor_id"])
                .groupBy("query_id").agg(F.count("*").alias("n")))
        parts.append(
            qids.join(hits, "query_id", "left")
            .select(F.lit(p).alias("n_probe"), "query_id",
                    F.coalesce("n", F.lit(0)).cast("long")
                    .alias("n_hits"))
            .withColumn("recall", F.round(F.col("n_hits") / 5.0, 4)))
    out = parts[0]
    for part in parts[1:]:
        out = out.unionByName(part)
    return out


def _ivf_nprobe_sweep_oracle() -> str:
    cos = """
         list_sum(list_transform(range(len(q.embedding)),
             i -> q.embedding[i+1]::DOUBLE * b.embedding[i+1]::DOUBLE))
         / (sqrt(list_sum(list_transform(range(len(q.embedding)),
             i -> q.embedding[i+1]::DOUBLE * q.embedding[i+1]::DOUBLE)))
          * sqrt(list_sum(list_transform(range(len(b.embedding)),
             i -> b.embedding[i+1]::DOUBLE * b.embedding[i+1]::DOUBLE))))
    """
    blocks, selects = [], []
    for p in (1, 2, 3):
        blocks.append(f"""
qp{p} AS (
  SELECT vec_id AS query_id, cell FROM (
    SELECT vec_id, cell,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY s DESC, cell ASC) AS rn
    FROM dots WHERE vec_id < 10) WHERE rn <= {p}),
sc{p} AS (
  SELECT pr.query_id, bc.neighbor_id, {cos} AS cos
  FROM qp{p} pr
  JOIN base_cells bc USING (cell)
  JOIN embeddings q ON q.vec_id = pr.query_id
  JOIN embeddings b ON b.vec_id = bc.neighbor_id
  WHERE bc.neighbor_id != pr.query_id),
tp{p} AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos DESC, neighbor_id ASC) AS rnk
    FROM sc{p}) WHERE rnk <= 5),
h{p} AS (
  SELECT t.query_id, count(*) AS n FROM tp{p}
  JOIN truth t USING (query_id, neighbor_id) GROUP BY t.query_id)""")
        selects.append(f"""
SELECT {p} AS n_probe, q.query_id,
       CAST(coalesce(h{p}.n, 0) AS BIGINT) AS n_hits,
       round(coalesce(h{p}.n, 0) / 5.0, 4) AS recall
FROM qids q LEFT JOIN h{p} USING (query_id)""")
    return (f"WITH {_ivf_cells_sql()},\n"
            f"truth AS (SELECT query_id, neighbor_id "
            f"FROM ({ORACLE_ANN_COSINE}) t),\n"
            f"qids AS (SELECT DISTINCT query_id FROM truth),"
            + ",".join(blocks)
            + "\nUNION ALL".join(selects))


ORACLE_ANN_RECALL_VS_NPROBE = _ivf_nprobe_sweep_oracle()


def q_ann_binary_hamming(spark, sf_dir):
    """Binary-code ANN — the 6th similarity path (brute / LSH / IVF /
    PQ / IVFPQ / binary): each 64-d embedding collapses to a 64-bit
    SIGN code (bit i = v[i] > 0), distance = hamming via
    bit_count(xor) — 16 bytes/vector, the cheapest possible index and
    the standard first-stage filter before exact rescoring (ITQ/LSH
    family). Codes are stored as two 32-bit halves so the arithmetic
    stays in safe BIGINT space on both engines.

    Exactness: code construction and hamming are pure integer; ties
    rank by (hamming ASC, neighbor ASC).

    Plan/scale: here the 10 bounded queries join all base codes (the
    brute demo form); at 10^10 vectors the SAME codes band into 4x16-
    bit segment equi-joins — dedup_simhash64's proven shape — before
    exact rescoring. The code table is the thing: 100 TB of floats
    becomes 160 GB of codes."""
    emb = _t(spark, sf_dir, "embeddings")

    def half(lo_bit):
        return F.expr(
            f"aggregate(sequence(0, 31), 0L, (acc, i) -> acc + "
            f"CASE WHEN element_at(embedding, i + {lo_bit} + 1) > 0 "
            f"THEN shiftleft(1L, i) ELSE 0L END)")

    codes = emb.select("vec_id", half(0).alias("c_lo"),
                       half(32).alias("c_hi"))
    q = codes.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("c_lo").alias("q_lo"),
        F.col("c_hi").alias("q_hi"))
    b = codes.select(F.col("vec_id").alias("neighbor_id"), "c_lo", "c_hi")
    scored = (b.join(F.broadcast(q),
                     F.col("query_id") != F.col("neighbor_id"))
              .withColumn("hamming", (
                  F.bit_count(F.expr("q_lo ^ c_lo"))
                  + F.bit_count(F.expr("q_hi ^ c_hi"))).cast("int")))
    w = Window.partitionBy("query_id").orderBy(F.asc("hamming"),
                                               F.asc("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 5)
            .select("query_id", "rank", "neighbor_id", "hamming"))


ORACLE_ANN_BINARY_HAMMING = """
WITH codes AS (
  SELECT vec_id,
         list_sum(list_transform(range(32),
             i -> CASE WHEN embedding[i+1] > 0
                  THEN (1::BIGINT << i) ELSE 0 END)) AS c_lo,
         list_sum(list_transform(range(32),
             i -> CASE WHEN embedding[i+33] > 0
                  THEN (1::BIGINT << i) ELSE 0 END)) AS c_hi
  FROM embeddings),
scored AS (
  SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
         bit_count(xor(q.c_lo, b.c_lo))
         + bit_count(xor(q.c_hi, b.c_hi)) AS hamming
  FROM codes q JOIN codes b ON b.vec_id <> q.vec_id
  WHERE q.vec_id < 10)
SELECT query_id, CAST(rnk AS INT) AS rank, neighbor_id,
       CAST(hamming AS INT) AS hamming
FROM (
  SELECT query_id, neighbor_id, hamming,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY hamming ASC, neighbor_id ASC) AS rnk
  FROM scored) WHERE rnk <= 5
"""


def q_embeddings_ood_centroid(spark, sf_dir):
    """Out-of-distribution scoring by centroid distance — the
    data-curation filter that flags vectors far from EVERY coarse
    cell (mislabeled modality, corrupted embedding, genuine novelty):
    per vector, the max cosine to the seeded centroids (the same
    centroid set ivf_topk / dedup_semantic / kmeans_step share), the
    winning cell, and the OOD flag at the 0.15 floor. Centroid-
    distance OOD is the standard cheap screen before any density
    model.

    Exactness: cosine in float64 rounded 6 dp (module convention);
    the argmax ties break to the lowest cell exactly like
    assign_cell_expr.

    Plan/scale: pure literal-arithmetic codegen per vector — no
    join, no shuffle, fuses into the scan."""
    cents = SIM.seeded_centroids(_IVF_CENTROIDS, _IVF_DIM)
    emb = _t(spark, sf_dir, "embeddings")
    vec = F.transform("embedding", lambda x: x.cast("double"))
    import math
    scores = []
    for c in cents:
        norm = math.sqrt(sum(x * x for x in c)) or 1.0
        scores.append(SIM._dot(vec, SIM._lit_double_array(c))
                      / (F.lit(norm) * SIM._norm(vec)))
    arr = F.array(*scores)
    best = F.array_max(arr)
    return (emb.select(
        "vec_id",
        (F.array_position(arr, best) - 1).cast("int").alias("best_cell"),
        F.round(best, 6).alias("best_cos"))
        .withColumn("is_ood", (F.col("best_cos") < 0.15).cast("int")))


ORACLE_EMBEDDINGS_OOD_CENTROID = _ood_centroid_oracle()


def q_embeddings_hubness_audit(spark, sf_dir):
    """HUBNESS audit of the exact 5-NN graph — the curse-of-
    dimensionality diagnostic every ANN deployment should run
    (Radovanović et al., JMLR'10): in high dimension the
    k-occurrence distribution N_k skews — a few 'hub' vectors
    appear in everyone's top-k while 'anti-hubs' appear in no one's,
    and both distort recall measurement and retrieval diversity.
    Per vector: how many OTHER vectors' exact top-5 it appears in,
    plus hub (N_5 >= 2k) and anti-hub (N_5 = 0) flags.

    Exactness: exact float64 cosine, ties broken on neighbor id —
    the same convention as ann_cosine_topk; counts are integers.

    Plan/scale: at audit time the k-occurrence census is ONE
    groupBy over the kNN edge list — the expensive part is the kNN
    graph itself, which at scale comes from the banded/IVF paths
    (ann_*), not the all-pairs join used on this fixture."""
    emb = _t(spark, sf_dir, "embeddings")
    knn = SIM.cosine_topk(emb, emb, k=5)
    occ = (knn.groupBy(F.col("neighbor_id").alias("vec_id"))
           .agg(F.count(F.lit(1)).cast("long").alias("n5")))
    return (emb.select("vec_id").join(occ, "vec_id", "left")
            .withColumn("n5", F.coalesce("n5", F.lit(0).cast("long")))
            .withColumn("is_hub", (F.col("n5") >= 10).cast("int"))
            .withColumn("is_antihub", (F.col("n5") == 0).cast("int")))


ORACLE_EMBEDDINGS_HUBNESS_AUDIT = """
WITH scored AS (
  SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
         list_sum(list_transform(range(len(q.embedding)),
             i -> q.embedding[i+1]::DOUBLE * b.embedding[i+1]::DOUBLE))
         / (sqrt(list_sum(list_transform(range(len(q.embedding)),
             i -> q.embedding[i+1]::DOUBLE * q.embedding[i+1]::DOUBLE)))
          * sqrt(list_sum(list_transform(range(len(b.embedding)),
             i -> b.embedding[i+1]::DOUBLE * b.embedding[i+1]::DOUBLE))))
         AS cos
  FROM embeddings q JOIN embeddings b ON b.vec_id != q.vec_id),
knn AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos DESC, neighbor_id ASC) AS rnk
    FROM scored) WHERE rnk <= 5),
occ AS (
  SELECT neighbor_id AS vec_id, CAST(count(*) AS BIGINT) AS n5
  FROM knn GROUP BY neighbor_id)
SELECT e.vec_id, CAST(coalesce(o.n5, 0) AS BIGINT) AS n5,
       CAST(CASE WHEN coalesce(o.n5, 0) >= 10 THEN 1 ELSE 0 END AS INT)
         AS is_hub,
       CAST(CASE WHEN coalesce(o.n5, 0) = 0 THEN 1 ELSE 0 END AS INT)
         AS is_antihub
FROM embeddings e LEFT JOIN occ o ON o.vec_id = e.vec_id
"""


def q_embeddings_distance_histogram(spark, sf_dir):
    """Pairwise-distance CONCENTRATION histogram — the curse-of-
    dimensionality companion to the hubness audit: in high dimension
    all pairwise cosines crowd toward their mean (distance
    concentration), which silently destroys threshold-based dedup
    and makes top-k rankings noise; this row bins the cosine of a
    deterministic pair sample (i paired with (i·7+1) mod n by rank)
    into 20 fixed bins over [-1, 1] and reports the spread stats the
    'is cosine even meaningful here?' decision needs.

    Exactness: exact float64 cosine rounded 6dp before binning
    (bin = floor((cos+1)·10), clamped); the pair sample is a
    permutation, not RNG.

    Plan/scale: the pair join is rank-to-rank (one equi-join after
    a zip-rank), O(n) pairs, never all-pairs; the histogram is one
    20-group census. The rank comes from seq.with_global_seq over
    the ID COLUMN ALONE (no single-partition sort, and the vector
    payload never rides through the rank shuffle — round-4 verdict
    item #1); vectors join back by vec_id."""
    emb = _t(spark, sf_dir, "embeddings")
    ranked = SEQ.with_global_seq(emb.select("vec_id"),
                                 [F.asc("vec_id")], "rnk")
    n = ranked.agg(F.count(F.lit(1)).cast("long").alias("n"))
    a = ranked.crossJoin(F.broadcast(n)) \
        .withColumn("mate", (F.col("rnk") * 7 + 1) % F.col("n"))
    b = ranked.select(F.col("rnk").alias("mate"),
                      F.col("vec_id").alias("vec_id_b"))
    pairs = (a.join(b, "mate")
             .filter(F.col("rnk") != F.col("mate"))
             .join(emb.select("vec_id", "embedding"), "vec_id")
             .join(emb.select(F.col("vec_id").alias("vec_id_b"),
                              F.col("embedding").alias("emb_b")),
                   "vec_id_b"))
    va = F.transform("embedding", lambda x: x.cast("double"))
    vb = F.transform("emb_b", lambda x: x.cast("double"))
    cos = F.round(SIM._dot(va, vb) / (SIM._norm(va) * SIM._norm(vb)), 6)
    binned = pairs.select(
        F.least(F.greatest(F.floor((cos + 1) * 10).cast("long"),
                           F.lit(0)), F.lit(19)).alias("bin"),
        cos.alias("cos"))
    return (binned.groupBy("bin")
            .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"),
                 F.round(F.min("cos"), 6).alias("min_cos"),
                 F.round(F.max("cos"), 6).alias("max_cos")))


ORACLE_EMBEDDINGS_DISTANCE_HISTOGRAM = """
WITH ranked AS (
  SELECT vec_id, embedding,
         CAST(row_number() OVER (ORDER BY vec_id ASC) - 1 AS BIGINT)
           AS rnk
  FROM embeddings),
n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ranked),
pairs AS (
  SELECT a.embedding AS ea, b.embedding AS eb
  FROM ranked a CROSS JOIN n
  JOIN ranked b ON b.rnk = (a.rnk * 7 + 1) % n.n
  WHERE a.rnk <> (a.rnk * 7 + 1) % n.n),
sc AS (
  SELECT round(
      list_sum(list_transform(range(len(ea)),
          i -> ea[i+1]::DOUBLE * eb[i+1]::DOUBLE))
      / (sqrt(list_sum(list_transform(range(len(ea)),
          i -> ea[i+1]::DOUBLE * ea[i+1]::DOUBLE)))
       * sqrt(list_sum(list_transform(range(len(eb)),
          i -> eb[i+1]::DOUBLE * eb[i+1]::DOUBLE)))), 6) AS cos
  FROM pairs)
SELECT CAST(least(greatest(CAST(floor((cos + 1) * 10) AS BIGINT), 0), 19)
            AS BIGINT) AS bin,
       CAST(count(*) AS BIGINT) AS n_pairs,
       round(min(cos), 6) AS min_cos,
       round(max(cos), 6) AS max_cos
FROM sc GROUP BY 1
"""


def q_embeddings_triplet_audit(spark, sf_dir):
    """TRIPLET-margin audit of the embedding space — the metric-
    learning acceptance test (is same-label actually closer than
    different-label?) run exactly the way a training-eval would:
    deterministic triplets pair each anchor with the next vector of
    its own label (positive, by vec_id order, cyclic) and the next
    vector of a different label (negative, the vec_id-adjacent one);
    a triplet VIOLATES when cos(a,p) < cos(a,n) + 0.05 margin. Per
    label: triplet count, violations, violation ppm — a space where
    violations ~ 50% carries no label signal.

    Exactness: exact float64 cosines rounded 6dp before the margin
    comparison; triplet choice is rank arithmetic, not sampling.

    Plan/scale: positives via one per-label lead() window over the
    narrow (vec_id, label) frame, negatives via seq.with_global_lead
    (rank + rank+1 self-join — no single-partition sort, and no
    vector payload in any global-order shuffle; round-4 verdict
    item #1); the three embeddings join back by id."""
    emb = (_t(spark, sf_dir, "embeddings")
           .select("vec_id", "label", "embedding"))
    idl = emb.select("vec_id", "label")
    led = SEQ.with_global_lead(idl, [F.asc("vec_id")],
                               ["vec_id", "label"])
    wl = Window.partitionBy("label").orderBy("vec_id")
    trip = led.withColumn("pos_id", F.coalesce(
        F.lead("vec_id").over(wl),
        F.first("vec_id").over(
            wl.rowsBetween(Window.unboundedPreceding,
                           Window.unboundedFollowing))))
    neg = (trip.filter(F.col("label_next") != F.col("label"))
           .filter(F.col("pos_id") != F.col("vec_id"))
           .select("vec_id", "label", "pos_id",
                   F.col("vec_id_next").alias("neg_id")))
    p = emb.select(F.col("vec_id").alias("pos_id"),
                   F.col("embedding").alias("emb_p"))
    n = emb.select(F.col("vec_id").alias("neg_id"),
                   F.col("embedding").alias("emb_n"))
    j = (neg.join(emb.select("vec_id", "embedding"), "vec_id")
         .join(p, "pos_id").join(n, "neg_id"))
    va = F.transform("embedding", lambda x: x.cast("double"))
    vp = F.transform("emb_p", lambda x: x.cast("double"))
    vn = F.transform("emb_n", lambda x: x.cast("double"))
    cos_p = F.round(SIM._dot(va, vp) / (SIM._norm(va) * SIM._norm(vp)), 6)
    cos_n = F.round(SIM._dot(va, vn) / (SIM._norm(va) * SIM._norm(vn)), 6)
    scored = j.select("label",
                      (cos_p < cos_n + 0.05).cast("int").alias("viol"))
    return (scored.groupBy("label")
            .agg(F.count(F.lit(1)).cast("long").alias("n_triplets"),
                 F.sum("viol").cast("long").alias("n_violations"))
            .withColumn("violation_ppm",
                        F.expr("n_violations * 1000000 DIV n_triplets")
                        .cast("long")))


ORACLE_EMBEDDINGS_TRIPLET_AUDIT = """
WITH emb AS (SELECT vec_id, label, embedding FROM embeddings),
trip AS (
  SELECT vec_id, label, embedding,
         coalesce(lead(vec_id) OVER (PARTITION BY label ORDER BY vec_id),
                  first_value(vec_id) OVER (
                      PARTITION BY label ORDER BY vec_id
                      ROWS BETWEEN UNBOUNDED PRECEDING
                      AND UNBOUNDED FOLLOWING)) AS pos_id,
         lead(vec_id) OVER (ORDER BY vec_id) AS cand_id,
         lead(label) OVER (ORDER BY vec_id) AS cand_label
  FROM emb),
neg AS (
  SELECT vec_id, label, embedding, pos_id, cand_id AS neg_id
  FROM trip
  WHERE cand_label <> label AND pos_id <> vec_id),
j AS (
  SELECT a.label,
         round(list_sum(list_transform(range(len(a.embedding)),
             i -> a.embedding[i+1]::DOUBLE * p.embedding[i+1]::DOUBLE))
         / (sqrt(list_sum(list_transform(range(len(a.embedding)),
             i -> a.embedding[i+1]::DOUBLE * a.embedding[i+1]::DOUBLE)))
          * sqrt(list_sum(list_transform(range(len(p.embedding)),
             i -> p.embedding[i+1]::DOUBLE * p.embedding[i+1]::DOUBLE)))),
           6) AS cos_p,
         round(list_sum(list_transform(range(len(a.embedding)),
             i -> a.embedding[i+1]::DOUBLE * n.embedding[i+1]::DOUBLE))
         / (sqrt(list_sum(list_transform(range(len(a.embedding)),
             i -> a.embedding[i+1]::DOUBLE * a.embedding[i+1]::DOUBLE)))
          * sqrt(list_sum(list_transform(range(len(n.embedding)),
             i -> n.embedding[i+1]::DOUBLE * n.embedding[i+1]::DOUBLE)))),
           6) AS cos_n
  FROM neg a
  JOIN emb p ON p.vec_id = a.pos_id
  JOIN emb n ON n.vec_id = a.neg_id)
SELECT label, CAST(count(*) AS BIGINT) AS n_triplets,
       CAST(sum(CASE WHEN cos_p < cos_n + 0.05 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_violations,
       CAST(sum(CASE WHEN cos_p < cos_n + 0.05 THEN 1 ELSE 0 END)
            * 1000000 // count(*) AS BIGINT) AS violation_ppm
FROM j GROUP BY label
"""


def q_embeddings_align_uniformity(spark, sf_dir):
    """ALIGNMENT & UNIFORMITY (Wang & Isola, ICML'20) — the two-
    number health check of any contrastive embedding space:
    alignment = mean squared L2 distance between positive pairs
    (same-label vec_id-adjacent, on unit-normalized vectors; lower
    is better), uniformity = log E[exp(−2·d²)] over a spread pair
    sample (the i -> i·7+1 rank permutation; more negative is
    better). Good spaces score low on both; a collapsed space wins
    alignment and fails uniformity — one number without the other
    lies.

    Exactness: d² = 2 − 2·cos on unit vectors, exact float64 of
    exact dots; both stats rounded 4dp after a small-sample sum.

    Plan/scale: two rank-pair joins (O(n) pairs each, never
    all-pairs) + two 1-row aggs, emitted as a 2-row metric frame.
    Both pair builders run over the NARROW (vec_id[, label]) frame —
    the rank via seq.with_global_seq (no single-partition sort;
    round-4 verdict item #1) — and the d2 kernel joins vectors back
    by id."""
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "label",
                                                 "embedding")
    wl = Window.partitionBy("label").orderBy("vec_id")
    pos = (emb.select("vec_id", "label")
           .withColumn("mate", F.lead("vec_id").over(wl))
           .filter(F.col("mate").isNotNull())
           .select("vec_id", "mate"))
    ranked = SEQ.with_global_seq(emb.select("vec_id"),
                                 [F.asc("vec_id")], "rnk")
    n = ranked.agg(F.count(F.lit(1)).cast("long").alias("n"))
    perm = (ranked.crossJoin(F.broadcast(n))
            .withColumn("mate_rnk", (F.col("rnk") * 7 + 1) % F.col("n"))
            .filter(F.col("rnk") != F.col("mate_rnk")))
    mate_ids = ranked.select(F.col("rnk").alias("mate_rnk"),
                             F.col("vec_id").alias("mate"))
    unif_pairs = perm.join(mate_ids, "mate_rnk").select("vec_id", "mate")
    by_id = emb.select(F.col("vec_id").alias("id"),
                       F.col("embedding").alias("e"))

    def d2(pairs):
        j = (pairs.join(by_id.withColumnRenamed("id", "vec_id")
                        .withColumnRenamed("e", "ea"), "vec_id")
             .join(by_id.withColumnRenamed("id", "mate")
                   .withColumnRenamed("e", "eb"), "mate"))
        va = F.transform("ea", lambda x: x.cast("double"))
        vb = F.transform("eb", lambda x: x.cast("double"))
        cos = SIM._dot(va, vb) / (SIM._norm(va) * SIM._norm(vb))
        return j.select((F.lit(2.0) - 2.0 * cos).alias("d2"))

    align = d2(pos).agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.round(F.avg("d2"), 4).alias("value"))
    unif = d2(unif_pairs).agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.round(F.log(F.avg(F.exp(-2.0 * F.col("d2")))), 4)
        .alias("value"))
    return (align.select(F.lit("alignment").alias("metric"),
                         "n_pairs", "value")
            .unionByName(unif.select(F.lit("uniformity").alias("metric"),
                                     "n_pairs", "value")))


ORACLE_EMBEDDINGS_ALIGN_UNIFORMITY = """
WITH emb AS (SELECT vec_id, label, embedding FROM embeddings),
pos AS (
  SELECT vec_id, lead(vec_id) OVER (PARTITION BY label
                                    ORDER BY vec_id) AS mate
  FROM emb QUALIFY mate IS NOT NULL),
ranked AS (
  SELECT vec_id, CAST(row_number() OVER (ORDER BY vec_id) - 1
                      AS BIGINT) AS rnk
  FROM emb),
n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM emb),
perm AS (
  SELECT r.vec_id, m.vec_id AS mate
  FROM ranked r CROSS JOIN n
  JOIN ranked m ON m.rnk = (r.rnk * 7 + 1) % n.n
  WHERE r.rnk <> (r.rnk * 7 + 1) % n.n),
cosj AS (
  SELECT 'alignment' AS metric, p.vec_id, p.mate FROM pos p
  UNION ALL
  SELECT 'uniformity', vec_id, mate FROM perm),
d AS (
  SELECT c.metric,
         2.0 - 2.0 * (
           list_sum(list_transform(range(len(a.embedding)),
               i -> a.embedding[i+1]::DOUBLE * b.embedding[i+1]::DOUBLE))
           / (sqrt(list_sum(list_transform(range(len(a.embedding)),
               i -> a.embedding[i+1]::DOUBLE * a.embedding[i+1]::DOUBLE)))
            * sqrt(list_sum(list_transform(range(len(b.embedding)),
               i -> b.embedding[i+1]::DOUBLE * b.embedding[i+1]::DOUBLE))))
         ) AS d2
  FROM cosj c
  JOIN emb a ON a.vec_id = c.vec_id
  JOIN emb b ON b.vec_id = c.mate)
SELECT metric, CAST(count(*) AS BIGINT) AS n_pairs,
       CASE WHEN metric = 'alignment' THEN round(avg(d2), 4)
            ELSE round(ln(avg(exp(-2.0 * d2))), 4) END AS value
FROM d GROUP BY metric
"""


def q_embeddings_knn_eval(spark, sf_dir):
    """1-NN LABEL accuracy (leave-one-out) — the classic intrinsic
    eval of whether an embedding space separates its classes at all
    (the k-NN classifier needs no training, so its accuracy is a
    pure property of the geometry): each vector's exact nearest
    neighbor (self excluded, the ann_cosine_topk convention) votes
    its label; per label the census reports support, top-1 hits,
    and accuracy in exact ppm, plus the majority-class baseline the
    accuracy must beat to mean anything.

    Plan/scale: at eval scale the kNN edge list comes from the
    banded/IVF paths; the fixture uses the exact broadcast top-1 —
    the census itself is one groupBy either way."""
    emb = _t(spark, sf_dir, "embeddings")
    knn = SIM.cosine_topk(emb, emb, k=1)
    lbl = emb.select("vec_id", "label")
    j = (knn.join(lbl.withColumnRenamed("vec_id", "query_id")
                  .withColumnRenamed("label", "true_label"), "query_id")
         .join(lbl.withColumnRenamed("vec_id", "neighbor_id")
               .withColumnRenamed("label", "pred_label"), "neighbor_id"))
    per = (j.groupBy("true_label")
           .agg(F.count(F.lit(1)).cast("long").alias("n"),
                F.sum((F.col("pred_label") == F.col("true_label"))
                      .cast("int")).cast("long").alias("n_correct")))
    tot = per.agg(F.sum("n").cast("long").alias("total"),
                  F.max("n").cast("long").alias("majority"))
    return (per.crossJoin(F.broadcast(tot))
            .withColumn("acc_ppm",
                        F.expr("n_correct * 1000000 DIV n").cast("long"))
            .withColumn("baseline_ppm",
                        F.expr("majority * 1000000 DIV total")
                        .cast("long"))
            .select(F.col("true_label").alias("label"), "n",
                    "n_correct", "acc_ppm", "baseline_ppm"))


ORACLE_EMBEDDINGS_KNN_EVAL = """
WITH scored AS (
  SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
         q.label AS true_label, b.label AS pred_label,
         list_sum(list_transform(range(len(q.embedding)),
             i -> q.embedding[i+1]::DOUBLE * b.embedding[i+1]::DOUBLE))
         / (sqrt(list_sum(list_transform(range(len(q.embedding)),
             i -> q.embedding[i+1]::DOUBLE * q.embedding[i+1]::DOUBLE)))
          * sqrt(list_sum(list_transform(range(len(b.embedding)),
             i -> b.embedding[i+1]::DOUBLE * b.embedding[i+1]::DOUBLE))))
         AS cos
  FROM embeddings q JOIN embeddings b ON b.vec_id != q.vec_id),
knn AS (
  SELECT true_label, pred_label FROM (
    SELECT true_label, pred_label,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos DESC, neighbor_id ASC) AS rnk
    FROM scored) WHERE rnk = 1),
per AS (
  SELECT true_label, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)
              AS BIGINT) AS n_correct
  FROM knn GROUP BY true_label),
tot AS (
  SELECT CAST(sum(n) AS BIGINT) AS total,
         CAST(max(n) AS BIGINT) AS majority FROM per)
SELECT true_label AS label, n, n_correct,
       CAST(n_correct * 1000000 // n AS BIGINT) AS acc_ppm,
       CAST(majority * 1000000 // total AS BIGINT) AS baseline_ppm
FROM per CROSS JOIN tot
"""


def q_embeddings_isotropy(spark, sf_dir):
    """Per-AXIS variance-concentration (isotropy) audit — the
    anisotropy pathology of contrastive/LM embedding spaces
    (Ethayarajh 2019; Mu & Viswanath's all-but-the-top): when a
    handful of rogue dimensions carry most of the variance, cosine
    similarity degenerates and ANN recall tanks; the audit is what
    you read before whitening. Complements embeddings_pca_power
    (principal DIRECTION) and align_uniformity (pairwise geometry)
    by gradine per-COORDINATE variance: for each dimension, the
    exact scaled variance n*Sum(x^2) - (Sum x)^2 over 1e-6-quantized
    elements, its share of total variance in ppm, and the rogue
    flag (share > 4x the uniform 1/dim share).

    Plan/scale: posexplode then ONE (dim) groupBy of partial sums
    — the same map-side-combinable shape as embeddings_quantize's
    min/max pass; output is |dims| rows."""
    e = (_t(spark, sf_dir, "embeddings")
         .select("vec_id",
                 F.expr("transform(embedding, x -> CAST(round("
                        "CAST(x AS DOUBLE) * 1e6) AS BIGINT))")
                 .alias("q")))
    d = e.select(F.posexplode("q").alias("dim", "x"))
    per = (d.groupBy("dim")
           .agg(F.count(F.lit(1)).cast("long").alias("n"),
                F.sum("x").cast("long").alias("s1"),
                F.expr("sum(x * x)").cast("long").alias("s2")))
    v = per.withColumn("var_scaled",
                       F.expr("n * s2 - s1 * s1").cast("long"))
    tot = v.agg(F.sum("var_scaled").cast("long").alias("tot_var"),
                F.count(F.lit(1)).cast("long").alias("n_dims"))
    j = v.crossJoin(F.broadcast(tot))
    # divide by the pre-scaled total (var_scaled * 1e6 would overflow
    # BIGINT); integer-exact and identical on both engines
    return (j.withColumn("share_ppm",
                         F.expr("var_scaled DIV "
                                "greatest(tot_var DIV 1000000, 1)")
                         .cast("long"))
            .withColumn("is_rogue",
                        F.expr("share_ppm * n_dims > 4000000")
                        .cast("int"))
            .select(F.col("dim").cast("int").alias("dim"),
                    "var_scaled", "share_ppm", "is_rogue"))


ORACLE_EMBEDDINGS_ISOTROPY = """
WITH q AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT)) AS q
  FROM embeddings),
d AS (
  SELECT CAST(i - 1 AS INT) AS dim, q[CAST(i AS INT)] AS x
  FROM q, unnest(generate_series(1, len(q))) u(i)),
per AS (
  SELECT dim, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS s1,
         CAST(sum(x * x) AS BIGINT) AS s2
  FROM d GROUP BY dim),
v AS (SELECT dim, n * s2 - s1 * s1 AS var_scaled FROM per),
tot AS (
  SELECT CAST(sum(var_scaled) AS BIGINT) AS tot_var,
         CAST(count(*) AS BIGINT) AS n_dims FROM v)
SELECT dim, CAST(var_scaled AS BIGINT) AS var_scaled,
       CAST(var_scaled // greatest(tot_var // 1000000, 1) AS BIGINT)
         AS share_ppm,
       CAST(CASE WHEN var_scaled // greatest(tot_var // 1000000, 1)
                      * n_dims > 4000000 THEN 1 ELSE 0 END AS INT)
         AS is_rogue
FROM v CROSS JOIN tot
"""


def q_embeddings_shard_plan(spark, sf_dir):
    """ANN index SHARD planning — after IVF assignment
    (embeddings_cell_balance audits the cell sizes), the index
    builder must place cells onto shards; size-rank STRIPING
    (sort cells by size, stripe rank % n_shards) is the
    deterministic one-pass placement that bounds imbalance
    without LPT's sequential argmin. Per shard over the shared
    seeded-centroid assignment: cells, vectors, the load share in
    ppm, and the deviation from the uniform share.

    Plan/scale: the cell census is |cells| rows; the stripe is a
    rank window over them — placement never touches vectors."""
    emb = _t(spark, sf_dir, "embeddings")
    cents = SIM.seeded_centroids(_IVF_CENTROIDS, _IVF_DIM)
    cells = emb.select(
        SIM.assign_cell_expr(F.col("embedding"), cents).alias("cell"))
    cens = (cells.groupBy("cell")
            .agg(F.count(F.lit(1)).cast("long").alias("n_vecs")))
    w = Window.orderBy(F.desc("n_vecs"), F.asc("cell"))
    n_shards = 3
    plan = (cens.withColumn("rk", F.row_number().over(w))
            .withColumn("shard",
                        ((F.col("rk") - 1) % n_shards).cast("long")))
    per = (plan.groupBy("shard")
           .agg(F.count(F.lit(1)).cast("long").alias("n_cells"),
                F.sum("n_vecs").cast("long").alias("n_vecs")))
    tot = per.agg(F.sum("n_vecs").cast("long").alias("total"))
    return (per.crossJoin(F.broadcast(tot))
            .withColumn("share_ppm",
                        F.expr("n_vecs * 1000000 DIV total")
                        .cast("long"))
            .withColumn("dev_ppm",
                        F.abs(F.col("share_ppm")
                              - 1000000 // n_shards).cast("long"))
            .select("shard", "n_cells", "n_vecs", "share_ppm",
                    "dev_ppm"))


def q_ann_hnsw_plan(spark, sf_dir):
    """HNSW index-construction PLAN (Malkov & Yashunin 2016) — the
    layer structure of the one mainstream ANN index the family
    (LSH / IVF / PQ / IVFPQ / NN-descent) doesn't yet cover. The
    paper draws each node's max level from a geometric distribution
    (level = floor(-ln(U)*mL), mL = 1/ln(M)); with M = 16 that is
    exactly "level L iff 16^L divides the node's hash draw" — so the
    draw here is the md5-60bit key hash and the level is a pure
    INTEGER divisibility ladder (capped at 6): no ln(), no float, no
    cross-engine libm-ulp hazard. A node of level L is present in
    layers 0..L; per layer: occupancy, degree budget (2M edges at
    layer 0, M above — the paper's M_max0 = 2M rule), id checksum,
    and the global entry point (min id on the top occupied layer).

    Plan/scale: one scan assigns levels (codegen), explode of the
    0..level range (mean fan-out 16/15), one layer groupBy; the
    entry point is a 1-row broadcast join-back. The census is what a
    builder uses to size per-layer shuffles before constructing
    neighbor lists."""
    e = _t(spark, sf_dir, "embeddings").select(F.col("vec_id").alias("id"))
    h = (F.conv(F.substring(F.md5(F.col("id").cast("string")), 1, 15),
                16, 10).cast("long"))
    lvl = (F.when(h % 16 != 0, 0)
           .when(h % (16 ** 2) != 0, 1)
           .when(h % (16 ** 3) != 0, 2)
           .when(h % (16 ** 4) != 0, 3)
           .when(h % (16 ** 5) != 0, 4)
           .when(h % (16 ** 6) != 0, 5)
           .otherwise(6))
    nodes = e.select("id", lvl.cast("int").alias("lvl"))
    layers = (nodes.select(
        "id", "lvl",
        F.explode(F.sequence(F.lit(0), F.col("lvl"))).alias("layer")))
    occ = (layers.groupBy("layer")
           .agg(F.count("*").cast("long").alias("n_nodes"),
                F.expr("bit_xor(id)").cast("long").alias("id_xor"),
                F.min(F.when(F.col("lvl") == F.col("layer"),
                             F.col("id"))).cast("long")
                .alias("min_new_id")))
    top = (occ.agg(F.max("layer").alias("top_layer")).crossJoin(
        occ.select(F.col("layer").alias("tl"),
                   F.col("min_new_id").alias("entry_id")))
        .filter(F.col("tl") == F.col("top_layer"))
        .select("top_layer", "entry_id"))
    return (occ.crossJoin(F.broadcast(top))
            .select("layer", "n_nodes", "id_xor",
                    (F.col("n_nodes")
                     * F.when(F.col("layer") == 0, 32).otherwise(16))
                    .cast("long").alias("degree_budget"),
                    "top_layer", "entry_id"))


ORACLE_ANN_HNSW_PLAN = """
WITH nodes AS (
  SELECT vec_id AS id,
         CAST(concat('0x', substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))
              AS BIGINT) AS h
  FROM embeddings),
lv AS (
  SELECT id,
         CASE WHEN h % 16 <> 0 THEN 0
              WHEN h % 256 <> 0 THEN 1
              WHEN h % 4096 <> 0 THEN 2
              WHEN h % 65536 <> 0 THEN 3
              WHEN h % 1048576 <> 0 THEN 4
              WHEN h % 16777216 <> 0 THEN 5
              ELSE 6 END AS lvl
  FROM nodes),
layers AS (
  SELECT id, lvl, CAST(t.layer AS INT) AS layer
  FROM lv, UNNEST(range(0, lvl + 1)) AS t(layer)),
occ AS (
  SELECT layer, count(*) AS n_nodes,
         CAST(bit_xor(id) AS BIGINT) AS id_xor,
         CAST(min(CASE WHEN lvl = layer THEN id END) AS BIGINT)
           AS min_new_id
  FROM layers GROUP BY layer),
top AS (
  SELECT CAST(layer AS INT) AS top_layer, min_new_id AS entry_id
  FROM occ ORDER BY layer DESC LIMIT 1)
SELECT layer, n_nodes, id_xor,
       CAST(n_nodes * (CASE WHEN layer = 0 THEN 32 ELSE 16 END)
            AS BIGINT) AS degree_budget,
       top_layer, entry_id
FROM occ CROSS JOIN top
"""


def q_embeddings_rvq(spark, sf_dir):
    """Residual vector quantization (the 2-stage additive quantizer of
    neural codecs / RQ-VAE, the PQ family's other axis: refine the
    SAME space instead of splitting dims): vectors are quantized to
    integer micro-units (floor(x*1e6)), stage 1 picks the nearest
    full-dim codebook-1 entry by EXACT integer squared-L2, stage 2
    quantizes the residual against codebook 2 (rotated, 1/4-scale
    seeded centroids); per vector: both codes and the exact integer
    error ladder |v|^2 -> |v - c1|^2 -> |v - c1 - c2|^2 — the additive
    refinement every RVQ stage must show. No float arithmetic
    anywhere, so both engines agree bit-for-bit with zero rounding
    discipline needed.

    Plan/scale: pure map (two argmin ladders of 8 literal-array dot
    folds each), zero shuffles/joins — the encode pass fuses into the
    scan; codes are 2 bytes/vector at rest like ivfpq."""
    cb1, cb2 = _rvq_codebooks()
    vq = F.transform(F.col("embedding"),
                     lambda x: F.floor(x.cast("double") * 1e6)
                     .cast("long"))
    base = (_t(spark, sf_dir, "embeddings")
            .select("vec_id", vq.alias("v")))

    def d2(vec, cvals):
        lit = F.expr("array(" + ", ".join(str(x) + "L" for x in cvals)
                     + ")")
        return F.aggregate(
            F.zip_with(vec, lit, lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"), lambda acc, t: acc + t)

    def argmin(vec, cb):
        ds = F.array(*[d2(vec, c) for c in cb])
        return ((F.array_position(ds, F.array_min(ds)) - 1).cast("int"),
                F.array_min(ds))

    c1, err1 = argmin(F.col("v"), cb1)
    s1 = base.withColumn("code1", c1).withColumn("err1", err1)
    res = F.zip_with(
        F.col("v"),
        F.element_at(
            F.expr("array(" + ", ".join(
                "array(" + ", ".join(str(x) + "L" for x in c) + ")"
                for c in cb1) + ")"),
            F.col("code1") + 1),
        lambda a, b: a - b)
    s2 = s1.withColumn("r", res)
    c2, err2 = argmin(F.col("r"), cb2)
    norm2 = F.aggregate(F.zip_with(F.col("v"), F.col("v"),
                                   lambda a, b: a * b),
                        F.lit(0).cast("long"), lambda acc, t: acc + t)
    return (s2.withColumn("code2", c2).withColumn("err2", err2)
            .withColumn("err0", norm2)
            .select("vec_id", "code1", "code2", "err0", "err1", "err2"))


def q_embeddings_knn_ood(spark, sf_dir):
    """k-NN-distance out-of-distribution scoring (the classic
    LOF-lite outlier detector — the LOCAL complement of
    embeddings_ood_centroid's global distance): each of the 20 probe
    vectors scores by the cosine similarity of its 5th nearest
    neighbor among the base set — a probe deep inside a cluster has a
    close 5th neighbor; an isolated probe does not. Reuses the exact
    brute-force top-k operator (SIM.cosine_topk, the verified
    baseline), takes the k-th row per query, and flags the bottom
    quartile by exact rank as OOD candidates.

    Plan/scale: the probe side is 20 rows broadcast against the base
    (the documented small-|Q| brute path; the IVF/LSH rows are the
    big-|Q| path), then O(20) ranking."""
    emb = _t(spark, sf_dir, "embeddings")
    probes = (emb.filter(F.col("vec_id") % 25 == 3)
              .select(F.col("vec_id").alias("query_id"),
                      F.col("embedding").alias("q_vec")))
    base = (emb.filter(F.col("vec_id") % 25 != 3)
            .select(F.col("vec_id").alias("neighbor_id"),
                    F.col("embedding").alias("b_vec")))
    scored = (base.join(F.broadcast(probes),
                        F.col("query_id") != F.col("neighbor_id"))
              .withColumn("cos", SIM.cosine_expr(F.col("q_vec"),
                                                 F.col("b_vec"))))
    wr = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), F.asc("neighbor_id"))
    kth = (scored.withColumn("rank", F.row_number().over(wr))
           .filter(F.col("rank") == 5)
           .select("query_id", F.col("neighbor_id").alias("nn5_id"),
                   F.col("cos").alias("nn5_cos")))
    w = Window.orderBy(F.asc("nn5_cos"), F.asc("query_id"))
    ranked = kth.withColumn("ood_rank", F.row_number().over(w))
    n = ranked.agg(F.count("*").alias("n_probes"))
    return (ranked.crossJoin(F.broadcast(n))
            .select("query_id", "nn5_id",
                    F.round("nn5_cos", 6).alias("nn5_cos"),
                    "ood_rank", "n_probes",
                    (F.col("ood_rank") * 4 <= F.col("n_probes"))
                    .cast("int").alias("is_ood_candidate")))


ORACLE_EMBEDDINGS_KNN_OOD = """
WITH probes AS (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 25 = 3),
base AS (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 25 <> 3),
scored AS (
  SELECT p.vec_id AS query_id, b.vec_id AS neighbor_id,
         list_sum(list_transform(range(len(p.embedding)),
             i -> p.embedding[i+1]::DOUBLE * b.embedding[i+1]::DOUBLE))
         / (sqrt(list_sum(list_transform(range(len(p.embedding)),
             i -> p.embedding[i+1]::DOUBLE * p.embedding[i+1]::DOUBLE)))
          * sqrt(list_sum(list_transform(range(len(b.embedding)),
             i -> b.embedding[i+1]::DOUBLE * b.embedding[i+1]::DOUBLE))))
           AS cos
  FROM probes p CROSS JOIN base b),
ranked AS (
  SELECT query_id, neighbor_id, cos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id ASC) AS rank
  FROM scored),
kth AS (
  SELECT query_id, neighbor_id AS nn5_id, cos AS nn5_cos
  FROM ranked WHERE rank = 5),
ood AS (
  SELECT query_id, nn5_id, nn5_cos,
         row_number() OVER (ORDER BY nn5_cos ASC, query_id ASC)
           AS ood_rank,
         count(*) OVER () AS n_probes
  FROM kth)
SELECT query_id, nn5_id, round(nn5_cos, 6) AS nn5_cos,
       CAST(ood_rank AS INT) AS ood_rank,
       CAST(n_probes AS BIGINT) AS n_probes,
       CAST(CASE WHEN ood_rank * 4 <= n_probes THEN 1 ELSE 0 END
            AS INT) AS is_ood_candidate
FROM ood
"""


def q_embeddings_variance_prune(spark, sf_dir):
    """Per-dimension variance census + prune plan — the cheapest
    dimensionality reduction there is (a near-constant embedding
    dimension carries no signal; dropping the low-variance half
    halves every downstream ANN/storage cost before anyone reaches
    for PCA): values quantize to EXACT millis and the variance
    numerator n·Σq² − (Σq)² stays in integers end-to-end (the
    two-pass-free variance identity — overflow-safe at this
    quantization by construction), dims rank by it, top half kept.

    Plan/scale: posexplode is map-side; the census is ONE
    (dim)-keyed partial agg of 3 sums — 64 output rows regardless
    of corpus size; the rank window runs over those 64 rows only."""
    q = F.expr("cast(round(x * 1000) as bigint)")
    exploded = (_t(spark, sf_dir, "embeddings")
                .select(F.posexplode("embedding")
                        .alias("dim", "x"))
                .select("dim", q.alias("q")))
    agg = (exploded.groupBy("dim")
           .agg(F.count("*").cast("long").alias("n"),
                F.sum("q").cast("long").alias("s1"),
                F.sum(F.expr("q * q")).cast("long").alias("s2")))
    agg = agg.withColumn("var_num",
                         F.expr("n * s2 - s1 * s1"))
    w = Window.orderBy(F.col("var_num").desc(), F.col("dim").asc())
    return (agg.withColumn("rank", F.row_number().over(w).cast("int"))
            .select(F.col("dim").cast("int").alias("dim"), "n",
                    "var_num", "rank",
                    (F.col("rank") <= 32).cast("int").alias("keep")))


ORACLE_EMBEDDINGS_VARIANCE_PRUNE = """
WITH exploded AS (
  SELECT generate_subscripts(embedding, 1) - 1 AS dim,
         CAST(round(unnest(embedding) * 1000) AS BIGINT) AS q
  FROM embeddings),
agg AS (
  SELECT dim, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(q) AS BIGINT) AS s1,
         CAST(sum(q * q) AS BIGINT) AS s2
  FROM exploded GROUP BY dim),
ranked AS (
  SELECT dim, n, n * s2 - s1 * s1 AS var_num,
         row_number() OVER (ORDER BY n * s2 - s1 * s1 DESC, dim ASC)
           AS rank
  FROM agg)
SELECT CAST(dim AS INT) AS dim, n, var_num, CAST(rank AS INT) AS rank,
       CAST(CASE WHEN rank <= 32 THEN 1 ELSE 0 END AS INT) AS keep
FROM ranked
"""


def q_embeddings_exact_dup(spark, sf_dir):
    """Exact-duplicate embedding fingerprinting — the free pre-pass
    before any cosine near-dup sweep (re-ingested shards and retried
    writers produce BIT-IDENTICAL vectors; hashing the quantized
    vector finds them with one cheap agg, and every exact cluster
    removed is an O(n²)-candidate the expensive pass never sees):
    vectors quantize to exact millis, fingerprint = md5 of the
    joined milli string, clusters form on the fingerprint.

    Plant: vec_id%10=0 vectors are re-ingested verbatim at
    id+100000.

    Plan/scale: map-side quantize+hash, one (fingerprint) window —
    the same single shuffle exact text dedup pays."""
    base = _t(spark, sf_dir, "embeddings").select("vec_id",
                                                  "embedding")
    twins = (base.filter(F.col("vec_id") % 10 == 0)
             .select((F.col("vec_id") + 100000).alias("vec_id"),
                     "embedding"))
    allv = base.unionByName(twins)
    fp = F.md5(F.expr(
        "array_join(transform(embedding, "
        "x -> cast(cast(round(x * 1000) as bigint) as string)), ',')"))
    rows = allv.select("vec_id", fp.alias("fp"))
    w = Window.partitionBy("fp")
    return (rows
            .withColumn("cluster_size",
                        F.count("*").over(w).cast("long"))
            .withColumn("rep_id", F.min("vec_id").over(w))
            .withColumn("is_dup",
                        (F.col("cluster_size") > 1).cast("int"))
            .select("vec_id", F.substring("fp", 1, 8).alias("fp8"),
                    "cluster_size", "rep_id", "is_dup"))


ORACLE_EMBEDDINGS_EXACT_DUP = """
WITH allv AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 100000, embedding
  FROM embeddings WHERE vec_id % 10 = 0),
fps AS (
  SELECT vec_id,
         md5(array_to_string(list_transform(embedding,
             x -> CAST(CAST(round(x * 1000) AS BIGINT) AS VARCHAR)),
             ',')) AS fp
  FROM allv)
SELECT vec_id, substr(fp, 1, 8) AS fp8,
       CAST(count(*) OVER (PARTITION BY fp) AS BIGINT)
         AS cluster_size,
       min(vec_id) OVER (PARTITION BY fp) AS rep_id,
       CAST(CASE WHEN count(*) OVER (PARTITION BY fp) > 1
            THEN 1 ELSE 0 END AS INT) AS is_dup
FROM fps
"""
