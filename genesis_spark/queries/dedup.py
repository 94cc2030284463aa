"""Registry family: Deduplication (split from the monolithic queries.py)."""

from __future__ import annotations

from genesis_spark.queries._shared import *  # noqa: F401,F403



def q_seen_anti_join(spark, sf_dir):
    """D1/J1: the URL-seen gate as an exact left-anti equi-join —
    candidate links minus the crawled set — the semantics the Bloom /
    cuckoo prefilters accelerate without changing."""
    new = _t(spark, sf_dir, "lineitem").select(
        F.concat(F.lit("http://u"), (F.col("l_orderkey") % 1000).cast("string"),
                 F.lit(".onion")).alias("url")).distinct()
    seen = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 3 == 0) \
        .select(F.concat(F.lit("http://u"),
                         (F.col("o_orderkey") % 300).cast("string"),
                         F.lit(".onion")).alias("url")).distinct()
    return new.join(seen, "url", "left_anti")


ORACLE_SEEN_ANTI_JOIN = """
SELECT DISTINCT 'http://u' || (l_orderkey % 1000) || '.onion' AS url
FROM lineitem
EXCEPT
SELECT DISTINCT 'http://u' || (o_orderkey % 300) || '.onion' AS url
FROM orders WHERE o_orderkey % 3 = 0
"""


def q_seen_anti_join_cuckoo(spark, sf_dir):
    """D1's cuckoo variant end-to-end at driver-check strength: the
    shard-ROUTED build + probe (operators/cuckoo.py — each task holds
    ONE 128 KiB shard table, the 10^10-key layout; no broadcast of the
    whole filter) prefilters the candidate set, definitely-unseen rows
    skip the exact anti-join, maybe-seen rows fall through to it — and
    the composed output must hash-match the PLAIN anti-join oracle,
    proving the no-false-negatives contract through the same harness
    that grades every other row."""
    from genesis_spark.operators import cuckoo as CK

    new = _t(spark, sf_dir, "lineitem").select(
        F.concat(F.lit("http://u"),
                 (F.col("l_orderkey") % 1000).cast("string"),
                 F.lit(".onion")).alias("url")).distinct()
    seen = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 3 == 0) \
        .select(F.concat(F.lit("http://u"),
                         (F.col("o_orderkey") % 300).cast("string"),
                         F.lit(".onion")).alias("url")).distinct()
    shards = CK.build_cuckoo_shards(seen, "url")
    flagged = CK.filter_not_seen_cuckoo_routed(new, "url", shards)
    definite = flagged.filter(~F.col("_maybe_seen")).select("url")
    maybe = flagged.filter(F.col("_maybe_seen")).select("url")
    return definite.unionByName(maybe.join(seen, "url", "left_anti"))


ORACLE_SEEN_ANTI_JOIN_CUCKOO = ORACLE_SEEN_ANTI_JOIN


# ---------------------------------------------------------------------------
# dedup family (training-data pipeline)
# ---------------------------------------------------------------------------

def q_dedup_exact(spark, sf_dir):
    """Exact dedup over the twin corpus: md5 pre-hash groupBy so wide
    text never shuffles (operators/dedup.exact_dedup); one row per
    distinct content with its copy count."""
    return D.exact_dedup(_corpus(spark, sf_dir))


ORACLE_DEDUP_EXACT = f"""
WITH {_CORPUS_SQL}
SELECT min(doc_id) AS doc_id, count(*) AS n_copies
FROM corpus GROUP BY md5(text), text
"""


def q_dedup_tfidf_cosine(spark, sf_dir):
    """Sparse TF-IDF cosine near-dup pairs via inverted-index self-join
    (never a cross join): posting lists capped at df <= 400 (drops the
    fixture's corpus-wide salad terms, bounding per-term fan-out),
    cosine >= 0.8 rounded at 4 dp. The twins provide exact (cos 1.0)
    and near-dup positives."""
    return D.tfidf_cosine_pairs(_corpus(spark, sf_dir), threshold=0.8,
                                max_df=400)


ORACLE_DEDUP_TFIDF_COSINE = f"""
WITH {_CORPUS_SQL},
toks AS (
  SELECT doc_id, t.term FROM corpus,
       UNNEST(string_split_regex(lower(text), '[^a-z0-9]+')) AS t(term)
  WHERE len(t.term) >= 3
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
dfx AS (
  SELECT term, count(*) AS df FROM tf GROUP BY 1 HAVING count(*) <= 400
),
w AS (
  SELECT tf.doc_id, tf.term,
         tf.tf * ln((SELECT count(*) FROM corpus)::DOUBLE / dfx.df) AS w
  FROM tf JOIN dfx USING (term)
),
nrm AS (SELECT doc_id, sqrt(sum(w * w)) AS nrm FROM w GROUP BY 1),
dots AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, sum(a.w * b.w) AS dot
  FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, round(dot / (na.nrm * nb.nrm), 4) AS cosine
FROM dots
JOIN nrm na ON na.doc_id = dots.doc_a
JOIN nrm nb ON nb.doc_id = dots.doc_b
WHERE round(dot / (na.nrm * nb.nrm), 4) >= 0.8
"""


def q_dedup_exact_substr(spark, sf_dir):
    """ExactSubstr duplicated spans (Lee et al. 2021) over the twin corpus:
    maximal char spans whose every 40-gram occurs >= 2 times corpus-wide
    (the twins guarantee cross-doc duplicates; the word-salad fixture text
    adds intra-corpus repeats)."""
    return D.duplicated_spans(_corpus(spark, sf_dir), k=40)


ORACLE_DEDUP_EXACT_SUBSTR = f"""
WITH {_CORPUS_SQL},
pos AS (
  SELECT doc_id, text, unnest(range(length(text) - 39)) AS pos
  FROM corpus WHERE length(text) >= 40
),
grams AS (
  SELECT doc_id, pos, substr(md5(substr(text, pos + 1, 40)), 1, 16) AS h
  FROM pos
),
dups AS (SELECT h FROM grams GROUP BY h HAVING count(*) >= 2),
hits AS (SELECT g.doc_id, g.pos FROM grams g JOIN dups USING (h)),
brk AS (
  SELECT doc_id, pos,
         CASE WHEN pos > coalesce(max(pos + 40) OVER (
                PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
              THEN 1 ELSE 0 END AS b
  FROM hits
),
isl AS (
  SELECT doc_id, pos,
         sum(b) OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM brk
)
SELECT doc_id, min(pos) AS span_start, max(pos) + 40 AS span_end,
       max(pos) + 40 - min(pos) AS span_len
FROM isl GROUP BY doc_id, island
"""


def q_dedup_minhash_lsh(spark, sf_dir):
    """MinHash-LSH near-dup pairs at J>=0.5: shingle -> 16-perm
    signature -> banded equi-join, never all-pairs
    (operators/dedup.minhash_lsh_pairs)."""
    return D.minhash_lsh_pairs(_corpus(spark, sf_dir), threshold=0.5)


ORACLE_DEDUP_MINHASH = f"""
WITH {_minhash_pairs_cte()}
SELECT doc_a, doc_b, est_jaccard FROM mpairs
"""


def q_dedup_minhash_eval(spark, sf_dir):
    """Estimator-vs-truth EVALUATION row: the minhash-LSH pair set graded
    against exact 3-gram jaccard over the identical (max_df-capped)
    shingle sets — TP/FP/FN and precision/recall in one summary row, so
    the approximation quality the 100 TB dedup path relies on is itself
    value-hashed, not asserted in prose. All three counts are tiny
    single-row aggregates crossed together; the heavy lifting reuses the
    banded-join operators unchanged."""
    corpus = _corpus(spark, sf_dir)
    est = (D.minhash_lsh_pairs(corpus, threshold=0.5)
           .select("doc_a", "doc_b"))
    truth = (D.ngram_jaccard_pairs(corpus, threshold=0.5,
                                   max_df=_NGRAM_MAX_DF)
             .select("doc_a", "doc_b"))
    n_est = est.agg(F.count("*").alias("n_est"))
    n_true = truth.agg(F.count("*").alias("n_true"))
    tp = (est.join(truth, ["doc_a", "doc_b"])
          .agg(F.count("*").alias("tp")))
    return (n_est.crossJoin(n_true).crossJoin(tp)
            .select("n_est", "n_true", "tp",
                    (F.col("n_est") - F.col("tp")).alias("fp"),
                    (F.col("n_true") - F.col("tp")).alias("fn"),
                    F.round(F.col("tp") / F.col("n_est"), 4)
                    .alias("precision"),
                    F.round(F.col("tp") / F.col("n_true"), 4)
                    .alias("recall")))


# ORACLE_DEDUP_MINHASH_EVAL is assigned below ORACLE_DEDUP_NGRAM (the
# oracle builder needs _NGRAM_MAX_DF, defined with the jaccard family).


def q_dedup_incremental(spark, sf_dir):
    """Incremental-ingest dedup: the twins as an arriving batch checked
    against the standing documents corpus — band joins run ONLY new x
    old (never old x old), the continuous-pipeline shape. Old ids are
    < 100000 and new ids >= 100000, so the oracle is the full-corpus
    mpairs chain filtered to cross-side pairs (a pair's estimate is
    per-doc-signature-local, so the restricted join can't change it)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    twins = (docs.filter(F.col("doc_id") % 2 == 0)
             .select((F.col("doc_id") + 100000).alias("doc_id"),
                     F.when(F.col("doc_id") % 5 == 0, F.col("text"))
                     .otherwise(F.regexp_replace("text", " [^ ]+$", ""))
                     .alias("text")))
    return D.minhash_incremental_pairs(docs, twins, threshold=0.5)


ORACLE_DEDUP_INCREMENTAL = f"""
WITH {_minhash_pairs_cte()}
SELECT doc_a AS old_id, doc_b AS new_id, est_jaccard FROM mpairs
WHERE doc_a < 100000 AND doc_b >= 100000
"""


def q_dedup_cluster_reps(spark, sf_dir):
    """Cluster-level dedup: MinHash-LSH near-dup pairs -> connected
    components (hash-to-min label propagation) -> one surviving
    representative (min doc_id) per cluster, singletons included. The
    oracle computes the same closure with a recursive CTE."""
    from genesis_spark.operators.cc import connected_components
    corpus = _corpus(spark, sf_dir)
    pairs = D.minhash_lsh_pairs(corpus, threshold=0.5) \
        .select("doc_a", "doc_b")
    comp = connected_components(pairs, "doc_a", "doc_b")
    wc = (corpus.join(comp.withColumnRenamed("node", "doc_id"),
                      "doc_id", "left")
          .withColumn("cluster_id", F.coalesce("component", F.col("doc_id"))))
    return (wc.groupBy("cluster_id")
            .agg(F.min("doc_id").alias("doc_id"),
                 F.count("*").alias("cluster_size")))


ORACLE_DEDUP_CLUSTER_REPS = f"""
WITH RECURSIVE {_minhash_pairs_cte()},
sym AS (
  SELECT doc_a AS a, doc_b AS b FROM mpairs
  UNION
  SELECT doc_b AS a, doc_a AS b FROM mpairs
),
reach AS (
  SELECT a AS node, a AS comp FROM sym
  UNION
  SELECT s.a AS node, r.comp FROM sym s JOIN reach r ON r.node = s.b
),
comp AS (SELECT node, min(comp) AS component FROM reach GROUP BY node),
wc AS (
  SELECT c.doc_id, coalesce(k.component, c.doc_id) AS cluster_id
  FROM corpus c LEFT JOIN comp k ON k.node = c.doc_id
)
SELECT cluster_id, min(doc_id) AS doc_id, count(*) AS cluster_size
FROM wc GROUP BY cluster_id
"""


def q_dedup_decontaminate(spark, sf_dir):
    """Benchmark decontamination (GPT-3 §C / The Pile style): flag every
    training doc sharing ANY 8-gram with the held-out benchmark set
    (every 50th doc). Shape: explode 8-gram shingles on both sides, hash
    them, distinct, and equi-join benchmark grams against train grams —
    the join key is the gram hash, so at 100 TB it is one shuffled
    equi-join on near-unique keys (no theta join, no broadcast of the
    corpus); the small benchmark side IS broadcastable and Catalyst picks
    that up from AQE stats. Output: flagged train docs + how many distinct
    benchmark grams they collide with."""
    corpus = _t(spark, sf_dir, "documents").select("doc_id", "text")
    grams = corpus.select(
        "doc_id", F.explode(D.shingles_expr(F.col("text"), 8)).alias("g")) \
        .select("doc_id", F.substring(F.md5("g"), 1, 16).alias("h")) \
        .distinct()
    bench = grams.filter(F.col("doc_id") % 50 == 0) \
        .select(F.col("h").alias("bh")).distinct()
    train = grams.filter(F.col("doc_id") % 50 != 0)
    return (train.join(bench, train.h == bench.bh)
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_contaminated_grams")))


ORACLE_DEDUP_DECONTAMINATE = f"""
WITH base AS (
  SELECT doc_id, text, string_split(text, ' ') AS w FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, substr(md5(unnest(CASE WHEN len(w) >= 8
           THEN list_transform(range(len(w) - 7),
                i -> {" || ' ' || ".join(f"w[i+{k + 1}]" for k in range(8))})
           ELSE [text] END)), 1, 16) AS h
  FROM base
),
bench AS (SELECT DISTINCT h FROM sh WHERE doc_id % 50 = 0),
train AS (SELECT doc_id, h FROM sh WHERE doc_id % 50 <> 0)
SELECT t.doc_id, count(*) AS n_contaminated_grams
FROM train t JOIN bench b ON t.h = b.h
GROUP BY t.doc_id
"""


def q_dedup_simhash(spark, sf_dir):
    """SimHash-16 bucket census over the twin corpus: 16-bit fingerprint
    exact-collision buckets with member lists
    (operators/dedup.simhash_buckets); the 64-bit banded variant is the
    scale path (dedup_simhash64)."""
    b = D.simhash_buckets(_corpus(spark, sf_dir))
    return b.select(
        "simhash", "n_docs",
        F.array_join(F.transform("doc_ids", lambda x: x.cast("string")),
                     ",").alias("doc_ids_csv"))


ORACLE_DEDUP_SIMHASH = _simhash_oracle()


def q_dedup_simhash64(spark, sf_dir):
    """The scale-path simhash: 64-bit fingerprint, 4x16-bit band equi-joins,
    pair output (no per-bucket membership arrays)."""
    return D.simhash64_pairs(_corpus(spark, sf_dir), max_hamming=8)


ORACLE_DEDUP_SIMHASH64 = _simhash64_oracle()


def q_dedup_simhash_star(spark, sf_dir):
    """STAR-collapsed 64-bit simhash near-dup edges — the production
    form of dedup_simhash64 at high exact-duplication (the round-5 sf10
    soak measured the clique form at 423M pairs / 21 GB spill on a
    100-way-duplicated corpus): identical fingerprints collapse to a
    min-id representative (linear 'exact' edges, hamming 0), the 4-band
    join then runs over DISTINCT signatures only ('near' edges).
    Components are identical to the clique form's — identical texts
    have identical signatures, so intra-cluster hamming is 0 and the
    star spans the same component (union-find equality asserted in
    tests/test_phash_star.py's simhash twin). Same-input sf10 check:
    no spill, output linear in duplicates (BENCH.md)."""
    return D.simhash64_star_pairs(_corpus(spark, sf_dir), max_hamming=8)


ORACLE_DEDUP_SIMHASH_STAR = _simhash64_star_oracle()


def q_dedup_minhash_star(spark, sf_dir):
    """STAR-collapsed MinHash-LSH near-dup edges — completes the star
    trilogy (phash/simhash/minhash). Safe for minhash because the pair
    score is the SIGNATURE-estimate jaccard (#matching slots / 16):
    identical signatures estimate 1.0 pairwise, so collapsing them to a
    min-id representative ('exact' edges, linear) and band-joining only
    DISTINCT signatures ('near' edges between reps) spans exactly the
    clique form's components (operators/dedup.minhash_star_pairs;
    union-find equality asserted in tests/test_phash_star.py)."""
    return D.minhash_star_pairs(_corpus(spark, sf_dir), threshold=0.5)


ORACLE_DEDUP_MINHASH_STAR = _minhash_star_oracle()


def q_dedup_ngram_jaccard(spark, sf_dir):
    """Word-3-gram Jaccard pairs at >=0.6 with the hot-shingle df cap —
    a shingle in more than max_df docs is dropped before the self-join,
    bounding fan-out at max_df^2 per shingle
    (operators/dedup.ngram_jaccard_pairs)."""
    # max_df: hot-shingle guard — a shingle in > max_df docs is dropped from
    # every shingle set before the self-join (bounds join fan-out at
    # max_df^2 per shingle); the oracle applies the identical cap
    return D.ngram_jaccard_pairs(_corpus(spark, sf_dir), threshold=0.6,
                                 max_df=_NGRAM_MAX_DF)


ORACLE_DEDUP_NGRAM = f"""
WITH {_CORPUS_SQL},
{_shingle_sql(3)},
dsh0 AS (SELECT DISTINCT doc_id, shingle FROM sh),
keep AS (SELECT shingle FROM dsh0 GROUP BY shingle
         HAVING count(*) <= {_NGRAM_MAX_DF}),
dsh AS (SELECT doc_id, dsh0.shingle FROM dsh0 JOIN keep USING (shingle)),
sizes AS (SELECT doc_id, count(*) AS n FROM dsh GROUP BY doc_id),
common AS (
  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS n_common
  FROM dsh x JOIN dsh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
  GROUP BY 1, 2)
SELECT doc_a, doc_b,
       round(n_common / (na.n + nb.n - n_common), 4) AS jaccard
FROM common
JOIN sizes na ON na.doc_id = doc_a
JOIN sizes nb ON nb.doc_id = doc_b
WHERE round(n_common / (na.n + nb.n - n_common), 4) >= 0.6
"""


ORACLE_DEDUP_MINHASH_EVAL = _minhash_eval_oracle()


def q_dedup_embedding_cosine(spark, sf_dir):
    """Embedding-cosine near-dup (the dedup-family ANN variant): the
    fixture embeddings are near-random (all pairwise cosines < 0.7), so
    the query synthesizes near-duplicates deterministically — each
    vec_id < 200 gains a +100000 twin d[i] = e[i] + 0.4*e[(i+1) % dim]
    (cosine ~0.93) — then finds all pairs sharing a hyperplane-LSH
    bucket in any table with exact cosine >= 0.85. The oracle replays
    the same perturbation, plane literals, bucket joins, and threshold,
    so the approximate operator is checked EXACTLY."""
    dim = _LSH_DIM
    emb = _t(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double"))
        .alias("embedding"))
    idx = F.sequence(F.lit(0), F.lit(dim - 1))
    dup = emb.filter(F.col("vec_id") < 200).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(idx, lambda i: (
            F.element_at("embedding", (i + 1).cast("int")).cast("double")
            + F.lit(0.4) * F.element_at(
                "embedding",
                ((i + 1) % dim + 1).cast("int")).cast("double")))
        .alias("embedding"))
    allv = base.unionByName(dup)
    return SIM.embedding_near_dup_pairs(
        allv, threshold=0.85, n_planes=_LSH_PLANES, n_tables=_LSH_TABLES,
        dim=dim).select("id_a", "id_b")


ORACLE_DEDUP_EMBEDDING = _near_dup_oracle()


def q_dedup_semantic(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023) over the embeddings table with the
    same deterministic +100000 near-duplicate twins as
    ``dedup_embedding_cosine``: nearest-centroid cell assignment, pairs
    compared WITHIN a cell only, drop-if-smaller-id-partner. The oracle
    bakes identical centroid literals, so the approximate clustering is
    checked exactly."""
    dim = _IVF_DIM
    emb = _t(spark, sf_dir, "embeddings")
    idx = F.sequence(F.lit(0), F.lit(dim - 1))
    dup = emb.filter(F.col("vec_id") < 200).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(idx, lambda i: (
            F.element_at("embedding", (i + 1).cast("int")).cast("double")
            + F.lit(0.4) * F.element_at(
                "embedding",
                ((i + 1) % dim + 1).cast("int")).cast("double")))
        .alias("embedding"))
    allv = (emb.select("vec_id",
                       F.transform("embedding", lambda x: x.cast("double"))
                       .alias("embedding"))
            .unionByName(dup))
    return SIM.semantic_dedup(allv, threshold=_SEM_TAU,
                              n_centroids=_SEM_CENTROIDS, dim=dim)


ORACLE_DEDUP_SEMANTIC = _semdedup_oracle()


def q_dedup_containment(spark, sf_dir):
    """Shingle CONTAINMENT near-dup pairs — the asymmetric complement to
    Jaccard (Broder's c(A,B) = |A inter B| / |A|): catches a short doc
    quoted inside a longer one, which symmetric Jaccard dilutes below
    threshold. Same bucketed shape as dedup_ngram_jaccard (distinct
    3-shingles, hot-shingle max_df cap, ONE self-equi-join on shingle)
    but ORDERED pairs normalized by the left side's set size
    (operators/dedup.containment_pairs)."""
    return D.containment_pairs(_corpus(spark, sf_dir), threshold=0.8,
                               max_df=_NGRAM_MAX_DF)


ORACLE_DEDUP_CONTAINMENT = f"""
WITH {_CORPUS_SQL},
{_shingle_sql(3)},
dsh0 AS (SELECT DISTINCT doc_id, shingle FROM sh),
keep AS (SELECT shingle FROM dsh0 GROUP BY shingle
         HAVING count(*) <= {_NGRAM_MAX_DF}),
dsh AS (SELECT doc_id, dsh0.shingle FROM dsh0 JOIN keep USING (shingle)),
sizes AS (SELECT doc_id, count(*) AS n FROM dsh GROUP BY doc_id),
common AS (
  SELECT x.doc_id AS doc_id, y.doc_id AS contained_in, count(*) AS n_common
  FROM dsh x JOIN dsh y ON x.shingle = y.shingle AND x.doc_id <> y.doc_id
  GROUP BY 1, 2)
SELECT doc_id, contained_in,
       round(n_common / na.n, 4) AS containment
FROM common JOIN sizes na USING (doc_id)
WHERE round(n_common / na.n, 4) >= 0.8
"""


def q_dedup_lsh_bucket_audit(spark, sf_dir):
    """Band-bucket fan-out audit for the MinHash-LSH dedup path — the
    operability row that tells you whether the banded join is about to
    explode (the LSH twin of embeddings_cell_balance for IVF): per
    band, the bucket census (buckets, singleton buckets, max bucket)
    and the exact candidate-join cost Sum(size*(size-1)/2) — the
    number the 100 TB run budgets BEFORE launching the self-join.

    Plan/scale: signatures are the production operator's own
    (D.minhash_signatures — interface pinned); per band ONE census
    agg over (band, bucket_key); output is 4 rows."""
    sig = D.minhash_signatures(_corpus(spark, sf_dir))
    parts = []
    for b in range(D.N_BANDS):
        buckets = (sig.groupBy(F.col(f"b{b}").alias("bk"))
                   .agg(F.count(F.lit(1)).alias("sz")))
        parts.append(buckets.agg(
            F.lit(b).alias("band"),
            F.count(F.lit(1)).cast("long").alias("n_buckets"),
            F.sum("sz").cast("long").alias("n_docs"),
            F.max("sz").cast("long").alias("max_bucket"),
            F.sum((F.col("sz") == 1).cast("int")).cast("long")
            .alias("n_singletons"),
            F.sum(F.expr("sz * (sz - 1) DIV 2")).cast("long")
            .alias("join_cost")))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


ORACLE_DEDUP_LSH_BUCKET_AUDIT = _lsh_bucket_audit_oracle()


def q_dedup_cdc_chunks(spark, sf_dir):
    """Content-defined chunking (the LBFS/restic rolling-boundary
    primitive) for sub-document storage dedup: a chunk boundary falls
    after every 8-char window whose md5 starts with '0' (expected
    chunk ~16 chars — boundaries move WITH the content, so an
    insertion early in a doc re-chunks only its neighborhood, unlike
    fixed-size blocks), chunks are digested, and the cross-corpus
    digest census reports every chunk stored more than once. Over the
    twin corpus the shared chunks between original and near-dup twin
    are exactly what CDC exists to find.

    Exactness: boundaries and digests are md5-based (bit-identical
    engines); chunk extraction is a lag window over cut positions.

    Plan/scale: the per-char window explode is the demo form (chars x
    docs rows); at 100 TB the identical boundary rule runs as a
    mapInPandas kernel per doc (one pass, no explode) feeding the same
    digest census — the census join is the only shuffle either way."""
    c = _corpus(spark, sf_dir).filter(F.col("text").isNotNull())
    pos = c.select(
        "doc_id", "text",
        F.explode(F.sequence(
            F.lit(0), F.greatest(F.length("text") - 8, F.lit(0))))
        .alias("p"))
    bnd = (pos.filter(
        (F.length("text") >= 8)
        & (F.substring(F.md5(F.expr("substr(text, p + 1, 8)")), 1, 1)
           == "0"))
        .select("doc_id", (F.col("p") + 8).alias("cut")))
    cuts = (bnd.select("doc_id", "cut")
            .unionByName(c.select("doc_id",
                                  F.length("text").alias("cut")))
            .distinct())
    w = Window.partitionBy("doc_id").orderBy("cut")
    chunks = (cuts
              .withColumn("prev", F.coalesce(
                  F.lag("cut").over(w), F.lit(0)))
              .filter(F.col("cut") > F.col("prev"))
              .join(c, "doc_id")
              .select("doc_id", F.col("prev").alias("chunk_start"),
                      (F.col("cut") - F.col("prev")).alias("chunk_len"),
                      F.md5(F.expr(
                          "substr(text, prev + 1, cut - prev)"))
                      .alias("digest")))
    return (chunks.groupBy("digest")
            .agg(F.count(F.lit(1)).cast("long").alias("n_chunks"),
                 F.countDistinct("doc_id").cast("long").alias("n_docs"),
                 F.max("chunk_len").cast("long").alias("chunk_len"))
            .filter(F.col("n_docs") > 1))


ORACLE_DEDUP_CDC_CHUNKS = f"""
WITH {_CORPUS_SQL},
pos AS (
  SELECT doc_id, text,
         unnest(range(greatest(length(text) - 8, 0) + 1)) AS p
  FROM corpus WHERE text IS NOT NULL),
bnd AS (
  SELECT doc_id, p + 8 AS cut FROM pos
  WHERE length(text) >= 8
    AND substr(md5(substr(text, CAST(p + 1 AS INT), 8)), 1, 1) = '0'),
cuts AS (
  SELECT doc_id, CAST(cut AS BIGINT) AS cut FROM bnd
  UNION
  SELECT doc_id, CAST(length(text) AS BIGINT)
  FROM corpus WHERE text IS NOT NULL),
ck AS (
  SELECT doc_id, cut,
         coalesce(lag(cut) OVER (PARTITION BY doc_id ORDER BY cut), 0)
           AS prev
  FROM cuts),
chunks AS (
  SELECT ck.doc_id, cut - prev AS chunk_len,
         md5(substr(c2.text, CAST(prev + 1 AS INT),
                    CAST(cut - prev AS INT))) AS digest
  FROM ck JOIN corpus c2 ON c2.doc_id = ck.doc_id
  WHERE cut > prev)
SELECT digest, CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(max(chunk_len) AS BIGINT) AS chunk_len
FROM chunks GROUP BY digest HAVING count(DISTINCT doc_id) > 1
"""


def q_dedup_lsh_tuning(spark, sf_dir):
    """MinHash-LSH band/row TUNING table — the S-curve
    p(candidate | s) = 1 - (1 - s^r)^b for every (b, r) split of a
    16-hash signature, evaluated on the 5%-step similarity grid,
    plus each split's measured 50% crossover gridpoint (the
    threshold the split actually enforces). This is the table an
    operator reads to pick dedup_minhash_lsh's banding for a target
    Jaccard threshold instead of folklore.

    Exactness: powers are UNROLLED squaring chains (x2 = x*x,
    x4 = x2*x2, ...) — every step is a single IEEE-754 double
    multiply, which both engines are required to round identically,
    so p is bit-deterministic WITHOUT any libm pow() (whose last-ulp
    behavior is implementation-defined). s = i/20.0 is exact (both
    operands representable), and p is emitted in round-to-1e-6
    integer units.

    Plan/scale: a 4x19-row literal explode, zero shuffles except the
    per-split window for the crossover — a constant-size planning
    row at any corpus size."""
    splits = F.array(*[
        F.struct(F.lit(b).alias("b"), F.lit(r).alias("r"))
        for b, r in [(16, 1), (8, 2), (4, 4), (2, 8)]])
    grid = (spark.range(1, 20)
            .select(F.col("id").cast("int").alias("i"))
            .withColumn("sp", F.explode(splits))
            .select("i", F.col("sp.b").alias("b"), F.col("sp.r").alias("r")))
    x = F.col("i") / F.lit(20.0)

    def powc(base, e):
        # unrolled squaring: e in {1,2,4,8,16}; fixed association order
        out = base
        while e > 1:
            out = out * out
            e //= 2
        return out

    xr = (F.when(F.col("r") == 1, powc(x, 1))
          .when(F.col("r") == 2, powc(x, 2))
          .when(F.col("r") == 4, powc(x, 4))
          .otherwise(powc(x, 8)))
    y = F.lit(1.0) - xr
    yb = (F.when(F.col("b") == 16, powc(y, 16))
          .when(F.col("b") == 8, powc(y, 8))
          .when(F.col("b") == 4, powc(y, 4))
          .otherwise(powc(y, 2)))
    p = F.lit(1.0) - yb
    rows = grid.withColumn("p_ppm", F.round(p * 1e6).cast("long"))
    w = Window.partitionBy("b", "r")
    return (rows
            .withColumn("s_star_pct",
                        F.min(F.when(F.col("p_ppm") >= 500000,
                                     F.col("i") * 5)).over(w)
                        .cast("int"))
            .select((F.col("i") * 5).cast("int").alias("s_pct"),
                    "b", "r", "p_ppm", "s_star_pct"))


ORACLE_DEDUP_LSH_TUNING = f"""
WITH grid AS (
  SELECT CAST(i AS INT) AS i, sp.b, sp.r
  FROM range(1, 20) t(i), UNNEST([
    {{'b': 16, 'r': 1}}, {{'b': 8, 'r': 2}},
    {{'b': 4, 'r': 4}}, {{'b': 2, 'r': 8}}]) AS u(sp)),
px AS (
  SELECT i, b, r,
         CASE WHEN r = 1 THEN {_sq_sql('(i / 20.0)', 1)}
              WHEN r = 2 THEN {_sq_sql('(i / 20.0)', 2)}
              WHEN r = 4 THEN {_sq_sql('(i / 20.0)', 4)}
              ELSE {_sq_sql('(i / 20.0)', 8)} END AS xr
  FROM grid),
pp AS (
  SELECT i, b, r,
         CAST(round((1.0 - CASE WHEN b = 16 THEN {_sq_sql('(1.0 - xr)', 16)}
                                WHEN b = 8 THEN {_sq_sql('(1.0 - xr)', 8)}
                                WHEN b = 4 THEN {_sq_sql('(1.0 - xr)', 4)}
                                ELSE {_sq_sql('(1.0 - xr)', 2)} END)
                    * 1000000.0) AS BIGINT) AS p_ppm
  FROM px)
SELECT CAST(i * 5 AS INT) AS s_pct, b, r, p_ppm,
       CAST(MIN(CASE WHEN p_ppm >= 500000 THEN i * 5 END)
            OVER (PARTITION BY b, r) AS INT) AS s_star_pct
FROM pp
"""


def q_dedup_spotsigs(spark, sf_dir):
    """SpotSigs near-dup pairs (Theobald, Siddharth & Paepcke, SIGIR
    2008) — the published dedup algorithm the family was missing:
    signatures are stopword-ANCHORED chains (anchor + next 2
    non-stopword tokens), which survive ad/navigation churn that
    shifts every plain shingle; exact Jaccard over the distinct
    signature sets by the same bucketed self-equi-join shape as
    dedup_ngram_jaccard. Runs over the shared twin-injected corpus so
    deterministic positives exist; threshold 0.4 on the 4dp-rounded
    score.

    Plan/scale: signature extraction is pure array codegen (no
    Python); the only wide op is the signature equi-join, fan-out
    bounded per signature by document frequency (cap available via
    max_df exactly like the shingle path)."""
    return D.spotsigs_pairs(_corpus(spark, sf_dir), threshold=0.4)

ORACLE_DEDUP_SPOTSIGS = f"""
WITH {_CORPUS_SQL},
{_SPOTSIG_SQL},
sizes AS (SELECT doc_id, count(*) AS sz FROM dsig GROUP BY doc_id),
inter AS (
  SELECT x.doc_id AS a, y.doc_id AS b, CAST(count(*) AS BIGINT) AS inter
  FROM dsig x JOIN dsig y ON x.sig = y.sig AND x.doc_id < y.doc_id
  GROUP BY 1, 2)
SELECT a, b, inter,
       CAST(sa.sz AS BIGINT) AS sza, CAST(sb.sz AS BIGINT) AS szb,
       round(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 4)
         AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = inter.a
JOIN sizes sb ON sb.doc_id = inter.b
WHERE round(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 4) >= 0.4
"""


def q_dedup_minhash_1bit(spark, sf_dir):
    """b-bit minwise hashing at b=1 (Li & Koenig, WWW 2010) — the
    storage-collapsed variant of the minhash family the repo already
    carries (64x smaller signatures than 64-bit minhash; the price
    is the bias the estimator must UNDO: two random sets agree on a
    1-bit minhash half the time, so J ~= 2·(match_rate) - 1,
    clamped at 0): per doc a 16-fn signature is computed entirely in
    the array domain (token hash = first 8 md5 hex digits; fn j =
    (h·(2j+3)+7j+1) mod P; bit = parity of the min), orig/twin
    pairs compare bitwise, and the debiased estimate in ppm sits
    next to the EXACT word-set Jaccard for the error column.

    Plan/scale: signatures are map-side array codegen (no explode,
    no shuffle until the pair join); the pair join is the same
    (pair)-keyed equi-join every dedup row pays."""
    corpus = _corpus(spark, sf_dir)
    hs = ("transform(filter(split(lower(text), ' '), x -> x <> ''), "
          "t -> cast(conv(substr(md5(t), 1, 8), 16, 10) as bigint))")
    sig = (f"transform(sequence(0, 15), j -> "
           f"array_min(transform({hs}, "
           f"h -> (h * (2 * j + 3) + 7 * j + 1) % 2147483647)) % 2)")
    toks = ("array_distinct(filter(split(lower(text), ' '), "
            "x -> x <> ''))")
    base = corpus.select(
        "doc_id", F.expr(sig).alias("sig"), F.expr(toks).alias("tk"))
    ref = (base.filter((F.col("doc_id") < 100000)
                       & (F.col("doc_id") % 2 == 0))
           .select(F.col("doc_id").alias("pair"),
                   F.col("sig").alias("sig_a"),
                   F.col("tk").alias("tk_a")))
    cand = (base.filter(F.col("doc_id") >= 100000)
            .select((F.col("doc_id") - 100000).alias("pair"),
                    F.col("sig").alias("sig_b"),
                    F.col("tk").alias("tk_b")))
    j = ref.join(cand, "pair")
    match = F.expr("size(filter(zip_with(sig_a, sig_b, "
                   "(x, y) -> x = y), b -> b))").cast("long")
    inter = F.expr("cast(size(tk_a) + size(tk_b) - "
                   "size(array_distinct(concat(tk_a, tk_b))) "
                   "as bigint)")
    union = F.expr("cast(size(array_distinct(concat(tk_a, tk_b))) "
                   "as bigint)")
    out = j.select(F.col("pair").alias("doc_id"),
                   match.alias("n_match_bits"),
                   inter.alias("n_inter"), union.alias("n_union"))
    return (out
            .withColumn("est_jaccard_ppm",
                        F.expr("greatest(0L, ((2 * n_match_bits - 16)"
                               " * 1000000) div 16)"))
            .withColumn("true_jaccard_ppm",
                        F.expr("(n_inter * 1000000) div n_union"))
            .withColumn("abs_err_ppm",
                        F.abs(F.col("est_jaccard_ppm")
                              - F.col("true_jaccard_ppm"))))


ORACLE_DEDUP_MINHASH_1BIT = f"""
WITH {_CORPUS_SQL},
base AS (
  SELECT doc_id,
         list_transform(range(16), j ->
           list_min(list_transform(
             list_filter(string_split(lower(text), ' '),
                         x -> x <> ''),
             t -> (CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT)
                   * (2 * j + 3) + 7 * j + 1) % 2147483647)) % 2)
           AS sig,
         list_distinct(list_filter(string_split(lower(text), ' '),
                                   x -> x <> '')) AS tk
  FROM corpus),
ref AS (
  SELECT doc_id AS pair, sig AS sig_a, tk AS tk_a
  FROM base WHERE doc_id < 100000 AND doc_id % 2 = 0),
cand AS (
  SELECT doc_id - 100000 AS pair, sig AS sig_b, tk AS tk_b
  FROM base WHERE doc_id >= 100000),
j AS (
  SELECT r.pair AS doc_id,
         CAST(len(list_filter(range(16),
              i -> r.sig_a[CAST(i + 1 AS INT)]
                   = c.sig_b[CAST(i + 1 AS INT)])) AS BIGINT)
           AS n_match_bits,
         CAST(len(r.tk_a) + len(c.tk_b)
              - len(list_distinct(list_concat(r.tk_a, c.tk_b)))
              AS BIGINT) AS n_inter,
         CAST(len(list_distinct(list_concat(r.tk_a, c.tk_b)))
              AS BIGINT) AS n_union
  FROM ref r JOIN cand c ON c.pair = r.pair)
SELECT doc_id, n_match_bits, n_inter, n_union,
       greatest(0, ((2 * n_match_bits - 16) * 1000000) // 16)
         AS est_jaccard_ppm,
       (n_inter * 1000000) // n_union AS true_jaccard_ppm,
       abs(greatest(0, ((2 * n_match_bits - 16) * 1000000) // 16)
           - (n_inter * 1000000) // n_union) AS abs_err_ppm
FROM j
"""


def q_seen_bloom_sizing(spark, sf_dir):
    """Bloom URL-seen SHARD capacity planning — the ops row behind the
    north-star's partitioned Bloom filter (operators/bloom.py): per
    shard, the achieved false-positive rate of the current
    fixed allocation and the power-of-two reallocation that restores the
    1% target. Hosts follow the hub-plus-tail split (hub keys collapse
    into shards 0-6, doubling their load) so the skew actually drives
    shards over budget at sf>=0.01. Formulas are the standard Bloom
    algebra with k=7 hashes: achieved_fpr = (1 - e^(-k*n/m))^k;
    required bits m = ceil(9.585*n) (the -n*ln(0.01)/ln(2)^2 optimum,
    embedded as one literal so both engines compute the identical
    double), rounded up to a power of two as real allocators do. At
    10^10 URLs this is the table a frontier operator reads to decide
    shard splits — O(shards) rows, one aggregation, no data movement
    beyond the count."""
    key = F.col("o_orderkey")
    shard = (F.when(key % 4 < 2, key % 7)
             .otherwise(key % 48)).cast("long")
    alloc_bits = 4096.0
    n = F.col("n_keys").cast("double")
    fpr = F.pow(F.lit(1.0) - F.exp(F.lit(-7.0) * n / F.lit(alloc_bits)),
                F.lit(7.0))
    m_req = F.ceil(n * F.lit(9.585)).cast("bigint")
    rec_bits = F.pow(F.lit(2.0), F.ceil(F.log2(m_req.cast("double"))))
    return (_t(spark, sf_dir, "orders")
            .groupBy(shard.alias("shard"))
            .agg(F.count("*").alias("n_keys"))
            .select("shard", "n_keys",
                    F.lit(4096).cast("bigint").alias("alloc_bits"),
                    F.round(fpr, 6).alias("achieved_fpr"),
                    (fpr > 0.01).alias("over_budget"),
                    rec_bits.cast("bigint").alias("rec_bits"))
            .orderBy("shard"))


ORACLE_SEEN_BLOOM_SIZING = """
WITH keys AS (
  SELECT CASE WHEN o_orderkey % 4 < 2 THEN o_orderkey % 7
              ELSE o_orderkey % 48 END AS shard
  FROM orders
),
per AS (SELECT shard, count(*) AS n_keys FROM keys GROUP BY shard),
calc AS (
  SELECT shard, n_keys,
         power(1 - exp(-7.0 * n_keys / 4096.0), 7.0) AS fpr,
         CAST(ceil(n_keys * 9.585) AS BIGINT) AS m_req
  FROM per
)
SELECT shard, n_keys,
       CAST(4096 AS BIGINT) AS alloc_bits,
       round(fpr, 6) AS achieved_fpr,
       fpr > 0.01 AS over_budget,
       CAST(power(2, ceil(log2(CAST(m_req AS DOUBLE)))) AS BIGINT)
         AS rec_bits
FROM calc
ORDER BY shard
"""
