"""Similarity search over `embeddings` (array<float>, 64-dim) — the
LLM-pipeline ANN stage (driver mandate; SURVEY.md §2 Part B / §7.3 M5).

- brute-force cosine top-k: the exactness baseline. Dot products via
  zip_with + sequential aggregate so Spark and DuckDB (list_reduce) produce
  bit-identical doubles — floats are widened to double before any multiply.
- multi-table sign-LSH ANN: 4 hash tables × 4 sign bits, any-table
  collision qualifies a candidate (recall 0.56 vs 0 for a single 8-bit
  table on this near-orthogonal corpus). Deterministic, oracle-checkable.
- IVF ANN: coarse-quantizer inverted lists over fixed seed centroids with
  nprobe=2 probing — the partition-pruned scale path; deterministic, so
  also oracle-checkable.
- embedding near-duplicate pairs: broadcast-GEMM candidate selection with
  exact sequential re-scoring of the global top-20 closest pairs.

Scale notes: brute force is O(Q×N) — fine for a query batch against 100 TB
when Q is small and the corpus is partition-pruned; the LSH/IVF variants
are the default at scale (tests/test_queries.py pins their recall floors).
The per-vector norm is computed once (projection, no shuffle); candidate
generation shuffles on (table, bucket) / inverted-list keys only.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from octopusdb_spark.queries.common import session_memo_get, session_memo_put, t

TOP_K = 5
N_QUERIES = 5  # vec_id < 5 are the query vectors


def _dot(a, b) -> Column:
    """Sequential double-accumulated dot product — element order fixed, so
    the result is bit-identical across engines."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


_DOT_SQL = (
    "list_reduce(list_transform(list_zip({a}, {b}), p -> "
    "CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (s, x) -> s + x)"
)


def _with_norm(df: DataFrame) -> DataFrame:
    return df.withColumn("norm", F.sqrt(_dot(F.col("embedding"), F.col("embedding"))))


def _vec_block(nb):
    """The block (0 .. nb-1) a vector lands in for the block-pair
    fan-outs: a hash of ``vec_id`` mod ``nb`` (a Column or literal).
    Membership only has to be a deterministic function of the id;
    hashing keeps ids that share structure modulo ``nb`` (shard-encoded
    ids with fixed low bits) from collapsing into one block, which
    ``pmod(vec_id, nb)`` would do."""
    return F.pmod(F.xxhash64("vec_id"), nb).cast("int")


def rank_centroids(emb: DataFrame, cent: DataFrame, keep=(), with_ct: bool = False) -> DataFrame:
    """THE nearest-centroid ranking rule, shared by every IVF/PQ trainer,
    persistent index build, and one-shot ANN query: broadcast the K-row
    centroid frame (cent_id, ct_emb, ct_norm) across the vectors
    (vec_id, embedding, norm), cosine-score each pair with the
    bit-identical sequential dot, and rank per vector by
    (cos DESC, cent_id ASC) — the deterministic tie-break every DuckDB
    oracle CTE replicates. ``rn == 1`` is the assigned list; ``rn <=
    nprobe`` are the probe lists. ``keep`` carries extra input columns
    through; ``with_ct`` keeps the matched centroid vector (residual
    encoders subtract it). One definition, so a tie-break or cast change
    can never diverge between build-time and query-time assignment."""
    from pyspark.sql import Window

    scored = emb.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        *keep,
        "cent_id",
        *(("ct_emb",) if with_ct else ()),
        (
            _dot(F.col("embedding"), F.col("ct_emb"))
            / (F.col("norm") * F.col("ct_norm"))
        ).alias("cos"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos"), F.asc("cent_id"))
    return scored.withColumn("rn", F.row_number().over(w))


def assign_centroids(
    emb: DataFrame, cent: DataFrame, keep=(), with_ct: bool = False
) -> DataFrame:
    """``rank_centroids(...).filter(rn == 1)`` as a ``max_by`` AGGREGATION
    instead of a row_number window (r16 optimization, guide §2.3/§2.4):
    the same broadcast-K crossJoin scores each (vector, centroid) pair with
    the same bit-identical sequential dot, but the winner per vector is
    picked by ``max_by`` over the ordering struct (cos DESC ≡ max cos,
    cent_id ASC ≡ max of -cent_id) — EXACTLY the window's
    (desc cos, asc cent_id) tie-break, row for row (cent_id is unique per
    vector, so the winner is always unique). The aggregation has a
    map-side partial phase, so the shuffle carries ONE candidate row per
    vector instead of the K scored rows (and any ``keep`` payload — e.g.
    kmeans' 64-float embeddings — crosses the exchange once, not K times),
    and the window's per-partition sort disappears. Probe queries
    (rn <= nprobe) still use ``rank_centroids``, restricted to the bounded
    query batch."""
    payload = F.struct("cent_id", *(("ct_emb",) if with_ct else ()), *keep)
    best = (
        emb.crossJoin(F.broadcast(cent))
        .select(
            "vec_id",
            *keep,
            "cent_id",
            *(("ct_emb",) if with_ct else ()),
            (
                _dot(F.col("embedding"), F.col("ct_emb"))
                / (F.col("norm") * F.col("ct_norm"))
            ).alias("cos"),
        )
        .groupBy("vec_id")
        .agg(
            F.max_by(payload, F.struct(F.col("cos"), -F.col("cent_id"))).alias("e")
        )
    )
    return best.select(
        "vec_id",
        "e.cent_id",
        *(("e.ct_emb",) if with_ct else ()),
        *[F.col(f"e.{k}").alias(k) for k in keep],
    )


def _sign_bucket_slice(col, offset: int, nbits: int) -> Column:
    """Sign bits of coordinates [offset, offset+nbits) — one LSH table key."""
    total = F.lit(0)
    for i in range(nbits):
        total = total + F.when(
            F.element_at(col, offset + i + 1) >= 0, F.lit(1 << i)
        ).otherwise(F.lit(0))
    return total


def _sign_bucket_slice_sql(prefix: str, offset: int, nbits: int) -> str:
    return " + ".join(
        f"(CASE WHEN {prefix}.embedding[{offset + i + 1}] >= 0 THEN {1 << i} ELSE 0 END)"
        for i in range(nbits)
    )


def q_sim_topk_cosine(spark, sf_dir):
    """Brute-force cosine top-5 for each query vector (vec_id < 5) against
    the whole corpus — the exact baseline every ANN variant is judged by."""
    emb = _with_norm(t(spark, sf_dir, "embeddings"))
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("norm").alias("q_norm"),
    )
    c = emb.select(
        F.col("vec_id").alias("cand_id"),
        F.col("embedding").alias("c_emb"),
        F.col("norm").alias("c_norm"),
    )
    scored = (
        q.crossJoin(c)
        .filter(F.col("query_id") != F.col("cand_id"))
        .select(
            "query_id",
            "cand_id",
            (_dot(F.col("q_emb"), F.col("c_emb")) / (F.col("q_norm") * F.col("c_norm"))).alias(
                "cos"
            ),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "cand_id", "rank", F.round("cos", 6).alias("cosine"))
        .orderBy("query_id", "rank")
    )


def q_sim_ann_bucketed(spark, sf_dir):
    """Multi-table sign-LSH ANN: 4 hash tables, each keyed by the sign bits
    of 4 coordinates. A candidate qualifies if it collides with the query in
    ANY table — the standard L-tables LSH construction (a single 8-bit
    table gives 1/256 collision odds for weakly-similar vectors: recall ~0
    on a near-orthogonal corpus; 4 tables of 4 bits trade candidate volume
    for usable recall). Spark shape: posexplode to (table, bucket) keys →
    equi-join → distinct — never an OR-condition join (which would degrade
    to a nested loop)."""
    emb = _with_norm(t(spark, sf_dir, "embeddings")).withColumn(
        "buckets",
        F.array(*[_sign_bucket_slice(F.col("embedding"), tbl * 4, 4) for tbl in range(4)]),
    )
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("norm").alias("q_norm"),
        F.posexplode("buckets").alias("tbl", "bucket"),
    )
    c = emb.select(
        F.col("vec_id").alias("cand_id"),
        F.col("embedding").alias("c_emb"),
        F.col("norm").alias("c_norm"),
        F.posexplode("buckets").alias("tbl", "bucket"),
    )
    scored = (
        q.join(c, ["tbl", "bucket"])
        .filter(F.col("query_id") != F.col("cand_id"))
        .select(
            "query_id",
            "cand_id",
            (_dot(F.col("q_emb"), F.col("c_emb")) / (F.col("q_norm") * F.col("c_norm"))).alias(
                "cos"
            ),
        )
        .dropDuplicates(["query_id", "cand_id", "cos"])
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "cand_id", "rank", F.round("cos", 6).alias("cosine"))
        .orderBy("query_id", "rank")
    )


N_IVF_CENTROIDS = 8  # fixed seed centroids: vec_id 8..15
N_PROBE = 2


# q_sim_ann_ivf (untrained seed-centroid IVF, nprobe=2) was RETIRED in
# r14 (VERDICT r13 #2): its entire plan — seed quantizer over vec_id
# 8..15, rank_centroids assignment, probe -> inverted-list join -> exact
# re-score — is a strict subset of q_sim_ann_filtered below, which runs
# the same flow with a label predicate and a widened probe budget. The
# shared helpers (rank_centroids, _with_norm, the probe constants) stay
# oracle-covered through sim_ann_filtered / sim_ann_ivf_kmeans /
# sim_ann_persistent.


KMEANS_ITERS = 2
# Probe budget for the TRAINED IVF variants (sim_ann_ivf_kmeans /
# sim_ann_ivfpq) — the production recall floor (VERDICT r10 #3). The
# synthetic embeddings are near-uniform (no cluster structure), so IVF
# recall at test scale tracks the probed corpus fraction almost linearly:
# with K=8 lists, nprobe=2 reads ~25% of the corpus (recall ~0.36) and
# nprobe=6 reads ~75% (recall 0.84-0.92 measured at sf0.001/sf0.01).
# On a REAL corpus with cluster structure the same recall costs far
# fewer probes — K scales ~sqrt(N) and nprobe tunes recall-vs-I/O; the
# trade is documented in docs/SCALE.md. The untrained sim_ann_ivf keeps
# nprobe=2: it is the teaching baseline the trained variant is measured
# against (same seeds, same probe flow).
N_PROBE_TRAINED = 6


def kmeans_centroids(emb: DataFrame, init: DataFrame, iters: int = KMEANS_ITERS) -> DataFrame:
    """Deterministic Lloyd k-means: fixed init, fixed iteration count,
    cosine assignment with (desc cos, asc cent_id) tie-break, and centroid
    update as a per-dimension DECIMAL(38,12)-accumulated mean — exact and
    order-independent, so Spark and DuckDB converge to bit-identical
    centroids (the repo's standard cross-engine float discipline; see
    queries/common.py). Empty clusters drop out (both engines group only
    non-empty assignments). Scale shape per iteration: one broadcast
    crossJoin against K rows for assignment, one (cent_id, dim)-keyed agg
    for the update — never an all-pairs join; K rows localCheckpoint per
    round keeps the iterated plan flat.

    ``init``/result schema: (cent_id, ct_emb, ct_norm).
    """
    from pyspark.sql import Window

    cent = init
    rounds = []
    for _ in range(iters):
        asg = assign_centroids(emb, cent, keep=("embedding",))
        means = (
            asg.select("cent_id", F.posexplode("embedding").alias("dim", "x"))
            .groupBy("cent_id", "dim")
            .agg(
                (
                    F.sum(F.col("x").cast("double").cast("decimal(38,12)")).cast("double")
                    / F.count("*")
                ).alias("m")
            )
        )
        cent = (
            means.groupBy("cent_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("dim", "m"))), lambda s: s["m"]
                ).alias("ct_emb")
            )
            .withColumn("ct_norm", F.sqrt(_dot(F.col("ct_emb"), F.col("ct_emb"))))
            # lazy (r17, VERDICT r16 #4): the plan still truncates to a
            # LogicalRDD per round, but every round materializes inside
            # ONE job below instead of one eager blocking job each
            .localCheckpoint(eager=False)  # K rows; keeps the per-round plan flat
        )
        rounds.append(cent)
    if not rounds:  # iters == 0: nothing trained, nothing to materialize
        return cent
    # single materialization of the whole Lloyd chain; superseded rounds'
    # K-row blocks are released only AFTER it (unpersisting a lazy
    # checkpoint before its blocks exist would discard the marking)
    cent.count()
    for r in rounds[:-1]:
        r.unpersist()
    return cent


# Trained ANN structures, one per (session, sf_dir) — VERDICT r6 "What's
# wrong #1": sim_ann_ivf_kmeans / sim_ann_pq / sim_ann_ivfpq share the IVF
# centroids and the PQ codebooks but retrained them from scratch per gate
# run (the centroids twice, the codebooks twice). Training inputs are
# deterministic functions of the immutable parquet corpus, so memoizing the
# trained K-row / M*K-row frames (the `_CAPPED_SHINGLES_MEMO` pattern,
# stopped-session eviction included) changes no query's result — it removes
# redundant training jobs within one gate/bench run. At 100 TB the analog
# is training once via functions/ann_index.py::build_ivf/build_pq.
_TRAINED_ANN_MEMO: dict = {}


def trained_ivf_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared trained coarse quantizer: seed centroids (vec_id
    8..8+K) refined by KMEANS_ITERS Lloyd rounds — identical inputs in
    every caller, so one training per (session, sf_dir) serves them all.
    Result is the K-row localCheckpointed (cent_id, ct_emb, ct_norm)."""
    key = ("ivf_centroids", sf_dir)
    hit = session_memo_get(_TRAINED_ANN_MEMO, spark, key)
    if hit is not None:
        return hit
    emb = _with_norm(t(spark, sf_dir, "embeddings"))
    init = emb.filter(
        (F.col("vec_id") >= 8) & (F.col("vec_id") < 8 + N_IVF_CENTROIDS)
    ).select(
        F.col("vec_id").alias("cent_id"),
        F.col("embedding").alias("ct_emb"),
        F.col("norm").alias("ct_norm"),
    )
    cent = kmeans_centroids(emb, init, iters=KMEANS_ITERS)
    return session_memo_put(_TRAINED_ANN_MEMO, spark, key, cent)


def q_sim_ann_ivf_kmeans(spark, sf_dir):
    """IVF ANN over TRAINED centroids: the seed centroids of `sim_ann_ivf`
    (vec_id 8..15) refined by 2 deterministic Lloyd iterations before the
    inverted lists are built — the production IVF lifecycle (train coarse
    quantizer, assign, probe) with every step oracle-checkable. Probe flow
    is identical to sim_ann_ivf but at the production probe budget
    (N_PROBE_TRAINED lists per query; recall floor 0.8 pinned in tests),
    exact re-score of candidates only."""
    from pyspark.sql import Window

    emb = _with_norm(t(spark, sf_dir, "embeddings"))
    cent = trained_ivf_centroids(spark, sf_dir)
    # assignment: max_by agg over the corpus (no window sort, 1/K the
    # shuffle); probe ranking: window over the bounded query batch only
    assigned = assign_centroids(emb, cent).select("vec_id", "cent_id")
    probes = rank_centroids(emb.filter(F.col("vec_id") < N_QUERIES), cent).filter(
        F.col("rn") <= N_PROBE_TRAINED
    ).select(F.col("vec_id").alias("query_id"), "cent_id")
    cands = (
        probes.join(assigned, "cent_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("cand_id"))
        .distinct()
    )
    # only query vectors reach the broadcast side — hinting the full
    # corpus would be the forced-big-side-broadcast OOM class at scale
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("norm").alias("q_norm"),
    )
    c = emb.select(
        F.col("vec_id").alias("cand_id"),
        F.col("embedding").alias("c_emb"),
        F.col("norm").alias("c_norm"),
    )
    scored = (
        cands.join(F.broadcast(q), "query_id")
        .join(c, "cand_id")
        .select(
            "query_id",
            "cand_id",
            (_dot(F.col("q_emb"), F.col("c_emb")) / (F.col("q_norm") * F.col("c_norm"))).alias(
                "cos"
            ),
        )
    )
    w_q = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w_q))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "cand_id", "rank", F.round("cos", 6).alias("cosine"))
        .orderBy("query_id", "rank")
    )


# Product quantization: M subspaces x K codewords. Codebooks are TRAINED:
# seed codewords (the subvectors of vec_id 16..31 — deterministic, like the
# IVF seeds) refined by PQ_TRAIN_ITERS deterministic Lloyd rounds per
# subspace under L2 (the PQ objective), with the same DECIMAL(38,12)
# per-dimension mean discipline as `kmeans_centroids`, so the DuckDB oracle
# replicates training bit-for-bit.
PQ_M = 8  # subspaces (64 dims / 8)
PQ_K = 16  # codewords per subspace (raw-vector chain: sim_ann_pq)
# Residual chain (sim_ann_ivfpq) trains a 32-entry codebook per subspace:
# residuals concentrate near the origin, so the extra 16 codewords buy
# real resolution where the mass is (VERDICT r11 #5 — measured recall
# 0.68 -> 0.76 at the old 50-row shortlist, 0.88 with 100). Seeds are
# vec_id 16..48 under the same id rule; 5-bit codes still pack fine.
IVFPQ_K = 32
PQ_SUB = 8  # dims per subspace
PQ_SHORTLIST = 50  # ADC shortlist size fed to the exact re-rank
PQ_TRAIN_ITERS = 2  # Lloyd rounds per subspace (matches KMEANS_ITERS)
# Codebooks train on a deterministic 1-in-N corpus sample (vec_id % N == 1):
# quantizer quality needs a representative sample, not the corpus — at the
# 100 TB design point full-corpus Lloyd rounds would dominate the build for
# no recall gain, so sampling IS the production shape, and the modulo rule
# keeps the oracle bit-replicable.
PQ_TRAIN_SAMPLE_MOD = 4


def _l2sq(a, b) -> Column:
    """Sequential double-accumulated squared L2 — bit-identical cross-engine
    (same discipline as _dot)."""
    diffs = F.zip_with(
        a, b, lambda x, y: (x.cast("double") - y.cast("double")) * (x.cast("double") - y.cast("double"))
    )
    return F.aggregate(diffs, F.lit(0.0), lambda acc, x: acc + x)


_L2SQ_SQL = (
    "list_reduce(list_transform(list_zip({a}, {b}), p -> "
    "(CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))), "
    "(s, x) -> s + x)"
)


def pq_train_codebooks(subvecs: DataFrame, init: DataFrame, iters: int = PQ_TRAIN_ITERS) -> DataFrame:
    """Per-subspace Lloyd k-means under L2 — `kmeans_centroids`' discipline
    applied independently in each of the M subspaces (Jegou et al. train PQ
    codebooks exactly this way): fixed init, fixed iteration count,
    assignment by (asc squared-L2, asc code), and codeword update as a
    per-(m, code, dim) DECIMAL(38,12)-accumulated mean — order-independent,
    so Spark and DuckDB converge to bit-identical codebooks. Empty codes
    drop out of the update (both engines group only non-empty assignments).

    Scale shape per iteration: the codebook is M*K tiny rows (broadcast);
    assignment is one pass over the exploded subvectors with a
    (vec_id, m)-keyed rank; the update is a (m, code, dim)-keyed narrow agg
    — never an all-pairs join. M*K rows localCheckpoint per round keeps the
    iterated plan flat.

    ``subvecs``: (vec_id, m, sv); ``init``/result schema: (m, code, cw).
    """
    from pyspark.sql import Window

    # The training set is a bounded sample by contract (callers pass the
    # 1-in-N id sample, never the raw corpus) — materialize it once so the
    # source scan + subvector explode doesn't recompute every Lloyd round,
    # and release it (plus each superseded round's codebook blocks) once
    # the final codebook is materialized: nothing from training stays
    # pinned in executor storage except the M*K-row result.
    subvecs = subvecs.localCheckpoint(eager=True)
    codebook = init
    rounds = []
    for _ in range(iters):
        # nearest codeword per (vec, subspace) via min_by agg, not a
        # row_number window (r16, guide §2.3/§2.4): min over the ordering
        # struct (d2 ASC, code ASC) is the window's exact tie-break — the
        # winner is unique (code is unique per (vec, m)) — and the partial
        # agg collapses the K scored rows map-side instead of sorting and
        # shuffling all of them.
        asg = (
            subvecs.join(F.broadcast(codebook), "m")
            .select("vec_id", "m", "sv", "code", _l2sq(F.col("sv"), F.col("cw")).alias("d2"))
            .groupBy("vec_id", "m")
            .agg(F.min_by(F.struct("code", "sv"), F.struct("d2", "code")).alias("e"))
            .select(
                "vec_id", "m",
                F.col("e.code").alias("code"), F.col("e.sv").alias("sv"),
            )
        )
        means = (
            asg.select("m", "code", F.posexplode("sv").alias("dim", "x"))
            .groupBy("m", "code", "dim")
            .agg(
                (
                    F.sum(F.col("x").cast("double").cast("decimal(38,12)")).cast("double")
                    / F.count("*")
                ).alias("mu")
            )
        )
        codebook = (
            means.groupBy("m", "code")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("dim", "mu"))), lambda s: s["mu"]
                ).alias("cw")
            )
            # lazy (r17, VERDICT r16 #4): plan still truncates per round,
            # all rounds materialize inside ONE job below
            .localCheckpoint(eager=False)  # M*K rows; keeps the per-round plan flat
        )
        rounds.append(codebook)
    if rounds:
        # single materialization of the whole Lloyd chain; the training
        # set and superseded rounds' M*K-row blocks are released only
        # AFTER it (unpersisting a lazy checkpoint before its blocks
        # exist would discard the marking, and subvecs' blocks feed every
        # round until then)
        codebook.count()
        for r in rounds[:-1]:
            r.unpersist()
    subvecs.unpersist()
    # Dense re-code: an emptied cluster leaves a gap in the code sequence,
    # but downstream ADC indexes the lookup table POSITIONALLY
    # (element_at(lut[m], code)), so surviving codes must be 1..K' dense.
    # Deterministic (row_number over the surviving code order, M partitions)
    # and a no-op when nothing dropped.
    w_dense = Window.partitionBy("m").orderBy("code")
    return codebook.withColumn("code", F.row_number().over(w_dense))


def _explode_subvecs(df: DataFrame, vec_col: str) -> DataFrame:
    """(vec_id, norm, m, sv): the PQ subspace explode of any vector column
    — raw embeddings and IVF residuals share this one definition."""
    sub = lambda col, m: F.slice(col, m * PQ_SUB + 1, PQ_SUB)
    return df.select(
        "vec_id",
        "norm",
        F.explode(
            F.array(*[
                F.struct(F.lit(m).alias("m"), sub(F.col(vec_col), m).alias("sv"))
                for m in range(PQ_M)
            ])
        ).alias("e"),
    ).select("vec_id", "norm", "e.m", "e.sv")


def pq_seed_and_subvecs(emb: DataFrame):
    """Shared PQ prep for the ad-hoc ANN queries: the exploded
    (vec_id, norm, m, sv) subvector frame and the deterministic seed
    codebook (m, code, cw) — codes 1..K from the subvectors of vec_id
    16..16+K. One definition keeps q_sim_ann_pq / q_sim_ann_ivfpq and
    their oracle CTE chains in lockstep (the index-build analog is
    `functions/ann_index.py::_subspaces`)."""
    sub = lambda col, m: F.slice(col, m * PQ_SUB + 1, PQ_SUB)
    subvecs = _explode_subvecs(emb, "embedding")
    seeds = emb.filter((F.col("vec_id") >= 16) & (F.col("vec_id") < 16 + PQ_K))
    seed_codebook = seeds.select(
        (F.col("vec_id") - 15).cast("int").alias("code"),
        F.explode(
            F.array(*[
                F.struct(F.lit(m).alias("m"), sub(F.col("embedding"), m).alias("cw"))
                for m in range(PQ_M)
            ])
        ).alias("e"),
    ).select("e.m", "code", "e.cw")
    return subvecs, seed_codebook


def _residual_of(emb_col, cent_col):
    """v - c as array<double> — exact in both engines (float->double cast
    then double subtraction), so residual codes hash-match cross-engine."""
    return F.zip_with(
        emb_col, cent_col, lambda x, y: x.cast("double") - y.cast("double")
    )


def trained_residual_pq_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual PQ codebooks for IVF-PQ (m, code, cw): codewords fit the
    RESIDUAL distribution v - c(v) against the trained coarse quantizer —
    residuals concentrate around the origin, so the same 8-byte code
    budget quantizes them far more finely than raw vectors (Jegou et al.,
    the standard IVF-PQ refinement; VERDICT r6 #5). Seeds are the
    residual subvectors of vec_id 16..16+IVFPQ_K (the raw chain's id rule
    applied post-subtraction, at the residual path's own K=32 — VERDICT
    r11 #5: quantization loss, not probe coverage, was the recall gap,
    and doubling the residual codebook is the direct lever; measured
    0.68 -> 0.88 together with the 100-row shortlist at sf0.01);
    training runs the identical per-subspace Lloyd discipline over the
    1-in-N id sample's residuals, bit-replicated in DuckDB. Memoized per
    (session, sf_dir) like every trained ANN structure; the assignment
    here touches ONLY the sample + seed ids (broadcast-K crossJoin +
    keyed rank), not the corpus."""
    from pyspark.sql import Window

    key = ("pq_codebook_residual", sf_dir)
    hit = session_memo_get(_TRAINED_ANN_MEMO, spark, key)
    if hit is not None:
        return hit
    emb = _with_norm(t(spark, sf_dir, "embeddings"))
    cent = trained_ivf_centroids(spark, sf_dir)
    picked = emb.filter(
        (F.col("vec_id") % PQ_TRAIN_SAMPLE_MOD == 1)
        | ((F.col("vec_id") >= 16) & (F.col("vec_id") < 16 + IVFPQ_K))
    )
    res = assign_centroids(
        picked, cent, keep=("norm", "embedding"), with_ct=True
    ).select(
        "vec_id",
        "norm",
        _residual_of(F.col("embedding"), F.col("ct_emb")).alias("rv"),
    )
    rsub = _explode_subvecs(res, "rv")
    rseed = rsub.filter(
        (F.col("vec_id") >= 16) & (F.col("vec_id") < 16 + IVFPQ_K)
    ).select(
        "m", (F.col("vec_id") - 15).cast("int").alias("code"), F.col("sv").alias("cw")
    )
    codebook = pq_train_codebooks(
        rsub.filter(F.col("vec_id") % PQ_TRAIN_SAMPLE_MOD == 1).select(
            "vec_id", "m", "sv"
        ),
        rseed,
        iters=PQ_TRAIN_ITERS,
    )
    return session_memo_put(_TRAINED_ANN_MEMO, spark, key, codebook)


def trained_pq_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained RAW-vector PQ codebooks (m, code, cw): seed codewords
    refined by PQ_TRAIN_ITERS per-subspace Lloyd rounds over the 1-in-N id
    sample — sim_ann_pq's quantizer (sim_ann_ivfpq trains its own
    residual codebooks, `trained_residual_pq_codebook`). Memoized per
    (session, sf_dir); dense-recoded M*K rows over a localCheckpointed
    frame."""
    key = ("pq_codebook", sf_dir)
    hit = session_memo_get(_TRAINED_ANN_MEMO, spark, key)
    if hit is not None:
        return hit
    emb = _with_norm(t(spark, sf_dir, "embeddings"))
    subvecs, seed_codebook = pq_seed_and_subvecs(emb)
    codebook = pq_train_codebooks(
        subvecs.filter(F.col("vec_id") % PQ_TRAIN_SAMPLE_MOD == 1).select(
            "vec_id", "m", "sv"
        ),
        seed_codebook,
        iters=PQ_TRAIN_ITERS,
    )
    return session_memo_put(_TRAINED_ANN_MEMO, spark, key, codebook)


def q_sim_ann_pq(spark, sf_dir):
    """Product-quantization ANN (ADC scoring): each vector is encoded as
    PQ_M one-byte codes (nearest codeword per 8-dim subspace, L2) plus its
    exact norm; a query precomputes an M x K lookup table of subspace DOT
    products and scores any candidate with M table lookups — approx
    cosine = sum(lut) / (q_norm * cand_norm) — instead of a 64-dim float
    dot (Jegou et al., PQ for nearest neighbor search; IP tables because
    the exact baseline ranks by cosine). Codebooks are trained: seed
    codewords refined by PQ_TRAIN_ITERS per-subspace Lloyd rounds
    (`pq_train_codebooks`), replicated exactly in the oracle. 100 TB
    shape: codebooks are M*K tiny rows (broadcast), training touches only
    the exploded subvectors with narrow keyed aggs, encode is one pass,
    the scored scan reads only the 8-byte code column + 1 norm (not
    embeddings), and the LUT crossJoin is bounded by the query batch.
    Exact by construction given the codebooks, so fully oracle-checkable;
    recall vs. the exact baseline is pinned in tests/test_queries.py."""
    from pyspark.sql import Window

    emb = _with_norm(t(spark, sf_dir, "embeddings"))
    # seed codebooks refined per-subspace (L2 Lloyd, decimal-exact means) —
    # trained once per (session, sf_dir), shared with sim_ann_ivfpq
    subvecs, _ = pq_seed_and_subvecs(emb)
    codebook = trained_pq_codebook(spark, sf_dir)
    # encode: nearest codeword per (vec, subspace); ties -> smallest code.
    # min_by agg over the ordering struct (d2 ASC, code ASC) — the window's
    # exact tie-break with a map-side partial phase instead of a sort over
    # the full (vec, subspace, codeword) cross (r16, guide §2.3/§2.4)
    codes = (
        subvecs.join(F.broadcast(codebook), "m")
        .select("vec_id", "norm", "m", "code", _l2sq(F.col("sv"), F.col("cw")).alias("d2"))
        .groupBy("vec_id", "m")
        .agg(F.min_by(F.struct("code", "norm"), F.struct("d2", "code")).alias("e"))
        .select("vec_id", "m", F.col("e.code").alias("code"), F.col("e.norm").alias("norm"))
        .groupBy("vec_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("m", "code"))), lambda s: s["code"]
            ).alias("codes"),
            F.min("norm").alias("norm"),  # per-vec constant
        )
    )
    # ADC lookup tables: per query, lut[m][code] = subspace DOT product
    lut = (
        subvecs.filter(F.col("vec_id") < N_QUERIES)
        .join(F.broadcast(codebook), "m")
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("norm").alias("q_norm"),
            "m",
            "code",
            _dot(F.col("sv"), F.col("cw")).alias("dp"),
        )
        .groupBy("query_id", "q_norm", "m")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("code", "dp"))), lambda s: s["dp"]
            ).alias("lm")
        )
        .groupBy("query_id", "q_norm")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("m", "lm"))), lambda s: s["lm"]
            ).alias("lut")
        )
    )
    # score: M table lookups per (query, candidate) — the code column scan
    scored = (
        codes.crossJoin(F.broadcast(lut))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("cand_id"),
            (
                F.aggregate(
                    F.zip_with(F.col("codes"), F.col("lut"), lambda c, l: F.element_at(l, c)),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                / (F.col("q_norm") * F.col("norm"))
            ).alias("acos"),
        )
    )
    # ADC shortlist -> exact re-rank (the production PQ pipeline: the
    # compressed scan prunes the corpus to PQ_SHORTLIST candidates per
    # query, exact cosine runs only on the shortlist)
    w_q = Window.partitionBy("query_id").orderBy(F.desc("acos"), F.asc("cand_id"))
    shortlist = (
        scored.withColumn("srank", F.row_number().over(w_q))
        .filter(F.col("srank") <= PQ_SHORTLIST)
        .select("query_id", "cand_id")
    )
    qv = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("norm").alias("q_norm"),
    )
    cv = emb.select(
        F.col("vec_id").alias("cand_id"),
        F.col("embedding").alias("c_emb"),
        F.col("norm").alias("c_norm"),
    )
    rescored = (
        shortlist.join(F.broadcast(qv), "query_id")
        .join(cv, "cand_id")
        .select(
            "query_id",
            "cand_id",
            (_dot(F.col("q_emb"), F.col("c_emb")) / (F.col("q_norm") * F.col("c_norm"))).alias(
                "cos"
            ),
        )
    )
    w_f = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("cand_id"))
    return (
        rescored.withColumn("rank", F.row_number().over(w_f))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "cand_id", "rank", F.round("cos", 6).alias("cosine"))
        .orderBy("query_id", "rank")
    )


# ADC shortlist within the probed lists. Sized WITH the probe budget: at
# N_PROBE_TRAINED=6 the probed pool is ~6/8 of the corpus. Measured at
# sf0.01: 25 rows -> 0.52 recall (ADC error pruned true neighbors before
# the exact re-rank), 50 -> 0.68, and with the IVFPQ_K=32 residual
# codebooks 50 -> 0.76, 100 -> 0.88 against the 0.92 coarse bound — the
# standard IVF-PQ compression trade, now close to saturating it. At
# scale this is 100 full-width vector reads per query — still the
# bounded re-rank shape.
IVFPQ_SHORTLIST = 100


def q_sim_ann_ivfpq(spark, sf_dir):
    """Combined IVF-PQ with RESIDUAL encoding — the production ANN
    composite (Jegou et al.): a trained coarse quantizer
    (kmeans_centroids, 2 Lloyd rounds, cosine) routes each vector to an
    inverted list; PQ codes quantize the RESIDUAL v - c(v) against
    codebooks trained on residuals (`trained_residual_pq_codebook`) —
    residuals concentrate near the origin, so 8 code bytes carry far more
    precision than raw-vector codes. A query probes its nprobe closest
    lists and ADC-scores ONLY those lists' candidates: approx dot(q, v) =
    dot(q, c(v)) + sum_m lut[m][code_m] (the centroid term is one bounded
    per-(query, probed-list) dot; the residual term is M table lookups,
    no float dot per candidate), then the shortlist is exact-rescored.

    100 TB shape: corpus I/O per query batch = nprobe/K of the CODES
    table (~30x compressed), never the embeddings — the only full-width
    vector reads are the K centroids, the query batch, and the
    IVFPQ_SHORTLIST re-rank rows. Every stage is the already-audited
    bounded shape: broadcast-K assignment, banded list join, positional
    LUT scoring, keyed rank windows; the residual subtraction adds one
    narrow zip_with projection on the candidate/sample rows only."""
    from pyspark.sql import Window

    emb = _with_norm(t(spark, sf_dir, "embeddings"))
    # coarse quantizer: trained IVF centroids — the SAME memoized frame
    # sim_ann_ivf_kmeans uses (one training per session/sf_dir)
    cent = trained_ivf_centroids(spark, sf_dir)
    # assignment: max_by agg over the corpus; probe ranking: window over
    # the bounded query batch only (r16, guide §2.3/§2.4)
    assigned = assign_centroids(emb, cent).select("vec_id", "cent_id")
    probes = rank_centroids(emb.filter(F.col("vec_id") < N_QUERIES), cent).filter(
        F.col("rn") <= N_PROBE_TRAINED
    ).select(F.col("vec_id").alias("query_id"), "cent_id")
    # PQ compression: residual-trained codebooks (memoized) + residual
    # codes for the probed lists' candidates only
    subvecs, _ = pq_seed_and_subvecs(emb)
    codebook = trained_residual_pq_codebook(spark, sf_dir)
    # probe: candidates = vectors of the probed lists only (never the
    # corpus). cent_id rides along: each candidate's unique assigned list
    # keys the centroid term of its ADC score below.
    cands = (
        probes.join(assigned, "cent_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "cent_id", F.col("vec_id").alias("cand_id"))
        .distinct()
    )
    # One-shot query: only the probed lists' vectors are ever ADC-scored,
    # so only THEY are residual-encoded (semi-join before the encode
    # window) — nprobe/K of the corpus. A build-once index pre-encodes
    # everything instead (`functions/ann_index.py::build_pq`); same codes
    # either way.
    cand_res = (
        emb.join(
            cands.select(F.col("cand_id").alias("vec_id")).distinct(),
            "vec_id",
            "left_semi",
        )
        .join(assigned, "vec_id")
        .join(F.broadcast(cent), "cent_id")
        .select(
            "vec_id",
            "norm",
            _residual_of(F.col("embedding"), F.col("ct_emb")).alias("rv"),
        )
    )
    cand_subvecs = _explode_subvecs(cand_res, "rv")
    # same min_by rewrite as the raw-vector encode (r16, guide §2.3/§2.4)
    codes = (
        cand_subvecs.join(F.broadcast(codebook), "m")
        .select("vec_id", "norm", "m", "code", _l2sq(F.col("sv"), F.col("cw")).alias("d2"))
        .groupBy("vec_id", "m")
        .agg(F.min_by(F.struct("code", "norm"), F.struct("d2", "code")).alias("e"))
        .select("vec_id", "m", F.col("e.code").alias("code"), F.col("e.norm").alias("norm"))
        .groupBy("vec_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("m", "code"))), lambda s: s["code"]
            ).alias("codes"),
            F.min("norm").alias("norm"),
        )
    )
    lut = (
        subvecs.filter(F.col("vec_id") < N_QUERIES)
        .join(F.broadcast(codebook), "m")
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("norm").alias("q_norm"),
            "m",
            "code",
            _dot(F.col("sv"), F.col("cw")).alias("dp"),
        )
        .groupBy("query_id", "q_norm", "m")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("code", "dp"))), lambda s: s["dp"]
            ).alias("lm")
        )
        .groupBy("query_id", "q_norm")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("m", "lm"))), lambda s: s["lm"]
            ).alias("lut")
        )
    )
    # centroid term of the residual decomposition: dot(q, c) per
    # (query, probed list) — N_QUERIES x nprobe rows, computed once
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    qc = (
        probes.join(F.broadcast(cent), "cent_id")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id", "cent_id", _dot(F.col("q_emb"), F.col("ct_emb")).alias("qc_dot")
        )
    )
    scored = (
        cands.join(codes.withColumnRenamed("vec_id", "cand_id"), "cand_id")
        .join(F.broadcast(lut), "query_id")
        .join(F.broadcast(qc), ["query_id", "cent_id"])
        .select(
            "query_id",
            "cand_id",
            (
                (
                    F.col("qc_dot")
                    + F.aggregate(
                        F.zip_with(
                            F.col("codes"), F.col("lut"), lambda c, l: F.element_at(l, c)
                        ),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    )
                )
                / (F.col("q_norm") * F.col("norm"))
            ).alias("acos"),
        )
    )
    w_s = Window.partitionBy("query_id").orderBy(F.desc("acos"), F.asc("cand_id"))
    shortlist = (
        scored.withColumn("srank", F.row_number().over(w_s))
        .filter(F.col("srank") <= IVFPQ_SHORTLIST)
        .select("query_id", "cand_id")
    )
    qv = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("norm").alias("q_norm"),
    )
    cv = emb.select(
        F.col("vec_id").alias("cand_id"),
        F.col("embedding").alias("c_emb"),
        F.col("norm").alias("c_norm"),
    )
    rescored = (
        shortlist.join(F.broadcast(qv), "query_id")
        .join(cv, "cand_id")
        .select(
            "query_id",
            "cand_id",
            (_dot(F.col("q_emb"), F.col("c_emb")) / (F.col("q_norm") * F.col("c_norm"))).alias(
                "cos"
            ),
        )
    )
    w_f = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("cand_id"))
    return (
        rescored.withColumn("rank", F.row_number().over(w_f))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "cand_id", "rank", F.round("cos", 6).alias("cosine"))
        .orderBy("query_id", "rank")
    )


def q_sim_ann_persistent(spark, sf_dir):
    """The persistent-index LIFECYCLE run under the correctness gate
    (promoting `functions/ann_index.py` from pytest-only coverage):
    build_ivf materializes a raw-seed coarse quantizer + inverted lists
    partitioned by centroid from a BASE corpus split (vec_id % 5 != 3),
    query_ivf answers the standard query batch against the index
    (partition-pruned probes, exclude_matching_ids), append_ivf lands the
    held-out split against the FROZEN quantizer, and the same batch is
    re-queried. The checked output is the pre-append and post-append
    top-k stacked under a `phase` column, so the oracle pins that (a) the
    frozen-quantizer assignment matches build-time assignment exactly and
    (b) appended vectors become findable without touching existing rows.
    The quantizer is raw-seed (kmeans_iters=0) so the DuckDB oracle needs
    no Lloyd CTE — the TRAINED path is already gated by
    sim_ann_ivf_kmeans; what THIS row adds is the persistence mechanics."""
    import shutil
    import tempfile
    import uuid

    from octopusdb_spark.functions.ann_index import append_ivf, build_ivf, query_ivf

    emb = t(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % 5 != 3)
    batch = emb.filter(F.col("vec_id") % 5 == 3)
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    d = tempfile.mkdtemp(prefix=f"ann_idx_{uuid.uuid4().hex[:12]}_")
    try:
        build_ivf(base, d, n_centroids=8, kmeans_iters=0)
        # Each phase is MATERIALIZED before the index mutates: a lazy
        # union of two reads of the SAME path collapses to one scan under
        # Catalyst's relation dedup, so both branches would see one file
        # listing (whichever analysis won) — the phases must be snapshots,
        # and a top-k answer is bounded rows by construction.
        pre = [
            ("pre", r["query_id"], r["cand_id"], r["rank"], r["cosine"])
            for r in query_ivf(
                spark, d, queries, top_k=TOP_K, nprobe=N_PROBE,
                exclude_matching_ids=True,
            ).collect()
        ]
        append_ivf(batch, d)
        post = [
            ("post", r["query_id"], r["cand_id"], r["rank"], r["cosine"])
            for r in query_ivf(
                spark, d, queries, top_k=TOP_K, nprobe=N_PROBE,
                exclude_matching_ids=True,
            ).collect()
        ]
        # the append must change answers somewhere, else the lifecycle
        # proved nothing — redden the row rather than pass vacuously
        if {t[1:] for t in pre} == {t[1:] for t in post}:
            raise RuntimeError("append_ivf changed no top-k answer")
        return spark.createDataFrame(
            pre + post,
            "phase string, query_id long, cand_id long, rank int, cosine double",
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)


N_PROBE_FILTERED = 4  # filtered probes widen vs N_PROBE=2: the label
# predicate thins each list, so covering the same candidate mass needs
# more lists — the standard filtered-search compensation


def q_sim_ann_filtered(spark, sf_dir):
    """FILTERED ANN — the production retrieval shape (RAG and dedup
    pipelines rarely search the whole corpus; they search WITHIN a
    metadata predicate: language, source, license, time slice). Each
    query vector retrieves its top-k by cosine among ONLY the vectors
    whose label matches its target (query_id % 10 over the 10-label
    corpus), through the IVF probe path: deterministic seed quantizer,
    nprobe widened 2 -> 4 because the predicate thins every inverted
    list (the standard filtered-search compensation — selectivity 1/10
    here, so 4 lists carry ~the unfiltered 2-list candidate mass).

    Scale shape: the label predicate applies to the ASSIGNMENT frame
    before the exact-scoring join — on the persistent layout
    (lists partitioned by cent_id, row-group stats on label) it reaches
    the parquet scan, so a filtered probe reads nprobe/K of the corpus
    AND skips non-matching row groups inside those lists. Pre-filtering
    beats post-filtering top-k (which under-fills k at low
    selectivity); both engines compute the same deterministic result,
    so the row is exact-value checked like every ANN variant."""
    from pyspark.sql import Window

    emb = _with_norm(t(spark, sf_dir, "embeddings"))
    cent = emb.filter(
        (F.col("vec_id") >= 8) & (F.col("vec_id") < 8 + N_IVF_CENTROIDS)
    ).select(
        F.col("vec_id").alias("cent_id"),
        F.col("embedding").alias("ct_emb"),
        F.col("norm").alias("ct_norm"),
    )
    # assignment: max_by agg over the corpus; probe ranking: window over
    # the bounded query batch only (r16, guide §2.3/§2.4)
    assigned = assign_centroids(emb, cent, keep=("label",)).select(
        "vec_id", "cent_id", "label"
    )
    probes = (
        rank_centroids(emb.filter(F.col("vec_id") < N_QUERIES), cent)
        .filter(F.col("rn") <= N_PROBE_FILTERED)
        .select(
            F.col("vec_id").alias("query_id"),
            (F.col("vec_id") % 10).alias("target_label"),
            "cent_id",
        )
    )
    cands = (
        probes.join(assigned, "cent_id")
        .filter(
            (F.col("label") == F.col("target_label"))
            & (F.col("vec_id") != F.col("query_id"))
        )
        .select("query_id", "target_label", F.col("vec_id").alias("cand_id"))
        .distinct()
    )
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("norm").alias("q_norm"),
    )
    c = emb.select(
        F.col("vec_id").alias("cand_id"),
        F.col("embedding").alias("c_emb"),
        F.col("norm").alias("c_norm"),
    )
    scored = (
        cands.join(F.broadcast(q), "query_id")
        .join(c, "cand_id")
        .select(
            "query_id",
            "target_label",
            "cand_id",
            (
                _dot(F.col("q_emb"), F.col("c_emb"))
                / (F.col("q_norm") * F.col("c_norm"))
            ).alias("cos"),
        )
    )
    w_q = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w_q))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "query_id",
            F.col("target_label").cast("long").alias("target_label"),
            "cand_id",
            "rank",
            F.round("cos", 6).alias("cosine"),
        )
        .orderBy("query_id", "rank")
    )


def q_sim_ann_drift(spark, sf_dir):
    """Persistent-index DRIFT TELEMETRY under the correctness gate
    (VERDICT r12 #8): the `sim_ann_persistent` lifecycle — raw-seed
    build over the base split (vec_id % 5 != 3), frozen-quantizer
    append of the held-out split — followed by `ivf_drift`, the
    O(ledger) maintenance probe that tells a 100-TB operator WHEN to
    retrain: per inverted list, build-time vs current mean residual
    norm (appended vectors were not in the training set, so their
    residuals run larger — drift_r6 > ~1.2 is the retrain signal,
    docs/SCALE.md), plus list-size skew vs the even-split expectation.
    Every number is ledger-exact (sequential-fold per-row norms,
    DECIMAL(38,12) sums, r6-rounded double ratios), so the oracle
    replicates the full pipeline arithmetically. Guards redden the row
    if the lifecycle proves nothing (a build-empty list or zero
    appends)."""
    import shutil
    import tempfile
    import uuid

    from octopusdb_spark.functions.ann_index import (
        append_ivf,
        build_ivf,
        ivf_drift,
    )

    emb = t(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % 5 != 3)
    batch = emb.filter(F.col("vec_id") % 5 == 3)
    d = tempfile.mkdtemp(prefix=f"ann_drift_{uuid.uuid4().hex[:12]}_")
    try:
        build_ivf(base, d, n_centroids=8, kmeans_iters=0)
        append_ivf(batch, d)
        rows = [
            (
                r["cent_id"], r["n_build"], r["n_now"], r["added"],
                r["mean_res_build_r6"], r["mean_res_now_r6"],
                r["drift_r6"], r["skew_r6"],
            )
            for r in ivf_drift(spark, d).collect()
        ]
        # vacuity guards: every list trained non-empty, and the append
        # actually moved the ledger somewhere
        if any(t_[1] == 0 for t_ in rows):
            raise RuntimeError("ivf_drift: a list was empty at build time")
        if all(t_[3] == 0 for t_ in rows):
            raise RuntimeError("ivf_drift: append added no vectors")
        # materialized before the tmp index dir is removed (the
        # sim_ann_persistent snapshot rule)
        return spark.createDataFrame(
            rows,
            "cent_id int, n_build long, n_now long, added long, "
            "mean_res_build_r6 double, mean_res_now_r6 double, "
            "drift_r6 double, skew_r6 double",
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)


def q_sim_label_centroids(spark, sf_dir):
    """Per-label centroid norms + sizes — the clustering-summary aggregate
    (decimal accumulation per dimension would be 64 columns; instead this
    aggregates the scalar norms, which is the deterministic subset)."""
    emb = _with_norm(t(spark, sf_dir, "embeddings"))
    return (
        emb.groupBy("label")
        .agg(
            F.count("*").alias("n_vectors"),
            F.sum(F.col("norm").cast("decimal(38,12)")).cast("double").alias("total_norm"),
        )
        .withColumn("mean_norm", F.round(F.col("total_norm") / F.col("n_vectors"), 6))
        .select("label", "n_vectors", F.round("total_norm", 6).alias("total_norm"), "mean_norm")
        .orderBy("label")
    )


# SemDeDup threshold (Abbas et al. 2023, arXiv:2303.09540 — cluster the
# corpus, then dedup ONLY within clusters). Production thresholds sit near
# 0.95 on real text embeddings; this synthetic corpus is near-orthogonal
# (max pairwise cosine ~0.5), so the gate's threshold is calibrated to
# exercise a non-trivial drop set while keeping the semantics identical.
SEMDEDUP_THRESH = 0.33

# Clusters larger than this fan their pair grid out as block-pair tasks
# (r17, VERDICT r16 #2): below it a cluster is scored by ONE task (the r16
# shape); above it the Σ|cluster|² grid is decomposed into nb = ceil(n/T)
# row-blocks whose (nb+1)·nb/2 block pairs are independent tasks, so a hot
# cluster at 100 TB becomes many bounded tasks instead of one straggler.
SEMDEDUP_FANOUT_ROWS = 8192


def _corpus_rows_upper(df) -> int | None:
    """Exact upper bound on ``df``'s row count from the parquet footers of
    its file sources (driver-side metadata read, no Spark job) — valid for
    frames whose per-file row multiplicity is at most 1 (scans + narrow
    ops + joins that cannot duplicate scan rows). None when unknowable
    (non-file sources, remote FS)."""
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    from urllib.parse import unquote, urlparse

    try:
        import pyarrow.parquet as pq

        total = 0
        for f in files:
            p = urlparse(f)
            if p.scheme not in ("", "file"):
                return None
            total += pq.ParquetFile(unquote(p.path)).metadata.num_rows
        return total
    except Exception:
        return None


def _semdedup_grid_drops(pdf, thresh: float, diagonal: bool):
    """The SemDeDup pair-grid scorer shared by both plan shapes: numpy
    rank-1 accumulation in dimension order (bit-identical to the
    interpreted ``_dot`` fold — same float32→float64 widening, same IEEE
    products, same left-to-right sum, same division), Spark NaN-greatest
    comparison semantics, strictly-lower-id drop rule. ``diagonal``:
    score the frame against itself (one side, column-drop direction
    only); otherwise score ``_is_left`` rows against the rest
    bipartitely, dropping in both id directions."""
    import numpy as np
    import pandas as pd

    left = pdf if diagonal else pdf[pdf["_is_left"]]
    right = pdf if diagonal else pdf[~pdf["_is_left"]]
    if left.empty or right.empty:
        return pd.DataFrame({"vec_id": np.array([], dtype=np.int64)})
    lids = left["vec_id"].to_numpy(np.int64)
    lorder = np.argsort(lids)
    lids = lids[lorder]
    lm = np.array(left["embedding"].to_list(), dtype=np.float64)[lorder]
    lnorm = left["norm"].to_numpy(np.float64)[lorder]
    if diagonal:
        rids, rm, rnorm = lids, lm, lnorm
    else:
        rids = right["vec_id"].to_numpy(np.int64)
        rorder = np.argsort(rids)
        rids = rids[rorder]
        rm = np.array(right["embedding"].to_list(), dtype=np.float64)[rorder]
        rnorm = right["norm"].to_numpy(np.float64)[rorder]
    nl, nr = len(lids), len(rids)
    drop_r = np.zeros(nr, dtype=bool)
    drop_l = np.zeros(nl, dtype=bool)
    block = 2048
    for lo in range(0, nl, block):
        hi = min(lo + block, nl)
        # acc[i, j] accumulates sum_d lm[lo+i, d] * rm[j, d] in d order —
        # the exact left fold of _dot (0.0 + p0 + p1 + ...)
        acc = np.zeros((hi - lo, nr))
        for d in range(lm.shape[1]):
            acc += np.outer(lm[lo:hi, d], rm[:, d])
        cos = acc / np.outer(lnorm[lo:hi], rnorm)
        # Spark comparison semantics: NaN compares greater than any
        # value, so NaN >= thresh is true (numpy would say False)
        qual = (cos >= thresh) | np.isnan(cos)
        # grid entry (i, j) drops the strictly-HIGHER id of the pair
        drop_r |= (qual & (lids[lo:hi, None] < rids[None, :])).any(axis=0)
        if not diagonal:
            drop_l[lo:hi] |= (
                qual & (rids[None, :] < lids[lo:hi, None])
            ).any(axis=1)
    dropped = rids[drop_r] if diagonal else np.concatenate(
        [lids[drop_l], rids[drop_r]]
    )
    return pd.DataFrame({"vec_id": dropped})


def _semdedup_dropped(assigned, thresh: float = SEMDEDUP_THRESH,
                      fanout_rows: int = SEMDEDUP_FANOUT_ROWS):
    """Distinct vec_ids that have a LOWER-id cluster-mate with cosine >=
    ``thresh`` (NaN counts, matching Spark's NaN-greatest ordering), from
    an ``assigned`` frame of (cent_id, vec_id, embedding, norm).

    Skew-proof block-pair decomposition: every row is routed to the
    block pairs its block participates in (nb replicas per row, nb = 1
    for clusters at or under ``fanout_rows`` — the common case adds no
    replication and one task per cluster, exactly the r16 plan). Each
    (cent_id, block_a, block_b) task scores its bipartite (or diagonal)
    grid with the SAME rank-1 accumulation as the r16 single-task pass —
    acc starts at 0.0 and adds the d-th product in dimension order — so
    every pair's cosine is bit-identical to _dot(a,b)/(na*nb) no matter
    which block pair scores it, and the union of per-task drop sets IS
    the per-cluster drop set (each unordered pair lands in exactly one
    task: cross pairs in their (ba,bb) group, within-block pairs in the
    diagonal). Peak task memory stays at BLOCK x block-width doubles.

    Scale gate (measured: the fan-out's sizes agg costs ~0.3 s warm at
    sf0.1, pure fixed cost when every nb is 1): when the parquet footers
    prove the WHOLE corpus is at most ``fanout_rows`` rows — so no
    cluster can be oversized — keep the exact r16 one-task-per-cluster
    plan with zero extra nodes. The bound is a driver-side metadata
    read; at production scale it exceeds the threshold and the fan-out
    (whose sizes pass is then amortized by the Σ|cluster|² scoring)
    engages."""
    n_upper = _corpus_rows_upper(assigned)
    if n_upper is not None and n_upper <= fanout_rows:
        return assigned.groupBy("cent_id").applyInPandas(
            lambda key, pdf: _semdedup_grid_drops(pdf, thresh, diagonal=True),
            "vec_id long",
        )
    sizes = assigned.groupBy("cent_id").agg(F.count("*").alias("_n"))
    nb = F.ceil(F.col("_n") / F.lit(fanout_rows)).cast("int")
    routed = (
        assigned.join(
            F.broadcast(sizes.select("cent_id", nb.alias("_nb"))), "cent_id"
        )
        .withColumn("_blk", _vec_block(F.col("_nb")))
        .withColumn(
            "_j", F.explode(F.sequence(F.lit(0), F.col("_nb") - F.lit(1)))
        )
        .select(
            "cent_id",
            "vec_id",
            "embedding",
            "norm",
            F.least("_blk", "_j").alias("_ba"),
            F.greatest("_blk", "_j").alias("_bb"),
            (F.col("_blk") <= F.col("_j")).alias("_is_left"),
        )
    )

    def _pair_drops(key, pdf):
        return _semdedup_grid_drops(
            pdf, thresh, diagonal=int(key[1]) == int(key[2])
        )

    return (
        routed.groupBy("cent_id", "_ba", "_bb")
        .applyInPandas(_pair_drops, "vec_id long")
        # a fanned-out cluster can drop the same id from several block
        # pairs; the audit join needs each dropped id once
        .dropDuplicates(["vec_id"])
    )


def q_dedup_semantic(spark, sf_dir):
    """Semantic (embedding-space) dedup, SemDeDup-style: assign every
    vector to its nearest TRAINED k-means centroid (the same memoized
    coarse quantizer `sim_ann_ivf_kmeans` probes — train once, reuse
    everywhere), then mark as 'drop' any vector that has a LOWER-id
    cluster-mate with cosine >= SEMDEDUP_THRESH (keep-lowest-id is the
    deterministic stand-in for the paper's keep-farthest-from-centroid;
    the drop SET is identical for transitively-closed groups). Output is
    the full per-vector audit (vec_id, cent_id, action).

    Scale shape — the whole point of SemDeDup vs all-pairs: the pairwise
    cosine join is keyed on cent_id, so pair count is sum(|cluster|^2),
    bounded by the cluster granularity (at 100 TB raise K so clusters stay
    ~1e4 vectors; training cost amortizes via functions/ann_index.py). No
    corpus broadcast — the only broadcast is the K-row centroid frame;
    qualifying pairs collapse to a DISTINCT dropped-id set before the
    audit join, so no pair survives past its cluster's local check."""
    emb = _with_norm(t(spark, sf_dir, "embeddings"))
    cent = trained_ivf_centroids(spark, sf_dir)
    assigned = assign_centroids(emb, cent, keep=("embedding", "norm")).select(
        "vec_id", "cent_id", "embedding", "norm"
    )
    # Within-cluster pairwise scoring as vectorized numpy passes (r16
    # optimization, guide §4.2/§8): the relational shape — cent_id-keyed
    # self-join + an interpreted zip_with/aggregate dot per pair —
    # evaluated Σ|cluster|² higher-order-function dots row by row
    # (measured ~3.9 s at sf0.1; the HOF dot runs ~100k pairs/s
    # interpreted). The pair grid is scored by 64 rank-1 numpy updates
    # with EXACTLY the fold's accumulation order, so every pair's cosine
    # is bit-identical to _dot(a,b)/(na*nb) — same float32→float64
    # widening, same IEEE product, same left-to-right sum, same division.
    # r17 (VERDICT r16 #2): clusters above SEMDEDUP_FANOUT_ROWS fan their
    # grid out as independent block-pair tasks so a hot cluster cannot
    # become a single straggler; see _semdedup_dropped. The drop rule
    # (some lower-id cluster-mate with cos >= thresh) and the result set
    # are unchanged — oracle-verified.
    dropped = _semdedup_dropped(
        assigned.select("cent_id", "vec_id", "embedding", "norm")
    )
    return (
        assigned.join(
            dropped.withColumn("_d", F.lit(1)), "vec_id", "left"
        )
        .select(
            "vec_id",
            "cent_id",
            F.when(F.col("_d").isNotNull(), F.lit("drop"))
            .otherwise(F.lit("keep"))
            .alias("action"),
        )
        .orderBy("vec_id")
    )


def q_dedup_embedding_cosine(spark, sf_dir, n_blocks: int = 4):
    """Embedding-cosine near-duplicate detection: the 20 closest pairs in
    the corpus, ranked. (This corpus is near-orthogonal — max cosine ~0.51 —
    so a fixed threshold would be vacuous; production would threshold at
    ~0.95 and pre-filter by sign bucket. The all-pairs scoring below is the
    exactness baseline the bucketed variant is judged against.)

    Block-pair GEMM selection, fully distributed — no embedding ever
    reaches the driver. Each vector hashes to one of B blocks; a row is
    replicated to the B block-pairs (i<=j) it participates in (explode,
    (B+1)x shuffle volume), and each pair-group scores its two blocks with
    one BLAS matmul in applyInPandas, keeping its local top-20. Any global
    top-20 pair lives in exactly one pair-group and cannot be outranked by
    20 pairs inside it, so the union of local top-20s contains the answer.
    Pair-group memory is 2N/B rows — B tunes the per-task footprint at
    100 TB, where the old broadcast-whole-corpus variant would OOM the
    driver. Survivors are re-scored with the exact sequential-order dot
    product, so reported values stay bit-identical to the oracle."""
    emb = _with_norm(t(spark, sf_dir, "embeddings"))
    B = n_blocks

    blk = _vec_block(F.lit(B))
    routes = F.array(
        *[
            F.struct(
                (F.least(blk, F.lit(j)) * B + F.greatest(blk, F.lit(j))).alias("pair"),
                (blk <= F.lit(j)).alias("is_left"),
            )
            for j in range(B)
        ]
    )
    # each row lands in B distinct pair-groups (j ranges over blocks): its
    # diagonal group once as left, each cross group as left or right
    routed = emb.select("vec_id", "embedding", F.explode(routes).alias("r")).select(
        "vec_id", "embedding", "r.pair", "r.is_left"
    )

    def pair_topk(key, pdf):
        import numpy as np
        import pandas as pd

        # diagonal groups are identified by the key (i == j), NOT by an
        # empty side: with sparse id distributions a cross group can have
        # an empty block, which must yield no pairs — treating it as a
        # diagonal would duplicate the other block's internal pairs
        pair_id = int(key[0])
        diagonal = (pair_id // B) == (pair_id % B)
        left = pdf[pdf["is_left"]]
        right = left if diagonal else pdf[~pdf["is_left"]]
        if left.empty or right.empty:
            return pd.DataFrame(
                {"vec_a": np.array([], dtype=np.int64), "vec_b": np.array([], dtype=np.int64)}
            )
        lids = left["vec_id"].to_numpy(dtype=np.int64)
        rids = right["vec_id"].to_numpy(dtype=np.int64)
        lm = np.array(left["embedding"].to_list(), dtype=np.float64)
        rm = np.array(right["embedding"].to_list(), dtype=np.float64)
        lm /= np.linalg.norm(lm, axis=1, keepdims=True)
        rm /= np.linalg.norm(rm, axis=1, keepdims=True)
        c = lm @ rm.T
        if diagonal:
            c[lids[:, None] >= rids[None, :]] = -np.inf  # each pair once
        k = min(20, c.size)
        idx = np.argpartition(c.ravel(), -k)[-k:]
        idx = idx[np.isfinite(c.ravel()[idx])]
        ra, rb = lids[idx // c.shape[1]], rids[idx % c.shape[1]]
        return pd.DataFrame({"vec_a": np.minimum(ra, rb), "vec_b": np.maximum(ra, rb)})

    cand = routed.groupBy("pair").applyInPandas(pair_topk, "vec_a long, vec_b long")
    a = emb.select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"), F.col("norm").alias("na")
    )
    b = emb.select(
        F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"), F.col("norm").alias("nb")
    )
    # broadcast the tiny candidate set (<= 20 * B(B+1)/2 rows) and stream
    # the corpus past it — never broadcast the corpus itself
    pairs = (
        F.broadcast(cand)
        .join(a, "vec_a")
        .join(b, "vec_b")
        .select(
            "vec_a",
            "vec_b",
            (_dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))).alias("cos"),
        )
    )
    from pyspark.sql import Window

    # orderBy+limit compiles to TakeOrderedAndProject (per-partition top-k,
    # merged at the driver) — a global row_number window would instead drag
    # every pair into one partition. The rank window then runs on 20 rows.
    top = pairs.orderBy(F.desc("cos"), F.asc("vec_a"), F.asc("vec_b")).limit(20)
    w = Window.orderBy(F.desc("cos"), F.asc("vec_a"), F.asc("vec_b"))
    return (
        top.withColumn("rank", F.row_number().over(w))
        .select("rank", "vec_a", "vec_b", F.round("cos", 6).alias("cosine"))
        .orderBy("rank")
    )


_EMB_NORM_SQL = f"""
WITH emb AS (
  SELECT vec_id, embedding, label,
         sqrt({_DOT_SQL.format(a="embedding", b="embedding")}) AS norm
  FROM embeddings
)
"""


def _kmeans_cte_sql(iters: int = 2, k: int = 8, dim: int = 64) -> str:
    """CTE chain replicating `kmeans_centroids` exactly: cent0 = seed
    vectors (vec_id 8..8+k), then per iteration assign (cosine rank 1) and
    re-center (per-dimension DECIMAL(38,12) mean — order-independent, so it
    matches Spark's decimal accumulation bit-for-bit). Final centroids are
    ``cent{iters}``."""
    out = [
        f"""
    , cent0 AS (
      SELECT vec_id AS cent_id, embedding AS ct_emb, norm AS ct_norm
      FROM emb WHERE vec_id >= 8 AND vec_id < {8 + k}
    )"""
    ]
    for i in range(1, iters + 1):
        out.append(
            f"""
    , as{i} AS (
      SELECT e.vec_id, c.cent_id,
             row_number() OVER (
               PARTITION BY e.vec_id
               ORDER BY {_DOT_SQL.format(a="e.embedding", b="c.ct_emb")} / (e.norm * c.ct_norm) DESC,
                        c.cent_id ASC) AS rn
      FROM emb e CROSS JOIN cent{i - 1} c
    ), am{i} AS (SELECT vec_id, cent_id FROM as{i} WHERE rn = 1),
    cd{i} AS (
      SELECT a.cent_id, t.dim,
             CAST(SUM(CAST(CAST(e.embedding[t.dim] AS DOUBLE) AS DECIMAL(38,12))) AS DOUBLE)
               / count(*) AS m
      FROM am{i} a JOIN emb e ON e.vec_id = a.vec_id
      CROSS JOIN unnest(range(1, {dim + 1})) AS t(dim)
      GROUP BY 1, 2
    ), cent{i} AS (
      SELECT cent_id, ct_emb,
             sqrt({_DOT_SQL.format(a="ct_emb", b="ct_emb")}) AS ct_norm
      FROM (SELECT cent_id, list(m ORDER BY dim) AS ct_emb FROM cd{i} GROUP BY cent_id)
    )"""
        )
    return "".join(out)

def _pq_train_cte_sql(iters: int = PQ_TRAIN_ITERS, src: str = "subvecs") -> str:
    """CTE chain replicating `pq_train_codebooks` exactly: codebook0 = seed
    codewords, then per iteration assign (min squared-L2, asc-code
    tie-break) and re-center (per-(m, code, dim) DECIMAL(38,12) mean), and
    a final dense re-code. Assumes ``src`` (vec_id, norm, m, sv — raw
    ``subvecs`` or residual ``rsubvecs``) and ``codebook0`` (m, code, cw)
    are already defined; emits ``codebook``. Training reads the
    deterministic 1-in-{PQ_TRAIN_SAMPLE_MOD} sample (``tsub``), matching
    the Spark side."""
    out = [
        f"""
    , tsub AS (
      SELECT * FROM {src} WHERE vec_id % {PQ_TRAIN_SAMPLE_MOD} = 1
    )"""
    ]
    for i in range(1, iters + 1):
        out.append(
            f"""
    , pqas{i} AS (
      SELECT s.vec_id, s.m, c.code,
             row_number() OVER (
               PARTITION BY s.vec_id, s.m
               ORDER BY {_L2SQ_SQL.format(a="s.sv", b="c.cw")} ASC, c.code ASC) AS rn
      FROM tsub s JOIN codebook{i - 1} c ON s.m = c.m
    ), pqam{i} AS (SELECT vec_id, m, code FROM pqas{i} WHERE rn = 1),
    pqcd{i} AS (
      SELECT a.m, a.code, t.dim,
             CAST(SUM(CAST(CAST(s.sv[t.dim] AS DOUBLE) AS DECIMAL(38,12))) AS DOUBLE)
               / count(*) AS mu
      FROM pqam{i} a JOIN tsub s ON s.vec_id = a.vec_id AND s.m = a.m
      CROSS JOIN unnest(range(1, {PQ_SUB + 1})) AS t(dim)
      GROUP BY 1, 2, 3
    ), codebook{i} AS (
      SELECT m, code, list(mu ORDER BY dim) AS cw FROM pqcd{i} GROUP BY m, code
    )"""
        )
    out.append(
        f"""
    , codebook AS (
      SELECT m, CAST(row_number() OVER (PARTITION BY m ORDER BY code) AS INT) AS code, cw
      FROM codebook{iters}
    )"""
    )
    return "".join(out)


def q_sim_quantized_cosine(spark, sf_dir):
    """Int8-quantized cosine top-5 — the memory/bandwidth scale path for
    brute-force search: each vector is symmetrically quantized to int8
    (q_i = floor(127 * x_i / max|x| + 0.5)), cutting the candidate matrix
    4× vs float32 and making every dot product EXACT int64 arithmetic
    (per-vector scales cancel in the cosine), so the ranking is fully
    oracle-checkable — no float-accumulation drift by construction. The
    quantization projection is one narrow map; scoring is the same
    crossJoin shape as the exact baseline."""
    emb = t(spark, sf_dir, "embeddings")
    absmax = F.aggregate(
        F.col("embedding"),
        F.lit(0.0),
        lambda acc, x: F.greatest(acc, F.abs(x.cast("double"))),
    )
    qemb = emb.withColumn("absmax", absmax).filter(F.col("absmax") > 0).select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.floor(
                F.lit(127.0) * x.cast("double") / F.col("absmax") + F.lit(0.5)
            ),
        ).alias("qv"),
    )
    idot = lambda a, b: F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0).cast("long"), lambda s, x: s + x
    )
    qn = qemb.withColumn("qq", idot(F.col("qv"), F.col("qv")))
    q = qn.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("qv").alias("q_qv"),
        F.col("qq").alias("q_qq"),
    )
    c = qn.select(
        F.col("vec_id").alias("cand_id"),
        F.col("qv").alias("c_qv"),
        F.col("qq").alias("c_qq"),
    )
    scored = (
        q.crossJoin(c)
        .filter(F.col("query_id") != F.col("cand_id"))
        .select(
            "query_id",
            "cand_id",
            (
                idot(F.col("q_qv"), F.col("c_qv")).cast("double")
                / (F.sqrt(F.col("q_qq").cast("double")) * F.sqrt(F.col("c_qq").cast("double")))
            ).alias("qcos"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("qcos"), F.asc("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "cand_id", "rank", F.round("qcos", 6).alias("qcosine"))
        .orderBy("query_id", "rank")
    )


_QUANT_SQL = f"""
WITH qe AS (
  SELECT vec_id,
         list_transform(embedding, x ->
           CAST(floor(127.0 * CAST(x AS DOUBLE) /
                      list_reduce(list_transform(embedding,
                                                 y -> abs(CAST(y AS DOUBLE))),
                                  (s, v) -> greatest(s, v))
                      + 0.5) AS BIGINT)) AS qv
  FROM embeddings
  WHERE list_reduce(list_transform(embedding, y -> abs(CAST(y AS DOUBLE))),
                    (s, v) -> greatest(s, v)) > 0
),
qn AS (
  SELECT vec_id, qv,
         list_reduce(list_transform(list_zip(qv, qv), p -> p[1] * p[2]),
                     (s, x) -> s + x) AS qq
  FROM qe
),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         CAST(list_reduce(list_transform(list_zip(q.qv, c.qv), p -> p[1] * p[2]),
                          (s, x) -> s + x) AS DOUBLE)
         / (sqrt(CAST(q.qq AS DOUBLE)) * sqrt(CAST(c.qq AS DOUBLE))) AS qcos
  FROM qn q JOIN qn c ON q.vec_id != c.vec_id
  WHERE q.vec_id < {N_QUERIES}
),
ranked AS (
  SELECT query_id, cand_id, qcos,
         row_number() OVER (PARTITION BY query_id ORDER BY qcos DESC, cand_id ASC) AS rank
  FROM scored
)
SELECT query_id, cand_id, rank, round(qcos, 6) AS qcosine
FROM ranked WHERE rank <= {TOP_K} ORDER BY query_id, rank"""


ORACLES = {
    "sim_quantized_cosine": _QUANT_SQL,
    "sim_topk_cosine": _EMB_NORM_SQL
    + f"""
    , scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
             {_DOT_SQL.format(a="q.embedding", b="c.embedding")} / (q.norm * c.norm) AS cos
      FROM emb q JOIN emb c ON q.vec_id != c.vec_id
      WHERE q.vec_id < {N_QUERIES}
    ),
    ranked AS (
      SELECT query_id, cand_id, cos,
             row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id ASC) AS rank
      FROM scored
    )
    SELECT query_id, cand_id, rank, round(cos, 6) AS cosine
    FROM ranked WHERE rank <= {TOP_K} ORDER BY query_id, rank""",
    "sim_ann_bucketed": _EMB_NORM_SQL
    + f"""
    , scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
             {_DOT_SQL.format(a="q.embedding", b="c.embedding")} / (q.norm * c.norm) AS cos
      FROM emb q JOIN emb c ON q.vec_id != c.vec_id AND (
           {" OR ".join(f"({_sign_bucket_slice_sql('q', t * 4, 4)}) = ({_sign_bucket_slice_sql('c', t * 4, 4)})" for t in range(4))}
      )
      WHERE q.vec_id < {N_QUERIES}
    ),
    ranked AS (
      SELECT query_id, cand_id, cos,
             row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id ASC) AS rank
      FROM scored
    )
    SELECT query_id, cand_id, rank, round(cos, 6) AS cosine
    FROM ranked WHERE rank <= {TOP_K} ORDER BY query_id, rank""",
    # SemDeDup: same trained centroids as sim_ann_ivf_kmeans, assignment
    # rank 1, within-cluster pairwise cosine vs the calibrated threshold,
    # drop = exists a lower-id cluster-mate at/above it
    "dedup_semantic": _EMB_NORM_SQL
    + _kmeans_cte_sql()
    + f"""
    , assign_scored AS (
      SELECT e.vec_id, c.cent_id,
             {_DOT_SQL.format(a="e.embedding", b="c.ct_emb")} / (e.norm * c.ct_norm) AS cos
      FROM emb e CROSS JOIN cent{KMEANS_ITERS} c
    ), assigned AS (
      SELECT vec_id, cent_id FROM (
        SELECT vec_id, cent_id,
               row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cent_id ASC) AS rn
        FROM assign_scored) WHERE rn = 1
    ), dropped AS (
      SELECT DISTINCT b.vec_id
      FROM assigned a
      JOIN assigned b ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
      JOIN emb ea ON ea.vec_id = a.vec_id
      JOIN emb eb ON eb.vec_id = b.vec_id
      WHERE {_DOT_SQL.format(a="ea.embedding", b="eb.embedding")} / (ea.norm * eb.norm)
            >= {SEMDEDUP_THRESH}
    )
    SELECT s.vec_id, s.cent_id,
           CASE WHEN d.vec_id IS NOT NULL THEN 'drop' ELSE 'keep' END AS action
    FROM assigned s LEFT JOIN dropped d ON d.vec_id = s.vec_id
    ORDER BY s.vec_id""",
    "dedup_embedding_cosine": _EMB_NORM_SQL
    + f"""
    , pairs AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             {_DOT_SQL.format(a="a.embedding", b="b.embedding")} / (a.norm * b.norm) AS cos
      FROM emb a JOIN emb b ON a.vec_id < b.vec_id
    ),
    ranked AS (
      SELECT vec_a, vec_b, cos,
             row_number() OVER (ORDER BY cos DESC, vec_a ASC, vec_b ASC) AS rank
      FROM pairs
    )
    SELECT rank, vec_a, vec_b, round(cos, 6) AS cosine
    FROM ranked WHERE rank <= 20 ORDER BY rank""",
    "sim_ann_filtered": _EMB_NORM_SQL
    + f"""
    , cent AS (
      SELECT vec_id AS cent_id, embedding AS ct_emb, norm AS ct_norm
      FROM emb WHERE vec_id >= 8 AND vec_id < {8 + N_IVF_CENTROIDS}
    ), assign_scored AS (
      SELECT e.vec_id, e.label, c.cent_id,
             {_DOT_SQL.format(a="e.embedding", b="c.ct_emb")} / (e.norm * c.ct_norm) AS cos
      FROM emb e CROSS JOIN cent c
    ), ranked AS (
      SELECT vec_id, label, cent_id, cos,
             row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cent_id ASC) AS rn
      FROM assign_scored
    ), assigned AS (
      SELECT vec_id, label, cent_id FROM ranked WHERE rn = 1
    ), probes AS (
      SELECT vec_id AS query_id, vec_id % 10 AS target_label, cent_id
      FROM ranked WHERE vec_id < {N_QUERIES} AND rn <= {N_PROBE_FILTERED}
    ), cands AS (
      SELECT DISTINCT p.query_id, p.target_label, a.vec_id AS cand_id
      FROM probes p JOIN assigned a ON p.cent_id = a.cent_id
      WHERE a.label = p.target_label AND a.vec_id <> p.query_id
    ), scored AS (
      SELECT cd.query_id, cd.target_label, cd.cand_id,
             {_DOT_SQL.format(a="q.embedding", b="x.embedding")} / (q.norm * x.norm) AS cos
      FROM cands cd
      JOIN emb q ON q.vec_id = cd.query_id
      JOIN emb x ON x.vec_id = cd.cand_id
    ), final AS (
      SELECT query_id, target_label, cand_id, cos,
             row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id ASC) AS rank
      FROM scored
    )
    SELECT query_id, CAST(target_label AS BIGINT) AS target_label,
           cand_id, rank, round(cos, 6) AS cosine
    FROM final WHERE rank <= {TOP_K} ORDER BY query_id, rank""",
    "sim_ann_ivf_kmeans": _EMB_NORM_SQL
    + _kmeans_cte_sql()
    + f"""
    , assign_scored AS (
      SELECT e.vec_id, c.cent_id,
             {_DOT_SQL.format(a="e.embedding", b="c.ct_emb")} / (e.norm * c.ct_norm) AS cos
      FROM emb e CROSS JOIN cent{KMEANS_ITERS} c
    ), ranked AS (
      SELECT vec_id, cent_id, cos,
             row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cent_id ASC) AS rn
      FROM assign_scored
    ), assigned AS (
      SELECT vec_id, cent_id FROM ranked WHERE rn = 1
    ), probes AS (
      SELECT vec_id AS query_id, cent_id FROM ranked
      WHERE vec_id < {N_QUERIES} AND rn <= {N_PROBE_TRAINED}
    ), cands AS (
      SELECT DISTINCT p.query_id, a.vec_id AS cand_id
      FROM probes p JOIN assigned a ON p.cent_id = a.cent_id
      WHERE a.vec_id <> p.query_id
    ), scored AS (
      SELECT cd.query_id, cd.cand_id,
             {_DOT_SQL.format(a="q.embedding", b="x.embedding")} / (q.norm * x.norm) AS cos
      FROM cands cd
      JOIN emb q ON q.vec_id = cd.query_id
      JOIN emb x ON x.vec_id = cd.cand_id
    ), final AS (
      SELECT query_id, cand_id, cos,
             row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id ASC) AS rank
      FROM scored
    )
    SELECT query_id, cand_id, rank, round(cos, 6) AS cosine
    FROM final WHERE rank <= {TOP_K} ORDER BY query_id, rank""",
    "sim_ann_pq": _EMB_NORM_SQL
    + f"""
    , seeds AS (
      SELECT CAST(vec_id - 15 AS INT) AS code, embedding
      FROM embeddings WHERE vec_id >= 16 AND vec_id < {16 + PQ_K}
    ),
    codebook0 AS (
      SELECT t.m, code, embedding[t.m*{PQ_SUB}+1 : t.m*{PQ_SUB}+{PQ_SUB}] AS cw
      FROM seeds CROSS JOIN unnest(range(0, {PQ_M})) AS t(m)
    ),
    subvecs AS (
      SELECT e.vec_id, e.norm, t.m, e.embedding[t.m*{PQ_SUB}+1 : t.m*{PQ_SUB}+{PQ_SUB}] AS sv
      FROM emb e CROSS JOIN unnest(range(0, {PQ_M})) AS t(m)
    )"""
    + _pq_train_cte_sql()
    + f"""
    , enc AS (
      SELECT vec_id, norm, m, code,
             row_number() OVER (
               PARTITION BY vec_id, m
               ORDER BY {_L2SQ_SQL.format(a="sv", b="cw")} ASC, code ASC) AS rn
      FROM subvecs JOIN codebook USING (m)
    ),
    codes AS (
      SELECT vec_id, list(code ORDER BY m) AS codes, min(norm) AS norm
      FROM enc WHERE rn = 1 GROUP BY vec_id
    ),
    dtab AS (
      SELECT s.vec_id AS query_id, s.norm AS q_norm, s.m, c.code,
             {_DOT_SQL.format(a="s.sv", b="c.cw")} AS dp
      FROM subvecs s JOIN codebook c USING (m)
      WHERE s.vec_id < {N_QUERIES}
    ),
    lutm AS (
      SELECT query_id, q_norm, m, list(dp ORDER BY code) AS lm
      FROM dtab GROUP BY query_id, q_norm, m
    ),
    lut AS (
      SELECT query_id, q_norm, list(lm ORDER BY m) AS lut
      FROM lutm GROUP BY query_id, q_norm
    ),
    scored AS (
      SELECT l.query_id, c.vec_id AS cand_id,
             list_reduce(list_transform(list_zip(c.codes, l.lut), p -> p[2][p[1]]),
                         (s, x) -> s + x) / (l.q_norm * c.norm) AS acos
      FROM codes c CROSS JOIN lut l WHERE c.vec_id <> l.query_id
    ),
    shortlist AS (
      SELECT query_id, cand_id FROM (
        SELECT query_id, cand_id,
               row_number() OVER (PARTITION BY query_id ORDER BY acos DESC, cand_id ASC) AS srank
        FROM scored
      ) WHERE srank <= {PQ_SHORTLIST}
    ),
    rescored AS (
      SELECT s.query_id, s.cand_id,
             {_DOT_SQL.format(a="q.embedding", b="x.embedding")} / (q.norm * x.norm) AS cos
      FROM shortlist s
      JOIN emb q ON q.vec_id = s.query_id
      JOIN emb x ON x.vec_id = s.cand_id
    ),
    final AS (
      SELECT query_id, cand_id, cos,
             row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id ASC) AS rank
      FROM rescored
    )
    SELECT query_id, cand_id, rank, round(cos, 6) AS cosine
    FROM final WHERE rank <= {TOP_K} ORDER BY query_id, rank""",
    "sim_ann_ivfpq": _EMB_NORM_SQL
    + _kmeans_cte_sql()
    + f"""
    , subvecs AS (
      SELECT e.vec_id, e.norm, t.m, e.embedding[t.m*{PQ_SUB}+1 : t.m*{PQ_SUB}+{PQ_SUB}] AS sv
      FROM emb e CROSS JOIN unnest(range(0, {PQ_M})) AS t(m)
    ),
    assign_scored AS (
      SELECT e.vec_id, c.cent_id,
             {_DOT_SQL.format(a="e.embedding", b="c.ct_emb")} / (e.norm * c.ct_norm) AS cos
      FROM emb e CROSS JOIN cent{KMEANS_ITERS} c
    ), ranked AS (
      SELECT vec_id, cent_id, cos,
             row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cent_id ASC) AS rn
      FROM assign_scored
    ), assigned AS (
      SELECT vec_id, cent_id FROM ranked WHERE rn = 1
    ), probes AS (
      SELECT vec_id AS query_id, cent_id FROM ranked
      WHERE vec_id < {N_QUERIES} AND rn <= {N_PROBE_TRAINED}
    ), res AS (
      SELECT e.vec_id, e.norm, a.cent_id,
             list_transform(list_zip(e.embedding, c.ct_emb),
                            p -> CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) AS rv
      FROM emb e
      JOIN assigned a ON a.vec_id = e.vec_id
      JOIN cent{KMEANS_ITERS} c ON c.cent_id = a.cent_id
    ), rsubvecs AS (
      SELECT r.vec_id, r.norm, t.m, r.rv[t.m*{PQ_SUB}+1 : t.m*{PQ_SUB}+{PQ_SUB}] AS sv
      FROM res r CROSS JOIN unnest(range(0, {PQ_M})) AS t(m)
    ),
    codebook0 AS (
      SELECT m, CAST(vec_id - 15 AS INT) AS code, sv AS cw
      FROM rsubvecs WHERE vec_id >= 16 AND vec_id < {16 + IVFPQ_K}
    )"""
    + _pq_train_cte_sql(src="rsubvecs")
    + f"""
    , cands AS (
      SELECT DISTINCT p.query_id, p.cent_id, a.vec_id AS cand_id
      FROM probes p JOIN assigned a ON p.cent_id = a.cent_id
      WHERE a.vec_id <> p.query_id
    ), enc AS (
      SELECT vec_id, norm, m, code,
             row_number() OVER (
               PARTITION BY vec_id, m
               ORDER BY {_L2SQ_SQL.format(a="sv", b="cw")} ASC, code ASC) AS rn
      FROM rsubvecs JOIN codebook USING (m)
      WHERE vec_id IN (SELECT cand_id FROM cands)
    ), codes AS (
      SELECT vec_id, list(code ORDER BY m) AS codes, min(norm) AS norm
      FROM enc WHERE rn = 1 GROUP BY vec_id
    ), dtab AS (
      SELECT s.vec_id AS query_id, s.norm AS q_norm, s.m, c.code,
             {_DOT_SQL.format(a="s.sv", b="c.cw")} AS dp
      FROM subvecs s JOIN codebook c USING (m)
      WHERE s.vec_id < {N_QUERIES}
    ), lutm AS (
      SELECT query_id, q_norm, m, list(dp ORDER BY code) AS lm
      FROM dtab GROUP BY query_id, q_norm, m
    ), lut AS (
      SELECT query_id, q_norm, list(lm ORDER BY m) AS lut
      FROM lutm GROUP BY query_id, q_norm
    ), qc AS (
      SELECT p.query_id, p.cent_id,
             {_DOT_SQL.format(a="q.embedding", b="c.ct_emb")} AS qc_dot
      FROM probes p
      JOIN emb q ON q.vec_id = p.query_id
      JOIN cent{KMEANS_ITERS} c ON c.cent_id = p.cent_id
    ), scored AS (
      SELECT cd.query_id, cd.cand_id,
             (g.qc_dot +
              list_reduce(list_transform(list_zip(c.codes, l.lut), p -> p[2][p[1]]),
                          (s, x) -> s + x)) / (l.q_norm * c.norm) AS acos
      FROM cands cd
      JOIN codes c ON c.vec_id = cd.cand_id
      JOIN lut l ON l.query_id = cd.query_id
      JOIN qc g ON g.query_id = cd.query_id AND g.cent_id = cd.cent_id
    ), shortlist AS (
      SELECT query_id, cand_id FROM (
        SELECT query_id, cand_id,
               row_number() OVER (PARTITION BY query_id ORDER BY acos DESC, cand_id ASC) AS srank
        FROM scored
      ) WHERE srank <= {IVFPQ_SHORTLIST}
    ), rescored AS (
      SELECT s.query_id, s.cand_id,
             {_DOT_SQL.format(a="q.embedding", b="x.embedding")} / (q.norm * x.norm) AS cos
      FROM shortlist s
      JOIN emb q ON q.vec_id = s.query_id
      JOIN emb x ON x.vec_id = s.cand_id
    ), final AS (
      SELECT query_id, cand_id, cos,
             row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id ASC) AS rank
      FROM rescored
    )
    SELECT query_id, cand_id, rank, round(cos, 6) AS cosine
    FROM final WHERE rank <= {TOP_K} ORDER BY query_id, rank""",
    # persistent-index lifecycle: raw-seed quantizer over the base split,
    # frozen-quantizer assignment for the appended split, nprobe probes,
    # exact re-score — phase 'pre' = base-only lists, 'post' = after append
    "sim_ann_persistent": _EMB_NORM_SQL
    + f"""
    , base AS (SELECT * FROM emb WHERE vec_id % 5 <> 3),
    cent AS (
      SELECT row_number() OVER (ORDER BY vec_id) AS cent_id,
             embedding AS ct_emb, norm AS ct_norm
      FROM (SELECT * FROM base ORDER BY vec_id LIMIT 8)
    ),
    asg AS (  -- one assignment rule for build AND append (frozen quantizer)
      SELECT vec_id, cent_id,
             CASE WHEN vec_id % 5 = 3 THEN 'post' ELSE 'both' END AS member
      FROM (
        SELECT e.vec_id, c.cent_id, e.vec_id % 5 AS m5,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {_DOT_SQL.format(a="e.embedding", b="c.ct_emb")}
                          / (e.norm * c.ct_norm) DESC, c.cent_id ASC) AS rn
        FROM emb e CROSS JOIN cent c
      ) WHERE rn = 1
    ),
    probes AS (
      SELECT query_id, cent_id FROM (
        SELECT q.vec_id AS query_id, c.cent_id,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY {_DOT_SQL.format(a="q.embedding", b="c.ct_emb")}
                          / (q.norm * c.ct_norm) DESC, c.cent_id ASC) AS rn
        FROM emb q CROSS JOIN cent c WHERE q.vec_id < {N_QUERIES}
      ) WHERE rn <= {N_PROBE}
    ),
    phases AS (SELECT 'pre' AS phase UNION ALL SELECT 'post'),
    cands AS (
      SELECT DISTINCT ph.phase, p.query_id, a.vec_id AS cand_id
      FROM phases ph
      JOIN probes p ON TRUE
      JOIN asg a ON a.cent_id = p.cent_id
      WHERE a.vec_id <> p.query_id
        AND (a.member = 'both' OR ph.phase = 'post')
    ),
    scored AS (
      SELECT cd.phase, cd.query_id, cd.cand_id,
             {_DOT_SQL.format(a="q.embedding", b="x.embedding")} / (q.norm * x.norm) AS cos
      FROM cands cd
      JOIN emb q ON q.vec_id = cd.query_id
      JOIN emb x ON x.vec_id = cd.cand_id
    ),
    final AS (
      SELECT phase, query_id, cand_id, cos,
             row_number() OVER (PARTITION BY phase, query_id
                                ORDER BY cos DESC, cand_id ASC) AS rank
      FROM scored
    )
    SELECT phase, query_id, cand_id, CAST(rank AS INT) AS rank,
           round(cos, 6) AS cosine
    FROM final WHERE rank <= {TOP_K} ORDER BY phase, query_id, rank""",
    "sim_label_centroids": _EMB_NORM_SQL
    + """
    SELECT label, count(*) AS n_vectors,
           round(CAST(SUM(CAST(norm AS DECIMAL(38,12))) AS DOUBLE), 6) AS total_norm,
           round(CAST(SUM(CAST(norm AS DECIMAL(38,12))) AS DOUBLE) / count(*), 6) AS mean_norm
    FROM emb GROUP BY label ORDER BY label""",
    # drift ledger mirror: frozen-quantizer assignment (one rule for
    # build AND append), per-row sequential-fold residual norms,
    # DECIMAL(38,12) sums, r6-rounded double means — drift divides the
    # ROUNDED means, exactly as ivf_drift does
    "sim_ann_drift": _EMB_NORM_SQL
    + f"""
    , base AS (SELECT * FROM emb WHERE vec_id % 5 <> 3),
    cent AS (
      SELECT row_number() OVER (ORDER BY vec_id) AS cent_id,
             embedding AS ct_emb, norm AS ct_norm
      FROM (SELECT * FROM base ORDER BY vec_id LIMIT 8)
    ),
    asg AS (
      SELECT vec_id, cent_id, res_norm,
             CASE WHEN vec_id % 5 = 3 THEN 'append' ELSE 'build' END AS member
      FROM (
        SELECT e.vec_id, c.cent_id,
               sqrt({_L2SQ_SQL.format(a="e.embedding", b="c.ct_emb")}) AS res_norm,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {_DOT_SQL.format(a="e.embedding", b="c.ct_emb")}
                          / (e.norm * c.ct_norm) DESC, c.cent_id ASC) AS rn
        FROM emb e CROSS JOIN cent c
      ) WHERE rn = 1
    ),
    agg AS (
      SELECT cent_id,
             sum(CASE WHEN member = 'build' THEN 1 ELSE 0 END) AS nb,
             sum(CASE WHEN member = 'build'
                      THEN CAST(res_norm AS DECIMAL(38,12)) END) AS sb,
             count(*) AS nn,
             sum(CAST(res_norm AS DECIMAL(38,12))) AS sn
      FROM asg GROUP BY cent_id
    ),
    tot AS (SELECT count(*) AS k, sum(nn) AS total FROM agg)
    SELECT CAST(cent_id AS INT) AS cent_id,
           CAST(nb AS BIGINT) AS n_build,
           CAST(nn AS BIGINT) AS n_now,
           CAST(nn - nb AS BIGINT) AS added,
           round(CAST(sb AS DOUBLE) / nb, 6) AS mean_res_build_r6,
           round(CAST(sn AS DOUBLE) / nn, 6) AS mean_res_now_r6,
           round(round(CAST(sn AS DOUBLE) / nn, 6)
                 / round(CAST(sb AS DOUBLE) / nb, 6), 6) AS drift_r6,
           round(nn * k / CAST(total AS DOUBLE), 6) AS skew_r6
    FROM agg CROSS JOIN tot ORDER BY cent_id""",
}

QUERIES = {
    "sim_quantized_cosine": q_sim_quantized_cosine,
    "sim_topk_cosine": q_sim_topk_cosine,
    "sim_ann_bucketed": q_sim_ann_bucketed,
    "sim_ann_filtered": q_sim_ann_filtered,
    "sim_ann_ivf_kmeans": q_sim_ann_ivf_kmeans,
    "sim_ann_pq": q_sim_ann_pq,
    "sim_ann_ivfpq": q_sim_ann_ivfpq,
    "sim_ann_persistent": q_sim_ann_persistent,
    "sim_ann_drift": q_sim_ann_drift,
    "sim_label_centroids": q_sim_label_centroids,
    "dedup_semantic": q_dedup_semantic,
    "dedup_embedding_cosine": q_dedup_embedding_cosine,
}
