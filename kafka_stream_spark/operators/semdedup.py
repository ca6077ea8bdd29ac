"""Broadcast-codebook primitives and SemDeDup-class semantic dedup.

This module is the one home of the nearest-centroid machinery every
k-means, PQ and IVF path uses: a small codebook ``(cid, cvec[, key])``
is folded into one broadcast array row (one row per ``key`` value when
a caller keeps several codebooks apart, e.g. PQ subspaces), and each
data row picks its centroids with a per-row expression over that array
— a map-side argmin with no join expansion and no window exchange
(broadcast-codebook assignment as in "Time Series Similarity Search
for Streaming Data in Distributed Systems", EDBT 2019).

* ``nearest_sql`` — squared-L2 order, ``ORDER BY round(dist, 6), cid``;
* ``probe_sql`` — cosine order, ``ORDER BY round(cos, 6) DESC, cid``;
  both with DuckDB's NaN/NULL placement (NaN sorts as the largest
  number, NULL last), so the oracles' window forms agree row for row.
* ``update_centroids`` / ``train_centroids`` — the Lloyd mean update
  and deterministic k-means training (init = the k lowest vec_ids).

``semantic_dedup`` is the production SemDeDup with k AS A PARAMETER:
callers scale k ~ sqrt(n) (SemDeDup, Abbas et al. 2023,
arXiv:2303.09540 — 50k clusters for LAION), which bounds expected
cluster width to n/k ~ sqrt(n) and the candidate-pair volume to
O(sum c_i^2) ~ O(n^1.0) instead of O(n^2).  The q_semantic_dedup gate
query is its pinned k=8 instance, so the hash-gated code path and the
scale path are the same code.

Everything stays deterministic regardless of k: similarities round to
6 digits before every comparison, ties break on cid, and the survivor
of a near-dup group is the lowest vec_id — so incremental/streaming
replays converge to the batch answer (see
streaming/pipeline.run_streaming_semantic_dedup).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import vectors


def with_codebook(
    df: DataFrame, cent: DataFrame, name: str, sql: str, key: str | None = None
) -> DataFrame:
    """``df`` plus column ``name``: the per-row SQL expression ``sql``
    (built with ``nearest_sql`` / ``probe_sql``) over the codebook
    ``(cid, cvec[, key])`` folded to one broadcast ``_cents`` array —
    per ``key`` value when given, rows meeting their own group's.  An
    empty codebook folds to no rows, so ``df`` then yields no rows, as
    the oracles' CROSS JOIN does."""
    keys = [key] if key else []
    book = F.broadcast(
        cent.groupBy(*keys)
        .agg(F.collect_list(F.struct("cid", "cvec")).alias("_cents"))
        .filter(F.size("_cents") > 0)
    )
    joined = df.join(book, key) if key else df.crossJoin(book)
    return joined.select(*df.columns, F.expr(sql).alias(name))


def _best(structs: str, n: int | None) -> str:
    if n is None:
        return f"array_min({structs})"
    return f"slice(array_sort({structs}), 1, {int(n)})"


def nearest_sql(
    vec_sql: str, n: int | None = None, dist=vectors.sq_l2_spark_sql
) -> str:
    """struct(dist, cid) of the codebook entry nearest ``vec_sql`` (or,
    given ``n``, the array of the ``n`` nearest, nearest first), with
    dist = round(``dist``(vec, cvec), 6).  Ascending struct order is
    the oracles' ``ORDER BY dist, cid``: NaN after every number, and a
    NULL dist (NULL centroid) last through the leading ``null_last``
    flag — Spark's struct order would put it first.  The flag is set
    in a second pass so each distance is computed once."""
    d = dist(vec_sql, "c.cvec")
    scored = (
        f"transform(_cents, c -> struct(round({d}, 6) AS dist, c.cid AS cid))"
    )
    return _best(
        f"transform({scored}, s -> struct(s.dist IS NULL AS null_last, "
        f"s.dist AS dist, s.cid AS cid))",
        n,
    )


def probe_sql(vec_sql: str, n: int | None = None) -> str:
    """struct(ns, cid) of the codebook entry with the highest rounded
    cosine to ``vec_sql`` (or, given ``n``, the array of the top ``n``),
    ns = -round(cos, 6).  NaN maps to -Infinity and NULL (a 0-norm or
    NULL vector) to +Infinity, so ascending struct order is
    ``ORDER BY round(cos, 6) DESC, cid`` with NaN first and NULL last —
    Spark's own struct order would put NaN last and NULL first."""
    cos = (
        f"try_divide({vectors._dot_spark_sql(vec_sql, 'c.cvec')}, "
        f"{vectors._norm_spark_sql(vec_sql)} * "
        f"{vectors._norm_spark_sql('c.cvec')})"
    )
    ns = (
        f"coalesce(nanvl(-round({cos}, 6), CAST('-Infinity' AS DOUBLE)), "
        f"CAST('Infinity' AS DOUBLE))"
    )
    return _best(
        f"transform(_cents, c -> struct({ns} AS ns, c.cid AS cid))", n
    )


def assign_clusters(
    e: DataFrame, cent: DataFrame, key: str | None = None
) -> DataFrame:
    """Nearest-centroid assignment: (vec_id, emb[, key]) x broadcast
    codebook -> e's columns + (cid, dist), ties broken by (dist, cid)
    so both engines and every rerun agree.  Assignment is a map-side
    pass however large the fact side is."""
    from ..session import default_parallelism

    # fan out BEFORE the per-row argmin: without an exchange the k·dim
    # fold would run inside the single-split scan task (§2.6)
    return with_codebook(
        e.repartition(default_parallelism()), cent, "_b", nearest_sql("emb"), key
    ).select(
        *e.columns, F.col("_b.cid").alias("cid"), F.col("_b.dist").alias("dist")
    )


def update_centroids(assigned: DataFrame, key: str | None = None) -> DataFrame:
    """Lloyd update: per-(cluster, dim) means folded back to vectors.
    Shuffles (cid, pos, partial-sum) triples — never raw vectors.  A
    centroid with no members drops out of the updated codebook."""
    keys = [key] if key else []
    dims = (
        assigned.select(*keys, "cid", F.posexplode("emb").alias("pos", "val"))
        .groupBy(*keys, "cid", "pos")
        .agg(F.avg("val").alias("v"))
    )
    return dims.groupBy(*keys, "cid").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "v"))),
            lambda s: s["v"],
        ).alias("cvec")
    )


def train_centroids(
    e: DataFrame,
    k: int,
    iters: int = 2,
    sample_fraction: float | None = None,
    key: str | None = None,
) -> DataFrame:
    """Deterministic k-means training: init = the rows of the k lowest
    vec_ids (the oracles' ``vec_id < k`` on a 0-based corpus), then
    ``iters - 1`` Lloyd updates.  With ``key`` each key value trains
    its own codebook over its own rows (PQ subspaces).  At corpus scale
    pass ``sample_fraction`` so training touches a hash-deterministic
    sample (SemDeDup trains its 50k LAION centroids on a sample too);
    assignment of the full corpus stays broadcast map-side either way."""
    train = e
    if sample_fraction is not None and sample_fraction < 1.0:
        # deterministic hash sample, not rand(): replays identically
        train = e.filter(
            F.pmod(F.xxhash64("vec_id"), 10_000)
            < int(sample_fraction * 10_000)
        )
    keys = [key] if key else []
    cent = (
        e.select("vec_id")
        .distinct()
        .orderBy("vec_id")
        .limit(k)
        .join(e, "vec_id")
        .select(*keys, F.col("vec_id").alias("cid"), F.col("emb").alias("cvec"))
    )
    for _ in range(iters - 1):
        cent = update_centroids(assign_clusters(train, cent, key), key)
    return cent.localCheckpoint(eager=True)


def semantic_dedup(
    embeddings: DataFrame,
    k: int = 8,
    tau: float = 0.4,
    iters: int = 2,
    sample_fraction: float | None = None,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """(vec_id, embedding) -> (vec_id, cluster_id, kept, dup_of).

    SemDeDup: cluster the embeddings, then inside each cluster drop any
    vector whose cosine to a LOWER-ID member is >= tau (keep-lowest-id
    = the deterministic keep-one-per-group).  The pair stage self-joins
    on cluster id, so candidate pairs are O(sum c_i^2); choose
    k ~ sqrt(n) and that bound is ~O(n), the production setting.  Pass
    ``centroids`` to reuse a trained/stored codebook (the streaming
    store does).

    Per-vector norms are materialized once before the self-join —
    the cluster pair stage evaluates ~cluster-width cosines per vector
    and recomputing norms per pair would redo 2/3 of the arithmetic.
    """
    e = embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    cent = (
        centroids
        if centroids is not None
        else train_centroids(e, k, iters=iters, sample_fraction=sample_fraction)
    )
    members = (
        assign_clusters(e, cent)
        .select(
            "vec_id", "cid", "emb", vectors.norm("emb").alias("nrm")
        )
        .localCheckpoint(eager=True)
    )
    # SALT the cluster-keyed pair join (guide §2.5): the join key has
    # only k distinct values, so the O(sum c_i^2) cosine stage — the
    # query's whole cost — would run on at most k tasks however many
    # cores exist. A deterministic salt on the a-side (pmod of the id)
    # with the b-side replicated nsalt ways spreads each cluster's
    # pair block over k*nsalt tasks; the joined row set is identical.
    from ..session import default_parallelism

    # Cap the salt fan-out independently of core count (ADVICE r12):
    # the b-side is replicated nsalt ways before the pair join, so
    # shuffle volume grows linearly with nsalt — k*nsalt tasks already
    # saturate any box at nsalt=16 for the gate's k, while a 192-core
    # cluster would otherwise inflate the exchange 12x past need.
    nsalt = max(1, min(default_parallelism(), 16))
    salts = members.sparkSession.range(nsalt).select(
        F.col("id").cast("int").alias("slt")
    )
    a = members.select(
        F.col("vec_id").alias("a_id"),
        "cid",
        F.col("emb").alias("a_emb"),
        F.col("nrm").alias("a_nrm"),
        F.pmod(F.col("vec_id"), F.lit(nsalt)).cast("int").alias("a_slt"),
    )
    b = members.select(
        F.col("vec_id").alias("b_id"),
        F.col("cid").alias("b_cid"),
        F.col("emb").alias("b_emb"),
        F.col("nrm").alias("b_nrm"),
    ).crossJoin(F.broadcast(salts))
    # try_divide: a zero-norm embedding yields NULL (filtered by the
    # >= tau comparison) instead of an ANSI divide-by-zero failure.
    cos = F.try_divide(
        vectors.dot("a_emb", "b_emb"),
        F.col("a_nrm") * F.col("b_nrm"),
    )
    dups = (
        a.join(
            b,
            (F.col("cid") == F.col("b_cid"))
            & (F.col("a_slt") == F.col("slt"))
            & (F.col("a_id") < F.col("b_id")),
        )
        .filter(F.round(cos, 6) >= F.lit(tau))
        .groupBy("b_id")
        .agg(F.min("a_id").alias("dup_of"))
    )
    return members.join(dups, members.vec_id == dups.b_id, "left").select(
        "vec_id",
        F.col("cid").alias("cluster_id"),
        F.col("dup_of").isNull().alias("kept"),
        "dup_of",
    )


def _probe_assignments(e: DataFrame, cent: DataFrame, nprobe: int) -> DataFrame:
    """(vec_id, emb) × broadcast codebook → each vector's ``nprobe``
    nearest cells ranked by (rounded cosine DESC, cid): prn = 1 is the
    ASSIGNED cell (the inverted-list home), prn 2..nprobe are the extra
    PROBED cells. One pass feeds both sides of the routed pair stage."""
    from ..session import default_parallelism

    # fan out before the per-row k·dim scoring (§2.6)
    probed = with_codebook(
        e.repartition(default_parallelism()),
        cent,
        "cids",
        f"transform({probe_sql('emb', nprobe)}, s -> s.cid)",
    )
    return probed.select(
        "vec_id", "emb", F.posexplode("cids").alias("pos0", "cid")
    ).select("vec_id", "emb", "cid", (F.col("pos0") + 1).alias("prn"))


def semantic_dedup_routed(
    embeddings: DataFrame,
    centroids: DataFrame,
    tau: float = 0.4,
    nprobe: int = 2,
) -> DataFrame:
    """ANN-routed SemDeDup (round-5 verdict ask #7): candidate pairs
    come from IVF routing instead of whole-cluster self-joins — vector
    b is a duplicate of min(a_id) over lower-id vectors a whose
    ASSIGNED cell is among b's ``nprobe`` PROBED cells and whose
    rounded cosine ≥ tau.

    At nprobe = 1 this is classic SemDeDup restricted to the assigned
    cell; nprobe > 1 recovers the near-boundary pairs cluster-bounded
    dedup misses while still touching only ~nprobe·(n/k) candidates
    per vector. The asymmetric rule (assigned ∈ probed) makes the
    STREAMING store replay this batch answer exactly when ids arrive
    in order — the store keeps each member's assigned cell and each
    batch joins its probes against it (run_streaming_semantic_dedup_
    routed); pytest pins incremental ≡ batch after every wave.

    Output matches semantic_dedup: (vec_id, cluster_id, kept, dup_of)
    with cluster_id = the assigned cell."""
    e = embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    ranked = _probe_assignments(e, centroids, nprobe).localCheckpoint(
        eager=True
    )
    members = ranked.filter(F.col("prn") == 1).select(
        F.col("vec_id").alias("a_id"),
        F.col("cid").alias("cell"),
        F.col("emb").alias("a_emb"),
        vectors.norm("emb").alias("a_nrm"),
    )
    probes = ranked.select(
        F.col("vec_id").alias("b_id"),
        F.col("cid").alias("cell"),
        F.col("emb").alias("b_emb"),
        vectors.norm("emb").alias("b_nrm"),
    )
    cos = F.try_divide(
        vectors.dot("a_emb", "b_emb"),
        F.col("a_nrm") * F.col("b_nrm"),
    )
    dups = (
        probes.join(members, "cell")
        .filter(F.col("a_id") < F.col("b_id"))
        .filter(F.round(cos, 6) >= F.lit(tau))
        .groupBy("b_id")
        .agg(F.min("a_id").alias("dup_of"))
    )
    assigned = ranked.filter(F.col("prn") == 1)
    return assigned.join(
        dups, assigned.vec_id == dups.b_id, "left"
    ).select(
        "vec_id",
        F.col("cid").alias("cluster_id"),
        F.col("dup_of").isNull().alias("kept"),
        "dup_of",
    )
