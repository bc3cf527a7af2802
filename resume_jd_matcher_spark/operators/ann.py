"""Approximate nearest neighbor — the scale path for similarity search
(SURVEY.md §2.C V5/V6 "at scale", north-star similarity-search op).

Brute force (operators/similarity.py) is exact and O(N·Q); at 100 TB
the corpus scan still parallelizes, but every query touches every row.
The LSH path here prunes candidates to same-bucket rows first:

  sign(v · h_j) for deterministic hyperplanes h_j → bit j of a bucket id
  → equi-join corpus.bucket = query.bucket → exact re-rank in bucket.

The bucket join is a plain equi-join, so Catalyst hash-partitions both
sides on the bucket id — no crossJoin, no broadcast of the corpus, and
the per-bucket candidate set is ~N / 2^planes. Hyperplanes are derived
from ``sin`` of the (plane, dimension) index — fully deterministic and
expressible identically in the DuckDB oracle (no RNG, no model).

MLlib's ``BucketedRandomProjectionLSH`` offers the same shape with
random planes; this implementation keeps the planes deterministic so
results are oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from resume_jd_matcher_spark.functions.vector import squared_l2


def lsh_signature(vec: Column, n_planes: int = 8) -> Column:
    """Bucket id: bit j = sign(sum_i v[i] * sin(0.7*j*dim + 0.3*i)),
    i 1-based — mirrors the oracle's generate_series(1, len) indexing."""
    dim = F.size(vec)
    idx = F.sequence(F.lit(1), dim)

    def plane_term(j: int):
        def term(x: Column, i: Column) -> Column:
            return x.cast("double") * F.sin(
                F.lit(0.7 * j) * dim.cast("double") + F.lit(0.3) * i.cast("double")
            )

        return term

    bucket: Column = F.lit(0).cast("long")
    for j in range(n_planes):
        proj = F.aggregate(
            F.zip_with(vec, idx, plane_term(j)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bucket = bucket + F.when(proj > 0.0, F.lit(1 << j)).otherwise(F.lit(0)).cast("long")
    return bucket


def lsh_bucket_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 8,
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    vec_col: str = "embedding",
    query_vec_col: str = "query_embedding",
    bucket_col: str | None = None,
) -> DataFrame:
    """Top-k per query among same-LSH-bucket candidates (exact squared
    L2 re-rank inside the bucket). Recall < 1.0 by construction; pair
    with brute force when ground truth is required.

    ``bucket_col``: name of a PRECOMPUTED bucket column on ``corpus``
    (the persisted-index probe path — V3's "index build" materialized
    as a table); None recomputes the signature in-flight.

    INVARIANT: a precomputed ``bucket_col`` must have been produced by
    ``lsh_signature(vec, n_planes)`` with the SAME ``n_planes`` as this
    call — query-side signatures are always recomputed with
    ``n_planes``, so a mismatched index silently yields empty or
    low-recall joins. ``build_lsh_index``/``probe_lsh_index`` persist
    the parameter next to the index and validate it for you."""
    if bucket_col is not None:
        c = corpus.withColumnRenamed(bucket_col, "bucket")
    else:
        c = corpus.withColumn("bucket", lsh_signature(F.col(vec_col), n_planes))
    q = queries.withColumn("qbucket", lsh_signature(F.col(query_vec_col), n_planes))
    cand = c.join(F.broadcast(q), F.col("bucket") == F.col("qbucket"))
    d = squared_l2(F.col(vec_col), F.col(query_vec_col))
    scored = cand.select(
        F.col(query_id_col), F.col(id_col), F.col("bucket"), d.alias("dist")
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("dist").asc(), F.col(id_col).asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(query_id_col, id_col, "bucket", F.round("dist", 4).alias("dist"))
    )


def build_lsh_index(
    corpus: DataFrame,
    path: str,
    n_planes: int = 8,
    vec_col: str = "embedding",
) -> None:
    """V3 index build: persist LSH bucket assignments as parquet plus a
    ``_lsh_meta.json`` sidecar recording ``n_planes`` (underscore
    prefix → ignored by parquet readers, like _SUCCESS), so probes can
    validate the signature parameter instead of trusting the caller."""
    import json
    import os

    corpus.withColumn("bucket", lsh_signature(F.col(vec_col), n_planes)).write.mode(
        "overwrite"
    ).parquet(path)
    local = path[len("file://"):] if path.startswith("file://") else path
    with open(os.path.join(local, "_lsh_meta.json"), "w") as f:
        json.dump({"n_planes": n_planes, "vec_col": vec_col}, f)


def probe_lsh_index(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 8,
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    vec_col: str = "embedding",
    query_vec_col: str = "query_embedding",
) -> DataFrame:
    """Probe a ``build_lsh_index`` table: raises ValueError when the
    caller's ``n_planes`` disagrees with the persisted index's —
    the failure mode the bare ``bucket_col`` path can't detect."""
    import json
    import os

    local = path[len("file://"):] if path.startswith("file://") else path
    meta_path = os.path.join(local, "_lsh_meta.json")
    try:
        with open(meta_path) as f:
            meta = json.load(f)
    except FileNotFoundError as e:
        raise ValueError(
            f"{path} has no _lsh_meta.json — not a build_lsh_index table; "
            "pass its bucket column to lsh_bucket_topk(bucket_col=...) only "
            "if you can vouch for its n_planes"
        ) from e
    if meta["n_planes"] != n_planes:
        raise ValueError(
            f"index at {path} was built with n_planes={meta['n_planes']}, "
            f"probe requested {n_planes}; mismatched signatures silently "
            "return empty/low-recall joins"
        )
    idx = spark.read.parquet(path)
    return lsh_bucket_topk(
        idx,
        queries,
        k=k,
        n_planes=n_planes,
        id_col=id_col,
        query_id_col=query_id_col,
        vec_col=vec_col,
        query_vec_col=query_vec_col,
        bucket_col="bucket",
    )


def lsh_similarity_join(
    left: DataFrame,
    right: DataFrame,
    threshold: float,
    n_planes: int = 8,
    left_id: str = "left_id",
    right_id: str = "right_id",
    left_vec: str = "left_embedding",
    right_vec: str = "right_embedding",
    dedup_pairs: bool = False,
) -> DataFrame:
    """ε-similarity join, LSH-bucketed: candidates are same-bucket
    pairs (equi-join Catalyst hash-partitions on the bucket id — works
    big×big, no broadcast, no crossJoin), then exact squared-L2 verify
    under ``threshold``. Approximate by construction: cross-bucket near
    pairs are missed (~(1-ε) recall tunable via n_planes); this is the
    scale route ``choose_similarity_strategy`` picks when the estimated
    pair count makes brute force intractable.

    Output schema matches similarity_join_blas: (left_id, right_id,
    dist)."""
    lb = left.withColumn("_lb", lsh_signature(F.col(left_vec), n_planes))
    rb = right.withColumn("_rb", lsh_signature(F.col(right_vec), n_planes))
    cand = lb.join(rb, F.col("_lb") == F.col("_rb"))
    d = squared_l2(F.col(left_vec), F.col(right_vec))
    out = cand.select(
        F.col(left_id), F.col(right_id), F.round(d, 4).alias("dist")
    ).filter(F.col("dist") < F.lit(threshold))
    if dedup_pairs:
        out = out.filter(F.col(left_id) < F.col(right_id))
    return out


def ivf_centroids(
    corpus: DataFrame,
    partition_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF coarse quantizer: element-wise mean vector per partition
    (the fixture's label column stands in for k-means cluster ids —
    at scale, MLlib KMeans fits the same shape).

    Long-form posexplode → groupBy(partition, dim) avg → re-assembled
    ordered array: two narrow shuffles, no driver collection.
    """
    long = corpus.select(
        partition_col,
        F.posexplode(F.transform(F.col(vec_col), lambda x: x.cast("double"))).alias(
            "dim", "v"
        ),
    )
    per_dim = long.groupBy(partition_col, "dim").agg(F.avg("v").alias("cv"))
    return per_dim.groupBy(partition_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "cv"))), lambda s: s["cv"]
        ).alias("centroid")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    partition_col: str = "label",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    vec_col: str = "embedding",
    query_vec_col: str = "query_embedding",
    n_probe: int = 1,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF search: route each query to its n_probe nearest centroids,
    then exact-rank only within those partitions. With P partitions and
    balanced data, each query scans ~n_probe/P of the corpus; the
    routing join is an equi-join on the partition id, so the big side
    shuffles once on a low-cardinality key (AQE handles imbalance).

    ``centroids``: optional precomputed routing table
    (partition_col, centroid) — e.g. the final Lloyd centroids from
    ``lloyd_kmeans_partition`` — skipping the per-partition mean
    recompute; None derives them from the corpus partitions."""
    cents = (
        centroids
        if centroids is not None
        else ivf_centroids(corpus, partition_col, vec_col)
    )
    qc = F.broadcast(queries).crossJoin(F.broadcast(cents))
    qdist = squared_l2(F.col(query_vec_col), F.col("centroid"))
    ranked = qc.select(
        query_id_col, query_vec_col, partition_col, qdist.alias("cdist")
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cdist").asc(), F.col(partition_col).asc()
    )
    routed = (
        ranked.withColumn("crn", F.row_number().over(w))
        .filter(F.col("crn") <= n_probe)
        .select(query_id_col, query_vec_col, partition_col)
    )
    cand = corpus.join(F.broadcast(routed), partition_col)
    d = squared_l2(F.col(vec_col), F.col(query_vec_col))
    scored = cand.select(
        query_id_col, F.col(id_col), F.col(partition_col), d.alias("dist")
    )
    w2 = Window.partitionBy(query_id_col).orderBy(F.col("dist").asc(), F.col(id_col).asc())
    return (
        scored.withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") <= k)
        .select(query_id_col, id_col, partition_col, F.round("dist", 4).alias("dist"))
    )


# Centroid tables at or below this many values (k·dim, summed over
# groups) are embedded as plan literals so every assignment is a
# shuffle-free narrow projection; above it, the broadcast-join argmin
# runs (a literal plan with 65536 IVF lists x 768 dims would be a
# 50M-constant codegen blowup — the join IS the right plan there).
# Same cost-routing discipline as cluster.py's 100k-edge LPA gate.
_LIT_ASSIGN_MAX_VALUES = 32_768


def _argmin_literal(vec_sql: str, cents: list[tuple[int, list[float]]]):
    """Expression-side nearest-centroid id against LITERAL centroids:
    array_min over (dist, cid) structs — identical squared-L2
    arithmetic (same zip_with/aggregate fold) and identical
    (dist, cid) tie-break as the groupBy-argmin path, so the two
    routes are trajectory-equivalent.

    ``vec_sql`` is a SQL expression string (an ARRAY<DOUBLE>), and the
    whole argmin is built as ONE parsed SQL expression: the former
    Column-API construction paid ~2-12 ms of py4j latency PER
    operator node, which for a k×dim literal table meant >0.6 s of
    pure driver time per encode call (measured; F.expr parses the
    same tree in <2 ms). ``repr(float)`` round-trips doubles exactly
    and SQL ``...D`` literals parse IEEE-correctly, so the Literal
    values are bit-identical to F.lit's."""
    return F.expr(_argmin_literal_sql(vec_sql, cents))


def _argmin_literal_sql(
    vec_sql: str, cents: list[tuple[int, list[float]]]
) -> str:
    arms = []
    for cid, c in cents:
        lit = "array(" + ",".join(repr(float(x)) + "D" for x in c) + ")"
        arms.append(
            f"struct(aggregate(zip_with({vec_sql}, {lit}, (x, y) -> "
            "(x - y) * (x - y)), 0.0D, (acc, v) -> acc + v) AS _d, "
            f"{int(cid)} AS _cid)"
        )
    return f"array_min(array({','.join(arms)}))._cid"


def lloyd_kmeans_partition(
    corpus: DataFrame,
    n_clusters: int = 8,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "_kpart",
    round_dp: int = 6,
) -> tuple[DataFrame, DataFrame]:
    """Oracle-checkable learned coarse quantizer: fixed-iteration Lloyd
    k-means with deterministic seeds (the ``n_clusters`` lowest-id
    vectors) and per-iteration centroid rounding to ``round_dp``
    decimals, which quantizes away cross-engine float-summation-order
    noise so the whole trajectory is reproducible in ANSI SQL — the
    twin of the MLlib KMeans|| path (``kmeans_partition``), trading
    convergence quality for bit-stability. Returns
    (assigned corpus + out_col, final centroids (out_col, centroid)).

    Each iteration is a broadcast of the ≤n_clusters centroids, a
    codegen'd argmin (min(struct(dist, cid, vec)) — the vector rides
    the min-struct so no join-back is needed), and a map-side-combined
    per-dim mean — three narrow shuffles, no driver collection; only
    the FINAL centroid table is localCheckpoint'ed (intermediate
    iterations are single-consumer, so materializing them added
    blocking jobs without reuse — r13). At 100 TB: fit on a sample,
    assign the full corpus — identical shape, sample-bounded
    iteration cost."""
    v = corpus.select(
        F.col(id_col),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_v"),
    )
    seed_w = Window.orderBy(id_col)
    cents = v.orderBy(id_col).limit(n_clusters).select(
        (F.row_number().over(seed_w) - 1).alias("_cid"),
        F.transform("_v", lambda x: F.round(x, round_dp)).alias("centroid"),
    )
    if n_iter == 0:
        # no iteration will re-derive it: materialize here so the two
        # downstream consumers (assign + returned cents) compute it once
        cents = cents.localCheckpoint()

    def assign_join(cents_df: DataFrame, src: DataFrame) -> DataFrame:
        cand = src.crossJoin(F.broadcast(cents_df))
        d = squared_l2(F.col("_v"), F.col("centroid"))
        return (
            cand.select(F.col(id_col), F.col("_cid"), d.alias("_d"))
            .groupBy(id_col)
            .agg(F.min(F.struct("_d", "_cid")).alias("_m"))
            .select(F.col(id_col), F.col("_m._cid").alias("_cid"))
        )

    def lits(cents_df: DataFrame) -> list[tuple[int, list[float]]]:
        # bounded by construction: n_clusters rows, already
        # materialized by the localCheckpoint — the collect reads the
        # checkpoint, it does not rerun the iteration
        return sorted(
            (r["_cid"], list(r["centroid"])) for r in cents_df.collect()
        )

    # Measured dead end (r11): computing the per-dim means as ONE
    # hash agg of dim avg(_v[i]) columns — to avoid this posexplode's
    # rows x dim long-form shuffle — measured ~1.7x SLOWER end to end
    # (ivf_pq_topk 3.8 -> 6.3 s, semdedup 1.9 -> 5.2 s at sf0.1): the
    # 64 per-row GetArrayItem aggregate updates cost more than the
    # narrow explode shuffle they replace. The long form stays.
    #
    # r12: the literal-argmin route applies ONLY to the final
    # full-corpus assignment, where it deletes a corpus-sized shuffle
    # (the assign groupBy + join-back on id). Inside the iteration
    # loop it was measured SLOWER (per-iteration centroid collect +
    # a bigger whole-stage-codegen compile each round beat the tiny
    # sample-bounded shuffles they replaced), so the loop keeps the
    # broadcast-join argmin.
    # r13 (guide §2.4 — remove shuffles outright): the per-iteration
    # assignment is EXPRESSION-side. The ≤n_clusters centroid table is
    # collapsed to ONE sorted array row, broadcast, and each vector
    # row computes argmin via array_min(transform(...)) over the same
    # squared-L2 + (dist, cid) struct ordering the old
    # groupBy-min(struct) used — identical winner, identical values,
    # but the data-sized argmin exchange AND the join-back exchange
    # per iteration are both gone; each iteration shuffles only the
    # long-form per-dim means. Unlike the literal-argmin route
    # (measured slower in-loop: per-round collect + a k×dim-sized
    # codegen), the centroids here stay DATA — the codegen is
    # k/dim-independent and there is no driver round-trip. Only the
    # LAST iteration's centroid table is localCheckpoint'ed:
    # intermediates are single-consumer, so per-iteration
    # materialization was pure blocking-job latency.
    for it in range(n_iter):
        cl = cents.agg(
            F.array_sort(F.collect_list(F.struct("_cid", "centroid"))).alias(
                "_cl"
            )
        )
        cand = v.crossJoin(F.broadcast(cl))
        best = F.array_min(
            F.transform(
                "_cl",
                lambda c: F.struct(
                    squared_l2(F.col("_v"), c["centroid"]).alias("_d"),
                    c["_cid"].alias("_cid"),
                ),
            )
        )
        a = cand.select(best["_cid"].alias("_cid"), "_v")
        long = a.select("_cid", F.posexplode("_v").alias("_dim", "_x"))
        per_dim = long.groupBy("_cid", "_dim").agg(F.avg("_x").alias("_cv"))
        cents = per_dim.groupBy("_cid").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_dim", "_cv"))),
                lambda s: F.round(s["_cv"], round_dp),
            ).alias("centroid")
        )
        if it == n_iter - 1:
            cents = cents.localCheckpoint()

    # Final full-corpus assignment: ONE collect of the (already
    # checkpointed, <=n_clusters-row) centroid table decides the
    # route AND supplies both the literal centroids and the dimension
    # — no separate first()-probe job (r12: the probe + collect pair
    # added ~1 s of pure job latency to semdedup's 2000-row fit; one
    # bounded collect is the price of deleting the corpus-sized
    # assign-shuffle + join-back that the join route pays at scale).
    cl = lits(cents)
    dim = len(cl[0][1]) if cl else 0
    if 0 < n_clusters * dim <= _LIT_ASSIGN_MAX_VALUES:
        assigned = corpus.withColumn(
            out_col,
            _argmin_literal(f"transform(`{vec_col}`, x -> double(x))", cl),
        )
    else:
        assigned = corpus.join(
            assign_join(cents, v).withColumnRenamed("_cid", out_col), id_col
        )
    return assigned, cents.withColumnRenamed("_cid", out_col)


def assign_to_centroids_grouped(
    vectors: DataFrame,
    cents: DataFrame,
    group_col: str = "_grp",
    id_col: str = "vec_id",
    vec_col: str = "_v",
    cid_col: str = "_cid",
    collectable: bool = True,
    known_total_vals: int | None = None,
) -> DataFrame:
    """Broadcast-argmin encode, one independent centroid set per
    group: each (group, vector) row joins the ≤groups×k-row broadcast
    centroid table on the group key (a plain BroadcastHashJoin — no
    nested-loop join anywhere) and takes the nearest centroid with the
    same squared-L2 + (dist, cid) struct-min tie-break as the
    ungrouped Lloyd assign, so a sample-fit + full-corpus encode is
    trajectory-identical to a full-corpus fit whenever the sample
    covers the corpus. ``vec_col`` must already be ARRAY<DOUBLE>.
    Output: (group_col, id_col, cid_col).

    r12: when the centroid table fits the literal budget AND is
    already materialized (``collectable=True``, the fit paths — the
    table is localCheckpoint'ed there), the assignment is a
    shuffle-free narrow projection via _grouped_argmin_literal
    instead of the join+argmin-agg; the join route remains the
    at-scale path. Callers that can compute the centroid value count
    plan-side (rows × dim) pass ``known_total_vals`` so the budget
    probe costs zero Spark jobs."""
    if collectable:
        by_group = _grouped_literals(
            cents.select(
                F.col(group_col), F.col(cid_col).alias("_cid"), "centroid"
            ),
            group_col,
            known_total=known_total_vals,
        )
        if by_group is not None:
            return vectors.select(
                F.col(group_col),
                F.col(id_col),
                _grouped_argmin_literal(
                    f"`{vec_col}`", group_col, by_group
                ).alias(cid_col),
                # a group with no fitted centroids falls off the
                # when-chain as NULL; the join route drops it (inner
                # join) — mirror that
            ).filter(F.col(cid_col).isNotNull())
    cand = vectors.join(
        F.broadcast(
            cents.select(
                F.col(group_col),
                F.col(cid_col).alias("__cid"),
                "centroid",
            )
        ),
        group_col,
    )
    d = squared_l2(F.col(vec_col), F.col("centroid"))
    return (
        cand.select(F.col(group_col), F.col(id_col), F.col("__cid"), d.alias("_d"))
        .groupBy(group_col, id_col)
        .agg(F.min(F.struct("_d", "__cid")).alias("_m"))
        .select(
            F.col(group_col), F.col(id_col), F.col("_m.__cid").alias(cid_col)
        )
    )


def lloyd_kmeans_grouped(
    vectors: DataFrame,
    n_clusters: int = 4,
    n_iter: int = 2,
    group_col: str = "_grp",
    id_col: str = "vec_id",
    vec_col: str = "_sv",
    round_dp: int = 6,
    n_clusters_by_group: dict | None = None,
) -> DataFrame:
    """Deterministic fixed-iteration Lloyd k-means fitted INDEPENDENTLY
    per group in one shared pass — the vectorized twin of running
    ``lloyd_kmeans_partition`` once per group (identical per-group
    trajectory: lowest-id seeds within the group, per-iteration
    centroid rounding, same argmin tie-break), but every iteration is
    ONE scan of the long-form input instead of one scan per group.
    With m groups (PQ subspaces) that collapses m×(n_iter+1)
    full-input passes into n_iter+1, and every join is an equi-join on
    the group key against a broadcast ≤groups×k centroid table.

    Input: (group_col, id_col, vec_col) long form, one row per
    (group, vector). Returns centroids (group_col, _cid, centroid),
    localCheckpoint'ed so downstream lineage stays flat.

    ``n_clusters_by_group`` optionally overrides the cluster count
    per group value (any group absent from the dict keeps
    ``n_clusters``) — what lets a full-width coarse quantizer with
    n_lists centroids share one fused pass with m PQ subspace
    codebooks of k codes each (ivf_pq_fit_encode)."""
    v = vectors.select(
        F.col(group_col),
        F.col(id_col),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_v"),
    )
    if n_clusters_by_group:
        kmap = F.create_map(
            *[
                x
                for g, kk in sorted(n_clusters_by_group.items())
                for x in (F.lit(g), F.lit(int(kk)))
            ]
        )
        k_for_group = F.coalesce(
            F.element_at(kmap, F.col(group_col)), F.lit(n_clusters)
        )
    else:
        k_for_group = F.lit(n_clusters)
    seed_w = Window.partitionBy(group_col).orderBy(id_col)
    cents = (
        v.withColumn("_rn", F.row_number().over(seed_w))
        .filter(F.col("_rn") <= k_for_group)
        .select(
            F.col(group_col),
            (F.col("_rn") - 1).alias("_cid"),
            F.transform("_v", lambda x: F.round(x, round_dp)).alias("centroid"),
        )
    )
    if n_iter == 0:
        cents = cents.localCheckpoint()
    # Long-form per-dim means, same rationale as
    # lloyd_kmeans_partition (the wide avg(_v[i]) agg measured slower
    # — see the note there). The iteration loop keeps the
    # broadcast-join assign (collectable=False): the literal-argmin
    # route measured SLOWER per iteration (a centroid collect + a
    # bigger whole-stage-codegen compile each round outweigh the
    # tiny sample-bounded shuffles saved); it pays off only on the
    # final full-corpus encode, where the caller's
    # assign_to_centroids_grouped call takes it (collectable=True).
    # r13 (guide §2.4, mirroring lloyd_kmeans_partition): the
    # assignment is EXPRESSION-side — each group's centroid set
    # collapses to one sorted array row, broadcast-joined on the group
    # key, and every vector row computes argmin via
    # array_min(transform(...)) with the identical squared-L2 +
    # (dist, cid) struct ordering. The per-iteration data-sized argmin
    # exchange and the (group, id) join-back are both gone; each
    # iteration shuffles only the long-form per-dim means. Only the
    # FINAL iteration's centroid table is localCheckpoint'ed —
    # intermediates are single-consumer, so per-iteration
    # materialization was pure blocking-job latency.
    for it in range(n_iter):
        cl_g = cents.groupBy(group_col).agg(
            F.array_sort(F.collect_list(F.struct("_cid", "centroid"))).alias(
                "_cl"
            )
        )
        cand = v.join(F.broadcast(cl_g), group_col)
        best = F.array_min(
            F.transform(
                "_cl",
                lambda c: F.struct(
                    squared_l2(F.col("_v"), c["centroid"]).alias("_d"),
                    c["_cid"].alias("_cid"),
                ),
            )
        )
        a = cand.select(
            F.col(group_col), best["_cid"].alias("_cid"), F.col("_v")
        )
        long = a.select(
            F.col(group_col), F.col("_cid"), F.posexplode("_v").alias("_dim", "_x")
        )
        per_dim = long.groupBy(group_col, "_cid", "_dim").agg(
            F.avg("_x").alias("_cv")
        )
        cents = per_dim.groupBy(group_col, "_cid").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_dim", "_cv"))),
                lambda s: F.round(s["_cv"], round_dp),
            ).alias("centroid")
        )
        if it == n_iter - 1:
            cents = cents.localCheckpoint()
    return cents


def _grouped_literals(
    cents: DataFrame, group_col: str, known_total: int | None = None
):
    """Collect a (bounded, checkpointed) grouped centroid table into
    {group: [(cid, centroid), ...]} for the literal-argmin route, or
    None when it exceeds _LIT_ASSIGN_MAX_VALUES (the broadcast-join
    route handles it).

    The budget check runs executor-side FIRST (one scalar agg over
    the checkpointed table) so an over-budget centroid table is
    never materialized on the driver (r12 ADVICE: the old order
    collected every row before counting values — a driver-OOM
    hazard at e.g. n_lists=65536 × dim=768). A caller that already
    knows the value count plan-side passes ``known_total`` and skips
    the probe job entirely."""
    total = known_total
    if total is None:
        [total] = (
            cents.agg(
                F.coalesce(F.sum(F.size("centroid")), F.lit(0))
            ).first()
        )
    if not total or total > _LIT_ASSIGN_MAX_VALUES:
        return None
    rows = cents.collect()
    by_group: dict = {}
    for r in rows:
        by_group.setdefault(r[group_col], []).append(
            (r["_cid"], list(r["centroid"]))
        )
    return {g: sorted(cl) for g, cl in by_group.items()}


def _grouped_argmin_literal(vec_sql: str, group_col: str, by_group: dict):
    """when-chain over group values, one _argmin_literal per group —
    same trajectory as assign_to_centroids_grouped on the join
    route. ``vec_sql`` is a SQL expression string (see
    _argmin_literal); the whole CASE chain is one parsed expression."""
    arms = "".join(
        f" WHEN `{group_col}` = {int(g)} THEN "
        + _argmin_literal_sql(vec_sql, by_group[g])
        for g in sorted(by_group)
    )
    return F.expr(f"CASE{arms} END")


def kmeans_partition(
    corpus: DataFrame,
    n_clusters: int = 8,
    vec_col: str = "embedding",
    out_col: str = "_kpart",
    seed: int = 42,
) -> DataFrame:
    """Learned IVF coarse quantizer: MLlib KMeans cluster ids as the
    routing partition (the production replacement for the fixture's
    label column in ``ivf_topk``). Fixed seed → reproducible
    assignment; the fit itself is Spark's scalable KMeans|| — at
    100 TB, fit on a sample, ``transform`` streams the full corpus.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feat = corpus.withColumn("_features", array_to_vector(F.col(vec_col)))
    km = KMeans(
        k=n_clusters, seed=seed, featuresCol="_features", predictionCol=out_col
    )
    model = km.fit(feat)
    return model.transform(feat).drop("_features")


def lsh_multiprobe_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 8,
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    vec_col: str = "embedding",
    query_vec_col: str = "query_embedding",
) -> DataFrame:
    """Multi-probe LSH top-k (Lv et al., VLDB'07): each query probes
    its exact bucket PLUS every 1-bit-flip neighbor bucket — the
    standard recall lever that trades one more equi-join fan-out
    (n_planes+1 probe keys per query) for the recall that would
    otherwise need 2× the hash tables. A vector whose projection sits
    just on the wrong side of ONE hyperplane lands in a 1-flip bucket,
    so these are exactly the likeliest misses of the single-probe path.

    Scale shape unchanged from ``lsh_bucket_topk``: probe keys explode
    on the (broadcast) query side only; the corpus side still carries
    ONE bucket id per row, and the candidate join stays a plain
    equi-join. Probe buckets are distinct by construction (different
    single-bit flips), so no candidate dedup pass is needed. Output:
    (query_id, id, bucket, dist) top-k by exact squared-L2 re-rank.
    """
    c = corpus.withColumn("bucket", lsh_signature(F.col(vec_col), n_planes))
    q = queries.withColumn(
        "qbucket", lsh_signature(F.col(query_vec_col), n_planes)
    )
    probe_arr = F.array(
        F.col("qbucket"),
        *[
            F.expr(f"cast(qbucket as long) ^ {1 << j}").cast("long")
            for j in range(n_planes)
        ],
    )
    probes = q.select(
        F.col(query_id_col),
        F.col(query_vec_col),
        F.explode(probe_arr).alias("probe"),
    )
    cand = c.join(F.broadcast(probes), F.col("bucket") == F.col("probe"))
    d = squared_l2(F.col(vec_col), F.col(query_vec_col))
    scored = cand.select(
        F.col(query_id_col), F.col(id_col), F.col("bucket"), d.alias("dist")
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("dist").asc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(query_id_col, id_col, "bucket", F.round("dist", 4).alias("dist"))
    )
