"""k-means training closure: the full Lloyd loop trained in-engine, plus
the apply half that assigns the corpus with the trained centroids.

This closes the last one-step trainer: ``kmeans_refine_step``
(queries/similarity.py) publishes ONE assign+update iteration; here the
engine trains the coarse quantizer to depth — the same train->apply
closure pattern as ``train_quality_classifier`` / ``trained_gate_impact``
(gradient descent) and ``bpe_train_loop`` / ``bpe_vocab_apply`` (BPE),
applied to clustering. Reference parity: the reference pipeline consumes
externally-trained cluster/codebook artifacts (e.g. the vendored model
configs under common/); this engine instead fits them where the data
lives, which is what a 100 TB curation stack needs from its quantizer.

Design (Lloyd, squared-L2):

- Stage i holds centroids c_i (c_0 = the IVF seed vectors, vec_id in
  ``IVF_CENTROIDS``). The K x dim centroid matrix is a BOUNDED model
  artifact, held driver-side and embedded as one literal
  array<struct<cid,cvec>> per stage (the Spark MLlib KMeans topology).
  Assignment is then a per-row argmin against the in-plan batch —
  ``array_min(transform(cents, c -> struct(sqdist, cid)))`` — a
  zero-shuffle, zero-join narrow projection (no N x K row explosion, no
  window shuffle; contrast kmeans_refine_step's window-over-vec_id form,
  which this loop deliberately avoids).
- The update is ONE fused pass per stage (r15 optimization): each row
  emits its dim (cid, k, x) cells plus one sentinel cell carrying
  (dist, moved); a single partial-aggregated groupBy yields the K x dim
  means AND the stage stats together — depth-k training costs k+1 corpus
  passes instead of 2k+1, and the inertia sum keeps the exact global-agg
  partial/merge structure (never per-cid partials re-summed on the
  driver). The only exchange per stage carries K*dim*partitions cells,
  never vectors, and the collect moves K x dim doubles (a model artifact,
  same audited-bounded class as the capped-CC and Elo collect sites — not
  a data collect). Clusters that lose every member keep their previous
  centroid (dict carry-over, mirroring the oracle's left-join coalesce)
  in BOTH engines.
- Adaptive strategy (r15, the CC_SMALL_GRAPH_EDGES / BPE-cap precedent):
  at or under ``_KM_DRIVER_ROWS_CAP`` clean corpus vectors (one
  ``operators.dedup.collect_if_small`` probe) the whole loop runs
  driver-local on the Arrow-collected matrix with bit-identical
  arithmetic (numpy column-order folds == the Spark/DuckDB left-to-right
  dim folds; argmin first-minimum == the cid tie-break; a property-pinned
  Spark-round replica for the 6-dp trajectory). The distributed loop
  above runs unchanged past the cap; equivalence is pinned by
  tests/test_adaptive_paths.py (probe forced to None) and the cap is the
  measured crossover against the distributed form's fixed cost, not a
  bench constant.
- Centroid components round to 6 dp (+0.0) after every update so both
  engines walk the identical trajectory (the GD-loop precedent); argmin
  ties break on cluster_id over bit-identical distances (same IEEE fold
  order as the DuckDB mirror, see functions/vectors.py).
- Driver-side centroids are also the lineage cut: every stage's plan is
  flat (cached scan + literals), dodging both the O(2^k) recompute of a
  frame-chained unroll AND its Catalyst re-analysis cost (the
  persist/checkpoint-chained forms of this loop measured ~29 s and ~14 s
  wall for a 0.2 s data problem; this form runs ~3 s). Plain-Python
  state can't ride sameSemantics, so the loop memoizes per
  (session, sf_dir) — the _bpe_run_loop precedent — and apply never
  retrains.
- Lloyd guarantees inertia(stage i+1) <= inertia(stage i) in exact
  arithmetic; 6-dp centroid rounding perturbs it by <= N*dim*(5e-7)^2
  (~1e-11 here) — far inside the invariant audit's monotone tolerance,
  so ``inertia`` is pinned monotone non-increasing across stages.

Scale: the corpus projection (vec_id, vec) persists ONCE; each stage is
ONE fused pass over it (means + stats together) with the centroid batch
shipped in the plan — depth-k training costs k+1 fact scans and never
shuffles a vector. At 1000 executors the fused cell explode is the
textbook partial-agg reduction; the K x dim centroid matrix stays
driver-tiny (10 x 64 doubles).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from datapipeline_ops_spark.core.registry import query
from datapipeline_ops_spark.functions.vectors import as_double, sqdist, sql_sqdist
from datapipeline_ops_spark.operators.dedup import persist_barrier, session_memo
from datapipeline_ops_spark.queries.similarity import _V_CTE, EMB_DIM, IVF_CENTROIDS
from datapipeline_ops_spark.tables import load_table, local_frame

# Unrolled Lloyd update steps; stages 0.._KM_ITERS publish (k+1 rows).
_KM_ITERS = 5


def _km_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return persist_barrier(
        e.select("vec_id", as_double(F.col("embedding")).alias("vec")),
        f"km_v:{sf_dir}",
    )


def _km_lit_spine(cents_py: dict[int, list[float]]):
    """Driver-held centroid dict -> one literal array<struct<cid,cvec>>
    expression. K x dim is a BOUNDED model artifact (10 x 64 doubles), so
    carrying it as plan literals is the Spark MLlib KMeans topology —
    each task evaluates the argmin against the in-plan batch with zero
    joins and zero extra jobs. Past ~10^4 cells, switch to a broadcast
    1-row frame instead (plan-size, not correctness, is the limit)."""
    # ONE F.expr parse, not K*dim F.lit calls: building 640 Column objects
    # costs ~650 py4j round-trips per spine (~1 s each on local[32]), which
    # dominated the loop; repr(float) round-trips exactly and SQL
    # string->DOUBLE casts are correctly rounded, so values are identical.
    if not cents_py:
        # seedless corpus (no vec_id in the seed range): a TYPED empty
        # batch, so the argmin lambda still analyzes and every assignment
        # is NULL — mirroring the oracle's empty cent0 (NULL stats rows,
        # zero apply rows after the NULL filter)
        return F.expr(
            "CAST(array() AS array<struct<cid:bigint,cvec:array<double>>>)"
        )
    parts = []
    for cid, vec in sorted(cents_py.items()):
        arr = ", ".join(f"CAST('{float(x)!r}' AS DOUBLE)" for x in vec)
        parts.append(
            f"named_struct('cid', CAST({int(cid)} AS BIGINT), 'cvec', array({arr}))"
        )
    return F.expr("array(" + ", ".join(parts) + ")")


def _km_best(vec_col, cents_col):
    """Per-row argmin: struct(dist, cid) minimum over the centroid array —
    lexicographic struct order gives min-dist with cid tie-break, matching
    the oracle's ORDER BY dist, cluster_id exactly (bit-identical dists)."""
    return F.array_min(
        F.transform(
            cents_col,
            lambda c: F.struct(
                sqdist(vec_col, c["cvec"]).alias("dist"), c["cid"].alias("cid")
            ),
        )
    )


# Adaptive-strategy cap (r15 optimization, the CC_SMALL_GRAPH_EDGES /
# _BPE_DRIVER_VOCAB_CAP precedent): at or under this many corpus vectors
# the Lloyd loop runs driver-local on the collected n x dim matrix; above
# it the fused distributed loop below runs unchanged. The cap is the
# measured crossover, not a bench constant: the numpy column-fold loop
# walks 6 stages over 100k x 64 doubles in ~0.8 s (51 MB collected), while
# the distributed loop's fixed cost (7 sequential jobs + per-stage literal
# spines) is ~3 s on local[32] regardless of data size. The probe is
# operators.dedup.collect_if_small: even above the cap it ships cap+1 rows
# (~51 MB of Arrow) to the driver before the distributed loop runs.
_KM_DRIVER_ROWS_CAP = 100_000

_KM_STATS_SCHEMA = "iter int, inertia double, n_active long, n_moved long"
_KM_ROLLUP_SCHEMA = (
    "cluster_id long, n_members long, cluster_inertia double, mean_dist double"
)


def _km_r6(x):
    """Driver-side replica of Spark's ``round(x, 6) + 0.0`` on DOUBLE:
    shortest-decimal string (repr == Java Double.toString), HALF_UP
    quantize at 6 dp, back to double, -0.0 normalized. Property-pinned
    against the Spark expression in tests/test_training_loops.py."""
    from decimal import ROUND_HALF_UP, Context, Decimal

    if x is None:
        return None
    return float(
        Decimal(repr(float(x))).quantize(
            Decimal("0.000001"), rounding=ROUND_HALF_UP, context=Context(prec=60)
        )
    ) + 0.0


def _km_arrow_clean(tbl) -> bool:
    """Arrow-side adaptive probe: the driver path needs the corpus
    numerically clean — exact {EMB_DIM}-wide vectors, no NULL/NaN/Inf
    cells (the same contract the DuckDB oracle hardcodes via
    generate_series(0, {EMB_DIM}-1)). Anything else falls back to the
    distributed loop, whose zip_with/fold semantics handle ragged input.
    All checks are vectorized over the collected batch (validity bitmaps,
    offset diffs, isfinite) — no extra Spark job."""
    import numpy as np

    if tbl.num_rows == 0:
        return True
    vec = tbl.column("vec").combine_chunks()
    if vec.null_count or vec.values.null_count:
        return False
    offs = np.diff(vec.offsets.to_numpy())
    if not (offs == EMB_DIM).all():
        return False
    vals = vec.values.to_numpy(zero_copy_only=False)
    return bool(np.isfinite(vals).all())


def _km_driver_lloyd(rows):
    """Driver-local Lloyd loop over the collected (vec_id, vec) rows —
    bit-identical arithmetic to the distributed form: squared distances
    fold left-to-right over dims (numpy column-order adds, each an IEEE
    double op in the same order as the Spark/DuckDB folds), argmin
    tie-breaks on cluster_id (np.argmin first-minimum over cid-sorted
    columns), means/inertia round via the _km_r6 Spark-round replica.
    Returns (cents 0..k, per-stage stats tuples, final-assignment rollup
    tuples)."""
    import numpy as np

    ids = [r[0] for r in rows]
    n = len(ids)
    k0, k1 = IVF_CENTROIDS
    if n:
        X = np.array([r[1] for r in rows], dtype=np.float64)
        XT = np.ascontiguousarray(X.T)  # dim x n: contiguous per-dim rows
    else:
        XT = np.zeros((EMB_DIM, 0))
    cents: list[dict[int, list[float]]] = [{}]
    for i, vid in enumerate(ids):
        # same last-wins duplicate handling as the distributed seed collect
        # (both iterate the cached corpus in partition order)
        if vid is not None and k0 <= vid < k1:
            cents[0][int(vid) - k0] = [float(x) for x in XT[:, i]]
    stage_vals: list[tuple] = []
    rollup: list[tuple] = []
    prev_idx = None
    dim = XT.shape[0]
    for it in range(_KM_ITERS + 1):
        cs = sorted(cents[it].items())
        if not cs or n == 0:
            # seedless/empty corpus: argmin over an empty batch is NULL in
            # both engines — NULL inertia, zero active, NULL moved (except
            # the pinned stage-0 literal 0); no members to roll up
            stage_vals.append((it, None, 0, 0 if it == 0 else None))
            if it < _KM_ITERS:
                cents.append(dict(cents[it]))
            continue
        cols = []
        for _cid, cv in cs:
            t = XT[0] - cv[0]
            t *= t
            acc = 0.0 + t
            for d in range(1, dim):
                t = XT[d] - cv[d]
                t *= t
                acc += t  # in-place IEEE add == acc + t, bit-exact
            cols.append(acc)
        D = np.stack(cols, axis=1)
        best_idx = np.argmin(D, axis=1)  # first min == lowest cid tie-break
        bestd = np.take_along_axis(D, best_idx[:, None], axis=1)[:, 0]
        inertia = float(np.cumsum(bestd)[-1])  # sequential row-order sum
        n_active = len(np.unique(best_idx))
        if it == 0:
            moved = 0
        else:
            moved = int(np.count_nonzero(best_idx != prev_idx))
        stage_vals.append((it, _km_r6(inertia), n_active, moved))
        prev_idx = best_idx
        if it < _KM_ITERS:
            nxt = {cid: list(cv) for cid, cv in cents[it].items()}
            for ci, (cid, _cv) in enumerate(cs):
                mask = best_idx == ci
                cnt = int(np.count_nonzero(mask))
                if cnt == 0:
                    continue  # drained cluster keeps its previous centroid
                sums = np.cumsum(XT[:, mask], axis=1)[:, -1]
                nxt[cid] = [_km_r6(float(s) / cnt) for s in sums]
            cents.append(nxt)
        else:
            for ci, (cid, _cv) in enumerate(cs):
                mask = best_idx == ci
                cnt = int(np.count_nonzero(mask))
                if cnt == 0:
                    continue
                s = float(np.cumsum(bestd[mask])[-1])
                rollup.append((int(cid), cnt, _km_r6(s), _km_r6(s / cnt)))
    return cents, stage_vals, rollup


def _km_dist_loop(spark: SparkSession, v: DataFrame):
    """Fused distributed Lloyd loop (r15 optimization): each training stage
    is ONE partial-aggregated pass over the persisted corpus that yields
    the K x dim means AND the stage stats together — each row emits its
    dim (cid, k, x) cells plus one sentinel (g=-1, k=-1) cell carrying
    (dist, moved), so the global inertia sum keeps the exact global-agg
    partial/merge structure (never per-cid partials re-summed driver-side,
    the float-reorder risk the r14 round rejected). Depth-k training costs
    k+1 corpus passes instead of the previous 2k+1. All published values
    round IN SPARK before collection, so the collected stats re-embed
    losslessly (the GD-loop precedent)."""
    seeds = v.filter(
        (F.col("vec_id") >= IVF_CENTROIDS[0]) & (F.col("vec_id") < IVF_CENTROIDS[1])
    ).select(
        (F.col("vec_id") - IVF_CENTROIDS[0]).alias("cluster_id"),
        F.col("vec").alias("cvec"),
    ).collect()
    cents: list[dict[int, list[float]]] = [
        {int(r["cluster_id"]): list(r["cvec"]) for r in seeds}
    ]
    stage_vals: list[tuple] = []
    for i in range(_KM_ITERS + 1):
        cur = _km_best(F.col("vec"), _km_lit_spine(cents[i]))
        if i == 0:
            scored = v.select("vec", cur.alias("b"))
            mv = F.lit(0).cast("int")
        else:
            # prev assignment recomputes in the SAME narrow pass from the
            # previous literal batch — n_moved costs no join
            prev = _km_best(F.col("vec"), _km_lit_spine(cents[i - 1]))
            scored = v.select("vec", cur.alias("b"), prev.alias("pb"))
            mv = (F.col("b.cid") != F.col("pb.cid")).cast("int")
        if i < _KM_ITERS:
            null_i = F.lit(None).cast("int")
            # coalesce guards a NULL vec: concat(NULL, ...) would drop the
            # row's sentinel stats cell too — with the empty-array fallback
            # such a row still contributes its (dist, moved) cell exactly
            # like the unfused stats aggregation did
            safe_vec = F.coalesce(
                F.col("vec"), F.expr("CAST(array() AS array<double>)")
            )
            elems = F.concat(
                F.transform(
                    safe_vec,
                    lambda x, j: F.struct(
                        F.col("b.cid").alias("g"),
                        j.alias("k"),
                        x.alias("x"),
                        null_i.alias("mv"),
                    ),
                ),
                F.array(
                    F.struct(
                        F.lit(-1).cast("long").alias("g"),
                        F.lit(-1).alias("k"),
                        F.col("b.dist").alias("x"),
                        mv.alias("mv"),
                    )
                ),
            )
            cells = (
                scored.select(F.explode(elems).alias("e"))
                .groupBy("e.g", "e.k")
                .agg(
                    (F.round(F.avg("e.x"), 6) + F.lit(0.0)).alias("c"),
                    (F.round(F.sum("e.x"), 6) + F.lit(0.0)).alias("s"),
                    F.sum("e.mv").cast("long").alias("mvs"),
                )
            ).collect()
            stats_row = None
            by_cid: dict[int, dict[int, float]] = {}
            for r in cells:
                if r["k"] == -1 and r["g"] == -1:
                    stats_row = r
                elif r["g"] is not None and r["k"] >= 0:
                    by_cid.setdefault(int(r["g"]), {})[int(r["k"])] = r["c"]
            # n_active derives from the means cells (every member cid owns
            # its dim cells; the corpus contract — and the DuckDB oracle
            # itself, via generate_series(0, EMB_DIM-1) — pins vectors at
            # EMB_DIM wide, so no assigned cid can lack cells)
            if stats_row is None:  # empty corpus: agg-over-empty semantics
                stage_vals.append((i, None, 0, 0 if i == 0 else None))
            else:
                stage_vals.append(
                    (
                        i,
                        stats_row["s"],
                        len(by_cid),
                        0 if i == 0 else stats_row["mvs"],
                    )
                )
            nxt = {cid: list(vec) for cid, vec in cents[i].items()}
            for cid, dims in by_cid.items():
                # drained clusters keep their previous centroid (mirrors the
                # oracle's left-join coalesce)
                nxt[cid] = [dims[d] for d in range(len(dims))]
            cents.append(nxt)
        else:
            # final stage: stats only — one narrow agg, no means to build
            r = scored.agg(
                (F.round(F.sum("b.dist"), 6) + F.lit(0.0)).alias("inertia"),
                F.count_distinct(F.col("b.cid")).cast("long").alias("n_active"),
                (
                    F.lit(0).cast("long")
                    if i == 0
                    else F.sum(mv).cast("long")
                ).alias("n_moved"),
            ).first()
            stage_vals.append((i, r["inertia"], r["n_active"], r["n_moved"]))
    return cents, stage_vals


@session_memo
def _km_run(spark: SparkSession, sf_dir: str):
    """Train the {_KM_ITERS}-update Lloyd loop; returns (centroid dicts
    c_0..c_k, per-stage stats tuples, final-assignment rollup tuples or
    None). Shared by all three kmeans queries — memoized per session+dir,
    so the applies reuse the trained centroids instead of re-clustering.
    Adaptive strategy: at or under _KM_DRIVER_ROWS_CAP clean corpus rows
    the loop (and the final-assignment rollup) runs driver-local on the
    Arrow-collected matrix; above it the fused distributed loop runs and
    the rollup slot is None (the applies then run their corpus-scale
    Spark passes)."""
    from datapipeline_ops_spark.operators import dedup as dedup_ops

    v = _km_v(spark, sf_dir)
    tbl = dedup_ops.collect_if_small(v, _KM_DRIVER_ROWS_CAP)
    if tbl is not None and _km_arrow_clean(tbl):
        ids = tbl.column("vec_id").to_pylist()
        if tbl.num_rows:
            flat = (
                tbl.column("vec").combine_chunks().flatten()
                .to_numpy(zero_copy_only=False)
            )
            mat = flat.reshape(tbl.num_rows, EMB_DIM)
            rows = [(ids[i], mat[i]) for i in range(tbl.num_rows)]
        else:
            rows = []
        return _km_driver_lloyd(rows)
    cents, stage_vals = _km_dist_loop(spark, v)
    return cents, stage_vals, None


# tools/check_plans.py clears the memo under this name to force a re-train
_km_memo_clear = _km_run.cache_clear


def _km_ctes() -> tuple[list[str], list[str]]:
    """Unrolled MATERIALIZED-CTE Lloyd mirror: cent{i} the stage centroids,
    a{i} the argmin assignment at those centroids; second list holds the
    per-stage stats SELECTs. Distances use the same left-to-right double
    fold as the Spark side, so argmin tie-breaks agree exactly."""
    k0, k1 = IVF_CENTROIDS
    d = sql_sqdist("x.vec", "c.cvec")
    parts = [
        _V_CTE.strip(),
        f"""cent0 AS MATERIALIZED (
        SELECT vec_id - {k0} AS cluster_id, vec AS cvec
        FROM v WHERE vec_id >= {k0} AND vec_id < {k1})""",
    ]
    rows = []
    for i in range(_KM_ITERS + 1):
        parts.append(f"""a{i} AS MATERIALIZED (
        SELECT vec_id, cluster_id, dist FROM (
            SELECT x.vec_id, c.cluster_id, {d} AS dist,
                   row_number() OVER (PARTITION BY x.vec_id
                                      ORDER BY {d}, c.cluster_id) AS rn
            FROM v x, cent{i} c) WHERE rn = 1)""")
        if i == 0:
            rows.append(
                "(SELECT 0 AS iter, round(sum(dist), 6) + 0e0 AS inertia,"
                " CAST(count(DISTINCT cluster_id) AS BIGINT) AS n_active,"
                " CAST(0 AS BIGINT) AS n_moved FROM a0)"
            )
        else:
            rows.append(f"""(SELECT {i} AS iter,
               round(sum(a.dist), 6) + 0e0 AS inertia,
               CAST(count(DISTINCT a.cluster_id) AS BIGINT) AS n_active,
               CAST(sum(CASE WHEN a.cluster_id <> p.cluster_id
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_moved
        FROM a{i} a JOIN a{i - 1} p USING (vec_id))""")
        if i < _KM_ITERS:
            parts.append(f"""mean{i} AS (
        SELECT a.cluster_id, d.dim, round(avg(x.vec[d.dim + 1]), 6) + 0e0 AS c
        FROM a{i} a JOIN v x USING (vec_id),
             LATERAL (SELECT unnest(generate_series(0, {EMB_DIM} - 1)) AS dim) d
        GROUP BY 1, 2)""")
            parts.append(f"""cent{i + 1} AS MATERIALIZED (
        SELECT p.cluster_id, coalesce(m.cvec, p.cvec) AS cvec
        FROM cent{i} p LEFT JOIN (SELECT cluster_id, list(c ORDER BY dim) AS cvec
                                  FROM mean{i} GROUP BY 1) m
          ON p.cluster_id = m.cluster_id)""")
    return parts, rows


def _km_train_oracle() -> str:
    parts, rows = _km_ctes()
    return "WITH " + ",\n    ".join(parts) + "\n" + "\nUNION ALL\n".join(rows)


def _km_apply_oracle() -> str:
    parts, _ = _km_ctes()
    return (
        "WITH " + ",\n    ".join(parts) + f"""
    SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members,
           round(sum(dist), 6) + 0e0 AS cluster_inertia,
           round(avg(dist), 6) + 0e0 AS mean_dist
    FROM a{_KM_ITERS} GROUP BY cluster_id"""
    )


@query("kmeans_train_loop", oracle=_km_train_oracle())
def kmeans_train_loop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train the IVF coarse quantizer in-engine: {_KM_ITERS} unrolled Lloyd
    iterations (squared-L2) from the IVF seed centroids, publishing one row
    per stage — the inertia AT that stage's centroids (monotone
    non-increasing; invariant-pinned), the number of clusters holding at
    least one member, and how many vectors changed assignment versus the
    previous stage (the convergence signal an operator watches).

    Stage 1's assign+update is semantically `kmeans_refine_step` with the
    L2 metric; this loop is the to-convergence closure, with assignment as
    a zero-shuffle broadcast-spine argmin rather than a window shuffle.
    See the module docstring for the full scale design. All stage stats
    are rounded before collection (in Spark on the distributed path; via
    the pinned Spark-round replica on the capped driver path), so the
    published local frame re-embeds the exact trajectory values."""
    _, stage_vals, _ = _km_run(spark, sf_dir)
    return local_frame(spark, stage_vals, _KM_STATS_SCHEMA)


def _km_apply_rollup(scored: DataFrame) -> DataFrame:
    """(cluster_id, dist) rows -> the per-cluster compactness report shared
    by the in-lineage and artifact applies. NULL cluster_ids (seedless
    corpus: argmin over an empty batch) drop, matching the oracle's
    inner-join-through-argmin shape (zero rows, not a NULL group)."""
    return scored.filter(F.col("cluster_id").isNotNull()).groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        (F.round(F.sum("dist"), 6) + F.lit(0.0)).alias("cluster_inertia"),
        (F.round(F.avg("dist"), 6) + F.lit(0.0)).alias("mean_dist"),
    )


@query("kmeans_assign_apply", oracle=_km_apply_oracle())
def kmeans_assign_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign the corpus with the centroids `kmeans_train_loop` just
    trained — the apply half of the clustering train->apply closure: per
    surviving cluster, the member count, the summed squared distance, and
    the mean distance (cell balance + compactness, the report that decides
    whether the quantizer is fit to serve ``ann_ivf_topk``). Cross-query
    identities pin this to the final training stage: row count ==
    `n_active`, and the cluster inertias sum back to the stage-{_KM_ITERS}
    `inertia` (within 6-dp rounding of the K parts).

    Scale: above the driver cap, ONE more zero-shuffle argmin pass over
    the persisted corpus projection with the final K-centroid spine
    broadcast, rolled up by cluster with map-side combine; at or under the
    cap the rollup was already computed from the final driver-local
    assignment and publishes as a local frame. Either way the train state
    is memo-reused, so apply never re-clusters."""
    cents, _, rollup = _km_run(spark, sf_dir)
    if rollup is not None:
        return local_frame(spark, rollup, _KM_ROLLUP_SCHEMA)
    v = _km_v(spark, sf_dir)
    b = _km_best(F.col("vec"), _km_lit_spine(cents[-1]))
    return _km_apply_rollup(
        v.select(b["cid"].alias("cluster_id"), b["dist"].alias("dist"))
    )


@query("kmeans_artifact_apply", oracle=_km_apply_oracle())
def kmeans_artifact_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`kmeans_assign_apply`, operationalized: write the trained centroid
    matrix to parquet (the model registry) and assign the corpus FROM THE
    FILE — completing the artifact seam across all three in-engine
    trainers (GD weights, BPE vocab, and now the quantizer centroids).
    Unlike the in-lineage apply's plan-literal batch, here the K-row
    centroid table enters the plan as a parquet scan collapsed to a 1-row
    array<struct> spine and broadcast onto the corpus — the serving job
    never sees the training loop. Same oracle as the in-lineage apply; a
    cross-query identity pins the two row-equal across the serialization
    seam (doubles round-trip parquet bit-exactly).

    Scale: the artifact is K x dim doubles; the apply is one broadcast
    nested-loop of a 1-row spine onto the corpus scan — zero shuffles
    before the K-row rollup, training cluster out of the serving path."""
    from datapipeline_ops_spark.queries.lm_quality import _artifact_path

    cents, _, _ = _km_run(spark, sf_dir)
    rows = [(int(cid), list(vec)) for cid, vec in sorted(cents[-1].items())]
    cent_df = local_frame(spark, rows, "cluster_id long, cvec array<double>")
    path = _artifact_path(sf_dir, "kmeans_centroids")
    cent_df.write.mode("overwrite").parquet(path)
    back = spark.read.parquet(path)
    spine = back.agg(
        F.array_sort(
            F.collect_list(
                F.struct(F.col("cluster_id").alias("cid"), F.col("cvec").alias("cvec"))
            )
        ).alias("cents")
    )
    v = _km_v(spark, sf_dir)
    b = _km_best(F.col("vec"), F.col("cents"))
    return _km_apply_rollup(
        v.crossJoin(F.broadcast(spine)).select(
            b["cid"].alias("cluster_id"), b["dist"].alias("dist")
        )
    )
