"""Deduplication operator family for large-scale training-data curation.

Beyond-reference surface (BASELINE.json north star): the reference dedups
only *faces within one video* (``video_extract_frame.py:202-230``); a corpus
pipeline needs document-level dedup at 100 TB. Four strategies, all pure
DataFrame ops:

- **exact**: md5(text) group-by; keeper = min id per hash. One shuffle on a
  16-byte key; partial agg makes it cheap at any scale.
- **MinHash + LSH**: k seeded min-hashes over word shingles (array exprs, no
  explode, no shuffle), banded into buckets; candidate pairs come from an
  equi-join on (band, bucket-hash) — the quadratic pair space never
  materializes. Verification joins candidates back to shingle arrays and
  computes exact Jaccard on array intersect/union.
- **SimHash**: bitwise-majority fingerprint of token hashes; near-dups are
  pairs within a Hamming radius (xor + bit_count on a single BIGINT — cheap
  enough to run after any blocking stage).
- **embedding cosine**: see queries/similarity.py (shares vector ops).

Every hash is the cross-engine md5-derived 60-bit hash
(functions/hashing.py), so the DuckDB oracle reproduces identical
signatures, buckets and pairs.
"""

from __future__ import annotations

import functools

import pyarrow as pa
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from datapipeline_ops_spark.functions.hashing import hash64
from datapipeline_ops_spark.functions.text import shingles, shingles_from, tokens

MINHASH_K = 8
LSH_BANDS = 4  # k/bands rows per band
# 60 bits (the full hash64 width): a 16-bit space saturates at corpus scale
# — every fingerprint value is occupied and Hamming filters stop selecting.
# 60 bits keeps the Hamming<=radius test on ONE BIGINT xor/bit_count.
SIMHASH_BITS = 60
# Bucket-size cap for LSH candidate generation: a degenerate bucket (all
# boilerplate docs hashing identically) of size m contributes m^2/2 pairs —
# the first thing that breaks at 100 TB. Docs in a bucket larger than the
# cap are skipped FOR THAT BUCKET only (they still pair through their other
# bands, and true near-dups of boilerplate also collide in non-degenerate
# buckets). The oracle applies the identical cap, so the gate stays
# value-exact.
LSH_MAX_BUCKET = 64

# Affine MinHash re-hash over TWO independent 30-bit sub-hashes:
#   sig_j = min over shingles of (A_j*h_lo + B_j*h_hi + C_j) mod P,
# with h = hash64(shingle) computed ONCE (md5 is the expensive part — 8
# seeded md5s per shingle would cost 8x), h_lo = h & (2^30-1),
# h_hi = h >> 30. Splitting h widens the usable coefficient space to
# md5-derived odd 31-bit A/B (a single multiplier bigger than ~8 would
# overflow 63 bits against the full 60-bit h; small multipliers made seeds
# j and j+7 share A and collapse the signature to ~7 independent rows).
# Exact-integer safety in both engines: A*h_lo, B*h_hi < 2^31 * 2^30 =
# 2^61 each, so A*h_lo + B*h_hi + C < 2^62 + 2^48 < 2^63 — exact in
# signed 64-bit everywhere, no wraparound in Spark or DuckDB.
MINHASH_P = (1 << 61) - 1
_LO_MASK = (1 << 30) - 1


def _mh_const(salt: str, j: int, bits: int, odd: bool = False) -> int:
    import hashlib

    v = int(hashlib.md5(f"minhash-{salt}:{j}".encode()).hexdigest(), 16) & ((1 << bits) - 1)
    return v | 1 if odd else v


MINHASH_ABC = [
    (_mh_const("a", j, 31, odd=True), _mh_const("b", j, 31, odd=True), _mh_const("c", j, 48))
    for j in range(MINHASH_K)
]


def with_shingles(df: DataFrame, text_col: str, out: str = "shingles") -> DataFrame:
    return df.withColumn(out, F.array_distinct(shingles(F.col(text_col))))


# One live persisted frame per barrier SITE: repeated query invocations in a
# long-lived session (gate loops, 3-run bench medians) previously persisted
# a fresh frame per call and never unpersisted — a slow cached-block leak
# plus "Asked to cache already cached data" warnings. A semantically
# identical plan reuses the live frame; a different plan (new sf_dir / new
# input) unpersists the old one first. Queries here run sequentially per
# session, so dropping the previous barrier is safe.
_BARRIERS: dict[str, DataFrame] = {}


def persist_barrier(df: DataFrame, site: str) -> DataFrame:
    from pyspark import StorageLevel

    prev = _BARRIERS.get(site)
    if prev is not None:
        try:
            if prev.sameSemantics(df):
                return prev
            prev.unpersist()
        except Exception:  # stale session handle: just replace the entry
            pass
    out = df.persist(StorageLevel.MEMORY_AND_DISK)
    _BARRIERS[site] = out
    return out


# Every session_memo's dict, so clear_barriers() can empty them all.
_MEMOS: list[dict] = []


def session_memo(fn):
    """Memoize trained driver state ``fn(spark, sf_dir)`` per
    ``(applicationId, sf_dir)``; ``fn.cache_clear()`` empties this memo only.

    For state that can't dedupe through ``sameSemantics``: driver-held
    weights and centroids, or fresh localCheckpoint frames. A memoized
    result may hold handles to barrier frames and checkpoints, so its
    lifetime is the barriers': :func:`clear_barriers` empties every memo
    together with ``_BARRIERS``. A new session has a new applicationId and
    never sees stale handles."""
    memo: dict = {}
    _MEMOS.append(memo)

    @functools.wraps(fn)
    def memoized(spark, sf_dir: str):
        key = (spark.sparkContext.applicationId, sf_dir)
        if key not in memo:
            memo[key] = fn(spark, sf_dir)
        return memo[key]

    memoized.cache_clear = memo.clear
    return memoized


def clear_barriers() -> None:
    """Unpersist every live barrier frame and empty every session memo
    (bench uses this between repeat runs so each measurement is cold;
    safer than ``catalog.clearCache()``, which would drop the blocks while
    leaving ``_BARRIERS`` and the memos pointing at silently-uncached
    frames)."""
    for df in _BARRIERS.values():
        try:
            df.unpersist()
        except Exception:
            pass
    _BARRIERS.clear()
    for memo in _MEMOS:
        memo.clear()


def with_shingle_hashes(df: DataFrame, key_col: str, text_col: str = "text") -> DataFrame:
    """(key, hs) with ONE md5-derived 60-bit hash per distinct shingle,
    computed in a parallel stage and materialized ONCE behind a persist
    barrier.

    The shingle STRINGS deliberately do not survive this stage: signatures,
    band buckets, AND exact-Jaccard verification all run on the hash arrays
    (Jaccard over distinct shingles == Jaccard over their distinct hashes,
    modulo 60-bit collisions; the DuckDB oracle hashes identically, so
    parity is by construction). Downstream the pipeline shuffles compact
    long arrays, never text.

    Why the barrier matters (measured ~10x on the LSH pipeline at sf0.1):
    - Catalyst's CollapseProject inlines a projected expression into every
      downstream use — 8 seeds x 4 band-buckets x 3 join branches would
      re-evaluate the md5 transform 30+ times per row. ``persist`` is a
      wall projections can't collapse across: every consumer (signature
      path, both verify-join sides) reads the *materialized* ``hs`` blocks
      instead of re-running scan+md5 per branch. A repartition-exchange
      barrier also works, but exchange REUSE is best-effort (AQE broadcast
      conversion re-plans the build side without it), while cached blocks
      are shared unconditionally.
    - ``MEMORY_AND_DISK`` keeps lineage (unlike ``localCheckpoint``), so an
      executor loss on a real cluster recomputes the lost blocks instead of
      failing the job; spilled blocks cost what a shuffle write would.
    - A single small parquet file scans as ONE partition; the explicit
      repartition spreads the md5 work across all cores BEFORE hashing. An
      explicit count, because a numberless repartition is an AQE coalescing
      target and tiny-but-compute-heavy partitions get merged back into one
      task — serializing all the md5 work.
    - Lifecycle via :func:`persist_barrier`: one live cached frame per
      site, released when a semantically different input replaces it.
    """
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    # tokenize BEFORE the exchange: the repartition materializes the token
    # array, so the shingle builder's element_at calls are O(1) array reads
    # instead of re-splitting the text per position (O(len^2) per doc —
    # the dominant cost of this stage before the fix)
    spread = df.select(
        key_col, F.col(text_col), tokens(F.col(text_col)).alias("_toks")
    ).repartition(n, F.col(key_col))
    sh = F.array_distinct(shingles_from(F.col("_toks"), F.col(text_col)))
    hashed = spread.withColumn(
        "hs", F.array_distinct(F.transform(sh, lambda s: hash64(s)))
    )
    return persist_barrier(hashed.select(key_col, "hs"), "shingle_hashes")


def _affine(j: int):
    a, b, c = MINHASH_ABC[j]
    # 1-param lambda only: PySpark passes (element, index) to 2-param
    # lambdas, silently clobbering default-arg captures.
    return lambda h: (
        h.bitwiseAND(F.lit(_LO_MASK)) * a + F.shiftright(h, 30) * b + c
    ) % MINHASH_P


def minhash_signature(shingle_col: Column, k: int = MINHASH_K) -> Column:
    """Array of k min-hashes over one shared base hash per shingle:
    sig[j] = min_s ((A_j*h_lo + B_j*h_hi + C_j) mod P). Prefer
    :func:`minhash_signature_from_hashes` over a barriered ``hs`` column —
    inlined into several consumers, this form re-evaluates the md5s."""
    base = F.transform(shingle_col, lambda s: hash64(s))
    return F.array(*[F.array_min(F.transform(base, _affine(j))) for j in range(k)])


def minhash_signature_from_hashes(hs_col: Column, k: int = MINHASH_K) -> Column:
    """Signature from pre-materialized shingle hashes (with_shingle_hashes):
    per seed only the affine re-hash runs — pure integer ops, no md5."""
    return F.array(*[F.array_min(F.transform(hs_col, _affine(j))) for j in range(k)])


def lsh_band_buckets(sig_col: Column, bands: int = LSH_BANDS, k: int = MINHASH_K) -> Column:
    """Array of (band_idx, bucket) structs; bucket = hash of the band's rows."""
    rows = k // bands
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                hash64(
                    F.concat_ws(
                        ":",
                        F.lit(str(b)),
                        *[F.element_at(sig_col, b * rows + r + 1).cast("string") for r in range(rows)],
                    )
                ).alias("bucket"),
            )
            for b in range(bands)
        ]
    )


# Adaptive strategy threshold for connected_components: at or below this
# many distinct undirected edges the component step runs as a driver-local
# union-find (two BIGINTs per edge -> <=16 MB collected at the default
# 1M-edge cap) instead of iterative distributed rounds. This is the same
# decision AQE makes when it converts a shuffle join to broadcast: below a
# bounded size, per-round scheduling overhead dominates and a local
# algorithm on materialized data wins by an order of magnitude. Above the
# cap the O(log diameter) pointer-jumping rounds run unchanged — results
# are identical (both produce label = component-minimum id).
CC_SMALL_GRAPH_EDGES = 1_000_000


def collect_if_small(df: DataFrame, cap: int) -> pa.Table | None:
    """The bounded probe behind every driver-local vs distributed switch:
    ONE ``df.limit(cap + 1).toArrow()`` action. Returns the table if it has
    at most ``cap`` rows (the caller runs its driver-local form), else
    ``None`` (the caller runs its distributed form). CollectLimit stops at
    cap+1 rows, so no separate ``count()`` probe job runs (a count-first
    probe measured +0.3-0.5 s per query under the cap), and rows arrive as
    columnar Arrow bytes, never boxed Python Rows. Above the cap the probe
    still ships cap+1 rows; a cap of 0 routes an empty frame driver-side."""
    tbl = df.limit(cap + 1).toArrow()
    return tbl if tbl.num_rows <= cap else None


def _cc_driver_union_find(spark, edges) -> DataFrame:
    """Union-find over a collected (s, d) edge list; union-by-min-root makes
    every root the smallest id in its component, matching the distributed
    fixpoint's labels exactly."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for a, b in edges:
        for v in (a, b):
            parent.setdefault(v, v)
        ra, rb = find(a), find(b)
        if ra != rb:
            if ra < rb:
                parent[rb] = ra
            else:
                parent[ra] = rb
    out = [(n, find(n)) for n in parent]
    from datapipeline_ops_spark.tables import local_frame

    return local_frame(spark, out, "node bigint, label bigint")


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iters: int = 20,
    small_graph_edges: int = CC_SMALL_GRAPH_EDGES,
) -> DataFrame:
    """Connected components over an undirected pair list; cluster id =
    smallest doc id in the component.

    ADAPTIVE execution (like AQE's broadcast decision, but for an iterative
    algorithm): at or below ``small_graph_edges`` distinct edges (default
    1M, <=16 MB; probed by :func:`collect_if_small`) the components are
    solved by a driver-local union-find over the collected edges — near-
    dup graphs are tiny relative to their corpus (pairs are the OUTPUT of
    aggressive LSH blocking), so this is the common case even at large SF,
    and it replaces O(log diameter) full scheduling rounds with one collect.
    Above the threshold the distributed path runs: per round (a) a
    neighbor-min shuffle on compact (node, label) ints and (b) a POINTER-
    JUMPING step (label <- label[label]) that doubles propagation distance
    per round, so convergence needs O(log diameter) rounds, not
    O(diameter) — a chain of 2^20 near-dup docs converges inside the
    default budget instead of silently stopping 2^20-20 hops short.

    Invariants making this safe: labels only decrease, a node's label is
    always the id of some node in its own component, and label[n] <= n —
    so at the fixpoint every edge joins equal labels and the shared label
    is the component minimum (union-by-min-root reproduces exactly this).
    If ``max_iters`` is exhausted before the fixpoint the function RAISES
    instead of returning partially propagated labels (at 100 TB there is
    no oracle to catch silently split clusters; downstream keeper
    selection would silently keep duplicates).
    """
    from pyspark import StorageLevel

    und = pairs.select(F.col(a_col).alias("s"), F.col(b_col).alias("d")).distinct()
    tbl = collect_if_small(und, small_graph_edges)
    if tbl is not None:
        return _cc_driver_union_find(
            pairs.sparkSession,
            zip(tbl.column("s").to_pylist(), tbl.column("d").to_pylist()),
        )
    und = und.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        return _cc_distributed(und, max_iters)
    finally:
        und.unpersist()


def _cc_distributed(und: DataFrame, max_iters: int) -> DataFrame:
    edges = und.union(und.select(F.col("d").alias("s"), F.col("s").alias("d"))).distinct()
    labels = edges.select(F.col("s").alias("node")).distinct().withColumn(
        "label", F.col("node")
    )
    for _ in range(max_iters):
        neighbor_min = (
            edges.join(labels, edges["s"] == labels["node"])
            .groupBy(F.col("d").alias("node"))
            .agg(F.min("label").alias("nlabel"))
        )
        # localCheckpoint BEFORE the jump self-join: truncate lineage
        # (iterative plans grow per round and re-execute from the scan
        # otherwise) and materialize ONCE — the jump join reads these
        # blocks on both sides instead of re-evaluating the neighbor-min
        # plan twice (measured ~2x per-round cost without it).
        nm = (
            labels.join(neighbor_min, "node", "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce("nlabel", "label")).alias("label"),
                (F.col("nlabel") < F.col("label")).alias("changed"),
            )
            .localCheckpoint(eager=True)
        )
        changed = nm.filter(F.col("changed")).limit(1).count()
        labels = nm.select("node", "label")
        if changed == 0:
            # neighbor-min fixpoint: adjacent labels are all equal, so a
            # pointer jump could not change anything either — done.
            return labels
        # pointer jumping: label <- label[label]. Every label value is
        # itself a node, so the self-join always resolves; jlabel <= label
        # by the label[n] <= n invariant.
        jump = labels.select(F.col("node").alias("jnode"), F.col("label").alias("jlabel"))
        labels = (
            labels.join(jump, labels["label"] == jump["jnode"], "left")
            .select("node", F.coalesce("jlabel", "label").alias("label"))
            .localCheckpoint(eager=True)
        )
    raise RuntimeError(
        f"connected_components did not converge within max_iters={max_iters}; "
        "labels would be partially propagated (silently split clusters). "
        "Re-run with a larger max_iters — rounds needed ~ log2(component "
        "diameter) under pointer jumping."
    )


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard over distinct-element arrays."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(a) + F.size(b) - inter
    return inter.cast("double") / union


def simhash(token_col: Column, bits: int = SIMHASH_BITS) -> Column:
    """Bitwise-majority fingerprint: bit b set iff sum over tokens of
    (+1 if bit b of hash64(token) else -1) > 0.

    Single pass: one md5 per token, and ONE aggregate whose accumulator is
    the whole vote vector (array<long>), updated with a nested zip_with —
    instead of `bits` separate aggregates re-walking the token array."""
    th = F.transform(token_col, lambda t: hash64(t))
    zero = F.array_repeat(F.lit(0).cast("long"), bits)
    # bit b of h == (h % 2^(b+1)) >= 2^b — shift functions need literal
    # shift amounts, so zip against an array of 2^b constants instead.
    pows = F.array(*[F.lit(1 << b).cast("long") for b in range(bits)])
    votes = F.aggregate(
        th,
        zero,
        lambda acc, h: F.zip_with(
            acc,
            pows,
            lambda a, p: a + F.when((h % (p * 2)) >= p, 1).otherwise(-1),
        ),
    )
    weighted = F.zip_with(
        votes,
        pows,
        lambda v, p: F.when(v > 0, p).otherwise(F.lit(0).cast("long")),
    )
    return F.aggregate(weighted, F.lit(0).cast("long"), lambda acc, x: acc + x)


# SimHash pigeonhole blocking: split the `bits`-bit fingerprint into
# (radius + 1) segments; two prints within Hamming distance `radius` must
# agree on at least one whole segment, so candidate generation is an
# equi-join on (segment_idx, segment_value) — never an all-pairs product.
# 15-bit segments mean ~n/2^15 expected docs per segment value: selective
# at corpus scale where the old 5-6-bit segments degenerated.
SIMHASH_RADIUS = 3
SIMHASH_SEGMENTS = [(0, 15), (15, 15), (30, 15), (45, 15)]  # covers 60 bits


def simhash_segments(fp: Column) -> Column:
    """Array of (seg, val) structs for the pigeonhole equi-join key."""
    return F.array(
        *[
            F.struct(
                F.lit(i).alias("seg"),
                F.shiftright(fp, off).bitwiseAND(F.lit((1 << width) - 1)).alias("val"),
            )
            for i, (off, width) in enumerate(SIMHASH_SEGMENTS)
        ]
    )
