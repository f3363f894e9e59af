"""Similarity-search operators: exact cosine + two bucketed ANN paths.

Driver-mandated extension surface (the reference has no vector ops).
The exact brute-force top-k baseline lives in ``plans/similarity.py``;
these are the scale structures:

- **Random-hyperplane LSH**: an ``nbits``-bit signature per vector
  (bit i = sign of ⟨v, r_i⟩); candidates for a query are vectors whose
  signature is within a hamming radius (multi-probe). Candidate count
  shrinks ~2^nbits-fold, and the candidate filter is an integer
  hamming test — no vector math until the final exact re-rank.
- **IVF-Flat**: coarse-quantize every vector to its nearest centroid
  (the inverted file); a query probes only the ``nprobe`` nearest
  cells and re-ranks exactly inside them. Centroids here come from a
  deterministic sample of the corpus itself (k-means would be the
  production trainer; sampling keeps the structure reproducible and
  oracle-checkable without an iterative fit).

Hyperplanes are deterministic md5-derived literals, so both structures
are bit-reproducible in ANSI SQL and the driver's DuckDB gate checks
the ANN results exactly — mechanism and all — not just statistically.

100 TB notes: signatures/cell-ids are computed in one map-only pass
(no shuffle); the candidate filter broadcasts only the query's
signature/cell ranking; the exact re-rank touches candidates, never
the corpus. Centroid training on real data would sample ≤1e6 vectors
to the driver — never the full corpus.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from clickhouse_build_spark.localframe import local_frame

# ------------------------------------------------------------ vector math


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢbᵢ via zip_with + aggregate — sequential left-to-right sum,
    matching the oracle's list_dot_product evaluation order."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


# ----------------------------------------------------- all-pairs cosine


def cosine_pairs_blocked(
    vectors: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "e",
    round_to: int = 4,
    max_broadcast_mb: int = 256,
) -> DataFrame:
    """Exact all-pairs cosine ≥ threshold → (vec_a, vec_b, cos_sim),
    as a block-nested-loop with one broadcast side.

    The corpus matrix is L2-normalized, broadcast once, and every
    partition computes ``block @ corpusᵀ`` in BLAS — a ~100× win over
    per-pair HOF dot products (each pair costs a fused multiply-add
    row, not an interpreted 64-step fold). ``vec_a < vec_b`` dedups the
    symmetric matrix.

    Scale bound: broadcasting the corpus is the standard "broadcast the
    small side" rule, guarded at ``max_broadcast_mb``. Beyond the bound
    this operator refuses rather than silently thrashing — at that size
    the right plan is LSH-prefilter (``lsh_signature`` buckets) with
    this exact kernel applied per bucket, not a bigger broadcast.
    """
    # Guard BEFORE collecting: head+count are metadata-cheap on parquet,
    # and the bound exists precisely to stop an oversized collect.
    first = vectors.select(vec_col).head(1)
    if not first:
        return local_frame(
            vectors.sparkSession, [], "vec_a long, vec_b long, cos_sim double"
        )
    size_mb = vectors.count() * len(first[0][0]) * 8 / 2**20
    if size_mb > max_broadcast_mb:
        raise ValueError(
            f"corpus matrix ~{size_mb:.0f} MB exceeds the {max_broadcast_mb} MB "
            "broadcast bound — use lsh_bucketed_cosine_pairs instead"
        )
    rows = vectors.select(id_col, vec_col).collect()
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    mat = np.vstack([r[1] for r in rows])
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    bc = vectors.sparkSession.sparkContext.broadcast((ids, mat))

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bids, bm = bc.value
        for pdf in batches:
            block = np.vstack(pdf[vec_col].values)
            block = block / np.linalg.norm(block, axis=1, keepdims=True)
            sims = block @ bm.T
            aid = pdf[id_col].values
            ia, ib = np.nonzero(sims >= threshold)
            keep = aid[ia] < bids[ib]
            yield pd.DataFrame(
                {
                    "vec_a": aid[ia][keep],
                    "vec_b": bids[ib][keep],
                    "cos_sim": np.round(sims[ia, ib][keep], round_to),
                }
            )

    return vectors.mapInPandas(kernel, "vec_a long, vec_b long, cos_sim double")


def lsh_bucketed_cosine_pairs(
    vectors: DataFrame,
    threshold: float,
    hyperplanes: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "e",
    max_hamming: int = 2,
    round_to: int = 4,
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-dup pairs at corpus scale: LSH candidate generation, then
    the exact cosine only on candidates — the path
    :func:`cosine_pairs_blocked`'s broadcast guard points at.

    Candidates are pairs whose signatures land within ``max_hamming``
    via banded buckets (split the nbits signature into
    ``max_hamming + 1`` bands; pigeonhole guarantees any pair within
    the radius shares a band). RECALL CONTRACT: a pair at cosine ≥
    threshold but signature distance > max_hamming is missed — that is
    the probabilistic trade; raise nbits / max_hamming to tighten it.
    The exact kernel then keeps only true ≥-threshold pairs, so
    precision is exact.

    Scale: no broadcast of the corpus, no n² join — work is
    Σ bucket_size² over same-band buckets. The band self-join carries
    (id, signature) only — 16 bytes/row, not the vectors (~8·dim
    bytes): vectors re-join by id AFTER the candidate pairs are deduped,
    so bucket-collision fan-out never shuffles payload. ``max_bucket``
    drops degenerate buckets (e.g. a zero-vector pile-up) before the
    join via :func:`~clickhouse_build_spark.operators.dedup.hot_bucket_filter`.
    """
    from clickhouse_build_spark.operators.dedup import hot_bucket_filter

    nbits = len(hyperplanes)
    bands = max_hamming + 1
    band_bits = nbits // bands
    mask = (1 << band_bits) - 1
    sig = vectors.select(
        id_col, lsh_signature(F.col(vec_col), hyperplanes).alias("__sig")
    )
    band_vals = [
        F.shiftright("__sig", j * band_bits).bitwiseAND(F.lit(mask))
        for j in range(bands)
    ]
    banded = sig.select(
        id_col, "__sig", F.posexplode(F.array(*band_vals)).alias("band", "key")
    )
    if max_bucket is not None:
        banded, _ = hot_bucket_filter(banded, ["band", "key"], max_bucket)
    a, b = banded.alias("a"), banded.alias("b")
    hd = F.bit_count(F.col("a.__sig").bitwiseXOR(F.col("b.__sig")))
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .filter(hd <= max_hamming)
        .select(
            F.col(f"a.{id_col}").alias("vec_a"),
            F.col(f"b.{id_col}").alias("vec_b"),
        )
        .dropDuplicates(["vec_a", "vec_b"])
    )
    # Precompute each vector's norm ONCE (n rows) instead of per pair
    # (Σ bucket² rows) — the division tree below matches the oracle's
    # dot/(sqrt(dot)·sqrt(dot)) bit-for-bit since sqrt is deterministic.
    vn = F.sqrt(dot(F.col(vec_col), F.col(vec_col)))
    va = vectors.select(
        F.col(id_col).alias("vec_a"),
        F.col(vec_col).alias("__va"),
        vn.alias("__na"),
    )
    vb = vectors.select(
        F.col(id_col).alias("vec_b"),
        F.col(vec_col).alias("__vb"),
        vn.alias("__nb"),
    )
    cs = dot(F.col("__va"), F.col("__vb")) / (F.col("__na") * F.col("__nb"))
    return (
        cand.join(va, "vec_a")
        .join(vb, "vec_b")
        .filter(cs >= threshold)
        .select("vec_a", "vec_b", F.round(cs, round_to).alias("cos_sim"))
    )


# -------------------------------------------------- random-hyperplane LSH


def random_hyperplanes(dim: int, nbits: int, precision: int = 6) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes in [-1, 1]^dim.

    Component (i, j) derives from md5("hp:i:j") — no RNG state, so the
    same literals embed in the Spark plan and the oracle SQL.
    """
    planes = []
    for i in range(nbits):
        row = []
        for j in range(dim):
            h = int(hashlib.md5(f"hp:{i}:{j}".encode()).hexdigest()[:8], 16)
            row.append(round((h / 2**32) * 2.0 - 1.0, precision))
        planes.append(row)
    return planes


def lsh_signature(
    vec: Column, hyperplanes: list[list[float]]
) -> Column:
    """nbits-bit LSH signature of a double-array column: bit i is set
    iff ⟨v, r_i⟩ > 0. Pure JVM-side arithmetic, one pass per vector.

    Expressed as ONE transform/aggregate over an array-of-planes literal
    rather than nbits unrolled dot expressions: the lambda body compiles
    once, so plan/codegen size is O(1) in nbits instead of O(nbits) —
    the unrolled form spent seconds in expression compilation alone at
    16 bits. Per-plane fold order is unchanged (sequential left-to-right),
    so signatures stay bit-identical to the SQL oracle's.
    """
    planes = F.array(*[F.array(*[F.lit(x) for x in p]) for p in hyperplanes])
    bits = F.transform(
        planes,
        lambda p, i: F.when(
            dot(vec, p) > 0,
            # 2^i via double pow — exact for i ≤ 52, cast back to long
            F.pow(F.lit(2.0), i).cast("long"),
        ).otherwise(F.lit(0).cast("long")),
    )
    return F.aggregate(bits, F.lit(0).cast("long"), lambda acc, x: acc + x)


def lsh_topk(
    vectors: DataFrame,
    query: DataFrame,
    hyperplanes: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "e",
    k: int = 10,
    max_hamming: int = 2,
) -> DataFrame:
    """ANN top-k: signature hamming prefilter, then exact cosine
    re-rank of the surviving candidates.

    ``query`` is a one-row frame with column ``qe`` (the query vector);
    it broadcasts. The corpus-side work is an integer popcount per
    vector; only candidates inside the hamming radius pay for the
    exact cosine.
    """
    sig = vectors.withColumn("__sig", lsh_signature(F.col(vec_col), hyperplanes))
    q = query.withColumn("__qsig", lsh_signature(F.col("qe"), hyperplanes))
    hd = F.bit_count(F.col("__sig").bitwiseXOR(F.col("__qsig")))
    return (
        sig.crossJoin(F.broadcast(q))
        .withColumn("__hd", hd)
        .filter(F.col("__hd") <= max_hamming)
        .select(
            id_col,
            F.round(cosine(F.col(vec_col), F.col("qe")), 4).alias("cos_sim"),
            F.col("__hd").alias("sig_hamming"),
        )
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )


# --------------------------------------------------------------- IVF-Flat


IVF_SAMPLE_CAP = 1_000_000
_SAMPLE_BUCKETS = 1 << 20


@dataclass(frozen=True)
class VectorSample:
    """A bounded, deterministic, id-ordered corpus sample held on the
    driver (:func:`sample_vectors`). ``bucket`` is each row's portable-
    hash bucket in [0, 2^20); a row belongs to the sample of cap c iff
    the corpus has at most c rows or its bucket is under c's cut, so
    the samples of every cap up to ``cap`` are subsets of this one and
    :meth:`capped` carves them out without touching the corpus again."""

    n: int  # corpus rows
    cap: int  # the largest cap this sample serves
    X: np.ndarray  # (rows, dim) float64, id order
    bucket: np.ndarray  # (rows,) int64

    def capped(self, cap: int) -> np.ndarray:
        if cap > self.cap:
            raise ValueError(f"sample drawn at cap {self.cap} cannot serve cap {cap}")
        if self.n <= cap:
            return self.X
        return self.X[self.bucket < int(_SAMPLE_BUCKETS * cap / self.n)]


def sample_vectors(
    vectors: DataFrame,
    cap: int = IVF_SAMPLE_CAP,
    id_col: str = "vec_id",
    vec_col: str = "e",
) -> VectorSample:
    """Count the corpus once and collect its training sample once: every
    row when ``n ≤ cap``, else the rows whose portable md5 hash falls
    under ``cap/n`` (stable under repartitioning, unlike
    ``DataFrame.sample``), ordered by id. An empty corpus or vectors of
    differing lengths raise ``ValueError`` — neither can train a
    quantizer, and numpy would fail later with a shape error.

    100 TB: only the ≤ ``cap`` sample reaches the driver (at 1e6 × 64
    dims ≈ 0.5 GB); the ``count()`` is the only full-data action."""
    from clickhouse_build_spark.operators.dedup import portable_hash

    n = vectors.count()
    if n == 0:
        raise ValueError("empty corpus: no vectors to sample for IVF training")
    bucket = F.pmod(
        portable_hash(F.col(id_col).cast("string"), "ivf-sample"), _SAMPLE_BUCKETS
    )
    sample = vectors.select(id_col, vec_col, bucket.alias("__bucket"))
    if n > cap:
        sample = sample.filter(
            F.col("__bucket") < int(_SAMPLE_BUCKETS * cap / n)
        )
    rows = sorted(sample.collect(), key=lambda r: r[0])
    dims = {None if r[1] is None else len(r[1]) for r in rows}
    if len(dims) > 1 or None in dims:
        raise ValueError(
            f"ragged corpus: {vec_col!r} holds vectors of lengths "
            f"{sorted(dims, key=str)} — every vector needs the same dimension"
        )
    X = np.array([r[1] for r in rows], dtype=np.float64)
    X.setflags(write=False)  # shared by every trainer of the session
    return VectorSample(
        n=n, cap=cap, X=X, bucket=np.array([r[2] for r in rows], dtype=np.int64)
    )


def spherical_lloyd(X: np.ndarray, k: int, iters: int) -> np.ndarray:
    """Spherical k-means over the sample rows ``X`` → the (k, dim)
    centroid matrix, row c being cell c's unit centroid. Zero rows are
    dropped, centroids init at evenly-spaced ranks of the (id-ordered)
    sample, and Lloyd's iterations are pure numpy; empty cells keep
    their previous centroid (classic Lloyd fallback)."""
    # Drop zero vectors BEFORE normalizing — a single zero row would
    # become NaN and poison every Lloyd iteration it touches (the same
    # degenerate input lsh_bucketed_cosine_pairs guards against).
    norms = np.linalg.norm(X, axis=1)
    X = X[norms > 0]
    if len(X) < k:
        raise ValueError(
            f"sample of {len(X)} nonzero vectors cannot seed k={k} cells"
        )
    X /= np.linalg.norm(X, axis=1, keepdims=True)
    C = X[np.linspace(0, len(X) - 1, k).astype(int)].copy()
    for _ in range(iters):
        assign = np.argmax(X @ C.T, axis=1)  # cosine == dot (unit norm)
        for c in range(k):
            members = X[assign == c]
            if len(members):
                m = members.mean(axis=0)
                norm = np.linalg.norm(m)
                if norm > 0:
                    C[c] = m / norm
    return C


def centroid_frame(spark, C: np.ndarray) -> DataFrame:
    """The (cell, ce) frame of a cell-ordered centroid matrix."""
    return local_frame(
        spark,
        [(c, C[c].tolist()) for c in range(len(C))],
        "cell long, ce array<double>",
    )


def ivf_train(
    vectors: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "e",
    sample_cap: int = IVF_SAMPLE_CAP,
    iters: int = 5,
) -> DataFrame:
    """Production IVF coarse-quantizer: spherical k-means (Lloyd) on a
    bounded, DETERMINISTIC sample → (cell, ce) centroid frame.

    The deterministic-stride sample used by the oracle-checked
    ``emb_ann_ivf_topk`` keeps the structure SQL-reproducible; this is
    the trainer a real corpus wants — centroids that adapt to the data
    distribution instead of being corpus rows.

    Determinism without an RNG: :func:`sample_vectors` picks the sample
    by portable hash, :func:`spherical_lloyd` inits at evenly-spaced
    ranks of the id-sorted sample. Lloyd monotonically improves
    quantization error over that init, so the trained centroids are
    never worse than the sampled baseline on the training sample (tests
    assert it corpus-wide). Assignment afterwards is :func:`ivf_assign`'s
    broadcast pass."""
    sample = sample_vectors(vectors, sample_cap, id_col, vec_col)
    return centroid_frame(vectors.sparkSession, spherical_lloyd(sample.X, k, iters))


def quantization_cost(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "e",
) -> float:
    """Mean (1 − max-cosine-to-any-centroid) over the corpus — the
    spherical k-means objective; lower is a tighter coarse quantizer.
    One broadcast pass, one scalar back to the driver.

    Groups by the ROW id, not the vector value: duplicate vectors must
    each contribute to the per-row mean (grouping on the array would
    collapse them and shuffle full vectors besides)."""
    best = (
        vectors.crossJoin(F.broadcast(centroids))
        .groupBy(id_col)
        .agg(F.max(cosine(F.col(vec_col), F.col("ce"))).alias("__best"))
    )
    [row] = best.agg(F.avg(1 - F.col("__best")).alias("cost")).collect()
    return float(row["cost"])


def ivf_assign(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "e",
    exclude: DataFrame | None = None,
) -> DataFrame:
    """Coarse quantization: each vector gets its nearest centroid
    (max cosine, centroid id as tiebreak) → adds a ``cell`` column.

    Centroids broadcast (small by construction); the argmax is a
    max-of-struct aggregate — (cosine, −cell) compares lexicographically,
    so the max is highest-cosine with lowest-cell tiebreak. Partial
    aggregation collapses the |centroids| candidate rows map-side; the
    shuffle carries ONE row per vector (a windowed rank here would
    instead shuffle and sort |corpus|×|centroids| rows).

    ``exclude`` (r14): an (id, cell) frame of per-vector cells to skip
    — the multi-probe rank-2 pass ("next-best cell after the index's").
    It joins BROADCAST onto the scored stream (n narrow rows — never a
    shuffle of the n×|cells| scored rows). LEFT join (ADVICE r14):
    vectors with no exclusion row keep their full candidate set, the
    same semantics as :func:`ivf_assign_kernel`'s masking.
    """
    scored = vectors.crossJoin(F.broadcast(centroids)).withColumn(
        "__cdist", cosine(F.col(vec_col), F.col("ce"))
    )
    if exclude is not None:
        scored = scored.join(
            F.broadcast(
                exclude.select(id_col, F.col("cell").alias("__xcell"))
            ),
            id_col,
            "left",
        ).filter(
            F.col("__xcell").isNull() | (F.col("cell") != F.col("__xcell"))
        )
    best = scored.groupBy(id_col).agg(
        F.max(
            F.struct(F.col("__cdist").alias("d"), (-F.col("cell")).alias("negc"))
        ).alias("__best")
    )
    return vectors.join(best, id_col).select(
        vectors["*"], (-F.col("__best.negc")).cast("long").alias("cell")
    )


def ivf_assign_kernel(
    vectors: DataFrame,
    centroids: DataFrame | np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "e",
    exclude: DataFrame | None = None,
    top2: bool = False,
) -> DataFrame:
    """Bulk coarse assignment via a vectorized Arrow kernel — one BLAS
    gemm (``X @ C.T``) + argmax per batch against the broadcast
    centroid matrix (r14). Same contract as :func:`ivf_assign`
    (max cosine, lowest cell id on exact ties — centroid rows are
    ordered by cell, so numpy's first-max argmax IS the lowest-cell
    tiebreak), same output shape (``vectors["*"]`` + ``cell``).
    ``centroids`` is a (cell, ce) frame or, when the caller already
    holds it, the cell-ordered centroid matrix (row c = cell c).

    Used by the AT-REST INDEX family (index encode, sub-cell trainer,
    probe rank-2), whose oracles re-derive from the exported parquet —
    the assignment is data to them, so the kernel's pairwise-summed
    dot products need no SQL twin. The oracle families that RECOMPUTE
    the cosine in DuckDB term-for-term (emb_ann_ivf*/kmeans) keep
    :func:`ivf_assign`'s codegen expression, whose FP association
    their SQL mirrors exactly.

    Scale: |cells| is bounded (≤ IVFPQ_MAX_CELLS = 4096) so the
    centroid matrix broadcast is ≤ 4096×64 doubles ≈ 2 MB; per-batch
    work is a dense gemm — the n·|cells| scoring that dominated the
    r14 ladder window as Catalyst lambda evaluations becomes
    data-pass-bounded. ``exclude`` (id, cell) masks one cell per
    vector before the argmax (the rank-2 pass): it joins onto the
    n-row vector frame, never the scored space.

    ``top2`` (r17) additionally emits ``cell2`` — the runner-up cell —
    from the SAME score matrix: mask the winning column, argmax again.
    That is arithmetic-for-arithmetic the rank-2 ``exclude`` pass
    (identical S, identical first-max tiebreak), so one pass serves
    both the index (rank 1) and the nprobe=2 probe table (rank 2).
    """
    if isinstance(centroids, DataFrame):
        rows = centroids.orderBy("cell").collect()  # bounded ≤ 4096 rows
        cells_arr = np.array([r["cell"] for r in rows], dtype=np.int64)
        C = np.vstack([np.asarray(r["ce"], dtype=np.float64) for r in rows])
    else:
        C = centroids
        cells_arr = np.arange(len(C), dtype=np.int64)
    cn = np.linalg.norm(C, axis=1)
    cn[cn == 0] = 1.0
    spark = vectors.sparkSession
    bc = spark.sparkContext.broadcast((cells_arr, C / cn[:, None]))

    df = vectors
    if exclude is not None:
        df = df.join(
            exclude.select(id_col, F.col("cell").alias("__xcell")),
            id_col,
            "left",
        )
    in_cols = list(vectors.columns)
    has_excl = exclude is not None

    def kern(batches):
        cells_a, Cm = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.vstack(pdf[vec_col].values).astype(np.float64)
            norms = np.linalg.norm(X, axis=1)
            norms[norms == 0] = 1.0
            S = (X / norms[:, None]) @ Cm.T
            if has_excl:
                xc = pdf["__xcell"].values
                mask = pd.notna(xc)
                if mask.any():
                    ids = xc[mask].astype(np.int64)
                    pos = np.searchsorted(cells_a, ids)
                    # Guard (ADVICE r14): searchsorted on a cell id
                    # ABSENT from the centroid set returns an insertion
                    # point — masking the wrong cell, or indexing out
                    # of bounds past the last centroid. A stale/foreign
                    # exclusion id must be loud, never a silent
                    # wrong-cell mask.
                    safe = pos < len(cells_a)
                    if not safe.all() or (cells_a[pos[safe]] != ids[safe]).any():
                        bad = ids[~safe] if not safe.all() else ids[
                            safe
                        ][cells_a[pos[safe]] != ids[safe]]
                        raise ValueError(
                            "ivf_assign_kernel: exclusion cell id(s) "
                            f"{sorted(set(bad.tolist()))[:5]} not in the "
                            "centroid set — stale or foreign exclusion "
                            "frame (index/centroid artifact mismatch)"
                        )
                    S[np.flatnonzero(mask), pos] = -np.inf
            out = pdf[in_cols].copy()
            am = np.argmax(S, axis=1)
            out["cell"] = cells_a[am]
            if top2:
                S[np.arange(len(am)), am] = -np.inf
                out["cell2"] = cells_a[np.argmax(S, axis=1)]
            yield out

    from pyspark.sql import types as T

    # copy the fields — StructType.add mutates the shared schema object
    schema = T.StructType(
        [T.StructField(f.name, f.dataType, f.nullable) for f in vectors.schema.fields]
        + [T.StructField("cell", T.LongType())]
        + ([T.StructField("cell2", T.LongType())] if top2 else [])
    )
    return df.mapInPandas(kern, schema)


def ivf_assign_probes(
    vectors: DataFrame,
    centroids: DataFrame,
    nprobe: int,
    id_col: str = "vec_id",
    vec_col: str = "e",
) -> DataFrame:
    """Multi-probe coarse quantization (r08): each vector gets its top
    ``nprobe`` cells by the SAME ordering :func:`ivf_assign` uses (max
    cosine, lowest cell id as tiebreak) → (id, cell, probe_rank) rows,
    rank 1 being exactly :func:`ivf_assign`'s cell (pytest-pinned).

    SemDeDup's within-cell candidate generation misses pairs that
    straddle a cell boundary; assigning each vector to its ``nprobe``
    nearest cells and unioning the per-cell self-joins recovers most of
    them (measured in plans/similarity.py's module note) while staying
    an equi-join on ``cell`` — still partition-local on a cell-
    partitioned index, with the quadratic term bounded per cell.

    Plan (r14): ``nprobe`` successive bounded max passes — pass i
    joins the prior ranks' (id, cell) results onto the vector frame
    (n narrow rows each — the same aggregate-join-back shape
    :func:`ivf_assign` itself uses), excludes those cells, and takes
    the same (max cosine, lowest cell) argmax, so each pass shuffles
    ONE row per vector. The previous collect_list + array_sort plan
    carried ALL |cells| scored structs per vector through the
    aggregate — at nlist ~ √n that shuffle is n^1.5 structs, and the
    r14 scale ladder measured it as the probe2 wall (rung10 2M×1414 ≈
    2.8G structs). Earlier ranks re-execute once as later ranks'
    exclusion inputs (pass 1 runs twice for nprobe=2) — recomputing a
    codegen scoring pass is far cheaper than materializing it through
    a checkpoint (a lazy localCheckpoint here deadlocked under the
    broadcast-exchange thread) or a wide shuffle.
    """
    out = None
    prev: list[DataFrame] = []
    for r in range(1, nprobe + 1):
        base = vectors.select(id_col, vec_col)
        for i, pr in enumerate(prev):
            base = base.join(
                pr.select(id_col, F.col("cell").alias(f"__c{i}")), id_col
            )
        # materialize the score as a COLUMN before aggregating (exactly
        # ivf_assign's shape): with the cosine inlined in the agg the
        # pre-aggregate sort carries both full vectors per scored row
        # (~1 KB × n×|cells| — measured 13× slower at the 100k rung)
        scored = base.crossJoin(F.broadcast(centroids)).withColumn(
            "__cdist", cosine(F.col(vec_col), F.col("ce"))
        )
        for i in range(len(prev)):
            scored = scored.filter(F.col("cell") != F.col(f"__c{i}"))
        best = scored.groupBy(id_col).agg(
            F.max(
                F.struct(
                    F.col("__cdist").alias("d"),
                    (-F.col("cell")).alias("negc"),
                )
            ).alias("__b")
        )
        rank_df = best.select(
            id_col,
            (-F.col("__b.negc")).cast("long").alias("cell"),
            F.lit(r).alias("probe_rank"),
        )
        out = rank_df if out is None else out.unionByName(rank_df)
        prev.append(rank_df.select(id_col, "cell"))
    return out


# -------------------- two-level coarse quantization (sub-cells, r14)
#
# A flat nlist frozen at a cap makes SemDeDup's within-cell candidate
# mass Σ|cell|² revert to n²/nlist past nlist² vectors (the r13 scale
# ladder measured exactly this at the old 128-cell clamp). The
# scale-safe law is CONSTANT CELL OCCUPANCY, not √n cells: keep the
# top level bounded (broadcastable centroids) and split each top-level
# cell into ⌈|cell|/target⌉ sub-cells — the FAISS IVF-in-IVF /
# hierarchical-k-means layout. Candidate mass becomes Σ|subcell|² ≈
# n·target — LINEAR in n at any corpus size; training and assignment
# stay bounded per cell (the level-2 trainer only ever sees one cell's
# hash-sample in a pandas group, and level-2 assignment is an equi-join
# on the cell id with ⌈|cell|/target⌉ candidates per row).


def train_subcells(
    assigned: DataFrame,
    centroids: DataFrame,
    target_rows: int,
    spc: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "e",
) -> DataFrame | None:
    """Level-2 spherical k-means per coarse cell → (cell, subcell, sce)
    sub-centroid frame, or None when no cell exceeds ``target_rows``
    (single-level corpus — callers take the exact pre-r14 path).

    Per cell c with |c| rows: k2(c) = ⌈|c|/target_rows⌉ sub-centroids,
    trained on a deterministic hash-sample of ~``spc``·k2 members (the
    same portable-md5 recipe as :func:`ivf_train` — stable under
    repartitioning, no RNG), evenly-spaced init over the id-sorted
    sample, ``iters`` Lloyd rounds in numpy inside ONE applyInPandas
    group per fat cell. k2==1 cells skip training entirely — their
    single sub-centroid is the coarse centroid itself (argmax over one
    candidate is subcell 0 regardless of the value), as is any fat
    cell whose hash-sample came back empty (it degrades to unsplit,
    never to dropped rows).

    Scale: the per-group training set is ~spc/target of the cell
    (spc=8, target=64 → 1/8), so group memory is |cell|/8 vectors —
    bounded by the top level's occupancy n/k1. Past ~10¹⁰ vectors the
    same construction recurses (three levels); two levels cover the
    100 TB envelope.

    ``assigned`` must carry unit-normalized vectors (the
    ``_unit_vectors`` contract) plus the coarse ``cell`` column.
    """
    import math

    from clickhouse_build_spark.operators.dedup import portable_hash

    counts = {
        r["cell"]: r["count"]
        for r in assigned.groupBy("cell").count().collect()
    }
    k2 = {c: -(-n // target_rows) for c, n in counts.items()}
    if not k2 or max(k2.values()) == 1:
        return None
    spark = assigned.sparkSession
    scale = 1 << 20
    cuts = local_frame(
        spark,
        [
            (
                int(c),
                int(min(scale, math.ceil(scale * spc * k2[c] / counts[c])))
                if k2[c] > 1
                else 0,
            )
            for c in counts
        ],
        "cell long, __cut long",
    )
    sample = (
        assigned.join(F.broadcast(cuts), "cell")
        .filter(
            F.pmod(
                portable_hash(F.col(id_col).cast("string"), "subcell-sample"),
                scale,
            )
            < F.col("__cut")
        )
        .select("cell", F.col(id_col).alias("__id"), F.col(vec_col).alias("__e"))
    )
    k2_by_cell = dict(k2)  # plain dict in the closure (≤ k1 entries)

    def fit(pdf):
        cell = int(pdf["cell"].iloc[0])
        k = min(k2_by_cell.get(cell, 1), len(pdf))
        order = np.argsort(pdf["__id"].values, kind="stable")
        X = np.vstack(pdf["__e"].values[order]).astype(np.float64)
        C = X[np.linspace(0, len(X) - 1, k).astype(int)].copy()
        for _ in range(iters):
            a = np.argmax(X @ C.T, axis=1)
            for j in range(k):
                members = X[a == j]
                if len(members):
                    m = members.mean(axis=0)
                    norm = np.linalg.norm(m)
                    if norm > 0:
                        C[j] = m / norm
        return pd.DataFrame(
            {
                "cell": [cell] * k,
                "subcell": list(range(k)),
                "sce": [[float(x) for x in C[j]] for j in range(k)],
            }
        )

    trained = sample.groupBy("cell").applyInPandas(
        fit, "cell long, subcell long, sce array<double>"
    ).localCheckpoint(eager=True)  # run the trainer ONCE (n/target rows)
    # Cells with k2==1 (never sampled) and fat cells whose sample came
    # back empty fall back to ONE sub-centroid = the coarse centroid.
    # The trained frame's distinct cell list is ≤ |centroids| rows —
    # driver-sized by the top level's construction.
    trained_cells = {r["cell"] for r in trained.select("cell").distinct().collect()}
    fallback = centroids.filter(
        ~F.col("cell").isin(*trained_cells)
        if trained_cells
        else F.lit(True)
    ).select(
        "cell", F.lit(0).cast("long").alias("subcell"), F.col("ce").alias("sce")
    )
    return trained.unionByName(fallback)


def subcell_assign(
    assigned: DataFrame,
    subcent: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "e",
) -> DataFrame:
    """Nearest sub-centroid WITHIN each row's coarse cell (max cosine,
    lowest subcell as tiebreak) → (id, cell, subcell). Level-2
    assignment is an equi-join on ``cell`` — k2(cell) candidate rows
    per vector, collapsed map-side by the partial max-of-struct
    aggregate, so the shuffle carries one row per (id, cell). Works
    unchanged for multi-probe input (one output row per probed cell)."""
    scored = assigned.join(subcent, "cell").select(
        id_col,
        "cell",
        F.struct(
            cosine(F.col(vec_col), F.col("sce")).alias("d"),
            (-F.col("subcell")).alias("negs"),
        ).alias("__s"),
    )
    return (
        scored.groupBy(id_col, "cell")
        .agg(F.max("__s").alias("__b"))
        .select(
            id_col,
            "cell",
            (-F.col("__b.negs")).cast("long").alias("subcell"),
        )
    )


def ivf_topk(
    assigned: DataFrame,
    centroids: DataFrame,
    query: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "e",
    k: int = 10,
    nprobe: int = 3,
) -> DataFrame:
    """IVF search: rank cells by centroid↔query cosine, probe the top
    ``nprobe`` cells, exact top-k inside them.

    The probed-cell list is tiny and broadcasts as a semi-join filter;
    with the inverted file partitioned by ``cell`` on disk, the scan
    prunes to the probed partitions and never touches the rest."""
    probe = (
        centroids.crossJoin(F.broadcast(query))
        .select("cell", cosine(F.col("ce"), F.col("qe")).alias("__d"))
        .orderBy(F.desc("__d"), F.asc("cell"))
        .limit(nprobe)
        .select("cell")
    )
    return (
        assigned.join(F.broadcast(probe), "cell")
        .crossJoin(F.broadcast(query))
        .select(
            id_col,
            "cell",
            F.round(cosine(F.col(vec_col), F.col("qe")), 4).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )


# ----------------------------------------------------------------- IVF-PQ


def pq_train(
    residuals: "np.ndarray", m: int, k: int, iters: int = 10
) -> "np.ndarray":
    """Train per-subspace PQ codebooks on residual vectors (driver-side
    numpy, the FAISS ``ProductQuantizer::train`` analogue): split each
    residual into ``m`` subvectors and run plain (L2) Lloyd k-means
    independently per subspace → (m, k, dim/m) codebook tensor.

    Deterministic without an RNG, matching :func:`ivf_train`'s recipe:
    the caller supplies an id-ordered bounded sample, initial codes are
    evenly-spaced ranks of that order, Lloyd monotonically improves the
    per-subspace quantization error, and empty cells keep their
    previous centroid. Residuals are NOT normalized — PQ compresses
    displacement from the coarse centroid, where magnitude carries
    signal (unlike the spherical coarse quantizer).

    100 TB: the input is the same ≤1e6-vector driver sample the coarse
    trainer uses; each Lloyd iteration is an (n, k) distance matrix per
    subspace — n·k·(dim/m) flops, trivially driver-sized.
    """
    n, dim = residuals.shape
    if dim % m:
        raise ValueError(f"dim {dim} not divisible into {m} subvectors")
    if n < k:
        raise ValueError(f"sample of {n} residuals cannot seed k={k} codes")
    sub = dim // m
    books = []
    for s in range(m):
        X = residuals[:, s * sub : (s + 1) * sub]
        C = X[np.linspace(0, n - 1, k).astype(int)].copy()
        # ‖x−c‖² = ‖x‖² − 2x·c + ‖c‖² as one BLAS product — the
        # broadcast (n, k, sub) difference tensor this replaces was
        # ~n·k·8 doubles PER ITERATION (0.8 GB at a 50k-sample sf1
        # train); ‖x‖² is constant across iterations and irrelevant to
        # the argmin, so it is dropped entirely.
        for _ in range(iters):
            d = (C**2).sum(axis=1)[None, :] - 2.0 * (X @ C.T)
            assign = np.argmin(d, axis=1)
            # scatter-add member sums instead of a per-cell mask scan
            # (k boolean scans of the sample per iteration dominated
            # the trainer at k=256); empty cells keep their previous
            # centroid (classic Lloyd fallback)
            sums = np.zeros_like(C)
            np.add.at(sums, assign, X)
            counts = np.bincount(assign, minlength=k)
            nonempty = counts > 0
            C[nonempty] = sums[nonempty] / counts[nonempty, None]
        books.append(C)
    return np.stack(books)


def ivfpq_train_from_sample(
    X: np.ndarray, C: np.ndarray, m: int, k: int, iters: int = 10
) -> np.ndarray:
    """Coarse-assign the driver sample ``X`` (raw, id-ordered rows) to
    the cell-ordered centroid matrix ``C`` in numpy exactly as
    :func:`ivf_assign` does (max cosine, lowest cell on ties) and train
    PQ codebooks on the residuals v − centroid. Returns the
    (m, k, dim/m) tensor."""
    norms = np.linalg.norm(X, axis=1, keepdims=True)
    cnorms = np.linalg.norm(C, axis=1, keepdims=True)
    # cosine argmax with lowest-cell tiebreak == ivf_assign's
    # max(struct(cos, -cell)): argmax takes the FIRST max and C's rows
    # are cell-ascending. Zero vectors get cosine 0 to every cell → cell 0.
    sims = np.where(norms > 0, X / np.where(norms == 0, 1, norms), 0) @ (
        C / cnorms
    ).T
    assign = np.argmax(sims, axis=1)
    residuals = X - C[assign]
    return pq_train(residuals, m=m, k=k, iters=iters)


def lsh_topk_batch(
    vectors: DataFrame,
    queries: DataFrame,
    hyperplanes: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "e",
    qid_col: str = "query_id",
    qvec_col: str = "qe",
    k: int = 10,
    max_hamming: int = 2,
    exclude_self: bool = False,
) -> DataFrame:
    """Batch ANN serving: top-k per query for a FRAME of query vectors
    (the realistic shape — retrieval runs thousands of queries per
    trigger, not one).

    ``exclude_self=True`` drops rows where the corpus id equals the
    query id — ONLY correct when queries are drawn from the corpus and
    share its id space (the registered plan's case). For external query
    frames leave it False: an id collision across unrelated id spaces
    would silently drop a true neighbor.

    The query frame broadcasts with precomputed signatures; the corpus
    side pays |corpus|·|Q| integer popcounts map-side (no shuffle), the
    exact cosine only on hamming survivors, and one row_number window
    partitioned by query id picks each top-k. For query batches too big
    to broadcast, band the signatures (``lsh_bucketed_cosine_pairs``
    style) instead of the crossJoin — same downstream re-rank.
    """
    sig = vectors.withColumn("__sig", lsh_signature(F.col(vec_col), hyperplanes))
    q = queries.withColumn("__qsig", lsh_signature(F.col(qvec_col), hyperplanes))
    hd = F.bit_count(F.col("__sig").bitwiseXOR(F.col("__qsig")))
    cos4 = F.round(cosine(F.col(vec_col), F.col(qvec_col)), 4)
    w = Window.partitionBy(qid_col).orderBy(F.desc("cos_sim"), F.asc(id_col))
    return (
        sig.crossJoin(F.broadcast(q))
        .withColumn("__hd", hd)
        .filter(F.col("__hd") <= max_hamming)
        .filter(
            (F.col(id_col) != F.col(qid_col)) if exclude_self else F.lit(True)
        )
        .select(
            qid_col,
            id_col,
            cos4.alias("cos_sim"),
            F.col("__hd").alias("sig_hamming"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )
