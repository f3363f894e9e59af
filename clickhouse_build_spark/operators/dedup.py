"""Fuzzy-deduplication operators: MinHash+LSH, SimHash, winnowing.

The reference's migration surface has only exact-row semantics (CDC
latest-per-key, ``src/tools/data_migrator.py:10-21``); near-duplicate
document detection is driver-mandated extension surface for the
training-data pipeline. The exact n-gram-Jaccard verifier lives in
``plans/textops.py``; these are the scale paths that avoid its
all-pairs shingle join.

All hashing uses a **portable 32-bit hash** — the first 8 hex chars of
md5 parsed as an integer — so every operator here is bit-for-bit
reproducible in ANSI SQL (DuckDB: ``('0x' || substr(md5(x),1,8))::BIGINT``)
and the driver's oracle gate can hash-match the *probabilistic*
operators exactly, not just statistically.

Scale design (100 TB rules):

- MinHash: one shuffle to group shingles per doc (carrying 8-byte
  hashes, never text), one to band; candidate pairs only form inside an
  LSH band bucket, so work is proportional to collisions, not n².
- SimHash: banded by pigeonhole — two 32-bit signatures within hamming
  distance d share at least one of b contiguous bands when d < b, so
  the candidate join is an equi-join on (band_idx, band_bits).
- Winnowing: per-document only (no shuffle at all until the caller
  groups fingerprints).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from clickhouse_build_spark.localframe import local_frame

# ---------------------------------------------------------------- hashing


def portable_hash(col: Column, seed: int | str) -> Column:
    """32-bit hash reproducible across Spark and DuckDB/ANSI SQL:
    ``int(md5(seed ':' x)[:8], 16)``. Murmur (``F.hash``) would be
    faster but is engine-specific, which would make every probabilistic
    operator un-oracle-checkable."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{seed}:"), col)), 1, 8), 16, 10
    ).cast("long")


def portable_hash_sql(expr: str, seed: int | str) -> str:
    """The DuckDB-side twin of :func:`portable_hash` (for oracle SQL)."""
    return f"('0x' || substr(md5('{seed}:' || {expr}), 1, 8))::BIGINT"


def portable_hash_spark_sql(expr: str, seed: int | str) -> str:
    """The Spark-SQL-text twin of :func:`portable_hash` (for the
    CH-dialect translator's structural rewrites, which emit SQL
    strings, not Columns). All three forms MUST stay in lockstep —
    they are the basis of every probabilistic operator's oracle."""
    return (
        f"CAST(CONV(SUBSTRING(MD5(CONCAT('{seed}:', "
        f"CAST({expr} AS STRING))), 1, 8), 16, 10) AS BIGINT)"
    )


def minhash_component(col: Column, s: int) -> Column:
    """MinHash permutation hash #s — four 32-bit components carved from
    each md5 digest (offsets 1/9/17/25 of the 32 hex chars), so 16
    permutations cost 4 md5 evaluations per shingle, not 16 (Catalyst
    CSE collapses the shared digest; measured ~1.7× on the signature
    stage)."""
    g, o = divmod(s, 4)
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{g}:"), col)), 1 + 8 * o, 8), 16, 10
    ).cast("long")


def minhash_component_sql(expr: str, s: int) -> str:
    """DuckDB twin of :func:`minhash_component`."""
    g, o = divmod(s, 4)
    return f"('0x' || substr(md5('{g}:' || {expr}), {1 + 8 * o}, 8))::BIGINT"


# ---------------------------------------------------------------- shingles


def word_shingles(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, distinct: bool = True
) -> DataFrame:
    """Word n-gram shingles per document → (id, shingle).

    The explode fans out ~|tokens| rows per doc but carries only the
    shingle string briefly; every downstream op hashes it immediately.

    ``distinct`` costs a full shuffle of the shingle text — required
    when downstream counts set sizes (Jaccard) or votes per feature
    (SimHash), but skippable for duplicate-invariant consumers: MinHash
    takes a ``min``, which a repeated shingle cannot change.
    """
    words = F.split(F.col(text_col), " ")
    out = (
        df.select(id_col, words.alias("__w"))
        .filter(F.size("__w") >= n)
        .select(
            id_col,
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("__w") - (n - 1)),
                    lambda i: F.concat_ws(" ", F.slice(F.col("__w"), i, n)),
                )
            ).alias("shingle"),
        )
    )
    return out.distinct() if distinct else out


# ---------------------------------------------------------- bucket guard


def hot_bucket_filter(
    banded: DataFrame, bucket_cols: list[str], max_bucket: int
) -> tuple[DataFrame, DataFrame]:
    """Drop LSH buckets holding more than ``max_bucket`` members before a
    same-bucket self-join.

    Banded-join work is Σ bucket², so one degenerate bucket (every
    empty-text document hashes to the same band key) turns the candidate
    join quadratic at corpus scale. A bucket with b > max_bucket members
    contributes b² ≈ useless comparisons AND near-zero information —
    anything that common is not a near-duplicate *pair* relationship
    worth enumerating pairwise.

    Returns ``(kept, hot)``: the filtered banded frame and the dropped
    ``(bucket_cols..., bucket_n)`` frame so callers can log/record what
    was skipped (a pair inside a dropped bucket can still surface via
    another band — the pigeonhole guarantee weakens to best-effort for
    members of hot buckets, which is the documented trade).

    Scale: the size count is a partial-aggregated groupBy on the small
    bucket key; ``hot`` is tiny by construction (count > max_bucket), so
    the anti-join broadcasts.
    """
    sizes = banded.groupBy(*bucket_cols).agg(F.count("*").alias("bucket_n"))
    hot = sizes.filter(F.col("bucket_n") > max_bucket)
    kept = banded.join(
        F.broadcast(hot.select(*bucket_cols)), bucket_cols, "left_anti"
    )
    return kept, hot


# ---------------------------------------------------------------- MinHash


def minhash_signatures(
    shingles: DataFrame, id_col: str, num_perm: int = 16
) -> DataFrame:
    """(id, shingle) → (id, sig: array<long>[num_perm]).

    One permutation per seed: ``sig[i] = min over shingles of
    hash_i(shingle)``. A single groupBy computes all components —
    map-side partial min keeps the shuffle at num_perm longs per doc.
    """
    aggs = [
        F.min(minhash_component(F.col("shingle"), s)).alias(f"__h{s}")
        for s in range(num_perm)
    ]
    sig = shingles.groupBy(id_col).agg(*aggs)
    return sig.select(
        id_col, F.array(*[f"__h{s}" for s in range(num_perm)]).alias("sig")
    )


def _shingled(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """(id, __s: array of word-n-gram shingles) — the array-form twin
    of :func:`word_shingles` (same construction, no explode). The
    token-count filter must run BEFORE the sequence is built: Spark's
    ``sequence(1, 0)`` DESCENDS, so a short document would otherwise
    feed ``slice`` a zero start and error."""
    w = F.split(F.col(text_col), " ")
    return (
        df.select(id_col, w.alias("__w"))
        .filter(F.size("__w") >= n)
        .select(
            id_col,
            F.transform(
                F.sequence(F.lit(1), F.size("__w") - (n - 1)),
                lambda i: F.concat_ws(" ", F.slice(F.col("__w"), i, n)),
            ).alias("__s"),
        )
    )


def _digest_lambda(g: int):
    # Factory, NOT a defaulted lambda: a 2-arg lambda in F.transform is
    # interpreted as (element, index) and the index silently overwrites
    # the default (found the hard way in the r17 micro-bench).
    return lambda x: F.md5(F.concat(F.lit(f"{g}:"), x))


def _carve_lambda(o: int):
    return lambda d: F.conv(F.substring(d, 1 + 8 * o, 8), 16, 10).cast(
        "long"
    )


def minhash_signatures_text(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    num_perm: int = 16,
) -> DataFrame:
    """(id, text) → (id, sig) with NO explode and NO shuffle (r17,
    guide §2.4): the shingle set, the 4 md5 digest arrays and the 16
    per-component minima are per-row array expressions, so the whole
    signature stage stays in the scan stage — the row-based
    :func:`minhash_signatures` shuffles |shingle| rows to group them
    back per document, pure cost at any scale. Component values are
    IDENTICAL (same digest carve, min over the same multiset;
    duplicate shingles cannot change a min, mirroring the
    ``distinct=False`` composition every caller used).
    """
    base = _shingled(df, id_col, text_col, shingle_n)
    n_groups = (num_perm + 3) // 4
    dig = base.select(
        id_col,
        *[
            F.transform("__s", _digest_lambda(g)).alias(f"__d{g}")
            for g in range(n_groups)
        ],
    )
    comps = []
    for s in range(num_perm):
        g, o = divmod(s, 4)
        comps.append(F.array_min(F.transform(f"__d{g}", _carve_lambda(o))))
    return dig.select(id_col, F.array(*comps).alias("sig"))


def lsh_band_keys(
    signatures: DataFrame, id_col: str, bands: int, rows_per_band: int
) -> DataFrame:
    """Explode a signature frame into its LSH band index → (id, band,
    key) rows. Shared by the batch pair-miner and the streaming
    admission gate so both sides bucket identically — the contract that
    makes a streamed delta's candidates equal the batch run's."""
    band_keys = [
        F.concat_ws(
            "-",
            *[
                F.element_at("sig", j * rows_per_band + i + 1).cast("string")
                for i in range(rows_per_band)
            ],
        )
        for j in range(bands)
    ]
    return signatures.select(
        id_col, F.posexplode(F.array(*band_keys)).alias("band", "key")
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str,
    bands: int,
    rows_per_band: int,
    max_bucket: int | None = None,
) -> DataFrame:
    """LSH banding: docs sharing any band of the signature become a
    candidate pair → (id_a, id_b, est_jaccard).

    est_jaccard is the fraction of agreeing signature components — the
    unbiased MinHash estimate of true Jaccard. Candidates form via an
    equi-join on (band_idx, band_key): only same-bucket docs ever meet,
    which is the whole point at 100 TB.

    The band join carries only (id, band, key) — the signature arrays
    (num_perm longs each) are re-joined by id AFTER the candidate pairs
    are deduped, so the bucket-collision fan-out never shuffles them.
    ``max_bucket`` (optional) drops degenerate buckets before the join
    via :func:`hot_bucket_filter`.
    """
    num_perm = bands * rows_per_band
    banded = lsh_band_keys(signatures, id_col, bands, rows_per_band)
    if max_bucket is not None:
        banded, _ = hot_bucket_filter(banded, ["band", "key"], max_bucket)
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    sig_a = signatures.select(
        F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a")
    )
    sig_b = signatures.select(
        F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b")
    )
    matches = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda m: m
        )
    )
    return (
        pairs.join(sig_a, "id_a")
        .join(sig_b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(matches.cast("double") / num_perm, 4).alias("est_jaccard"),
        )
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    bands: int = 4,
    rows_per_band: int = 4,
    threshold: float = 0.5,
    max_bucket: int | None = None,
) -> DataFrame:
    """End-to-end MinHash+LSH near-dup pairs: shingle → minhash →
    band → bucket-join → estimate → threshold. Shingles stay
    non-distinct — min() is duplicate-invariant, so the dedup shuffle
    the Jaccard/SimHash paths need is pure cost here.

    The signature stage is the explode+groupBy form, NOT the per-row
    :func:`minhash_signatures_text` kernel: this plan consumes the
    signature frame THREE times (both banded self-join sides plus the
    est_jaccard re-join), and the groupBy's exchange is the reuse point
    that makes the per-shingle md5 work run ONCE. The shuffle-free
    kernel recomputes it per consumer — measured 1.5× slower at sf0.1
    and 3.8× slower at 50× rows (ladder rung 5: 27.7 s vs 7.3 s,
    identical pair checksums). Single-consumer contexts (the streaming
    admission gate) keep the per-row kernel."""
    sig = minhash_signatures(
        word_shingles(df, id_col, text_col, n=shingle_n, distinct=False),
        id_col,
        num_perm=bands * rows_per_band,
    )
    return lsh_candidate_pairs(
        sig, id_col, bands, rows_per_band, max_bucket=max_bucket
    ).filter(F.col("est_jaccard") >= threshold)


# ---------------------------------------------------------------- SimHash


def simhash(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 32,
    shingle_n: int = 3,
) -> DataFrame:
    """32-bit SimHash per document → (id, simhash).

    Classic Charikar construction over the distinct word-n-gram shingle
    set: each feature votes +1/−1 on every bit of its hash; bit j of
    the signature is 1 iff the vote sum is positive. Features are
    shingles, not unigrams — unigram token sets overlap so heavily
    across ordinary same-language documents that unigram SimHashes
    cluster within a few bits of each other and the hamming threshold
    stops meaning "near-duplicate". All codegen — the per-bit vote is
    ``(hash >> j) & 1`` arithmetic, aggregated with map-side partial
    sums (``bits`` longs per doc on the shuffle).

    r17 note — array form, no shuffle: the distinct shingle set, the
    per-feature hash and all ``bits`` vote folds are per-row array
    expressions (``array_distinct`` over the shingle array ==
    word_shingles' DISTINCT (doc, shingle) rows), so the whole
    signature is computed in the scan stage; the previous explode +
    32-sum groupBy shuffled |distinct shingles| rows per doc to
    reassemble what one row already held. Votes and bits are
    value-identical (same ±1 fold over the same set).
    """
    hs = _shingled(df, id_col, text_col, shingle_n).select(
        id_col,
        F.transform(
            F.array_distinct("__s"), lambda x: portable_hash(x, "sim")
        ).alias("__h"),
    )
    sig = None
    for j in range(bits):
        vote = F.aggregate(
            "__h", F.lit(0).cast("long"), _vote_lambda(j)
        )
        bit = F.when(vote > 0, F.lit(2**j).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sig = bit if sig is None else sig + bit
    return hs.select(id_col, sig.alias("simhash"))


def _vote_lambda(j: int):
    def merge(acc: Column, h: Column) -> Column:
        return acc + F.when(
            F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1,
            F.lit(1).cast("long"),
        ).otherwise(F.lit(-1).cast("long"))

    return merge


def simhash_dup_pairs(
    sig_df: DataFrame,
    id_col: str,
    max_hamming: int = 6,
    bands: int = 8,
    bits: int = 32,
    max_bucket: int | None = None,
    pair_cap: int | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance → (id_a, id_b, hamming).

    Banded exact search: with ``bands`` contiguous bit-bands, any two
    signatures within hamming distance < bands must agree on at least
    one whole band (pigeonhole), so candidates come from an equi-join
    on (band_idx, band_bits) and the exact hamming filter runs only on
    collisions. Result is EXACT for ``max_hamming < bands`` — identical
    to the all-pairs O(n²) scan, without performing it. With
    ``max_bucket`` set, degenerate buckets are dropped first
    (:func:`hot_bucket_filter`) and exactness weakens to best-effort for
    their members.

    ``pair_cap`` (r15, VERDICT #6): pair OUTPUT is inherently ~n² on
    signature-degenerate corpora (short tie-biased docs collapse onto
    few signatures). Before the join, the candidate mass is bounded
    from bucket sizes alone (one linear aggregate, no pair
    materialization); past the cap the call refuses LOUDLY and points
    at :func:`simhash_clusters`, whose output stays linear on exactly
    those corpora.
    """
    if max_hamming >= bands:
        raise ValueError(
            f"banded search is only exact for max_hamming < bands "
            f"(got {max_hamming} >= {bands})"
        )
    band_bits = bits // bands
    mask = (1 << band_bits) - 1
    band_vals = [
        F.shiftright("simhash", j * band_bits).bitwiseAND(F.lit(mask))
        for j in range(bands)
    ]
    banded = sig_df.select(
        id_col, "simhash", F.posexplode(F.array(*band_vals)).alias("band", "key")
    )
    if max_bucket is not None:
        banded, _ = hot_bucket_filter(banded, ["band", "key"], max_bucket)
    if pair_cap is not None:
        est = (
            banded.groupBy("band", "key")
            .count()
            .agg(
                F.sum(
                    F.col("count") * (F.col("count") - 1) / 2
                ).alias("e")
            )
            .collect()[0]["e"]
            or 0
        )
        if est > pair_cap:
            raise ValueError(
                f"simhash pair emission refused: candidate pair bound "
                f"{int(est):,} exceeds pair_cap {pair_cap:,} — the "
                "corpus is signature-degenerate and the pair OUTPUT "
                "would be ~quadratic; use simhash_clusters (linear "
                "cluster summary) or raise the cap explicitly"
            )
    a, b = banded.alias("a"), banded.alias("b")
    hd = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            hd.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


def simhash_clusters(
    sig_df: DataFrame,
    id_col: str,
    max_hamming: int = 6,
    bands: int = 8,
    bits: int = 32,
    near_links: bool = False,
) -> DataFrame:
    """Linear SimHash dedup summary (r15, VERDICT #6) →
    ``(simhash, rep_id, n_members)`` — one grouped aggregate, one
    output row per DISTINCT signature.

    This is the honest scale path for SimHash dedup: exact-signature
    (hamming-0) clustering is linear in COMPUTE and OUTPUT at any
    corpus size, and at production scale it is also where the recall
    lives (you widen the signature until near-dups collide exactly,
    rather than hamming-searching a narrow one — a b-bit band key has
    2^b values, so ANY banded hamming join's candidate mass grows
    ~n²/2^b once n exceeds the band keyspace; with 32-bit signatures
    and 4-bit bands that is quadratic work REGARDLESS of output shape,
    measured at 267 s on the r15 ladder's 1× rung before this
    redesign). The hamming-1..5 near relationship stays in
    :func:`simhash_dup_pairs` behind its ``pair_cap`` refusal.

    ``near_links=True`` additionally counts, per signature, the OTHER
    distinct signatures within ``max_hamming`` (``n_near_sigs``) via
    the banded join over distinct signatures — small-corpus analysis
    only, for exactly the reason above.
    """
    groups = sig_df.groupBy("simhash").agg(
        F.min(id_col).alias("rep_id"),
        F.count("*").cast("long").alias("n_members"),
    )
    if not near_links:
        return groups
    sigs = groups.select(F.col("simhash").alias("sid"), "simhash")
    links = simhash_dup_pairs(
        sigs, "sid", max_hamming=max_hamming, bands=bands, bits=bits
    )
    near = (
        links.select(F.col("id_a").alias("simhash"))
        .unionAll(links.select(F.col("id_b").alias("simhash")))
        .groupBy("simhash")
        .agg(F.count("*").cast("long").alias("n_near_sigs"))
    )
    return groups.join(near, "simhash", "left").select(
        "simhash",
        "rep_id",
        "n_members",
        F.coalesce("n_near_sigs", F.lit(0)).cast("long").alias("n_near_sigs"),
    )


def dedup_keepers(
    pairs: DataFrame,
    ids: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 10,
    driver_edge_cap: int = 1_000_000,
) -> DataFrame:
    """Near-dup pairs → survivor assignment: (id, keeper) where keeper
    is the MINIMUM id in each connected dup-cluster (the deterministic
    keeper policy exact dedup already uses).

    Min-label propagation over the pair edges: every node repeatedly
    adopts the smallest keeper among itself and its neighbors until a
    fixpoint — connected components without GraphX/graphframes. Each
    iteration is one join + one grouped min on the *edge list* (tiny
    relative to the corpus: only documents that appear in a dup pair);
    singleton documents never enter the loop and join back at the end.

    Adaptive execution: the thresholded dup-pair edge list is tiny
    relative to the corpus (only documents in a near-dup pair), so when
    it fits under ``driver_edge_cap`` edges the components run as a
    driver-side min-root union-find — one collect of 2 longs per edge,
    zero iterative Spark jobs. Past the cap (billions of edges at
    extreme dup rates) the distributed min-label loop takes over: each
    round does one-hop edge propagation PLUS a pointer-doubling
    shortcut (adopt my keeper's keeper), so a chain of diameter d
    converges in O(log2 d) rounds — ``max_iter=10`` covers diameters
    ~2^10. Both paths produce the identical keeper = component minimum.
    The oracle for ``doc_fuzzy_dedup_keepers`` computes the EXACT
    transitive closure, so an unconverged refinement is a wrong answer:
    if the distributed fixpoint is somehow not reached by ``max_iter``,
    this raises instead of returning silently-split components
    (ADVICE r03).
    """
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .union(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .distinct()
        # materialize once: every iteration joins against edges, and
        # without this each join replays the upstream pair pipeline
        # (the full MinHash+LSH plan) from scratch
        .localCheckpoint(eager=True)
    )
    if edges.count() <= driver_edge_cap:  # cheap: count on checkpointed frame
        spark = pairs.sparkSession
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(x, x) != x:  # path compression
                parent[x], x = root, parent[x]
            return root

        for row in edges.collect():
            ra, rb = find(row.src), find(row.dst)
            if ra != rb:  # union by min so the root IS the keeper
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        label_rows = [(x, find(x)) for x in parent] + [
            (x, x) for x in set(parent.values()) if parent.get(x, x) == x
        ]
        labels = local_frame(spark, label_rows, f"{id_col} long, keeper long")
        return ids.select(id_col).join(F.broadcast(labels), id_col, "left").select(
            id_col, F.coalesce("keeper", F.col(id_col)).alias("keeper")
        )
    labels = (
        edges.groupBy("src")
        .agg(F.min("dst").alias("nbr_min"))
        .select(
            F.col("src").alias(id_col),
            F.least("src", "nbr_min").alias("keeper"),
        )
    )
    converged = False
    for _ in range(max_iter):
        # propagate: my keeper = min(my keeper, my neighbors' keepers)
        nbr = (
            edges.join(labels.withColumnRenamed(id_col, "dst"), "dst")
            .groupBy("src")
            .agg(F.min("keeper").alias("nbr_keeper"))
        )
        new_labels = (
            labels.join(nbr.withColumnRenamed("src", id_col), id_col, "left")
            .select(
                id_col,
                F.least(
                    "keeper", F.coalesce("nbr_keeper", F.col("keeper"))
                ).alias("keeper"),
            )
        )
        # pointer-doubling shortcut: my keeper = my keeper's keeper.
        # Every keeper is itself an edge node (it's a least() over node
        # ids), so the self-join always finds it; this halves remaining
        # chain depth each round → true O(log d) convergence.
        kk = new_labels.select(
            F.col(id_col).alias("__kk_id"), F.col("keeper").alias("__kk_keeper")
        )
        new_labels = (
            new_labels.join(kk, new_labels["keeper"] == kk["__kk_id"], "left")
            .select(
                id_col,
                F.least(
                    "keeper", F.coalesce("__kk_keeper", F.col("keeper"))
                ).alias("keeper"),
            )
        )
        new_labels = new_labels.localCheckpoint(eager=True)  # cut lineage
        changed = (
            not new_labels.alias("n")
            .join(labels.alias("o"), id_col)
            .filter(F.col("n.keeper") != F.col("o.keeper"))
            .isEmpty()
        )
        labels = new_labels
        if not changed:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"dedup_keepers did not reach its fixpoint in {max_iter} "
            "doubling rounds (diameter > 2^max_iter?!) — refusing to "
            "return silently-split components"
        )
    return ids.select(id_col).join(labels, id_col, "left").select(
        id_col, F.coalesce("keeper", F.col(id_col)).alias("keeper")
    )


# -------------------------------------------------------------- winnowing


def winnow_fingerprints(
    df: DataFrame, id_col: str, text_col: str, k: int = 3, w: int = 4
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken) →
    (id, fingerprint).

    Rolling k-gram hashes; from every window of ``w`` consecutive gram
    hashes keep the minimum; distinct mins are the document's
    fingerprint set. Entirely per-row array math (no shuffle) — the
    caller groups by fingerprint to find sharing documents.
    """
    words = F.split(F.col(text_col), " ")
    grams = F.transform(
        F.sequence(F.lit(1), F.size("__w") - (k - 1)),
        lambda i: portable_hash(F.concat_ws(" ", F.slice(F.col("__w"), i, k)), "win"),
    )
    fps = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size("__g") - (w - 1)),
            lambda j: F.array_min(F.slice(F.col("__g"), j, w)),
        )
    )
    return (
        df.select(id_col, words.alias("__w"))
        .filter(F.size("__w") >= k + w - 1)
        .select(id_col, grams.alias("__g"))
        .select(id_col, F.explode(fps).alias("fingerprint"))
    )


# ------------------------------------------------- duplicated-span dedup


def duplicate_token_spans(
    df: DataFrame, id_col: str, text_col: str, l: int = 5
) -> DataFrame:
    """ExactSubstr-style duplicated-span detection (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better",
    arXiv:2107.06499 — the suffix-array pass, re-expressed
    relationally): token-level ``l``-gram occurrences shared by >= 2
    DISTINCT documents, merged into maximal per-document spans.

    Returns (id, span_start, span_end, span_tokens) — 1-based token
    positions, one row per maximal duplicated span. Span surgery
    (scrubbing the text) is a cheap per-row slice once the spans exist.

    Plan shape / 100 TB notes: one explode to l-gram md5 rows, one
    count-distinct shuffle on the gram hash (the suffix array's
    equivalent global structure, but hash-partitioned instead of
    sorted), one join back (AQE broadcasts the dup-gram side when the
    duplicate fraction is small — typical for web corpora), then a
    per-document window merge whose partition is the document: no
    global sort anywhere. Hot grams (boilerplate) fan the join, not
    the window — cap them upstream with ``hot_bucket_filter`` if a
    corpus has degenerate boilerplate.
    """
    from pyspark.sql import Window

    words = F.split(F.col(text_col), " ")
    grams = (
        df.select(id_col, words.alias("__w"))
        .filter(F.size("__w") >= l)
        .select(
            id_col,
            F.explode(F.sequence(F.lit(1), F.size("__w") - (l - 1))).alias(
                "pos"
            ),
            "__w",
        )
        .select(
            id_col,
            "pos",
            F.md5(F.concat_ws(" ", F.slice("__w", F.col("pos"), l))).alias(
                "__g"
            ),
        )
    )
    dup = (
        grams.groupBy("__g")
        .agg(F.count_distinct(F.col(id_col)).alias("__nd"))
        .filter(F.col("__nd") >= 2)
        .select("__g")
    )
    # (id, pos) is unique by construction — the join adds no duplicates
    flagged = grams.join(dup, "__g").select(id_col, "pos")
    w_ord = Window.partitionBy(id_col).orderBy("pos")
    prev_max_end = F.max(F.col("pos") + (l - 1)).over(
        w_ord.rowsBetween(Window.unboundedPreceding, -1)
    )
    islands = flagged.withColumn(
        "__ni",
        F.when(
            F.col("pos") > F.coalesce(prev_max_end, F.lit(-1)) + 1, 1
        ).otherwise(0),
    ).withColumn(
        "__island",
        F.sum("__ni").over(w_ord.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        islands.groupBy(id_col, "__island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + (l - 1)).alias("span_end"),
        )
        .select(
            id_col,
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias(
                "span_tokens"
            ),
        )
    )
