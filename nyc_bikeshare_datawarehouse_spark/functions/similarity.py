"""Similarity search over embedding columns (`array<float>`).

Three tiers, all DataFrame-native:

1. `cosine_topk`  — brute-force exact top-k against one probe vector.
   Dot/norms via higher-order functions (`zip_with` + `aggregate`), fully
   JVM-side; top-k is TakeOrderedAndProject (per-partition heap, no global
   sort). Exact, O(N·d) — the correctness baseline.
2. `ivf_topk`     — IVF-style ANN: coarse centroids carried as ONE
   array<array<double>> value (a literal when centers are known, else a
   1-row broadcast), cell assignment as a single higher-order argmax
   expression per row — no crossJoin row expansion, no window shuffle.
   Search only the probe's `nprobe` nearest cells. At 100 TB the corpus
   is written `partitionBy("cell")` (`ivf_write`) and a probe reads only
   its cells via partition pruning (`ivf_probe_partitioned`).
3. `cosine_near_dup_lsh` — random-hyperplane (signed random projection)
   LSH for embedding near-duplicate pairs: b-bit signatures from
   deterministic pseudo-random hyperplanes, banded bucket join; exact
   cosine verification only within buckets.

All pseudo-randomness is derived deterministically (hash-of-index), so
results are reproducible across runs and cluster layouts.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from nyc_bikeshare_datawarehouse_spark.functions.dedup import banded_hamming_join


def _vec(col) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def dot(a, b) -> Column:
    """Σ aᵢ·bᵢ via zip_with + aggregate (no UDF)."""
    return F.aggregate(
        F.zip_with(_vec(a), _vec(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a) -> Column:
    return F.sqrt(F.aggregate(_vec(a), F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a, b) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def cosine_topk(
    df: DataFrame,
    probe: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine against a single probe vector.

    `probe` must be a 1-row frame with `vec_col`; it is crossJoin-broadcast
    so every partition scores locally, then TakeOrderedAndProject merges k
    rows — network cost is O(k), independent of table size."""
    p = F.broadcast(probe.select(F.col(vec_col).alias("__probe")))
    scored = df.crossJoin(p).select(
        F.col(id_col),
        F.round(cosine(vec_col, "__probe"), 6).alias("cosine_sim"),
    )
    return scored.orderBy(F.desc("cosine_sim"), F.col(id_col)).limit(k)


def _bit_mask(b: int) -> int:
    """Signed-64-bit mask for bit b (bit 63 is the sign bit = min long)."""
    return -(1 << 63) if b == 63 else (1 << b)


def _deterministic_hyperplanes(dim: int, n_planes: int) -> list[list[float]]:
    """Pseudo-random unit-free hyperplanes from a fixed integer hash — same
    on every run/executor, no RNG state."""
    planes = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            # xorshift-style integer mix of (p, d); public-domain technique.
            h = (p * 2654435761 + d * 40503 + 12345) & 0xFFFFFFFF
            h ^= h >> 13
            h = (h * 1274126177) & 0xFFFFFFFF
            h ^= h >> 16
            row.append((h / 0xFFFFFFFF) * 2.0 - 1.0)
        planes.append(row)
    return planes


def srp_planes_for(n_rows: int, bands: int = 4, base_planes: int = 16,
                   base_rows: int = 5000) -> int:
    """Corpus-calibrated SRP plane count — the LSH sibling of
    dedup.calibrated_df_cutoff: with P planes over B bands the band key
    is P/B bits → 2^(P/B) possible buckets, a corpus-size-INDEPENDENT
    cardinality, so at fixed P bucket occupancy grows linearly and the
    within-bucket pair count quadratically (measured: alpha 1.27 fixed
    16-plane vs ~1.0 scaled, SCALING.json embed_lsh_{fixed,scaled}_planes).
    Rule: +1 bit per band per corpus DOUBLING past `base_rows`, i.e.
    planes = base + B·max(0, ceil(log2(n/base)))  — expected occupancy
    stays constant. The recall trade is the standard LSH bits/bands one:
    stricter bands only make CANDIDATES rarer; verified pairs stay exact.
    Declared as q_embed_near_dup_scaled since r14: the oracle generates
    the hyperplanes IN SQL (same xorshift integer mix) so the plane
    count can ride COUNT(*) — see oracles._embed_near_dup_scaled_sql.

    ceil(log2(n/base)) is computed in INTEGER arithmetic — smallest k
    with base·2^k ≥ n, via bit_length(ceil_div(n, base) − 1) — because
    the oracle mirrors this rule in SQL and float log2 is in the
    not-correctly-rounded class (CLAUDE.md cross-engine contract);
    integer form is bit-stable in both engines.

    Capped at 62 planes: srp_signature packs one bit per plane into a
    64-bit signed long (bit 63 is the sign; bit 62 is the last safe
    one), so past the cap the OTHER lsh lever must grow instead — more
    BANDS of the same width, which multiplies signatures rather than
    widening one (the standard LSH amplification trade)."""
    if n_rows <= base_rows:
        return base_planes
    k = (((n_rows + base_rows - 1) // base_rows) - 1).bit_length()
    return min(62, base_planes + bands * k)


def srp_signature(vec_col, dim: int, n_planes: int = 16) -> Column:
    """Signed-random-projection signature as an int (bit b = sign of
    ⟨v, plane_b⟩), deterministic.

    Built as ONE nested higher-order expression over a 2-D plane literal
    (transform-with-index + inner zip_with/aggregate), not n_planes
    separate aggregates — keeps the codegen tree small and compilation
    O(1) in n_planes."""
    planes = F.array(*[
        F.array(*[F.lit(x) for x in row]) for row in _deterministic_hyperplanes(dim, n_planes)
    ])
    # bit masks as literals (shift functions take Python ints, not lambda
    # variables); bit 63 would need min-long, but n_planes <= 62 in practice
    masks = F.array(*[F.lit(_bit_mask(b)).cast("long") for b in range(n_planes)])
    v = _vec(vec_col)
    bits = F.zip_with(
        planes,
        masks,
        lambda p, mask: F.when(
            F.aggregate(F.zip_with(v, p, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)
            > 0,
            mask,
        ).otherwise(F.lit(0).cast("long")),
    )
    return F.aggregate(bits, F.lit(0).cast("long"), lambda acc, b: acc.bitwiseOR(b))


def cosine_near_dup_lsh(
    df: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 16,
    bands: int = 4,
    min_cosine: float = 0.9,
) -> DataFrame:
    """Embedding near-duplicate pairs: SRP-LSH candidates from the shared
    banded Hamming join (`dedup.banded_hamming_join` over the `n_planes`-
    bit signature, keyed on the vector id), then exact cosine verify on
    candidate pairs only.

    Slim-postings shape (same trick as dedup.ngram_jaccard_pairs): ids
    only through the bucket join and the pair dedup, vectors re-attached
    by id just before the verify. At sf0.1 this costs ~2s of extra stage
    overhead (two more broadcast joins on a 6s query), but the dedup
    exchange shrinks 465 MB -> 7 MB; at 1B x 512-dim the non-slim form
    would shuffle the vector column 2*bands times (~16 TB) versus ~100 GB
    slim — the sf0.1 penalty is the right trade."""
    # explode(array(...)) barrier: stops CollapseProject from inlining the
    # signature expression into every band chunk (see dedup._materialized)
    sig = df.select(
        id_col, F.explode(F.array(srp_signature(vec_col, dim, n_planes))).alias("sig")
    )
    cand = banded_hamming_join(sig, id_col, bands, n_planes)
    # Per-VECTOR norms computed once here (explode(array) barrier stops
    # CollapseProject from re-inlining the aggregate into every pair) —
    # the per-PAIR verify is then a single zip_with dot product. Without
    # this, cosine() recomputes both norms for every candidate pair:
    # 3× the higher-order-function work on the hot path.
    vecs = df.select(id_col, _vec(vec_col).alias("__v")).select(
        id_col, "__v", F.explode(F.array(l2_norm("__v"))).alias("__n")
    )
    # BROADCAST vector re-attach (the jaccard_verify_pairs
    # broadcast_sets convention): keeps the verify stage on cand's
    # explicit round-robin partitioning — an SMJ here would reshuffle
    # by id and hand the partition count back to the AQE coalescer.
    # Sound to ~10M vectors x 64 dims (low-GB broadcast); past that,
    # drop the hint and size spark.sql.shuffle.partitions instead.
    pairs = (
        cand.join(
            F.broadcast(
                vecs.select(F.col(id_col).alias("id_a"), F.col("__v").alias("__va"), F.col("__n").alias("__na"))
            ),
            "id_a",
        )
        .join(
            F.broadcast(
                vecs.select(F.col(id_col).alias("id_b"), F.col("__v").alias("__vb"), F.col("__n").alias("__nb"))
            ),
            "id_b",
        )
    )
    return (
        pairs.select(
            "id_a",
            "id_b",
            # raw zip_with dot — __va/__vb are pre-cast doubles, so skip
            # _vec()'s per-pair cast-transform array copy
            F.round(
                F.aggregate(
                    F.zip_with("__va", "__vb", lambda x, y: x * y),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                / (F.col("__na") * F.col("__nb")),
                6,
            ).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= min_cosine)
    )


def ivf_fit_kmeans(
    df: DataFrame,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 20,
):
    """Train a real IVF coarse quantizer with seeded KMeans (pyspark.ml,
    import-gated): returns (assigned_df with a `cell` column, centers as
    a list of lists). This is the production replacement for ivf_topk's
    first-K-vectors quantizer — fit once, persist the centers, write the
    corpus `partitionBy("cell")`, and queries prune to nprobe cells.

    Deterministic given the seed. Raises ImportError where pyspark.ml is
    unavailable (callers fall back to the deterministic quantizer)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array  # noqa: F401

    feats = df.select(id_col, vec_col, array_to_vector(_vec(vec_col)).alias("__features"))
    model = KMeans(k=n_cells, seed=seed, maxIter=max_iter, featuresCol="__features").fit(feats)
    assigned = model.transform(feats).select(
        id_col, vec_col, F.col(model.getPredictionCol()).alias("cell")
    )
    centers = [list(map(float, c)) for c in model.clusterCenters()]
    return assigned, centers


def _centers_lit(centers: list[list[float]]) -> Column:
    """Known centroids (e.g. from ivf_fit_kmeans) as a 2-D array literal —
    a pure expression, zero extra plan nodes."""
    return F.array(*[F.array(*[F.lit(float(x)) for x in c]) for c in centers])


def _centroids_frame(df: DataFrame, n_cells: int, id_col: str, vec_col: str) -> DataFrame:
    """Deterministic first-K coarse quantizer as a 1-row frame
    `{__cents: array<array<double>>}`: the first `n_cells` vectors by id,
    in id order (array_sort on (id, vec) structs — collect_list alone is
    arrival-ordered). TakeOrdered(n_cells) + a tiny agg; consumers attach
    it with a 1-row broadcast crossJoin."""
    return (
        df.orderBy(id_col).limit(n_cells)
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col(id_col).alias("i"), _vec(vec_col).alias("v")))
            ).alias("__s")
        )
        .select(F.transform("__s", lambda s: s["v"]).alias("__cents"))
    )


def _cell_scores(vec_col, cents: Column) -> Column:
    """array<struct<d,i>>: per centroid, dot(v,c)/|c| (argmax-equivalent to
    cosine — |v| is constant across cells) and the cell index. One nested
    higher-order expression, evaluated entirely in codegen."""
    v = _vec(vec_col)
    return F.zip_with(
        cents,
        F.sequence(F.lit(0), F.size(cents) - 1),
        lambda c, i: F.struct(
            (
                F.aggregate(F.zip_with(v, c, lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x)
                / F.sqrt(F.aggregate(c, F.lit(0.0), lambda a, x: a + x * x))
            ).alias("d"),
            i.alias("i"),
        ),
    )


def nearest_cell(vec_col, cents: Column) -> Column:
    """Argmax cell index as ONE expression per row — the fix for the r01
    crossJoin(n_cells× row blowup) + Window.partitionBy(id) full-shuffle
    assignment: no join, no shuffle, no expansion. Ties keep the lowest
    index (strict > in the fold)."""
    best = F.aggregate(
        _cell_scores(vec_col, cents),
        F.struct(F.lit(float("-inf")).alias("d"), F.lit(-1).alias("i")),
        lambda acc, x: F.when(x["d"] > acc["d"], x).otherwise(acc),
    )
    return best["i"]


def top_cells(vec_col, cents: Column, nprobe: int) -> Column:
    """The `nprobe` nearest cell indices as array<int>, best first.

    Tie order is (score DESC, index ASC) — the SAME order `nearest_cell`'s
    strict-> fold yields (lowest index wins an exact tie), so a probe's
    own assignment cell is always among its top cells even at nprobe=1.
    Sorting ascending on struct(-d, i) gives exactly that order."""
    negated = F.transform(
        _cell_scores(vec_col, cents),
        lambda s: F.struct((-s["d"]).alias("nd"), s["i"].alias("i")),
    )
    ordered = F.array_sort(negated)
    return F.transform(F.slice(ordered, 1, nprobe), lambda s: s["i"])


def ivf_assign(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    centers: list[list[float]] | None = None,
) -> DataFrame:
    """Add a `cell` column (nearest-centroid id). With `centers` (a fitted
    quantizer, e.g. ivf_fit_kmeans's) the centroids are a literal; without,
    the deterministic first-K quantizer rides along as a 1-row broadcast.
    Either way assignment is per-row arithmetic — no shuffle."""
    if centers is not None:
        return df.withColumn("cell", nearest_cell(vec_col, _centers_lit(centers)))
    ca = _centroids_frame(df, n_cells, id_col, vec_col)
    return (
        df.crossJoin(F.broadcast(ca))
        .withColumn("cell", nearest_cell(vec_col, F.col("__cents")))
        .drop("__cents")
    )


def ivf_topk(
    df: DataFrame,
    probe: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centers: list[list[float]] | None = None,
) -> DataFrame:
    """IVF-flat ANN: assign rows to cells (per-row argmax expression),
    score only rows in the probe's `nprobe` nearest cells. The only joins
    are 1-row broadcasts (centroids, probe cells, probe vector) — no row
    expansion, no window shuffle anywhere.

    This is the in-memory form; the persisted form is `ivf_write` +
    `ivf_probe_partitioned`, where the cell filter becomes parquet
    partition pruning and a probe reads nprobe/n_cells of the files."""
    assigned = ivf_assign(df, id_col=id_col, vec_col=vec_col, n_cells=n_cells, centers=centers)
    if centers is not None:
        pc = probe.select(top_cells(vec_col, _centers_lit(centers), nprobe).alias("__pcells"))
    else:
        ca = _centroids_frame(df, n_cells, id_col, vec_col)
        pc = probe.crossJoin(F.broadcast(ca)).select(
            top_cells(vec_col, F.col("__cents"), nprobe).alias("__pcells")
        )
    candidates = assigned.crossJoin(F.broadcast(pc)).filter(
        F.array_contains(F.col("__pcells"), F.col("cell"))
    )
    p = F.broadcast(probe.select(F.col(vec_col).alias("__probe")))
    return (
        candidates.crossJoin(p)
        .select(F.col(id_col), F.round(cosine(vec_col, "__probe"), 6).alias("cosine_sim"))
        .orderBy(F.desc("cosine_sim"), F.col(id_col))
        .limit(k)
    )


def ivf_write(
    df: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    centers: list[list[float]] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist the corpus partitioned by cell id — the ingest-time half of
    the 100 TB ANN path: assignment happens ONCE at write, probes prune to
    their cells forever after."""
    ivf_assign(df, id_col=id_col, vec_col=vec_col, n_cells=n_cells, centers=centers).write.mode(
        mode
    ).partitionBy("cell").parquet(path)


def nearest_cells_py(vec: list[float], centers: list[list[float]], nprobe: int = 1) -> list[int]:
    """Driver-side twin of `top_cells` for a single probe vector (same
    score and tie order as the Spark expression) — produces the literal
    cell list a partition-pruned read needs."""
    scored = []
    for i, c in enumerate(centers):
        norm = sum(y * y for y in c) ** 0.5
        d = sum(x * y for x, y in zip(vec, c)) / norm if norm else float("-inf")
        scored.append((d, i))
    scored.sort(key=lambda t: (-t[0], t[1]))
    return [i for _, i in scored[:nprobe]]


def ivf_probe_partitioned(
    spark,
    path: str,
    probe_vec: list[float],
    centers: list[list[float]],
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Query an `ivf_write` layout: `.filter(cell IN probe_cells)` over the
    partitioned read compiles to PartitionFilters — only nprobe/n_cells of
    the files are listed and scanned (asserted in tests/test_functions.py).
    Exact cosine re-rank inside the pruned cells; TakeOrdered top-k."""
    cells = nearest_cells_py(probe_vec, centers, nprobe)
    pv = F.array(*[F.lit(float(x)) for x in probe_vec])
    return (
        spark.read.parquet(path)
        .filter(F.col("cell").isin(cells))
        .select(F.col(id_col), F.round(cosine(vec_col, pv), 6).alias("cosine_sim"))
        .orderBy(F.desc("cosine_sim"), F.col(id_col))
        .limit(k)
    )


def _cents_with_norms(cents: DataFrame) -> DataFrame:
    """Pre-normed twin of `_centroids_frame`'s output: zip each centroid
    with its L2 norm ONCE (`__cn: array<struct<v,n>>`). The projection
    sits below the BroadcastExchange, so the norms are folded once per
    QUERY instead of once per row per cell — the scoring lambda divides
    by a carried double (`_cell_cosine_scores_pre`). Same doubles (IEEE
    sqrt is correctly rounded; the fold is unchanged), so every rounded
    cosine downstream is bit-identical to folding the norm per cell."""
    return cents.select(
        F.transform(
            "__cents",
            lambda c: F.struct(
                c.alias("v"),
                F.sqrt(
                    F.aggregate(c, F.lit(0.0), lambda a, x: a + x * x)
                ).alias("n"),
            ),
        ).alias("__cn")
    )


def _cell_cosine_scores_pre(v: Column, vnorm: Column, cn: Column, round_to: int = 6) -> Column:
    """array<struct<d,i>>: ROUND(cosine(v, cᵢ), round_to) per centroid —
    the engine-PORTABLE scoring twin of `_cell_scores`: same argmax /
    top-cells order in exact arithmetic, but a full cosine quantized to
    6 dp so a DuckDB oracle replays it as ROUND(list_cosine_similarity)
    and both engines rank on identical doubles. Both norms are HOISTED:
    `vnorm` is the row's L2 norm computed once per row (not once per
    cell), `cn` is the `_cents_with_norms` array carrying each
    centroid's norm, so per cell only the dot fold remains. The division
    `dot / (vnorm * s.n)` multiplies/divides the same doubles in the
    same order as an inline cosine, so ROUND(·, 6) and every rank
    derived from it are bit-identical (oracle-safe)."""
    return F.zip_with(
        cn,
        F.sequence(F.lit(0), F.size(cn) - 1),
        lambda s, i: F.struct(
            F.round(
                F.aggregate(
                    F.zip_with(v, s["v"], lambda x, y: x * y),
                    F.lit(0.0),
                    lambda a, x: a + x,
                )
                / (vnorm * s["n"]),
                round_to,
            ).alias("d"),
            i.alias("i"),
        ),
    )


def ivf_recall_report(
    df: DataFrame,
    probes: DataFrame,
    n_cells: int = 16,
    nprobes: tuple[int, ...] = (1, 2, 4),
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Recall@k audit of the IVF partition-pruned probe path against
    exact cosine top-k — the ANN sibling of `dedup.lsh_recall_report`:
    the report a serving pipeline runs on a probe SAMPLE before trusting
    its nprobe setting. One row per nprobe level:

        (nprobe, n_probes, hits, recall_bp)

    hits = Σ_probes |IVF top-k ∩ exact top-k| (self-matches excluded on
    both sides), recall_bp = floor(10000·hits / (k·n_probes)).

    Determinism: all rankings are (ROUND(cosine, 6) DESC, id ASC) — both
    engines rank identical doubles (`_cell_cosine_scores_pre`), and hits /
    recall_bp are exact integers. Cell assignment is the strict->
    fold (lowest index wins ties) ≡ the oracle's ORDER BY d DESC, i
    LIMIT 1; probe top-cells are (d DESC, i ASC) ranks ≡ the oracle's
    ROW_NUMBER — so a green row proves the whole pruning lattice.

    Scale: the audit tier is probes × corpus (the documented quadratic
    ground-truth cost, run on a sampled probe set — lsh_recall_report's
    contract); the pair frame feeds the exact AND the pruned rankings,
    so it localCheckpoints once (diverged-subplan rule). The per-level
    rankings ride ONE window partitioned by (probe, level) — parallel
    across probes. The serving path itself stays partition-pruned
    (`ivf_probe_partitioned`); this measures what that pruning costs in
    recall."""
    max_np = max(nprobes)
    cents = _cents_with_norms(_centroids_frame(df, n_cells, id_col, vec_col))
    # Row L2 norms behind an explode(array()) barrier (CollapseProject
    # would otherwise re-inline the fold into every reference: the cell
    # lambda AND the per-pair sim). One fold per row; the pair stage —
    # probes × corpus rows — then folds ONLY the dot product (was dot +
    # both norms per pair, 3× the element work).
    corpus = (
        df.crossJoin(F.broadcast(cents))
        .select(
            F.col(id_col).alias("cid"),
            _vec(vec_col).alias("cvec"),
            F.col("__cn"),
        )
        .select(
            "cid",
            "cvec",
            "__cn",
            F.explode(
                F.array(
                    F.sqrt(
                        F.aggregate(
                            F.col("cvec"),
                            F.lit(0.0),
                            lambda a, x: a + x * x,
                        )
                    )
                )
            ).alias("cnorm"),
        )
        .select(
            "cid",
            "cvec",
            "cnorm",
            F.aggregate(
                _cell_cosine_scores_pre(
                    F.col("cvec"), F.col("cnorm"), F.col("__cn")
                ),
                F.struct(
                    F.lit(float("-inf")).alias("d"), F.lit(-1).alias("i")
                ),
                lambda acc, x: F.when(x["d"] > acc["d"], x).otherwise(acc),
            )["i"].alias("cell"),
        )
    )
    pc = (
        probes.crossJoin(F.broadcast(cents))
        .select(
            F.col(id_col).alias("pid"),
            _vec(vec_col).alias("pvec"),
            F.col("__cn"),
        )
        .select(
            "pid",
            "pvec",
            "__cn",
            F.explode(
                F.array(
                    F.sqrt(
                        F.aggregate(
                            F.col("pvec"),
                            F.lit(0.0),
                            lambda a, x: a + x * x,
                        )
                    )
                )
            ).alias("pnorm"),
        )
        .select(
            "pid",
            "pvec",
            "pnorm",
            F.transform(
                F.slice(
                    F.array_sort(
                        F.transform(
                            _cell_cosine_scores_pre(
                                F.col("pvec"), F.col("pnorm"), F.col("__cn")
                            ),
                            lambda s: F.struct(
                                (-s["d"]).alias("nd"), s["i"].alias("i")
                            ),
                        )
                    ),
                    1,
                    max_np,
                ),
                lambda s: s["i"],
            ).alias("pcells"),
        )
    )
    pairs = (
        corpus.join(F.broadcast(pc), F.col("cid") != F.col("pid"))
        .select(
            "pid",
            "cid",
            F.round(
                F.aggregate(
                    F.zip_with(
                        F.col("cvec"), F.col("pvec"), lambda x, y: x * y
                    ),
                    F.lit(0.0),
                    lambda a, x: a + x,
                )
                / (F.col("cnorm") * F.col("pnorm")),
                6,
            ).alias("sim"),
            F.array_position(F.col("pcells"), F.col("cell")).alias(
                "cellpos"
            ),
        )
        .localCheckpoint(eager=True)
    )
    w_exact = Window.partitionBy("pid").orderBy(F.desc("sim"), F.col("cid"))
    exact = (
        pairs.withColumn("__rn", F.row_number().over(w_exact))
        .filter(F.col("__rn") <= k)
        .select("pid", "cid")
    )
    levels = F.array(*[F.lit(int(n)) for n in nprobes])
    leveled = pairs.select(
        "pid", "cid", "sim", "cellpos", F.explode(levels).alias("nprobe")
    ).filter((F.col("cellpos") >= 1) & (F.col("cellpos") <= F.col("nprobe")))
    w_appr = Window.partitionBy("pid", "nprobe").orderBy(
        F.desc("sim"), F.col("cid")
    )
    approx = (
        leveled.withColumn("__rn", F.row_number().over(w_appr))
        .filter(F.col("__rn") <= k)
        .select("pid", "cid", "nprobe")
    )
    n_probes = probes.agg(F.count(F.lit(1)).alias("n_probes"))
    # exact is ≤ probes·k rows and hits ≤ len(nprobes) rows at ANY scale
    # (audit-bounded frames), but they descend from the checkpoint scan
    # (UnknownPartitioning, no stats) so Catalyst would SMJ them — the
    # CC-round broadcast-gate precedent. Broadcast explicitly.
    hits = approx.join(F.broadcast(exact), ["pid", "cid"]).groupBy(
        "nprobe"
    ).agg(F.count(F.lit(1)).cast("long").alias("hits"))
    all_levels = pairs.sparkSession.createDataFrame(
        [(int(n),) for n in nprobes], "nprobe int"
    )
    return (
        all_levels.join(F.broadcast(hits), "nprobe", "left")
        .crossJoin(F.broadcast(n_probes))
        .select(
            "nprobe",
            F.col("n_probes").cast("long").alias("n_probes"),
            F.coalesce(F.col("hits"), F.lit(0)).cast("long").alias("hits"),
            F.floor(
                F.coalesce(F.col("hits"), F.lit(0))
                * 10000.0
                / (F.lit(k) * F.col("n_probes"))
            )
            .cast("long")
            .alias("recall_bp"),
        )
        .orderBy("nprobe")
    )


def _pq_dist6(a: Column, b: Column) -> Column:
    """ROUND(Σ (aᵢ−bᵢ)², 6) — squared L2 between two equal-length double
    arrays as ONE left fold (zip_with + aggregate from 0.0), the exact
    expression shape a DuckDB oracle replays with list_reduce (0.0+x₁
    == x₁ in IEEE, so the fold orders agree term-for-term). Rounded so
    both engines rank on identical doubles (q_cosine_topk rule)."""
    return F.round(
        F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        6,
    )


def pq_codebooks_frame(
    df: DataFrame,
    m: int = 8,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Deterministic product-quantization codebooks as a 1-row frame
    `{__books: array<array<array<double>>>}` (m subspaces × k codes ×
    dim/m): subspace j's codebook = the j-th slice of the first k
    vectors under the id total order — the PQ sibling of
    `_centroids_frame`'s first-K coarse quantizer, SQL-expressible so
    the whole encode/search lattice is oracle-replayable (a production
    fit swaps in per-subspace KMeans exactly like ivf_fit_kmeans swaps
    into ivf_assign; every consumer below is fit-agnostic).

    PQ is the 100 TB embedding-compression workhorse (Jégou et al.,
    IVF-PQ): m=8 × k=16 codes a 64-dim float vector (256 B) into 8
    nibbles — the corpus residency drops ~64×, and queries scan codes
    with an O(m·k) distance table instead of touching raw vectors."""
    cents = _centroids_frame(df, k, id_col, vec_col)
    if dim is None:
        # driver-side 1-row dim probe — pass `dim` to skip the job
        dim = int(df.select(F.size(_vec(vec_col)).alias("__d")).head()["__d"])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m

    # closure FACTORY, never a default-arg capture: `lambda v, j=j` is a
    # 2-arg HOF lambda, which PySpark binds as (element, index) — j
    # silently becomes the centroid index (CLAUDE.md arity rule; cost a
    # debugging session here)
    def _subspace(j: int) -> Column:
        return F.transform(
            F.col("__cents"), lambda v: F.slice(v, j * sub + 1, sub)
        )

    books = F.array(*[_subspace(j) for j in range(m)])
    return cents.select(books.alias("__books"))


def _pq_codes_expr(v: Column, m: int) -> Column:
    """`codes` (array<int>, length m) for one vector column, against the
    broadcast `__books` column: per subspace, the argmin-distance
    codebook entry (quantized distances, lowest index on ties — the
    `nearest_cell` fold with < instead of >). Exposed so corpus-scale
    consumers can compute codes INLINE in the same projection as the
    vector (no corpus×corpus id re-attach join) — `pq_encode` and the
    inline form produce identical values by construction."""
    dim_expr = F.size(v)

    def code_for(j: int) -> Column:
        sub_v = F.slice(v, F.lit(j) * (dim_expr / F.lit(m)).cast("int") + 1,
                        (dim_expr / F.lit(m)).cast("int"))
        scored = F.zip_with(
            F.col("__books")[j],
            F.sequence(F.lit(0), F.size(F.col("__books")[j]) - 1),
            lambda c, i: F.struct(_pq_dist6(sub_v, c).alias("d"), i.alias("i")),
        )
        return F.aggregate(
            scored,
            F.struct(F.lit(float("inf")).alias("d"), F.lit(-1).alias("i")),
            lambda acc, x: F.when(x["d"] < acc["d"], x).otherwise(acc),
        )["i"]

    return F.array(*[code_for(j) for j in range(m)])


def _pq_adc_table(pvec: Column, m: int) -> Column:
    """The per-probe ADC distance TABLE (`array<array<double>>`, m×k):
    entry [j][c] = `_pq_dist6(probe_sub_j, books[j][c])`. Computed ONCE
    per probe row (the projection sits below the probe frame's
    BroadcastExchange); candidates then sum m table LOOKUPS instead of
    re-folding the m subspace distances per pair — the O(m·k)-per-probe
    table the PQ literature (and `pq_recall_report`'s contract) calls
    for. transform preserves codebook order, so `table[j][code_j]` is
    the exact double the inline fold produced."""

    def tab_for(j: int) -> Column:
        return F.transform(
            F.col("__books")[j],
            lambda c: _pq_dist6(
                F.slice(
                    pvec,
                    j * (F.size(pvec) / m).cast("int") + 1,
                    (F.size(pvec) / m).cast("int"),
                ),
                c,
            ),
        )

    return F.array(*[tab_for(j) for j in range(m)])


def pq_encode(
    df: DataFrame,
    books: DataFrame,
    m: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode each vector as `codes` (array<int>, length m) — see
    `_pq_codes_expr`. Pure per-row expression after a 1-row broadcast
    crossJoin — no shuffle; at ingest this runs once and the codes
    persist."""
    with_books = df.crossJoin(F.broadcast(books))
    return with_books.select(
        F.col(id_col),
        _pq_codes_expr(_vec(vec_col), m).alias("codes"),
    )


def pq_recall_report(
    df: DataFrame,
    probes: DataFrame,
    m: int = 8,
    k_codes: int = 16,
    k: int = 10,
    rerank_r: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Recall@k audit of PQ asymmetric-distance search against exact
    squared-L2 top-k — the compression sibling of `ivf_recall_report`
    (which audits pruning; PQ audits lossy codes). One row:
    (n_probes, hits_adc, recall_adc_bp, hits_rerank, recall_rerank_bp)
    — the raw ADC top-k AND the production serving shape (ADC
    shortlist of `rerank_r`, exact re-rank inside it, top-k), which is
    how IVF-PQ deployments actually answer queries: recall_rerank
    measures whether the true neighbors survive into the shortlist.

    ADC (asymmetric distance computation): each probe builds an m×k
    distance TABLE to the codebooks (O(m·k) per probe, a pure
    expression); a candidate's approx distance is Σⱼ table[j][codeⱼ] —
    codes only, the raw corpus vectors are never touched until the
    O(rerank_r) exact re-rank. That is the 100 TB serving property:
    the scan reads 8 nibbles per vector, and composes with IVF
    partition pruning unchanged. (On THIS corpus — uniform random
    vectors, the PQ-hostile extreme: no cluster structure for the
    codebooks to exploit — raw-ADC recall is honestly low and the
    report says so; the shortlist+rerank row is the one a deployment
    would tune until acceptable.)

    Determinism: per-entry distances are `_pq_dist6` (identical folds
    both engines, rounded 6dp); the ADC sum is a fixed-order chain of
    m rounded doubles (bit-identical); ranks tie-break on id; hits and
    recall_bp are exact integers. Self-matches excluded both sides.
    The pair frame feeds exact AND approx ranks — localCheckpoint once
    (diverged-subplan rule); audit-tier quadratic on the probe sample,
    per lsh_recall_report's contract."""
    books = pq_codebooks_frame(
        df, m=m, k=k_codes, id_col=id_col, vec_col=vec_col, dim=dim
    )
    # codes INLINE in the corpus projection (no corpus×corpus id
    # re-attach join — was an SMJ + 2 exchanges at scale), and the
    # per-probe ADC table computed once per probe below its broadcast:
    # each pair then pays one exact-d fold plus m table lookups, not
    # m additional subspace folds (the distances depend only on
    # (probe, subspace, code) — k_codes distinct values per subspace,
    # recomputed ~N/k_codes times each in the inline form).
    corpus = (
        df.crossJoin(F.broadcast(books))
        .select(
            F.col(id_col).alias("cid"),
            _vec(vec_col).alias("cvec"),
            _pq_codes_expr(_vec(vec_col), m).alias("codes"),
        )
    )
    p = (
        probes.crossJoin(F.broadcast(books))
        .select(
            F.col(id_col).alias("pid"),
            _vec(vec_col).alias("pvec"),
            _pq_adc_table(_vec(vec_col), m).alias("__tab"),
        )
    )
    pairs = (
        corpus.join(F.broadcast(p), F.col("cid") != F.col("pid"))
        .select(
            "pid",
            "cid",
            _pq_dist6(F.col("cvec"), F.col("pvec")).alias("exact_d"),
            # ADC: Σ_j round6(L2²(probe_sub_j, books[j][codes[j]])) as a
            # fixed-order chain — table lookups, values identical to the
            # inline per-pair folds (`_pq_adc_table`)
            sum(
                [
                    F.element_at(
                        F.col("__tab")[j], F.col("codes")[j] + 1
                    )
                    for j in range(m)
                ],
                F.lit(0.0),
            ).alias("approx_d"),
        )
        .localCheckpoint(eager=True)
    )
    w_exact = Window.partitionBy("pid").orderBy(F.col("exact_d"), F.col("cid"))
    exact = (
        pairs.withColumn("__rn", F.row_number().over(w_exact))
        .filter(F.col("__rn") <= k)
        .select("pid", "cid")
    )
    w_appr = Window.partitionBy("pid").orderBy(F.col("approx_d"), F.col("cid"))
    shortlist = pairs.withColumn("__arn", F.row_number().over(w_appr)).filter(
        F.col("__arn") <= rerank_r
    )
    adc_topk = shortlist.filter(F.col("__arn") <= k).select("pid", "cid")
    w_rr = Window.partitionBy("pid").orderBy(F.col("exact_d"), F.col("cid"))
    reranked = (
        shortlist.withColumn("__rrn", F.row_number().over(w_rr))
        .filter(F.col("__rrn") <= k)
        .select("pid", "cid")
    )
    n_probes = probes.agg(F.count(F.lit(1)).alias("n_probes"))
    # exact is ≤ probes·k rows at ANY scale but descends from the
    # checkpoint scan (no stats) — broadcast it or Catalyst SMJs
    # (ivf_recall_report precedent).
    h_adc = adc_topk.join(F.broadcast(exact), ["pid", "cid"]).agg(
        F.count(F.lit(1)).cast("long").alias("hits_adc")
    )
    h_rr = reranked.join(F.broadcast(exact), ["pid", "cid"]).agg(
        F.count(F.lit(1)).cast("long").alias("hits_rerank")
    )
    bp = lambda c: F.floor(  # noqa: E731
        F.col(c) * 10000.0 / (F.lit(k) * F.col("n_probes"))
    ).cast("long")
    return (
        h_adc.crossJoin(F.broadcast(h_rr))
        .crossJoin(F.broadcast(n_probes))
        .select(
            F.col("n_probes").cast("long").alias("n_probes"),
            F.col("hits_adc"),
            bp("hits_adc").alias("recall_adc_bp"),
            F.col("hits_rerank"),
            bp("hits_rerank").alias("recall_rerank_bp"),
        )
    )


def ivfpq_write(
    df: DataFrame,
    path: str,
    n_cells: int = 16,
    m: int = 8,
    k_codes: int = 16,
    centers: list[list[float]] | None = None,
    books: list[list[list[float]]] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    mode: str = "overwrite",
) -> None:
    """Persist the canonical 100 TB ANN layout — IVF partitioning × PQ
    codes composed (Jégou et al. IVF-PQ / FAISS IVFPQ): rows written
    `partitionBy(cell)` with payload (id, codes, vector). A probe then
    (1) PRUNES to nprobe cells — parquet partition pruning, only those
    files listed; (2) scans CODES for the ADC shortlist — the vector
    column is never read by that scan (column pruning: 8 nibbles/row,
    not 256 B); (3) re-ranks the O(rerank_r) shortlist exactly from the
    vector column via an id-pushed second read. Both quantizers default
    to the deterministic first-K fit (pass `centers`/`books` from real
    KMeans fits in production — every consumer is fit-agnostic)."""
    assigned = ivf_assign(
        df, id_col=id_col, vec_col=vec_col, n_cells=n_cells, centers=centers
    )
    books_frame = (
        pq_codebooks_frame(df, m=m, k=k_codes, id_col=id_col, vec_col=vec_col)
        if books is None
        else df.sparkSession.range(1).select(
            F.array(
                *[
                    F.array(
                        *[
                            F.array(*[F.lit(float(x)) for x in code])
                            for code in book
                        ]
                    )
                    for book in books
                ]
            ).alias("__books")
        )
    )
    coded = pq_encode(
        assigned.select(id_col, vec_col),
        books_frame,
        m=m,
        id_col=id_col,
        vec_col=vec_col,
    )
    (
        assigned.join(coded, id_col)
        .select(id_col, "codes", vec_col, "cell")
        .write.mode(mode)
        .partitionBy("cell")
        .parquet(path)
    )


def ivfpq_probe(
    spark,
    path: str,
    probe_vec: list[float],
    centers: list[list[float]],
    books: list[list[list[float]]],
    k: int = 10,
    nprobe: int = 4,
    rerank_r: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Query an `ivfpq_write` layout: partition-pruned cells → ADC over
    codes via a driver-computed m×k distance-table LITERAL (O(m·k)
    python work per probe; zero joins) → TakeOrdered shortlist of
    `rerank_r` → exact re-rank from the vector column → top-k
    (vec_id, exact_d). The ADC scan's plan touches only (id, codes,
    cell) — pinned in tests — so the serving read is nibbles, not
    vectors, until the bounded re-rank."""
    from decimal import ROUND_HALF_UP, Decimal

    m = len(books)
    sub = len(books[0][0])
    cells = nearest_cells_py(probe_vec, centers, nprobe)

    # driver-side tables: python floats ARE IEEE doubles and the fold
    # order matches _pq_dist6's left-to-right chain. Quantization must
    # mirror F.round's exact semantics: Spark rounds HALF_UP on
    # BigDecimal.valueOf(x) — the double's SHORTEST decimal repr — not on
    # the binary value. floor(x*1e6+0.5) rounds the binary product, which
    # disagrees when the shortest repr ends in ...5 at the 7th decimal but
    # the binary value sits just below the boundary. repr() gives the same
    # shortest round-trip decimal BigDecimal.valueOf uses.
    def _round6(x: float) -> float:
        return float(
            Decimal(repr(x)).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)
        )

    tables = [
        [
            _round6(
                sum((probe_vec[j * sub + t] - code[t]) ** 2 for t in range(sub))
            )
            for code in books[j]
        ]
        for j in range(m)
    ]
    tlits = [
        F.array(*[F.lit(float(x)) for x in tables[j]]) for j in range(m)
    ]
    scan = spark.read.parquet(path).filter(F.col("cell").isin(cells))
    approx = scan.select(
        id_col,
        sum(
            [F.element_at(tlits[j], F.col("codes")[j] + 1) for j in range(m)],
            F.lit(0.0),
        ).alias("approx_d"),
    )
    shortlist = approx.orderBy("approx_d", id_col).limit(rerank_r)
    pv = F.array(*[F.lit(float(x)) for x in probe_vec])
    return (
        scan.join(F.broadcast(shortlist.select(id_col)), id_col)
        .select(F.col(id_col), _pq_dist6(_vec(vec_col), pv).alias("exact_d"))
        .orderBy("exact_d", id_col)
        .limit(k)
    )


def ivfpq_search_portable(
    df: DataFrame,
    probe: DataFrame,
    n_cells: int = 16,
    nprobe: int = 4,
    m: int = 8,
    k_codes: int = 16,
    k: int = 10,
    rerank_r: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """The COMPOSED IVF-PQ search with fully engine-portable semantics —
    every stage of `ivfpq_write`/`ivfpq_probe`'s serving path expressed
    so a DuckDB oracle replays it end to end: deterministic first-K
    quantizers at both levels, cell assignment + probe top-cells on
    quantized cosines, candidates = corpus rows in the probe's nprobe
    cells (self excluded), ADC over PQ codes as the fixed-order chain,
    shortlist of `rerank_r` by (approx_d, id), exact squared-L2 re-rank,
    top-k (id, exact_d). `probe` is a 1-row frame.

    Role: the hash-checked SEMANTICS twin of the persisted path (where
    cell pruning is physical partition pruning and the quantizers are
    KMeans fits) — q_ivf_recall and q_pq_recall audit the two levels'
    recall separately; this proves the composition computes exactly
    what it claims. In-memory form: the only joins are 1-row/O(cells)
    broadcasts plus the final O(rerank_r) id semi-join."""
    cents = _cents_with_norms(_centroids_frame(df, n_cells, id_col, vec_col))
    books = pq_codebooks_frame(
        df, m=m, k=k_codes, id_col=id_col, vec_col=vec_col, dim=dim
    )
    # Codes INLINE in the corpus projection (the pq_encode id re-attach
    # was a corpus-scale shuffle join), row norm behind the explode
    # barrier, hoisted-norm cell scoring, and the per-probe ADC table —
    # the ivf_recall_report / pq_recall_report levers composed; every
    # double is produced by the same expression shapes, so the output is
    # bit-identical (hash-gated).
    corpus = (
        df.crossJoin(F.broadcast(cents))
        .crossJoin(F.broadcast(books))
        .select(
            F.col(id_col).alias("cid"),
            _vec(vec_col).alias("cvec"),
            F.col("__cn"),
            _pq_codes_expr(_vec(vec_col), m).alias("codes"),
        )
        .select(
            "cid",
            "cvec",
            "__cn",
            "codes",
            F.explode(
                F.array(
                    F.sqrt(
                        F.aggregate(
                            F.col("cvec"),
                            F.lit(0.0),
                            lambda a, x: a + x * x,
                        )
                    )
                )
            ).alias("cnorm"),
        )
        .select(
            "cid",
            "cvec",
            "codes",
            F.aggregate(
                _cell_cosine_scores_pre(
                    F.col("cvec"), F.col("cnorm"), F.col("__cn")
                ),
                F.struct(
                    F.lit(float("-inf")).alias("d"), F.lit(-1).alias("i")
                ),
                lambda acc, x: F.when(x["d"] > acc["d"], x).otherwise(acc),
            )["i"].alias("cell"),
        )
    )
    p = (
        probe.crossJoin(F.broadcast(cents))
        .crossJoin(F.broadcast(books))
        .select(
            F.col(id_col).alias("pid"),
            _vec(vec_col).alias("pvec"),
            F.col("__cn"),
            _pq_adc_table(_vec(vec_col), m).alias("__tab"),
        )
        .select(
            "pid",
            "pvec",
            "__cn",
            "__tab",
            F.explode(
                F.array(
                    F.sqrt(
                        F.aggregate(
                            F.col("pvec"),
                            F.lit(0.0),
                            lambda a, x: a + x * x,
                        )
                    )
                )
            ).alias("pnorm"),
        )
        .select(
            "pid",
            "pvec",
            "__tab",
            F.transform(
                F.slice(
                    F.array_sort(
                        F.transform(
                            _cell_cosine_scores_pre(
                                F.col("pvec"), F.col("pnorm"), F.col("__cn")
                            ),
                            lambda s: F.struct(
                                (-s["d"]).alias("nd"), s["i"].alias("i")
                            ),
                        )
                    ),
                    1,
                    nprobe,
                ),
                lambda s: s["i"],
            ).alias("pcells"),
        )
    )
    cand = (
        corpus.crossJoin(F.broadcast(p))
        .filter(
            F.array_contains(F.col("pcells"), F.col("cell"))
            & (F.col("cid") != F.col("pid"))
        )
        .select(
            "cid",
            "cvec",
            "pvec",
            sum(
                [
                    F.element_at(F.col("__tab")[j], F.col("codes")[j] + 1)
                    for j in range(m)
                ],
                F.lit(0.0),
            ).alias("approx_d"),
        )
    )
    shortlist = cand.orderBy("approx_d", "cid").limit(rerank_r)
    return (
        shortlist.select(
            F.col("cid").alias(id_col),
            _pq_dist6(F.col("cvec"), F.col("pvec")).alias("exact_d"),
        )
        .orderBy("exact_d", id_col)
        .limit(k)
    )


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    out_col: str = "q",
) -> DataFrame:
    """Per-vector symmetric int8 quantization — the storage-compression
    step of a 100 TB embedding corpus (4x smaller than float32, standard
    for IVF/PQ-style ANN serving): scale each vector by 127/max|x| and
    keep integer codes plus the dequantization scale.

    Engine-portable rounding: `floor(x·127/mx + 0.5)` (round-half-toward-
    +inf via exact floor) — NOT round(), whose half-even/half-up behavior
    differs across engines. Zero vectors quantize to all-zero codes with
    scale 0. One projection per row, no shuffle, no UDF."""
    v = _vec(vec_col)
    mx = F.array_max(F.transform(v, lambda x: F.abs(x)))
    codes = F.when(mx == 0, F.transform(v, lambda x: F.lit(0))).otherwise(
        F.transform(v, lambda x: F.floor(x / mx * 127.0 + 0.5).cast("int"))
    )
    return df.select(
        F.col(id_col),
        codes.alias(out_col),
        F.when(mx == 0, F.lit(0.0)).otherwise(mx / 127.0).alias("scale"),
    )


def group_pca_variance(
    df: DataFrame,
    group_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_to: int = 4,
) -> DataFrame:
    """Per-group PCA spectrum summary via `applyInPandas` — intrinsic-
    dimensionality probing of an embedding corpus (is a cluster really a
    1-D manifold?). Eigendecomposition has no DataFrame expression, so
    this is the legitimate applyInPandas case: each group's vectors
    arrive as ONE Arrow batch, numpy does the linear algebra, one row per
    group comes back.

    Determinism: rows are sorted by `id_col` inside the UDF before any
    float accumulation (group rows arrive in partition order, which is
    not stable run-to-run), `eigvalsh` is deterministic per platform, and
    outputs are rounded. Scale: one shuffle on the group key; state is
    O(dim²) per group regardless of group size, but a single group's
    VECTORS must fit one executor's Arrow batch — for web-scale groups,
    pre-aggregate X'X with `aggregate` expressions instead (same trick as
    `group_centroids`)."""
    import pandas as pd

    out_schema = (
        f"{group_col} int, n_vecs long, top_eig_share double, total_var double"
    )

    def pca(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np

        pdf = pdf.sort_values(id_col)
        x = np.vstack(pdf[vec_col].to_numpy()).astype("float64")
        n = len(x)
        group = pdf[group_col].iloc[0]
        if n < 2:
            return pd.DataFrame(
                [[group, n, 1.0, 0.0]],
                columns=[group_col, "n_vecs", "top_eig_share", "total_var"],
            )
        xc = x - x.mean(axis=0)
        cov = xc.T @ xc / (n - 1)
        eig = np.linalg.eigvalsh(cov)
        total = float(np.trace(cov))
        share = float(eig[-1] / total) if total > 0 else 0.0
        return pd.DataFrame(
            [[group, n, round(share, round_to), round(total, round_to)]],
            columns=[group_col, "n_vecs", "top_eig_share", "total_var"],
        )

    return df.groupBy(group_col).applyInPandas(pca, schema=out_schema)


def group_centroids(
    df: DataFrame,
    group_col: str = "label",
    vec_col: str = "embedding",
    dim: int = 64,
    round_to: int = 5,
) -> DataFrame:
    """Element-wise mean vector per group (class centroids / mean pooling),
    returned in LONG form: (group, pos, centroid) — scalar columns an
    external oracle can hash, and the shape a downstream join-by-position
    consumes.

    Scale shape: ONE groupBy over the group key with `dim` avg aggregates
    (map-side partial agg, one exchange of dim doubles per group) — NOT
    posexplode-then-group, which would shuffle dim× the corpus row count.
    The cheap posexplode to long form happens AFTER aggregation, on
    |groups| rows."""
    avgs = [
        F.avg(F.col(vec_col)[i].cast("double")).alias(f"__c{i}") for i in range(dim)
    ]
    wide = df.groupBy(group_col).agg(*avgs)
    return (
        wide.select(
            group_col,
            F.posexplode(F.array(*[F.col(f"__c{i}") for i in range(dim)])).alias(
                "pos", "__v"
            ),
        )
        .select(
            group_col,
            "pos",
            F.round(F.col("__v"), round_to).alias("centroid"),
        )
        .orderBy(group_col, "pos")
    )


def semdedup_cell_count(n_rows: int, min_clusters: int = 8) -> int:
    """Corpus-derived SemDeDup/IVF cluster count: k = max(min, ⌊√N⌋) —
    the standard IVF calibration. Assignment scans all k centroids per
    row (N·k) while the within-cell prune pairs cell-mates (k·(N/k)² =
    N²/k); k = √N balances both at O(N^1.5), the best a flat (one-level)
    quantizer can do — a frozen k degenerates the prune quadratically as
    N grows (r08 verdict #3), and k ≫ √N just moves the quadratic into
    the assignment scan. Sub-N^1.5 needs a hierarchical quantizer
    (two-level √k·√k assignment), the documented next lever. floor(sqrt)
    so the oracle replays it as GREATEST(min, FLOOR(sqrt(COUNT(*)))) —
    IEEE sqrt is correctly rounded, so math.isqrt and FLOOR(sqrt) agree
    for N below ~2^52 (above that, sqrt(k²−1) with k>2^26 rounds UP to k
    and the double floor overshoots isqrt by one — no practical impact
    at any corpus this engine counts rows for)."""
    import math

    return max(min_clusters, math.isqrt(n_rows))


def semdedup(
    df: DataFrame,
    n_clusters: int | None = 8,
    tau: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, public): semantic deduplication by
    clustering embeddings and dropping, within each cluster, every vector
    whose cosine similarity to a LOWER-id cluster-mate reaches `tau`
    (lowest id = the deterministic "keep one representative per
    epsilon-ball" rule). Returns every row tagged (cell, kept).

    Engine-parity variant of the paper: the coarse quantizer is the
    deterministic first-K codebook (`_centroids_frame`, the IVF seed
    rule) instead of fitted KMeans, and per-cell assignment argmax runs
    on ROUND(dot/|c|, 6) so the winning cell is identical in any engine
    (ties at 6 decimals break to the lowest cell, matching a strict->
    fold left-to-right).

    Scale shape: assignment is one codegen expression per row against a
    1-row broadcast codebook — no shuffle, no row blowup. The prune
    self-joins WITHIN cells only, the paper's own regime: with
    `n_clusters=None` (the production setting) k is DERIVED from the
    corpus count (`semdedup_cell_count`: max(8, floor(sqrt(N))), the
    standard IVF rule) so assignment (N·k) and within-cell pairing
    (N²/k) balance at O(N^1.5); a fixed k degenerates the prune
    quadratically as N grows (r08 verdict #3). The join shuffles (cell)
    keys and AQE splits hot cells. Nothing here is corpus-quadratic."""
    if n_clusters is None:
        n_clusters = semdedup_cell_count(df.count())
    cents = _centroids_frame(df, n_clusters, id_col, vec_col)
    assigned = (
        df.crossJoin(F.broadcast(cents))
        .select(
            F.col(id_col),
            F.col(vec_col),
            _argmax_rounded(vec_col, F.col("__cents")).alias("cell"),
        )
    )
    a = assigned.select(
        F.col("cell"), F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va")
    )
    b = assigned.select(
        F.col("cell"), F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb")
    )
    removed = (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(F.round(cosine("__va", "__vb"), 6) >= tau)
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    return (
        assigned.join(removed.withColumn("__rm", F.lit(True)), id_col, "left")
        .select(
            F.col(id_col),
            F.col("cell").cast("int").alias("cell"),
            F.coalesce(~F.col("__rm"), F.lit(True)).alias("kept"),
        )
    )


def _argmax_rounded(vec_col, cents: Column) -> Column:
    """Engine-parity argmax cell index: scores are ROUND(dot/|c|, 6) so
    the winner is identical in any engine, ties break to the lowest
    index (strict > fold) — the semdedup assignment rule, shared by both
    levels of the hierarchical quantizer."""
    v = _vec(vec_col)
    scores = F.zip_with(
        cents,
        F.sequence(F.lit(0), F.size(cents) - 1),
        lambda c, i: F.struct(
            F.round(
                F.aggregate(
                    F.zip_with(v, c, lambda x, y: x * y),
                    F.lit(0.0),
                    lambda a, x: a + x,
                )
                / F.sqrt(F.aggregate(c, F.lit(0.0), lambda a, x: a + x * x)),
                6,
            ).alias("d"),
            i.alias("i"),
        ),
    )
    best = F.aggregate(
        scores,
        F.struct(F.lit(float("-inf")).alias("d"), F.lit(-1).alias("i")),
        lambda acc, x: F.when(x["d"] > acc["d"], x).otherwise(acc),
    )
    return best["i"]


def two_level_cell_counts(n_rows: int, cell_size: int = 64) -> int:
    """Per-level fan-out `s` for the two-level quantizer: total cells
    s² ≈ max(4, N div cell_size), so cells hold ~cell_size vectors at
    any corpus size. s = max(2, floor(sqrt(max(4, N div cell_size)))) —
    integer arithmetic the oracle replays verbatim."""
    import math

    return max(2, math.isqrt(max(4, n_rows // cell_size)))


def semdedup_two_level(
    df: DataFrame,
    tau: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_size: int = 64,
) -> DataFrame:
    """SemDeDup behind a TWO-LEVEL (hierarchical) deterministic quantizer
    — the documented next lever past the flat sqrt(N) rule: a flat
    quantizer pays N·k to assign, so k is capped at sqrt(N) and the
    within-cell prune costs N^1.5. A two-level tree assigns in
    N·2s = O(N·sqrt(k)) — coarse argmax over s centroids, then fine
    argmax over the coarse cell's own s sub-centroids — which makes
    k = s² = N/cell_size AFFORDABLE: cells stay ~cell_size vectors and
    the prune is O(N·cell_size) linear. Total O(N^1.25), vs the flat
    form's O(N^1.5); deeper trees push the exponent toward N·log N (the
    standard tree-quantizer / IVF-HNSW coarse-layer story).

    Determinism contract (both levels oracle-replayable): coarse
    centroids = first s vectors by id; fine centroids of a coarse cell =
    its first s members by id (a partitioned window, never a global
    one); both argmaxes on ROUND(dot/|c|, 6) with ties to the lowest
    index. Returns every row tagged (coarse, fine, kept) where kept
    follows the same lowest-id epsilon-ball rule as `semdedup`.

    Scale shape: coarse assignment is per-row codegen against a 1-row
    broadcast; fine codebooks are s rows of s vectors, broadcast-joined
    on the coarse cell; the prune shuffles (coarse, fine) keys with the
    vectors exactly once. The coarse argmax is computed INLINE in two
    passes — once slim for seed selection (the per-cell window shuffles
    (id, c1) pairs only, never vectors; the ≤ s² seed vectors re-attach
    by a broadcast semi of seed ids), once fused into the fine
    assignment — a deliberate 2× on the compute constant that keeps the
    pre-prune pipeline completely shuffle-free for the fat vector
    column (materializing (id, c1) instead would force a corpus-wide
    vector join; the fat-column rule: ids shuffle, vectors don't)."""
    s = two_level_cell_counts(df.count(), cell_size)
    cents1 = _centroids_frame(df, s, id_col, vec_col)
    coarse_slim = df.crossJoin(F.broadcast(cents1)).select(
        F.col(id_col),
        _argmax_rounded(vec_col, F.col("__cents")).alias("c1"),
    )
    # fine codebook per coarse cell: its first s members by id — a
    # PARTITIONED window (parallel) over the SLIM (id, c1) stream;
    # vectors join back only for the ≤ s·s seed rows (broadcast)
    w = Window.partitionBy("c1").orderBy(id_col)
    seed_ids = coarse_slim.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") <= s
    )
    seeds = (
        df.select(id_col, vec_col)
        .join(F.broadcast(seed_ids.select(id_col, "c1")), id_col)
        .groupBy("c1")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(F.col(id_col).alias("i"), _vec(vec_col).alias("v"))
                )
            ).alias("__s")
        )
        .select("c1", F.transform("__s", lambda x: x["v"]).alias("__cents2"))
    )
    assigned = (
        df.crossJoin(F.broadcast(cents1))
        .select(
            F.col(id_col),
            F.col(vec_col),
            _argmax_rounded(vec_col, F.col("__cents")).alias("c1"),
        )
        .join(F.broadcast(seeds), "c1")
        .select(
            F.col(id_col),
            F.col(vec_col),
            "c1",
            _argmax_rounded(vec_col, F.col("__cents2")).alias("c2"),
        )
        # localCheckpoint (r16): `assigned` is read three times (both
        # prune-join sides and the final tag join) and its subtree has
        # NO shuffle exchange — only broadcasts — so exchange reuse
        # dedups nothing: each reference re-runs BOTH argmax passes,
        # N·2s HOF dot products apiece (s ~ sqrt(N/64), so the waste is
        # superlinear; the q_phash_neardup re-execution rule). Neutral
        # at sf0.1 (the 3x is ~240k dots); the checkpoint bytes equal
        # what the prune exchange already shuffles per row.
        .localCheckpoint(eager=True)
    )
    a = assigned.select(
        "c1", "c2", F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va")
    )
    b = assigned.select(
        "c1", "c2", F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb")
    )
    removed = (
        a.join(b, ["c1", "c2"])
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(F.round(cosine("__va", "__vb"), 6) >= tau)
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    return (
        assigned.join(removed.withColumn("__rm", F.lit(True)), id_col, "left")
        .select(
            F.col(id_col),
            F.col("c1").cast("int").alias("coarse"),
            F.col("c2").cast("int").alias("fine"),
            F.coalesce(~F.col("__rm"), F.lit(True)).alias("kept"),
        )
    )


def tfidf_cosine_pairs(
    df: DataFrame,
    min_cosine: float = 0.5,
    max_df: int | None = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """All document pairs with tf-idf-weighted cosine similarity >=
    `min_cosine` — the weighted-bag sibling of the exact n-gram Jaccard
    family: rare shared terms count for more, repeated terms for more
    than once (both invisible to set Jaccard).

    tf = per-doc term count; idf = ln((N+1)/(df+1)) + 1 (the standard
    smoothed form). Weights are FIXED-POINT: wi = floor(tf·idf·1e4) as
    an integer, so dot products and squared norms are EXACT integer sums
    (decimal(38,0), overflow-proof) whose value cannot depend on Spark's
    partial-aggregation order — the q_tpch_q9 integer-cents pattern.
    The ADVICE r08 finding this closes: thresholding a floor-truncated
    SUM(double) can flip row MEMBERSHIP across engines or runs on an
    ulp straddle; with integer sums every downstream float op
    (sqrt/divide/floor) is a deterministic scalar function of exact
    integers, identical in both engines. Cosine is floor-truncated to 4
    decimals as before; the 1e-4 weight quantization IS the measure's
    definition, replayed identically by the oracle.

    Scale shape: the pair stream comes from an inverted index keyed on
    the term, so only documents SHARING a term ever meet — never an
    all-pairs join. `max_df` caps posting lengths (terms in more than
    `max_df` documents are dropped from the FEATURE SPACE, norms
    included): unlike Jaccard prefix filtering this changes the measure
    — it is the standard stopword/df-pruning of IR practice, and the
    oracle replays the same pruned definition exactly. With the cap,
    per-term pair fan-out is bounded by max_df² and total work scales
    with the corpus, not its square; max_df=None keeps the exact measure
    (the quadratic oracle-tier form, same regime note as
    q_ngram_jaccard)."""
    tf = (
        df.select(F.col(id_col), F.explode(F.filter(F.split(text_col, " "), lambda t: t != "")).alias("__tok"))
        .groupBy(id_col, "__tok")
        .agg(F.count(F.lit(1)).cast("double").alias("__tf"))
    )
    dfreq = tf.groupBy("__tok").agg(F.count(F.lit(1)).alias("__df"))
    if max_df is not None:
        dfreq = dfreq.filter(F.col("__df") <= max_df)
    n_docs = df.agg(F.count(F.lit(1)).cast("double").alias("__n"))
    weights = (
        tf.join(dfreq, "__tok")
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col(id_col),
            "__tok",
            # fixed-point weight: floor is per-row (order-free); the
            # decimal(19,0) cast keeps the pairwise products exact
            F.floor(
                F.col("__tf")
                * (F.log((F.col("__n") + 1) / (F.col("__df") + 1)) + 1)
                * 10000
            ).cast("decimal(19,0)").alias("__w"),
        )
    )
    norms = weights.groupBy(id_col).agg(
        F.sum(F.col("__w") * F.col("__w")).alias("__norm2")
    )
    a = weights.select(F.col(id_col).alias("id_a"), "__tok", F.col("__w").alias("__wa"))
    b = weights.select(F.col(id_col).alias("id_b"), "__tok", F.col("__w").alias("__wb"))
    dots = (
        a.join(b, "__tok")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("__wa") * F.col("__wb")).alias("__dot"))
    )
    na = norms.select(
        F.col(id_col).alias("id_a"), F.sqrt(F.col("__norm2").cast("double")).alias("__na")
    )
    nb = norms.select(
        F.col(id_col).alias("id_b"), F.sqrt(F.col("__norm2").cast("double")).alias("__nb")
    )
    sim = F.floor(
        F.col("__dot").cast("double") / (F.col("__na") * F.col("__nb")) * 10000
    ) / 10000
    return (
        dots.join(na, "id_a")
        .join(nb, "id_b")
        .select("id_a", "id_b", sim.alias("cosine_sim"))
        .filter(F.col("cosine_sim") >= min_cosine)
    )


def hard_negatives(
    df: DataFrame,
    k: int = 3,
    n_clusters: int | None = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive training (public recipe:
    nearest different-label neighbors make the most informative
    negatives): per anchor, the top-`k` most-cosine-similar vectors with
    a DIFFERENT label, candidates bounded to the anchor's coarse cell
    (same deterministic first-K codebook + rounded-argmax assignment as
    `semdedup` — the standard ANN-bounded mining loop, exact within the
    cell). Returns (id, neg_id, label, neg_label, cosine_sim, rank).

    Scale shape: assignment is a per-row codegen argmax against a 1-row
    broadcast codebook; the candidate join pairs WITHIN cells only —
    with `n_clusters=None` the cell count is corpus-derived
    (`semdedup_cell_count`, the IVF sqrt(N) balance rule); ranking
    is a per-anchor window — partitions are anchor-sized, never
    corpus-sized."""
    if n_clusters is None:
        n_clusters = semdedup_cell_count(df.count())
    cents = _centroids_frame(df, n_clusters, id_col, vec_col)
    assigned = df.crossJoin(F.broadcast(cents)).select(
        F.col(id_col),
        F.col(vec_col),
        F.col(label_col),
        _argmax_rounded(vec_col, F.col("__cents")).alias("cell"),
    )
    a = assigned.select(
        "cell",
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("__va"),
        F.col(label_col).alias("label"),
    )
    b = assigned.select(
        "cell",
        F.col(id_col).alias("neg_id"),
        F.col(vec_col).alias("__vb"),
        F.col(label_col).alias("neg_label"),
    )
    from pyspark.sql import Window

    pairs = (
        a.join(b, "cell")
        .filter(F.col("label") != F.col("neg_label"))
        .select(
            "id",
            "neg_id",
            "label",
            "neg_label",
            F.round(cosine("__va", "__vb"), 6).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("id").orderBy(F.desc("cosine_sim"), F.col("neg_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def mmr_select(
    df: DataFrame,
    probe: DataFrame,
    k: int = 10,
    shortlist: int = 64,
    lam_pct: int = 70,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance diverse top-k (Carbonell & Goldstein
    SIGIR'98, public literature): greedily pick k vectors maximizing
    lam·relevance − (1−lam)·max-similarity-to-already-selected — the
    standard diverse-example-selection op for retrieval/ICL curation
    (plain top-k returns k near-copies of the best hit; MMR spreads the
    picks across the neighborhood structure).

    Scale shape: the corpus-sized work is ONE broadcast-probe scoring
    scan + TakeOrderedAndProject into a `shortlist`-row frame (O(k)
    network, the q_hybrid_search_rrf rule: shortlist FIRST, never rank
    the corpus); the O(shortlist²) greedy runs inside one applyInPandas
    group over that bounded frame, so its cost is corpus-size-
    INDEPENDENT. Determinism: every comparison is on integer micro-units
    u = round-half-away(cosine·1e6) with vec_id tie-breaks, and the
    greedy is replayed verbatim by a recursive-CTE SQL oracle
    (q_mmr_diverse) — lam_pct keeps the mix integer (score_u =
    lam_pct·rel_u − (100−lam_pct)·maxsim_u).

    `probe` is a 1-row frame holding `vec_col`; rows equal to the probe
    should be filtered by the caller if unwanted. Returns
    (rank, id, rel_u, maxsim_u, score_u) ordered by rank."""
    import math

    import pandas as pd

    p = F.broadcast(probe.select(F.col(vec_col).alias("__probe")))
    rel_u = F.round(cosine(vec_col, "__probe") * 1e6, 0).cast("long")
    short = (
        df.crossJoin(p)
        .select(
            F.col(id_col).alias("id"),
            rel_u.alias("rel_u"),
            _vec(vec_col).alias("__v"),
        )
        .orderBy(F.desc("rel_u"), F.col("id"))
        .limit(shortlist)
    )

    def _u(x: float) -> int:
        # DuckDB ROUND(x, 0) semantics: half away from zero
        s = x * 1e6
        return int(math.floor(s + 0.5)) if s >= 0 else -int(math.floor(-s + 0.5))

    def _greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = [int(x) for x in pdf["id"]]
        rel = {i: int(r) for i, r in zip(ids, pdf["rel_u"])}
        vecs = {i: [float(x) for x in v] for i, v in zip(ids, pdf["__v"])}
        norms = {
            i: math.sqrt(sum(x * x for x in v)) for i, v in vecs.items()
        }

        def cos_u(a: int, b: int) -> int:
            va, vb = vecs[a], vecs[b]
            d = 0.0
            for x, y in zip(va, vb):
                d += x * y
            return _u(d / (norms[a] * norms[b]))

        selected: list[tuple[int, int, int, int]] = []  # id, rel, maxsim, score
        remaining = sorted(ids)
        # running per-candidate max-similarity: each round folds in ONLY
        # the newly selected id — O(rounds x remaining) cosines total
        # instead of O(rounds x remaining x selected) recomputation.
        # None = "no selected yet" (scores as 0); a plain 0 floor would
        # clamp all-negative cosine neighborhoods, which do occur
        ms_run: dict[int, int | None] = {c: None for c in remaining}
        while remaining and len(selected) < k:
            if selected:
                new_id = selected[-1][0]
                for c in remaining:
                    cu = cos_u(c, new_id)
                    if ms_run[c] is None or cu > ms_run[c]:
                        ms_run[c] = cu
            best = None
            for c in remaining:
                ms = ms_run[c] if ms_run[c] is not None else 0
                score = lam_pct * rel[c] - (100 - lam_pct) * ms
                key = (-score, c)
                if best is None or key < best[0]:
                    best = (key, c, ms, score)
            _, c, ms, score = best
            selected.append((c, rel[c], ms, score))
            remaining.remove(c)
        return pd.DataFrame(
            {
                "rank": range(1, len(selected) + 1),
                "id": [s[0] for s in selected],
                "rel_u": [s[1] for s in selected],
                "maxsim_u": [s[2] for s in selected],
                "score_u": [s[3] for s in selected],
            }
        )

    out = (
        short.groupBy(F.lit(1).alias("__g"))
        .applyInPandas(
            lambda key, pdf: _greedy(pdf),
            schema="rank int, id long, rel_u long, maxsim_u long, score_u long",
        )
        .orderBy("rank")
    )
    return out
