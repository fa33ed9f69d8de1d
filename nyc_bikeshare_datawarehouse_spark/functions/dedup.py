"""Deduplication family for training-data pipelines.

Five strategies, ordered by cost, all shuffle-on-key designs that scale to
100 TB (the key is always a small fixed-size signature, never the document
body, so the shuffle moves hashes + ids, not text):

1. exact          — md5 over normalized text; groupBy hash, keep min id.
2. token-set      — md5 over sorted distinct tokens (reorder-invariant).
3. simhash        — 64-bit bitwise-majority signature over token hashes;
                    near-dup = small Hamming distance; banded for join.
4. minhash + LSH  — k independent min-hashes over shingles, banded into
                    buckets; candidate pairs only within a bucket
                    (pure DataFrame: an xxhash64 engine form and an
                    md5 form the SQL oracle replays).
5. n-gram Jaccard — exact Jaccard on shingle sets for candidate pairs
                    (the verifier stage after LSH, or standalone on
                    token-blocked pairs).

Every candidate generator in the near-dup family (here, similarity.py,
multimodal.py, fuzzy.py) builds on three shared cores, each the ONE place
its decision lives:

- `spread_pairs`          — one exchange dedups a candidate pair stream
                            AND spreads it to cluster width for the
                            CPU-bound verify behind it;
- `banded_hamming_join`   — chunk / chunk-pair band keys over a fixed-
                            width signature and the (band, chunk) self-
                            join (SimHash, SRP cosine LSH, pHash, audio);
- `_shingle_overlap`      — the shared-shingle pair counter (df pruning,
                            slim self-join, packed/unpacked counts, id
                            range guard) under the n-gram Jaccard and
                            containment measures.

Embedding-based near-dup (cosine) lives in similarity.py.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, Window, functions as F

from nyc_bikeshare_datawarehouse_spark.functions.text import shingles, token_set_fingerprint, tokens

#: one-task gate of `cluster_duplicates`: a directed edge list at or under
#: this many rows is solved in a single task (two int64 arrays of 5M rows
#: are 80 MB, plus numpy temporaries of the same order); above it the
#: distributed pointer-jumping rounds run.
_CC_BROADCAST_MAX_EDGES = 5_000_000


def shingle_postings(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 2,
    hashed: bool = True,
) -> DataFrame:
    """Distinct (id, shingle) postings with the >= shingle_n token bound
    applied INSIDE the builder: shingles() emits a whole-text fallback
    for docs shorter than shingle_n, and every oracle in the lattice
    family excludes those docs (len(t) >= n CTEs) — enforcing the bound
    here removes the per-call-site d2-filter class of engine/oracle
    mismatch the round-11 review found (the containment pair had
    forgotten it; incremental_dedup._postings already did this).
    hashed=True emits the xxhash64 column `sh`; False keeps the raw
    shingle string `s` (the portable-md5 lattice hashes per min-hash
    function instead)."""
    base = df.filter(F.size(tokens(text_col)) >= shingle_n).select(
        F.col(id_col),
        F.explode(F.array_distinct(shingles(text_col, shingle_n))).alias("s"),
    )
    if hashed:
        return base.select(id_col, F.xxhash64("s").alias("sh")).dropDuplicates()
    return base.dropDuplicates()


def _materialized(df: DataFrame, expr, name: str, keep: list[str]) -> DataFrame:
    """Project `expr` as `name` behind an explode(array(...)) barrier.

    CollapseProject would otherwise inline an expensive expression into
    every downstream reference (e.g. a 32-hash minhash signature inlined
    into each of 8 band hashes = 8x recomputation per row); a Generate
    node is a projection-collapse boundary, so the expression evaluates
    exactly once per row."""
    return df.select(*keep, F.explode(F.array(expr)).alias(name))


def normalized_hash(text_col="text") -> F.Column:
    """Exact-dedup key: md5(lower(trim(text)))."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.md5(F.lower(F.trim(c)))


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one representative (min id) per normalized-text hash.

    One shuffle on a 128-bit key; partial aggregation (map-side min/count)
    makes the shuffle payload tiny regardless of document size."""
    return (
        df.select(normalized_hash(text_col).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def token_set_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Reorder-invariant exact dedup via the token-set fingerprint."""
    return (
        df.select(token_set_fingerprint(text_col).alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_docs"))
    )


def simhash64(text_col="text") -> F.Column:
    """64-bit SimHash over whitespace tokens, pure built-ins.

    For each bit b: sum over tokens of (+1 if bit set in xxhash64(token)
    else -1); signature bit = (sum > 0). Expressed as 64 aggregate
    expressions over the token array — verbose but fully codegen'd and
    shuffle-free (per-row computation)."""
    from nyc_bikeshare_datawarehouse_spark.functions.similarity import _bit_mask

    t = tokens(text_col)
    hashes = F.transform(t, lambda tok: F.xxhash64(tok))
    # ONE nested expression (transform over a literal mask array, inner
    # aggregate vote), not 64 separate aggregates — keeps codegen
    # compilation O(1) in signature width. Masks are literals because the
    # shift functions take Python ints, not lambda variables; the bit-63
    # mask is min-long (sign bit).
    masks = F.array(*[F.lit(_bit_mask(b)).cast("long") for b in range(64)])
    bits = F.transform(
        masks,
        lambda mask: F.when(
            F.aggregate(
                hashes,
                F.lit(0),
                lambda acc, h: acc + F.when(h.bitwiseAND(mask) != 0, 1).otherwise(-1),
            )
            > 0,
            mask,
        ).otherwise(F.lit(0).cast("long")),
    )
    return F.aggregate(bits, F.lit(0).cast("long"), lambda acc, v: acc.bitwiseOR(v))


def _salted_token_hashes(t: F.Column, salt: str) -> F.Column:
    """16-bit md5-prefix hash per token under an explicit salt — each
    salt yields an independent hash family (closure factory per the
    higher-order-lambda capture rule)."""

    def _h(tok):
        return F.conv(F.substring(F.md5(F.concat(F.lit(salt), tok)), 1, 4), 16, 10).cast(
            "long"
        )

    return F.transform(t, _h)


def _vote_bit(hashes: F.Column):
    """SimHash bit vote: +1/-1 per token hash on the masked bit; emits
    the mask when the vote is positive (closure factory, see above)."""

    def _v(mask):
        return F.when(
            F.aggregate(
                hashes,
                F.lit(0),
                lambda acc, h: acc + F.when(h.bitwiseAND(mask) != 0, 1).otherwise(-1),
            )
            > 0,
            mask,
        ).otherwise(F.lit(0).cast("long"))

    return _v


def simhash_portable(text_col: str = "text", n_bits: int = 32) -> F.Column:
    """Engine-portable SimHash: md5-derived per-token bits over the
    DISTINCT token set, so the whole signature is replayable in any SQL
    engine (same portability rationale as minhash_lsh_candidates_portable;
    the 64-bit xxhash form above is the production sibling). Each 16-bit
    WORD of the signature comes from an independently salted md5 family
    ("<word>:" prefix), so up to 64 bits stay inside md5's first 4 hex
    chars per word — a 16-bit-only signature collapses banded candidate
    generation to <=2^(16/bands) buckets per band and degenerates
    quadratic at corpus scale (round-6 verdict), while >=32 bits keeps
    bucket counts in the hundreds. Integer votes and compares only —
    bit-exact across engines."""
    if not 1 <= n_bits <= 64:
        raise ValueError(f"n_bits must be in [1, 64], got {n_bits}")
    t = F.array_distinct(tokens(text_col))
    sig = F.lit(0).cast("long")
    for w in range(-(-n_bits // 16)):
        lo, hi = 16 * w, min(16 * (w + 1), n_bits)
        hashes = _salted_token_hashes(t, f"{w}:")
        masks = F.array(*[F.lit(1 << b).cast("long") for b in range(hi - lo)])
        word = F.aggregate(
            F.transform(masks, _vote_bit(hashes)),
            F.lit(0).cast("long"),
            lambda acc, v: acc.bitwiseOR(v),
        )
        sig = sig.bitwiseOR(F.shiftleft(word, lo))
    return sig


def simhash_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bands: int = 4,
    sig: F.Column | None = None,
    sig_bits: int = 64,
    conjunction: bool = False,
) -> DataFrame:
    """Near-dup candidate pairs via banded SimHash: split the signature
    into `bands` chunks; docs sharing any chunk value are candidates
    (Hamming-distance <= bands-1 guaranteed recall). The join is an
    equi-join on (band, chunk) — shuffle moves only (id, chunk). Pass
    `sig`/`sig_bits` to band a different signature (e.g. the 32-bit
    `simhash_portable`); default is the production 64-bit xxhash form.

    conjunction=True joins on PAIRS of chunks instead (Hamming <= bands-2
    recall, squared key space — see `banded_hamming_join`).

    r15: the banded self-join runs over the DISTINCT-SIGNATURE universe
    (`simhash_sig_pairs`), then expands to doc pairs via two sig-keyed
    joins plus the within-group (hamming 0) self-join — the fuzzy_pairs
    distinct-universe lever. On a dup-heavy corpus identical signatures
    previously paired doc-quadratically inside every bucket; now the
    bucket join pairs signatures, and the doc fan-out equals the true
    candidate output (measured 2.59s -> 1.34s on the q_simhash_portable
    shape at sf0.1, output proven identical). Every doc pair arises from
    exactly one unordered signature pair, so no doc-level dropDuplicates
    is needed.

    The signature frame is localCheckpointed (r16, ADVICE r15): it is
    referenced FIVE times below (distinct universe, both sig-keyed
    expansion sides, both within-group sides), and per the diverged-
    subplan rule each reference would re-run the corpus scan and the
    signature compute — ~5x the per-row bit-vote work, and far worse
    when `sig` rides an expensive upstream (q_multimodal_dedup
    checkpoints its own sig frame for exactly this reason). The frame
    is (id, sig) — two longs per doc — so the checkpoint is cheap at
    any corpus size."""
    sig_df = _materialized(
        df, sig if sig is not None else simhash64(text_col), "sig", [id_col]
    ).localCheckpoint(eager=True)
    sig_pairs = simhash_sig_pairs(
        sig_df.select("sig").distinct(), bands, sig_bits, conjunction
    )
    da = sig_df.select(F.col(id_col).alias("__ia"), F.col("sig").alias("sig_a"))
    db = sig_df.select(F.col(id_col).alias("__ib"), F.col("sig").alias("sig_b"))
    cross = (
        sig_pairs.join(da, "sig_a")
        .join(db, "sig_b")
        .select(
            F.least("__ia", "__ib").alias("id_a"),
            F.greatest("__ia", "__ib").alias("id_b"),
            "hamming",
        )
    )
    ga = sig_df.select(F.col(id_col).alias("id_a"), "sig")
    gb = sig_df.select(F.col(id_col).alias("id_b"), "sig")
    within = (
        ga.join(gb, "sig")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.lit(0).alias("hamming"))
    )
    return cross.unionByName(within)


def simhash_sig_pairs(
    sigu: DataFrame,
    bands: int,
    sig_bits: int,
    conjunction: bool = False,
) -> DataFrame:
    """Banded Hamming self-join over a DISTINCT signature frame (`sig`
    column): returns (sig_a < sig_b, hamming) for every signature pair
    sharing >= 1 band key. The signature-universe half of
    `simhash_candidates` (r15), exposed separately so callers that only
    need CONNECTIVITY (q_multimodal_dedup's component edges) can expand
    to one representative edge per signature pair instead of the full
    doc-pair fan-out. Equal signatures are NOT emitted (hamming-0 pairs
    are the caller's within-group expansion, where one exists)."""
    return (
        banded_hamming_join(sigu, "sig", bands, sig_bits, conjunction)
        .select(F.col("id_a").alias("sig_a"), F.col("id_b").alias("sig_b"))
        .withColumn("hamming", F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))))
    )


def spread_pairs(
    pairs: DataFrame,
    a: str = "id_a",
    b: str = "id_b",
    subset: list[str] | None = None,
) -> DataFrame:
    """Dedup a candidate pair stream AND spread it for the verify, in ONE
    exchange (r15/r16 fusion). Hash-repartitioning on the pair satisfies
    the dedup aggregation's distribution requirement, so Catalyst plans
    one complete HashAggregate after a single exchange — instead of
    dropDuplicates' partial agg + exchange, which AQE then size-coalesces
    to a few partitions: a two-longs-per-row pair list is small in bytes
    while the verify behind it (array_intersect, levenshtein, zip_with
    dot) is CPU-bound, so the coalescer would run it on 2 of 32 cores
    (the documented misprice). The explicit defaultParallelism width
    follows the cluster, not a constant. Measured at sf0.1:
    q_jaccard_prefix 17.7s -> 7.3s, the SRP candidate stage 1.08s ->
    0.64s. `subset` keeps extra payload columns (e.g. signatures riding
    the pair) out of the dedup key."""
    return pairs.repartition(
        pairs.sparkSession.sparkContext.defaultParallelism, a, b
    ).dropDuplicates(subset)


def banded_hamming_join(
    df: DataFrame,
    key_col: str,
    bands: int,
    sig_bits: int,
    conjunction: bool = False,
) -> DataFrame:
    """Banded Hamming self-join over a fixed-width signature: split the
    `sig` column into `bands` chunks of `sig_bits // bands` bits and return
    every (id_a < id_b) pair of `key_col` values sharing >= 1 band key,
    deduped and spread by `spread_pairs`. Pigeonhole recall: single-chunk
    keys surface every pair within Hamming <= bands-1. The join is an
    equi-join on (band, chunk) — small ints — so the shuffle moves
    (key, band, chunk) rows only; callers re-attach payloads (vectors,
    signatures) to the deduped pair list by key.

    conjunction=True joins on PAIRS of chunks instead (key = pair index +
    both chunk values packed into one long, C(bands, 2) keys per row):
    recall drops to Hamming <= bands-2, but the key space squares — 8-bit
    chunks give 2^16 conjunction buckets instead of 256, so in-bucket
    pairing on random signatures falls ~width-squared-fold. Single-chunk
    banding's bounded key space is birthday-quadratic at corpus scale
    (round-12 verdict: N^2/1024 pairs for the 4x8-bit portable form
    REGARDLESS of data); conjunction keys keep candidate volume data-
    driven. Use it whenever the downstream Hamming filter fits inside
    bands-2.

    Chunk masks are per-band literal expressions built in a Python loop:
    `F.shiftright` needs a Python int, not a lambda-bound Column."""
    width = sig_bits // bands

    def _chunk(b: int) -> F.Column:
        return F.shiftright(F.col("sig"), b * width).bitwiseAND(F.lit((1 << width) - 1))

    if conjunction:
        if bands < 3:
            raise ValueError("conjunction banding needs bands >= 3 for any recall guarantee")
        keys = [
            F.struct(
                F.lit(k).alias("band"),
                (F.shiftleft(_chunk(i), width) + _chunk(j)).alias("chunk"),
            )
            for k, (i, j) in enumerate(itertools.combinations(range(bands), 2))
        ]
    else:
        keys = [
            F.struct(F.lit(b).alias("band"), _chunk(b).alias("chunk")) for b in range(bands)
        ]
    chunks = df.select(key_col, F.explode(F.array(*keys)).alias("bc")).select(
        key_col, F.col("bc.band").alias("band"), F.col("bc.chunk").alias("chunk")
    )
    a, b = chunks.alias("a"), chunks.alias("b")
    return spread_pairs(
        a.join(b, on=["band", "chunk"])
        .filter(F.col(f"a.{key_col}") < F.col(f"b.{key_col}"))
        .select(F.col(f"a.{key_col}").alias("id_a"), F.col(f"b.{key_col}").alias("id_b"))
    )


def minhash_signature(shingle_col, num_hashes: int = 32) -> F.Column:
    """k-min-hash signature over a shingle-array column, pure built-ins:
    hash each shingle with k seeded xxhash64 variants, take the min per
    seed.

    Takes a *column of shingle arrays* (not raw text) so callers can
    materialize the shingle expression once — passing `shingles(text)`
    directly would get inlined k times by CollapseProject."""
    sh = F.col(shingle_col) if isinstance(shingle_col, str) else shingle_col

    def _seeded(seed: int):
        # closure factory (a 2-arg lambda would be treated as (element, index))
        return lambda s: F.xxhash64(s, F.lit(seed))

    return F.array(*[
        F.array_min(F.transform(sh, _seeded(i))).alias(f"mh{i}") for i in range(num_hashes)
    ])


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """MinHash LSH candidate pairs without pyspark.ml: band the k-hash
    signature, bucket-join on (band, band_hash). Estimated Jaccard =
    fraction of matching hash positions. At 100 TB this is the standard
    fuzzy-dedup layout: signatures are O(k) ints per doc; every join is an
    equi-join on small keys."""
    rows = num_hashes // bands
    # two materialization barriers: shingle array once per row, then the
    # 32-hash signature once per row (each is multiply-referenced downstream)
    sh_df = _materialized(df, shingles(text_col, shingle_n), "__sh", [id_col])
    sig = _materialized(sh_df, minhash_signature("__sh", num_hashes), "sig", [id_col])
    banded = sig.select(
        id_col,
        "sig",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.md5(F.concat_ws(",", F.slice(F.col("sig"), b * rows + 1, rows))).alias("bh"),
                )
                for b in range(bands)
            ])
        ).alias("bb"),
    ).select(id_col, "sig", F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh"))
    a, b = banded.alias("a"), banded.alias("b")
    # the per-pair zip_with match fraction is the CPU-bound verify
    pairs = spread_pairs(
        a.join(b, on=["band", "bh"])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        ),
        subset=["id_a", "id_b"],
    )
    match_frac = (
        F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda eq: eq))
        .cast("double") / F.lit(num_hashes)
    )
    return pairs.select("id_a", "id_b", F.round(match_frac, 4).alias("est_jaccard"))


def portable_minhash_parts(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 12,
    shingle_n: int = 2,
) -> tuple[DataFrame, DataFrame]:
    """(sh, sig): the distinct (id, shingle-string) frame and the
    (id, i, mh) ENGINE-PORTABLE min-hash signature frame — h_i(s) =
    first 60 bits of md5(i || ':' || shingle), reproducible verbatim in
    plain SQL. Shared by `minhash_lsh_candidates_portable` (candidates)
    and `minhash_est_error` / `lsh_recall_report` (accuracy
    measurement), so the three queries replay ONE lattice definition.

    The expensive md5s are computed over the DISTINCT-SHINGLE universe
    (r16, the fuzzy_pairs distinct-universe lever applied to hashing):
    h_i(s) depends only on the shingle, so hashing per POSTING row paid
    k md5+base-conv evaluations per (doc, shingle) occurrence — ~3M at
    sf0.1 — where the vocabulary needs only |vocab|·k (~11k here; text
    vocabularies grow sublinearly in the corpus). The per-shingle hash
    frame joins back to the postings by shingle (AQE broadcasts the
    vocab-sized side at runtime), and the min-hash aggregate is
    unchanged — signatures are bit-identical because the h values per
    shingle are identical."""
    sh = shingle_postings(df, text_col, id_col, shingle_n, hashed=False)
    uni_hashed = sh.select("s").distinct().select(
        "s",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_hashes - 1)),
                lambda i: F.conv(
                    F.substring(
                        F.md5(F.concat(i.cast("string"), F.lit(":"), F.col("s"))), 1, 15
                    ),
                    16,
                    10,
                ).cast("long"),
            )
        ).alias("i", "h"),
    )
    hashed = sh.join(uni_hashed, "s").select(id_col, "i", "h")
    sig = hashed.groupBy(id_col, "i").agg(F.min("h").alias("mh"))
    return sh, sig


def portable_band_candidates(
    sig: DataFrame, id_col: str, rows_per_band: int
) -> DataFrame:
    """Banded bucket self-join over a (id, i, mh) signature frame:
    band signature = md5 of the band's min-hashes in i order, candidates
    = distinct id pairs sharing any (band, band_sig) bucket. Shuffles
    carry (id, band, band_sig) only — never the corpus."""
    band_sigs = (
        sig.withColumn("band", (F.col("i") / F.lit(rows_per_band)).cast("int"))
        .groupBy(id_col, "band")
        .agg(
            F.md5(
                F.concat_ws(
                    ",",
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("i", "mh"))),
                        lambda x: x["mh"].cast("string"),
                    ),
                )
            ).alias("band_sig")
        )
    )
    a, b = band_sigs.alias("a"), band_sigs.alias("b")
    # every caller feeds a CPU-bound verify (jaccard_verify_pairs'
    # array_intersect, minhash_est_error's per-pair counts)
    return spread_pairs(
        a.join(b, on=["band", "band_sig"])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
    )


def minhash_lsh_candidates_portable(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 12,
    bands: int = 4,
    shingle_n: int = 2,
) -> DataFrame:
    """MinHash-LSH candidate pairs with ENGINE-PORTABLE hash functions
    (`portable_minhash_parts` + `portable_band_candidates`), so the
    ENTIRE pipeline — k min-hashes, banded signature, bucket self-join —
    computes identically in any SQL engine and is oracle-checkable end
    to end (`q_minhash_portable`). The xxhash64 variant above is the
    faster production path; THIS one exists to prove the lattice's
    semantics against an independent engine, the same exact/pruned
    split used for n-gram Jaccard."""
    _, sig = portable_minhash_parts(df, text_col, id_col, n_hashes, shingle_n)
    return portable_band_candidates(sig, id_col, n_hashes // bands)


def minhash_est_error(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 12,
    bands: int = 4,
    shingle_n: int = 2,
) -> DataFrame:
    """Sketch-accuracy measurement: for every banded candidate pair,
    the MinHash jaccard ESTIMATE (matching signature positions / k, in
    basis points) next to the EXACT jaccard and the absolute error —
    the "measure, don't guess" query for choosing k and band shape.
    est_bp = matches·10000 div k and jac_bp = floor(n_inter·10000 /
    n_union) are integer arithmetic end to end, so an independent SQL
    engine replays every row exactly.

    Scale shape: the signature frame is localCheckpointed ONCE and
    reused for banding and for per-pair match counting (the diverged-
    subplan rule — without it the corpus-scale shingle+md5 build runs
    twice); candidates-only pairing (never all-pairs); the exact
    jaccard runs array_intersect on the candidate pairs' own shingle
    arrays, bounded by the banding's output."""
    sh, sig = portable_minhash_parts(df, text_col, id_col, n_hashes, shingle_n)
    sig = sig.localCheckpoint(eager=True)
    cands = portable_band_candidates(sig, id_col, n_hashes // bands)
    sig_arr = sig.groupBy(id_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "mh"))), lambda x: x["mh"]
        ).alias("sig")
    )
    # sets is referenced from BOTH pair sides (a_set/b_set): without the
    # checkpoint the corpus-scale scan+shingle build executes twice (the
    # diverged-subplan rule; plan-pinned in tests/test_plans.py)
    sets = (
        sh.groupBy(id_col)
        .agg(F.array_sort(F.collect_list("s")).alias("shs"))
        .localCheckpoint(eager=True)
    )
    a_sig = sig_arr.select(F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a"))
    b_sig = sig_arr.select(F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b"))
    a_set = sets.select(F.col(id_col).alias("id_a"), F.col("shs").alias("shs_a"))
    b_set = sets.select(F.col(id_col).alias("id_b"), F.col("shs").alias("shs_b"))
    n_inter = F.size(F.array_intersect("shs_a", "shs_b"))
    n_union = F.size("shs_a") + F.size("shs_b") - n_inter
    matches = F.size(
        F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v)
    )
    return (
        cands.join(a_sig, "id_a")
        .join(b_sig, "id_b")
        .join(a_set, "id_a")
        .join(b_set, "id_b")
        .select(
            "id_a",
            "id_b",
            F.floor(matches * 10000 / n_hashes).cast("long").alias("est_bp"),
            F.floor(n_inter * 10000 / n_union).cast("long").alias("jac_bp"),
        )
        .withColumn("err_bp", F.abs(F.col("est_bp") - F.col("jac_bp")))
    )


def lsh_recall_report(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 12,
    bands: int = 4,
    shingle_n: int = 2,
    min_jaccard: float = 0.5,
) -> DataFrame:
    """One-row LSH quality report: confusion counts of the banded
    candidate set against exact-jaccard ground truth at `min_jaccard` —
    tp (true pairs surfaced), fn (true pairs MISSED by banding: the
    recall gap), fp (candidates below threshold: the verify-tier load),
    and recall_bp = tp·10000 div (tp+fn). The empirical check of the
    banding recall floor the unit tests pin by construction; integer
    counts, so fully oracle-replayable.

    Both sides are corpus-scale joins but candidates-only on the LSH
    side; the exact side is the oracle-bearing inverted-index verifier
    (documented quadratic tier — this is a MEASUREMENT query, run at
    audit time, not in the per-batch path)."""
    truth = ngram_jaccard_pairs(
        df, text_col, id_col, shingle_n=shingle_n, min_jaccard=min_jaccard
    ).select("id_a", "id_b", F.lit(1).alias("__t"))
    pred = minhash_lsh_candidates_portable(
        df, text_col, id_col, n_hashes=n_hashes, bands=bands, shingle_n=shingle_n
    ).select("id_a", "id_b", F.lit(1).alias("__p"))
    merged = truth.join(pred, ["id_a", "id_b"], "full_outer")
    tp = F.sum(
        F.when(F.col("__t").isNotNull() & F.col("__p").isNotNull(), 1).otherwise(0)
    )
    fn = F.sum(
        F.when(F.col("__t").isNotNull() & F.col("__p").isNull(), 1).otherwise(0)
    )
    fp = F.sum(
        F.when(F.col("__t").isNull() & F.col("__p").isNotNull(), 1).otherwise(0)
    )
    return merged.agg(
        tp.cast("long").alias("tp"),
        fn.cast("long").alias("fn"),
        fp.cast("long").alias("fp"),
    ).select(
        "tp",
        "fn",
        "fp",
        F.floor(F.col("tp") * 10000 / (F.col("tp") + F.col("fn")))
        .cast("long")
        .alias("recall_bp"),
    )


def incremental_dedup(
    delta: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 2,
    min_jaccard: float = 0.5,
    max_doc_count: int | None = None,
    dfreq: DataFrame | None = None,
) -> DataFrame:
    """Admit only the delta rows that are new versus an EXISTING corpus
    — the daily-crawl pattern: the already-deduped 100 TB corpus must
    never re-pair with itself; each day's delta screens against it in
    cost proportional to the delta.

    Two screens: (1) exact — left-anti on the normalized text hash
    (one shuffle keyed by a 128-bit digest; at scale the corpus side is
    a persisted hash index, pay-once); (2) near-dup — the inverted-index
    jaccard restricted to CROSS pairs by construction (delta postings
    join corpus postings: a delta×delta or corpus×corpus pair can never
    form), so a hot shingle costs |delta_f|·|corpus_f| — linear in the
    corpus for a bounded delta, never the corpus-quadratic
    (|corpus_f|²) of a full re-dedup. `max_doc_count` optionally prunes
    hot shingles from the CORPUS index by absolute posting length (the
    scale-invariant cutoff; see ngram_jaccard_pairs CALIBRATION).

    Intra-delta duplicates are NOT collapsed here — that is the batch
    lattice's job (`q_dedup_pipeline`) on the admitted rows. Returns
    the admitted delta rows unchanged.

    `dfreq`: optional precomputed CORPUS-side (sh, __df) frame
    (`shingle_dfreq` over the corpus, same shingle_n and the same
    >= shingle_n token bound) for the pruning branch — the frame the
    calibration already materialized; same share-one-pass contract as
    ngram_jaccard_pairs."""
    if dfreq is not None and max_doc_count is None:
        raise ValueError(
            "dfreq was passed but max_doc_count is not set — the "
            "precomputed document frequencies would be ignored"
        )
    dh = delta.withColumn("__h", normalized_hash(text_col))
    ch = corpus.select(normalized_hash(text_col).alias("__h")).distinct()
    no_exact = dh.join(ch, "__h", "left_anti").drop("__h")

    def _postings(df: DataFrame) -> DataFrame:
        # docs with fewer than shingle_n tokens have no real n-gram —
        # excluding them (vs a hardcoded >= 2) keeps shingles() from
        # emitting its whole-text fallback as a pseudo-posting when
        # shingle_n > 2 (mirror any oracle on the same bound)
        return (
            df.filter(F.size(tokens(text_col)) >= shingle_n)
            .select(
                F.col(id_col),
                F.explode(F.array_distinct(shingles(text_col, shingle_n))).alias("s"),
            )
            .select(id_col, F.xxhash64("s").alias("sh"))
            .dropDuplicates()
        )

    dp = _postings(no_exact)
    cp = _postings(corpus)
    if max_doc_count is not None:
        if dfreq is None:
            dfreq = cp.groupBy("sh").agg(F.count(F.lit(1)).alias("__df"))
        hot = dfreq.filter(F.col("__df") > max_doc_count).select("sh")
        cp = cp.join(F.broadcast(hot), "sh", "left_anti")
        dp = dp.join(F.broadcast(hot), "sh", "left_anti")
    d_sizes = dp.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_d"))
    c_sizes = cp.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_c"))
    inter = (
        dp.select(F.col(id_col).alias("id_d"), "sh")
        .join(cp.select(F.col(id_col).alias("id_c"), "sh"), "sh")
        .repartition("id_d", "id_c")
        .groupBy("id_d", "id_c")
        .agg(F.count(F.lit(1)).alias("n_inter"))
        .join(d_sizes.select(F.col(id_col).alias("id_d"), "n_d"), "id_d")
        .join(c_sizes.select(F.col(id_col).alias("id_c"), "n_c"), "id_c")
    )
    rejected = (
        inter.withColumn(
            "__j",
            F.floor(
                F.col("n_inter") / (F.col("n_d") + F.col("n_c") - F.col("n_inter")) * 10000
            )
            / 10000,
        )
        .filter(F.col("__j") >= min_jaccard)
        .select(F.col("id_d").alias(id_col))
        .distinct()
    )
    return no_exact.join(rejected, id_col, "left_anti")


def duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    gram_n: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """Maximal duplicated token spans per document — exact SUBSTRING
    dedup (Lee et al., "Deduplicating Training Data Makes Language
    Models Better", ACL 2022): document-level dedup misses boilerplate
    (licenses, headers, templates) pasted INSIDE otherwise-unique
    documents; this finds every token position whose gram_n-gram occurs
    >= min_count times corpus-wide and merges overlapping/adjacent hits
    into maximal [span_start, span_end) spans, the removal targets.

    Plan: grams with positions come free from posexplode over the
    per-row shingle array (no shuffle); duplication is a COUNT window
    over the gram hash — ONE exchange keyed by xxhash64(gram), no
    aggregate-and-join-back (the paper's suffix array is a single-node
    construction; corpus-wide gram counting is its shuffle-native
    equivalent at this gram length). The interval merge is the classic
    running-max window per doc: a hit starts a new span iff its start
    exceeds every previous hit's end. Hot grams (boilerplate in f·N
    docs) make a fat COUNT partition — linear, never quadratic: nothing
    ever pairs occurrences with each other.

    Returns (id, span_start, span_end, span_tokens); span_end is
    exclusive. Docs shorter than gram_n have no grams and never appear.
    """
    toks = tokens(text_col)
    occ = df.filter(F.size(toks) >= gram_n).select(
        F.col(id_col),
        F.posexplode(shingles(text_col, gram_n)).alias("start", "g"),
    )
    counted = occ.withColumn(
        "__cnt", F.count(F.lit(1)).over(Window.partitionBy(F.xxhash64("g")))
    )
    marked = counted.filter(F.col("__cnt") >= min_count).select(
        id_col, "start", (F.col("start") + gram_n).alias("__end")
    )
    w = Window.partitionBy(id_col).orderBy("start")
    prev_end = F.max("__end").over(w.rowsBetween(Window.unboundedPreceding, -1))
    flagged = marked.withColumn(
        "__new", F.when(F.col("start") > F.coalesce(prev_end, F.lit(-1)), 1).otherwise(0)
    )
    spans = flagged.withColumn(
        "__span", F.sum("__new").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return spans.groupBy(id_col, "__span").agg(
        F.min("start").alias("span_start"),
        F.max("__end").alias("span_end"),
        (F.max("__end") - F.min("start")).alias("span_tokens"),
    ).drop("__span")


def scrub_spans(
    df: DataFrame,
    spans: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "clean_text",
) -> DataFrame:
    """APPLY stage for `duplicate_spans`: rebuild each document's text
    with the tokens inside its [span_start, span_end) spans removed —
    the boilerplate scrubber (detect/apply split mirrors the dedup
    lattice's candidates/apply). Spans attach per doc as one collected
    array (docs without spans keep their text verbatim via the empty
    array), and the removal is a nested higher-order filter — the
    2-arg (token, index) lambda probes the span list with exists() —
    pure per-row codegen after one id-keyed join; the corpus never
    shuffles its bodies beyond that join. Adds `out_col` and
    `n_removed`."""
    per_doc = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("__spans")
    )
    joined = df.join(per_doc, id_col, "left").withColumn(
        "__spans",
        F.coalesce(
            F.col("__spans"),
            F.array().cast("array<struct<span_start:int,span_end:int>>"),
        ),
    )
    toks = tokens(text_col)
    kept = F.filter(
        toks,
        lambda t, i: ~F.exists(
            F.col("__spans"),
            lambda s: (i >= s["span_start"]) & (i < s["span_end"]),
        ),
    )
    return (
        joined.withColumn(out_col, F.array_join(kept, " "))
        .withColumn("n_removed", (F.size(toks) - F.size(kept)).cast("int"))
        .drop("__spans")
    )


def prefix_jaccard_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 2,
    min_jaccard: float = 0.5,
) -> DataFrame:
    """LOSSLESS candidate pairs for exact Jaccard >= t via prefix
    filtering (All-Pairs/PPJoin, Bayardo et al. WWW'07 / Xiao et al.
    WWW'08): order every document's shingles by ascending document
    frequency (rarest first) and index only the first
    |A| - ceil(t*|A|) + 1 of them; two sets with jaccard >= t MUST share
    a shingle inside both prefixes, so the prefix-x-prefix equi-join
    loses no true pair while never indexing the hot tail.

    Why this beats both siblings at scale:
    - vs the full inverted index (`ngram_jaccard_pairs`): a stopword
      shingle in f*N docs lands in the df-ordered SUFFIX of nearly every
      document, so it is simply not indexed — the (f*N)^2 worst
      partition never exists — yet the result is still EXACT (the
      df-pruned form pays for the same effect with changed semantics).
    - the size-ratio filter rides the join condition (jaccard >= t
      forces |B| >= t*|A|), pruning size-incompatible pairs before the
      pair distinct.

    Plan shape: document frequency and per-doc size/rank all come from
    WINDOW functions over the one shingle stream (two exchanges: by
    shingle, then by doc) — no diverged aggregate-and-join-back, so the
    shingle scan executes once per join side and Spark's ReuseExchange
    dedups the identical a/b subplans below the self-join. Shuffle rows
    are (shingle_hash, id, size) prefixes only. Candidates then go to
    `jaccard_verify_pairs`, which is per-pair codegen.

    PROBING-PREFIX asymmetry (All-Pairs §3.2, r13, always on): for a
    pair with |A| <= |B| (ties by id), jaccard >= t forces overlap
    alpha >= t(|A|+|B|)/(1+t) >= 2t/(1+t)·|A| — so the SMALLER side
    only needs its first |A| - ceil(2t/(1+t)·|A|) + 1 postings in the
    join (~|A|/3 at t=0.5 vs the ~|A|/2 indexing prefix), while the
    larger side keeps the full indexing prefix (alpha >= t·|B| needs
    the size filter |A| >= t·|B|, which rides the join). The join is
    ordered — probe side strictly (size, id)-smaller — so each pair is
    generated once and the output is normalized to id_a < id_b.
    """
    probe_frac = 2.0 * min_jaccard / (1.0 + min_jaccard)
    sh = shingle_postings(df, text_col, id_col, shingle_n)
    w_df = Window.partitionBy("sh")
    w_doc = Window.partitionBy(id_col)
    w_rank = Window.partitionBy(id_col).orderBy("__df", "sh")
    ranked = (
        sh.withColumn("__df", F.count(F.lit(1)).over(w_df))
        .withColumn("n_sh", F.count(F.lit(1)).over(w_doc))
        .withColumn("__rk", F.row_number().over(w_rank))
    )
    index_len = F.col("n_sh") - F.ceil(F.lit(min_jaccard) * F.col("n_sh")) + 1
    probe_len = F.col("n_sh") - F.ceil(F.lit(probe_frac) * F.col("n_sh")) + 1
    a = ranked.filter(F.col("__rk") <= probe_len).select(
        F.col(id_col).alias("id_a"), "sh", F.col("n_sh").alias("n_a")
    )
    b = ranked.filter(F.col("__rk") <= index_len).select(
        F.col(id_col).alias("id_b"), "sh", F.col("n_sh").alias("n_b")
    )
    joined = a.join(b, "sh").filter(
        # probe side strictly (size, id)-smaller: each unordered pair
        # appears exactly once, with the smaller doc probing
        (
            (F.col("n_a") < F.col("n_b"))
            | ((F.col("n_a") == F.col("n_b")) & (F.col("id_a") < F.col("id_b")))
        )
        & (F.col("n_a") >= F.col("n_b") * min_jaccard)
    )
    # the ~2x-duplicated join output feeds jaccard_verify_pairs
    # (measured at sf0.1: candidates 13.7s -> 6.5s, 2 Exchange -> 1)
    return spread_pairs(
        joined.select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
        )
    )


def jaccard_verify_pairs(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 2,
    min_jaccard: float = 0.5,
    broadcast_sets: bool = False,
) -> DataFrame:
    """Exact-Jaccard VERIFY stage for LSH candidate pairs: the true
    shingle Jaccard computed for each candidate pair ONLY — never all
    pairs. This is the middle of the production lattice (candidates →
    VERIFY → cluster → apply): LSH recall is probabilistic, the verify
    makes the kept edges exact, so downstream clustering is deterministic
    and engine-checkable.

    Scale: every shuffle key is an id. The per-doc distinct-shingle
    arrays attach to the (LSH-pruned) pair list via two id joins —
    candidate pairs are a small fraction of the corpus, so AQE picks
    broadcast/shuffled-hash by actual size — and the set intersection
    runs per pair inside codegen (array_intersect), O(|a|+|b|) per row.
    The arrays hold xxhash64'd shingles, not strings: long equality in
    the intersect instead of string hashing (same collision-free-at-any-
    realistic-scale assumption as every hashed index here; measured
    13.0s → 8.8s on a 5.5M-pair verify). Set `broadcast_sets=True` when
    the corpus side is known-small relative to the pair stream (e.g. a
    prefix-filter candidate join over a dense corpus, where pairs ≫
    docs): Catalyst's plan-time size estimate for exploded-array frames
    overshoots, so AQE can fall back to sort-merge and shuffle the pair
    stream twice — measured 145.7s → ~23s on q_jaccard_prefix at sf0.1.
    Leave False when the corpus side may be large (q_dedup_pipeline at
    100 TB: per-doc arrays cannot broadcast; the id-key shuffle join is
    the correct plan). Jaccard is floor-truncated to 4 decimals
    (`_trunc` rule) so the threshold compare is bit-identical across
    engines."""
    sets = df.select(
        F.col(id_col),
        F.array_distinct(
            F.transform(
                F.array_distinct(shingles(text_col, shingle_n)),
                lambda x: F.xxhash64(x),
            )
        ).alias("__sh"),
    ).filter(F.size("__sh") > 0)
    sa = sets.select(F.col(id_col).alias("id_a"), F.col("__sh").alias("__sa"))
    sb = sets.select(F.col(id_col).alias("id_b"), F.col("__sh").alias("__sb"))
    if broadcast_sets:
        sa, sb = F.broadcast(sa), F.broadcast(sb)
    p = pairs.select("id_a", "id_b").join(sa, "id_a").join(sb, "id_b")
    n_inter = F.size(F.array_intersect("__sa", "__sb")).cast("double")
    n_union = (F.size("__sa") + F.size("__sb")).cast("double") - n_inter
    j = F.floor(n_inter / n_union * 10000) / 10000
    return (
        p.select("id_a", "id_b", j.alias("jaccard"))
        .filter(F.col("jaccard") >= min_jaccard)
    )


def rejoin_singleton_labels(
    all_ids: DataFrame, labels: DataFrame, id_col: str
) -> DataFrame:
    """Attach component labels to the FULL id universe: ids in no edge
    keep their own id as cluster_id. `labels` carries (node,
    cluster_id)."""
    return all_ids.select(F.col(id_col)).join(
        labels, all_ids[id_col] == labels.node, "left"
    ).select(
        F.col(id_col),
        F.coalesce(F.col("cluster_id"), F.col(id_col)).alias("cluster_id"),
    )


def _min_labels_one_task(edges: DataFrame) -> DataFrame:
    """(node, cluster_id = min id of its component) over a checkpointed
    directed edge list holding both directions, solved in ONE task: the
    task reads every edge partition (`coalesce(1)`: checkpointed blocks
    need no shuffle) and numpy runs min-label propagation with full
    pointer jumping to a fixpoint. No Spark job runs until the result is
    consumed, and the solve has no round cap (each pass lowers a label or
    stops). Ids keep the edge list's type."""
    id_type = edges.schema["src"].dataType.simpleString()

    def solve(batches):
        import numpy as np
        import pandas as pd

        frames = list(batches)
        if not frames:
            return
        src = np.concatenate([f["src"].to_numpy(np.int64) for f in frames])
        dst = np.concatenate([f["dst"].to_numpy(np.int64) for f in frames])
        # dense ids in sorted order, so the min index IS the min node id
        nodes, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
        u, v = inv[: src.size], inv[src.size:]
        lab = np.arange(nodes.size)
        while True:
            prev = lab
            lab = prev.copy()
            np.minimum.at(lab, u, prev[v])
            jumped = lab[lab]
            while not np.array_equal(jumped, lab):
                lab, jumped = jumped, jumped[jumped]
            if np.array_equal(lab, prev):
                break
        yield pd.DataFrame({"node": nodes, "cluster_id": nodes[lab]})

    return edges.coalesce(1).mapInPandas(solve, "node long, cluster_id long").select(
        F.col("node").cast(id_type).alias("node"),
        F.col("cluster_id").cast(id_type).alias("cluster_id"),
    )


def _min_labels_rounds(edges: DataFrame, max_iters: int, ckpt) -> DataFrame:
    """Distributed form of `_min_labels_one_task` for edge lists above the
    one-task gate: min-label propagation with POINTER-JUMPING (path
    halving), one checkpointed round at a time. Each round takes every
    node's min over its neighbors' labels and its own, then compresses
    once through label := label(label), so a min travels two hops per
    round: O(log diameter) rounds (pinned on a 200-node path in tests).
    Round shape: ONE shuffle aggregate over the union of the neighbor-
    label and self-label streams takes both the new min and (via a
    null-padded carry column) the old label, so the fixpoint probe is a
    filter over the checkpointed round output. Raises RuntimeError when
    labels still move after `max_iters` update rounds."""
    # iterate ONLY over edge-connected nodes: a node in no pair can never
    # change its label; singletons rejoin at the end
    labels = edges.select(F.col("src").alias("node")).distinct().withColumn(
        "cluster_id", F.col("node")
    )
    # max_iters counts label-UPDATE rounds; a graph whose last update lands
    # exactly on round max_iters is already converged, but the changed==0
    # probe that proves it runs inside the next round — so run up to
    # max_iters + 1 rounds and treat changed==0 as the only termination.
    for _ in range(max_iters + 1):
        # min over neighbors' labels AND the node's own, in one grouped
        # aggregate: neighbor stream carries __old = null, the self
        # stream carries __old = current label, so min(__old) (nulls
        # ignored) recovers the pre-round label for the changed test
        contrib = edges.join(labels, edges.dst == labels.node).select(
            F.col("src").alias("node"),
            "cluster_id",
            F.lit(None).cast("long").alias("__old"),
        )
        selfb = labels.select(
            "node", "cluster_id", F.col("cluster_id").alias("__old")
        )
        prop = (
            contrib.unionByName(selfb)
            .groupBy("node")
            .agg(
                F.min("cluster_id").alias("cluster_id"),
                F.min("__old").alias("__old"),
            )
        )
        # path halving: one label-of-label lookup per round. lab2 re-states
        # the prop subtree (agg joined back to itself); AQE's ReuseExchange
        # dedups the identical union-aggregate exchange, so only the final
        # aggregate runs twice
        lab2 = prop.select(
            F.col("node").alias("__n2"), F.col("cluster_id").alias("__l2")
        )
        new_labels = ckpt(
            prop.join(lab2, prop.cluster_id == F.col("__n2"), "left")
            .select(
                "node",
                F.coalesce(F.col("__l2"), F.col("cluster_id")).alias("cluster_id"),
                (
                    F.coalesce(F.col("__l2"), F.col("cluster_id")) < F.col("__old")
                ).alias("__chg"),
            )
        )
        changed = new_labels.filter("__chg").limit(1).count()
        labels = new_labels.drop("__chg")
        if changed == 0:
            return labels
    # a component whose label still moves after max_iters rounds would
    # get WRONG cluster ids silently: fail loudly instead
    raise RuntimeError(
        f"cluster_duplicates did not converge in {max_iters} iterations; "
        "a component needs more rounds — raise max_iters"
    )


def cluster_duplicates(
    pairs: DataFrame,
    all_ids: DataFrame,
    id_col: str = "doc_id",
    max_iters: int = 20,
    reliable_checkpoint: bool = False,
) -> DataFrame:
    """Connected components over a near-duplicate pair list: every node
    gets `cluster_id` = min id reachable through pair edges (singletons
    keep their own id). THE final dedup step — candidates (LSH) →
    verified pairs (Jaccard/cosine) → components → keep one per cluster
    — and the engine's one connected-components implementation
    (graph.two_star_components calls it).

    The pair list is materialized ONCE as a directed edge list holding
    both directions (one explode pass over `pairs`, which is typically an
    expensive LSH/verify pipeline) and counted. At or under
    `_CC_BROADCAST_MAX_EDGES` directed edges the graph is solved in one
    task (`_min_labels_one_task`): building the result runs only the
    checkpoint and the count, whatever the graph's shape. Above it the
    distributed pointer-jumping rounds run (`_min_labels_rounds`), one
    checkpoint per round, and `max_iters` caps them (RuntimeError past
    it); the one-task solve has no round cap.

    Checkpoint durability: the default `localCheckpoint` stores blocks on
    executors ONLY — fast (no DFS round-trip), but on a real cluster a
    lost executor makes the truncated lineage unrecoverable and fails the
    job. For cluster runs set `reliable_checkpoint=True` and configure
    `spark.sparkContext.setCheckpointDir(<dfs path>)` first. On local[n]
    (one JVM) the distinction is moot, so local stays default.
    """
    def ckpt(df: DataFrame) -> DataFrame:
        if reliable_checkpoint:
            return df.checkpoint(eager=True)
        return df.localCheckpoint(eager=True)

    edges = ckpt(
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
                    F.struct(F.col("id_b").alias("src"), F.col("id_a").alias("dst")),
                )
            ).alias("__e")
        ).select("__e.src", "__e.dst")
    )
    # edges are checkpointed, so this count reads cached blocks
    if edges.count() <= _CC_BROADCAST_MAX_EDGES:
        # the labels are node-sized and under the gate (~16 B a row), so
        # they ride a broadcast and the corpus-sized all_ids never shuffles
        labels = F.broadcast(_min_labels_one_task(edges))
    else:
        labels = _min_labels_rounds(edges, max_iters, ckpt)
    return rejoin_singleton_labels(all_ids, labels, id_col)


def apply_dedup(
    df: DataFrame,
    clusters: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Materialize the dedup decision: keep only each cluster's
    representative (the row whose id equals its cluster_id — the minimum
    id in the component, as assigned by cluster_duplicates). The final
    stage of the candidates → verify → cluster → APPLY pipeline."""
    keepers = clusters.filter(F.col(id_col) == F.col("cluster_id")).select(id_col)
    return df.join(keepers, on=id_col, how="left_semi")


def shingle_dfreq(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 2,
) -> DataFrame:
    """Materialized per-shingle document-frequency frame (sh: xxhash64,
    __df: long), localCheckpointed eagerly — the ONE corpus pass that
    both the calibration (`calibrated_df_cutoff(dfreq=...)`) and the
    pruned join (`ngram_jaccard_pairs(dfreq=...)`) can then share:
    without sharing, the calibrated lattice paid the shingle build
    twice (once to derive the cutoff, once inside the join's pruning
    branch). The frame is vocab-sized, so the checkpoint is cheap."""
    sh = shingle_postings(df, text_col, id_col, shingle_n)
    return (
        sh.groupBy("sh").agg(F.count(F.lit(1)).alias("__df"))
        .localCheckpoint(eager=True)
    )


def calibrated_df_cutoff(
    df: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 2,
    median_bp: int = 9000,
    min_cutoff: int = 8,
    dfreq: DataFrame | None = None,
) -> int:
    """ORACLE-PORTABLE absolute pruning cutoff derived from corpus stats
    (r09 verdict #8): cutoff = max(min_cutoff, median_bp·median(df) div
    10000), where median(df) is the exact discrete median of the
    per-shingle document-frequency distribution.

    Why median-anchored instead of a df FRACTION of doc count (the fixed
    `max_doc_frac` rule) or a tail quantile of the df distribution:

    - a fixed FRACTION is density-fragile — when vocabulary grows with
      the corpus (the suffix-disjoint 10x probe), per-shingle dfs stay
      constant while doc count grows, the frac threshold runs away, and
      pruning deactivates (measured alpha 1.47 vs 0.45, SCALING.json);
      the MEDIAN df is a per-shingle density stat, so it stays put under
      vocabulary growth (pruning survives) and scales 1:1 with df under
      same-vocabulary growth (identical to the frac rule there);
    - a tail quantile of the df distribution (percentile_approx) prunes a
      fixed fraction OF SHINGLES — right for Zipfian text, but on a
      dense bounded-vocabulary corpus the hot mass is most of the
      vocabulary, the 99.9th percentile is ~max(df), and nothing prunes;
      it is also approx, hence not oracle-replayable.

    Exactness: the median rides operators/quantiles.exact_rank_values
    (value AT a rank — tie-order independent, integer rank arithmetic),
    so a SQL oracle replays it verbatim as ROW_NUMBER-ORDER-BY-df at
    rank GREATEST(1, (5000·n + 9999) // 10000), then
    GREATEST(min_cutoff, (median_bp · m) // 10000). Cost: O(log)
    bounded-state aggregate scans over the vocab-sized df frame; pass
    `dfreq=shingle_dfreq(...)` and hand the SAME frame to
    `ngram_jaccard_pairs(dfreq=...)` so the corpus-scale shingle build
    runs once for calibration AND pruning. Nothing corpus-sized reaches
    the driver."""
    from nyc_bikeshare_datawarehouse_spark.operators.quantiles import (
        exact_rank_values,
    )

    if (df is None) == (dfreq is None):
        raise ValueError("pass exactly one of df / dfreq")
    if dfreq is None:
        # shingle_dfreq checkpoints the vocab-sized frame ONCE:
        # exact_rank_values runs 2+ jobs over it, and without the
        # checkpoint each would re-execute the corpus-scale shingle
        # build (the diverged-subplan rule)
        dfreq = shingle_dfreq(df, text_col, id_col, shingle_n)
    med = int(next(iter(exact_rank_values(dfreq, "__df", quantiles_bp=[5000]).values())))
    return max(min_cutoff, (median_bp * med) // 10000)


def _shingle_overlap(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int,
    max_doc_frac: float | None,
    max_doc_count: int | None,
    pack_ids: bool,
    dfreq: DataFrame | None,
) -> DataFrame:
    """Shared-shingle pair counter under every n-gram overlap measure:
    (id_a < id_b, n_inter, n_a, n_b) for each doc pair sharing >= 1
    kept shingle, with n_a/n_b the per-doc kept-shingle set sizes.

    Inverted-index join: explode distinct shingles, self-equi-join on the
    shingle, count intersections per pair. Shuffles move (shingle_hash,
    id) pairs only; sizes attach to the (much smaller) aggregated pair
    table.

    df PRUNING (`max_doc_frac` / `max_doc_count`, either or both; a
    shingle is pruned when it exceeds EITHER): a shingle in d docs
    contributes d² pairs to ONE join partition, so hot shingles are
    dropped from the index before the self-join, and intersections AND
    sizes are measured over the kept-shingle universe — the measure
    stays a true measure on the reduced feature space, which the pruned
    oracles replay exactly. `dfreq` is an optional precomputed
    (sh, __df) frame (`shingle_dfreq`) for that branch — pass the frame
    the calibration already materialized so the shingle build is not
    paid twice; it MUST come from the same (df, text_col, id_col,
    shingle_n), or the pruned universe diverges from the sizes.

    Pair counts are repartitioned on the pair BEFORE counting: a pair's
    shared shingles are scattered across join tasks, so the default
    partial aggregate dedups almost nothing while building a multi-
    million-entry hash map per task (spill-prone at this cardinality).
    Pre-partitioning satisfies the aggregation's distribution
    requirement, so Catalyst plans ONE HashAggregate after the exchange
    — same shuffle volume, half the CPU (measured 42s -> 22s at sf0.1).
    No partition count: inherits spark.sql.shuffle.partitions / AQE.

    `pack_ids` packs the pair into ONE long (`id_a << 32 | id_b`) through
    the count shuffle — one 8-byte key instead of two, one hash/compare
    per row (measured 20.6s→16.5s on the sf0.1 pair count). PRECONDITION:
    both ids must fit 31 unsigned bits. Both halves of that precondition
    are enforced in the plan itself: ids are cast to LONG before the
    shift (an IntegerType id would otherwise shift within 32 bits — a
    no-op shift producing garbage keys even for small values), and a
    codegen-side range check raises a loud runtime error on any id
    outside [0, 2^31) instead of silently colliding (tested). The check
    rides the per-DOC sizes branch (one branch per document, ZERO cost on
    the quadratic pair stream); it wraps the sizes join key, so no result
    row can be produced before every packed id has passed it. Results are
    identical to the unpacked path (tested)."""
    if dfreq is not None and max_doc_frac is None and max_doc_count is None:
        # dfreq only feeds the pruning branch; accepting it without a
        # cutoff would silently run the UNPRUNED join against the
        # caller's expectation of a pruned one
        raise ValueError(
            "dfreq was passed but no df cutoff (max_doc_frac / "
            "max_doc_count) is set — the precomputed document "
            "frequencies would be ignored"
        )
    sh = shingle_postings(df, text_col, id_col, shingle_n)
    if max_doc_frac is not None or max_doc_count is not None:
        if dfreq is None:
            dfreq = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("__df"))
        conds = []
        if max_doc_frac is not None:
            n_docs = df.select(F.countDistinct(id_col).alias("__nd"))
            dfreq = dfreq.crossJoin(F.broadcast(n_docs))
            conds.append(F.col("__df") > F.col("__nd") * max_doc_frac)
        if max_doc_count is not None:
            conds.append(F.col("__df") > F.lit(max_doc_count))
        cond = conds[0]
        for c in conds[1:]:
            cond = cond | c
        hot = dfreq.filter(cond).select("sh")
        # hot shingles are few by construction -> broadcast anti join;
        # sizes below are computed over the KEPT shingles
        sh = sh.join(F.broadcast(hot), "sh", "left_anti")
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    # slim postings: the candidate shuffle carries (sh, id) only
    a, b = sh.alias("a"), sh.alias("b")
    joined = a.join(b, "sh").filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    idc = F.col(id_col)
    if pack_ids:
        pair_counts = (
            joined.select(
                # LONG cast is mandatory: an IntegerType id would shift
                # mod 32 in the JVM (a no-op), producing garbage packed
                # keys even for small values
                F.shiftleft(F.col(f"a.{id_col}").cast("long"), 32)
                .bitwiseOR(F.col(f"b.{id_col}").cast("long"))
                .alias("__pk")
            )
            .repartition("__pk")
            .groupBy("__pk")
            .agg(F.count(F.lit(1)).alias("n_inter"))
            .select(
                F.shiftright("__pk", 32).alias("id_a"),
                F.col("__pk").bitwiseAND(F.lit((1 << 32) - 1)).alias("id_b"),
                "n_inter",
            )
        )
        # Range guard on the per-DOC sizes branch (one row per doc, not
        # per pair): an id outside [0, 2^31) would collide silently in
        # the packed key, so raise loudly instead. The checked column
        # IS the join key, so it cannot be pruned, and every packed id
        # flows through sa/sb — the join cannot emit a single result
        # row before the guard has seen (and rejected) a bad id.
        idc = F.when((idc >= 0) & (idc < (1 << 31)), idc).otherwise(
            F.raise_error(
                F.concat(
                    F.lit("pack_ids requires 0 <= id < 2^31, got "),
                    F.col(id_col).cast("string"),
                )
            ).cast(sizes.schema[id_col].dataType)
        )
    else:
        pair_counts = (
            joined.select(
                F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
            )
            .repartition("id_a", "id_b")
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("n_inter"))
        )
    sa = sizes.select(idc.alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(idc.alias("id_b"), F.col("n_sh").alias("n_b"))
    return pair_counts.join(sa, "id_a").join(sb, "id_b")


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 2,
    min_jaccard: float = 0.2,
    max_doc_frac: float | None = None,
    max_doc_count: int | None = None,
    pack_ids: bool = False,
    dfreq: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for all pairs sharing >= 1 shingle:
    |A∩B| / (|A|+|B|-|A∩B|) over the `_shingle_overlap` pair counts
    (inverted-index join, df pruning, `pack_ids` and `dfreq` contracts
    documented there).

    Hot shingles (stopword n-grams) are the skew killer at scale: a
    shingle present in f·N docs contributes (f·N)² candidate pairs to ONE
    join partition. `max_doc_frac` prunes shingles appearing in more than
    that fraction of documents; a stopword shingle carries ~no similarity
    signal, so recall loss is negligible while the worst partition
    shrinks quadratically. Default None = off (exact semantics, matches
    the SQL oracle).

    CALIBRATION (scaling-probe finding, BASELINE.md round 6): a FRACTION
    threshold is a corpus-density property, not a constant — on a corpus
    whose vocabulary grows with size (so per-shingle doc-frequency
    fractions shrink), a fixed frac stops pruning and the cost reverts
    toward quadratic (measured alpha 1.48 vs 0.45 at 10x). When the df
    distribution at the target scale is unknown, prefer `max_doc_count`:
    an ABSOLUTE posting-length cutoff. A shingle's join cost is
    (posting length)² regardless of corpus size, so a count cutoff bounds
    the worst partition absolutely and is scale-invariant by
    construction."""
    inter = _shingle_overlap(
        df, text_col, id_col, shingle_n, max_doc_frac, max_doc_count, pack_ids, dfreq
    )
    return (
        inter
        .withColumn(
            "jaccard",
            # floor-truncation, not round: exact on the bit-identical double
            # produced by int/int division (see plans/queries._trunc)
            F.floor(F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")) * 10000)
            / 10000,
        )
        .filter(F.col("jaccard") >= min_jaccard)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 2,
    min_containment: float = 0.8,
    pack_ids: bool = False,
    max_doc_count: int | None = None,
    dfreq: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram CONTAINMENT for all pairs sharing >= 1 shingle:
    |A ∩ B| / min(|A|, |B|) — the asymmetric cousin of jaccard that
    catches SUB-document duplication (a short doc quoted inside a long
    one scores near 1.0 here while its jaccard stays low, because the
    union is dominated by the long doc). The standard screen for
    quote-inclusion / boilerplate-embedding in pretraining corpora
    (Broder's containment, public resemblance/containment literature).

    Same `_shingle_overlap` pair counts as `ngram_jaccard_pairs`, only the
    final measure differs, so every scale property (and the df-pruning
    guidance there) carries over. Containment is floor-truncated to 4
    decimals (`_trunc` rule) before the threshold compare."""
    inter = _shingle_overlap(
        df, text_col, id_col, shingle_n, None, max_doc_count, pack_ids, dfreq
    )
    return (
        inter
        .withColumn(
            "containment",
            F.floor(F.col("n_inter") / F.least("n_a", "n_b") * 10000) / 10000,
        )
        .filter(F.col("containment") >= min_containment)
        .select("id_a", "id_b", "containment")
    )
