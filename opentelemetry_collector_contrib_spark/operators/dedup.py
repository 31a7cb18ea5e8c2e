"""Deduplication operators for large-scale training-data pipelines.

Beyond the reference's logdedup (exact per-interval grouping), these
are the web-scale dedup family: exact hash dedup, MinHash+LSH,
SimHash, n-gram Jaccard, embedding-cosine near-dup. All hot paths are
native Column expressions (xxhash64, higher-order array functions) —
no Python in the row loop; the only shuffles are the groupBy on the
dedup key / LSH band key, which is the minimum possible.

Scale notes (100 TB): exact dedup shuffles once on a 64-bit hash
(skew-free by construction). MinHash-LSH shuffles once on
(band_id, band_hash) — band buckets are small by design, so the
self-join explodes only within buckets. Full duplicate-cluster
transitive closure needs an iterative connected-components pass;
retention policy "keep min doc_id per bucket" is the standard
single-pass approximation used here.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W


def explode_nonnull(df: DataFrame, arr: str, alias: str,
                    keep: list[str] | None = None) -> DataFrame:
    """``explode`` of an EXPENSIVE array column without the Catalyst
    InferFiltersFromGenerate trap: for a plain explode, the optimizer
    infers a ``size(arr) > 0 AND arr IS NOT NULL`` filter and pushes it
    below the staged projections, inlining the whole generator chain
    (tokenize -> shingle / winnow) into the Filter — the array chain
    then evaluates several extra times per row (measured 49 s vs ~3 s
    on 5k docs).  ``explode_outer`` is exempt from the rule; the cheap
    post-filter on the GENERATED attribute restores inner-explode
    semantics.  Only valid when array elements are never null (true
    for all shingle/fingerprint arrays here — concat_ws/array_min
    never produce null elements)."""
    cols = [F.col(c) for c in (keep if keep is not None else [])]
    return (df.select(*cols, F.explode_outer(arr).alias(alias))
            .filter(F.col(alias).isNotNull()))


def normalize_text(col: Column) -> Column:
    """Canonical form for dedup: lowercase, collapse whitespace,
    strip non-alphanumerics (keeps spaces)."""
    c = F.lower(col)
    c = F.regexp_replace(c, r"[^a-z0-9\s]", " ")
    return F.trim(F.regexp_replace(c, r"\s+", " "))


def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id", normalize: bool = True,
                collision_safe: bool = False) -> DataFrame:
    """Exact dedup: keep the min-id representative per identical text.

    One shuffle on (xxhash64(text), length(text)) — grouping on the
    64-bit hash plus the length, not the full text, keeps shuffle rows
    narrow at scale while pushing the silent-merge collision rate far
    below the bare-64-bit birthday bound (~2^32 docs): colliding hashes
    must also collide on length.

    ``collision_safe=True`` adds md5 to the grouping key: two texts
    must then collide on two INDEPENDENT hash families (64-bit xxhash64
    AND 128-bit md5) plus length — expected silent merges stay below
    ~1e-20 even at 10^12 documents, while the shuffle row grows only by
    32 hex chars instead of the full text. Group on the full text (wide
    shuffle) only where bit-for-bit exactness is contractual.
    """
    key = normalize_text(F.col(text_col)) if normalize else F.col(text_col)
    staged = (df.withColumn("_k", F.xxhash64(key))
              .withColumn("_klen", F.length(key)))
    group_cols = ["_k", "_klen"]
    if collision_safe:
        staged = staged.withColumn("_k2", F.md5(key))
        group_cols.append("_k2")
    return (staged.groupBy(*group_cols)
            .agg(F.min(id_col).alias(id_col),
                 F.count(F.lit(1)).alias("dup_count"))
            .drop(*group_cols))


def tokens_expr(col: Column) -> Column:
    return F.filter(F.split(normalize_text(col), " "), lambda t: t != F.lit(""))


def ngrams_from_tokens(toks: Column, n: int = 3) -> Column:
    """Word n-gram shingles from a BOUND tokens column.

    ``toks`` must be a real column (plain attribute reference), not an
    inline expression: the sliding-window lambda references it once per
    shingle position, and an inline tokenize chain would be re-evaluated
    per element — O(len^2) per document.
    """
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    return F.when(
        F.size(toks) >= n,
        F.array_distinct(F.transform(
            idx, lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j + 1) for j in range(n)]))),
    ).otherwise(F.array(F.concat_ws(" ", toks)))


def with_shingles(df: DataFrame, text_col: str, out_col: str = "_ng",
                  n: int = 3) -> DataFrame:
    """Stage tokenize -> shingle as separate projections so each
    expensive step evaluates exactly once per row."""
    return (df.withColumn("_toks", tokens_expr(F.col(text_col)))
            .withColumn(out_col, ngrams_from_tokens(F.col("_toks"), n))
            .drop("_toks"))


def _affine_coeffs(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the universal-hash permutation
    family h_i(x) = (a_i*x + b_i) mod 2^32 with a_i odd: a fixed-seed
    PRNG so signatures are stable across runs/executors."""
    import random
    rng = random.Random(0x5EED_C0DE)
    return [((rng.randrange(1 << 29) * 2 + 1), rng.randrange(1 << 32))
            for _ in range(num_hashes)]


def minhash_from_shingles(shingles: Column, num_hashes: int = 16,
                          hash_fn: str = "xxhash64") -> Column:
    """MinHash signature from a BOUND shingle-array column.

    hash_fn="xxhash64" (default, hot path): ARRAY<BIGINT>. Each shingle
    is string-hashed ONCE (xxhash64 folded to 32 bits), then the
    num_hashes "permutations" are affine universal hashes over that
    integer — (a_i*h + b_i) mod 2^32, a_i odd — the standard one-hash
    MinHash construction (same family as datasketch's (a*h+b) mod p):
    k multiply-adds per shingle instead of k full string hashes.  The
    base-hash array is bound via the 1-element-array trick so it
    evaluates once per row, not once per permutation.  a_i < 2^30 and
    h < 2^32 keep a_i*h + b_i < 2^63 — no ANSI bigint overflow.
    hash_fn="md5": ARRAY<STRING> of 8-hex-char prefixes of
    md5(shingle + '#' + i) — byte-identical in DuckDB (both engines
    emit lowercase-hex md5, and min over fixed-width hex strings is
    min over the values), so the oracle can replicate the pipeline.
    """
    if hash_fn == "md5":
        def perm(i: int):
            # closure builder: a `lambda s, i=i` two-param lambda would
            # be bound by pyspark as the (element, array-index) form,
            # silently replacing the permutation seed with the position
            return F.array_min(F.transform(
                shingles,
                lambda s: F.substring(F.md5(F.concat(s, F.lit(f"#{i}"))), 1, 8)))
        return F.array(*[perm(i) for i in range(num_hashes)])

    mask32 = F.lit(0xFFFFFFFF)
    base = F.transform(shingles,
                       lambda s: F.xxhash64(s).bitwiseAND(mask32))

    def mk_perm(a: int, b: int):
        return lambda h: (F.lit(a) * h + F.lit(b)).bitwiseAND(mask32)

    def sig(hs: Column) -> Column:
        return F.array(*[F.array_min(F.transform(hs, mk_perm(a, b)))
                         for a, b in _affine_coeffs(num_hashes)])

    return F.element_at(F.transform(F.array(base), sig), 1)


def minhash_lsh_pairs(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", num_hashes: int = 16,
                      bands: int = 4, ngram: int = 3,
                      threshold: float = 0.5,
                      hash_fn: str = "xxhash64") -> DataFrame:
    """MinHash + LSH banding near-dup pairs.

    shingle -> minhash(num_hashes) -> band (bands x rows) -> bucket
    self-join on (band, band_hash) -> estimate Jaccard as matching
    signature fraction -> filter >= threshold. Output (id_a, id_b,
    est_jaccard) with id_a < id_b, deduplicated across bands.
    ``hash_fn`` as in minhash_from_shingles ("md5" is the
    oracle-replicable mode; xxhash64 the faster native default).
    """
    rows = num_hashes // bands
    sigd = (with_shingles(df.select(id_col, text_col), text_col, "_ng", ngram)
            .withColumn("_sig", minhash_from_shingles(F.col("_ng"), num_hashes,
                                                      hash_fn))
            .select(id_col, "_sig"))

    def band_bucket(b: int) -> Column:
        parts = [F.element_at(F.col("_sig"), b * rows + r + 1).cast("string")
                 for r in range(rows)]
        joined = F.concat_ws(",", *parts)
        return joined if hash_fn == "md5" else F.xxhash64(joined)

    banded = sigd.select(
        id_col, "_sig",
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"), band_bucket(b).alias("bucket"))
            for b in range(bands)])).alias("bb"),
    ).select(id_col, "_sig", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    # NOTE: no checkpoint before the self-join on purpose — both sides
    # compile to identical exchanges and Spark's ReusedExchange already
    # evaluates the shingle+minhash chain once (verified: an explicit
    # localCheckpoint measures SLOWER, pure persist overhead)
    a = banded.select(F.col(id_col).alias("id_a"), F.col("_sig").alias("_sig_a"), "band", "bucket")
    b = banded.select(F.col(id_col).alias("id_b"), F.col("_sig").alias("_sig_b"), "band", "bucket")
    est = (F.size(F.filter(F.zip_with(F.col("_sig_a"), F.col("_sig_b"),
                                      lambda x, y: (x == y).cast("int")),
                           lambda v: v == 1))
           / F.lit(float(num_hashes)))
    # estimate + threshold INSIDE the bucket join, before the cross-band
    # dedup: est_jaccard is functional in the pair, so distinct on the
    # narrow (id_a, id_b, est) triple is equivalent to deduping the
    # signature-carrying rows — but ships 3 scalars per row through the
    # distinct exchange instead of two num_hashes-element arrays, and
    # the threshold filter drops sub-threshold pairs map-side
    return (a.join(b, on=["band", "bucket"])
            .filter(F.col("id_a") < F.col("id_b"))
            .withColumn("est_jaccard", est)
            .filter(F.col("est_jaccard") >= threshold)
            .select("id_a", "id_b", "est_jaccard").distinct())


def _pack_sign_bits(acc: Column, bits: int = 64) -> Column:
    """ARRAY<INT> sign counters -> packed LONG. ``acc`` should be a
    bound column: it is referenced once per bit."""
    out = F.lit(0).cast("long")
    for j in range(bits):
        v = 1 << j
        if v >= 1 << 63:
            v -= 1 << 64  # two's-complement long literal for the sign bit
        out = out.bitwiseOR(
            F.when(F.element_at(acc, j + 1) > 0, F.lit(v).cast("long"))
            .otherwise(F.lit(0).cast("long")))
    return out


def with_simhash(df: DataFrame, text_col: str, out_col: str = "simhash",
                 bits: int = 64, hash_fn: str = "xxhash64") -> DataFrame:
    """Staged SimHash: tokenize -> per-token hash -> bit-count fold ->
    pack, each step its own projection so nothing re-evaluates
    (packing an inline fold would reference it once per bit, 64x).

    hash_fn="xxhash64" (default): per-token native hash, packed LONG out.
    hash_fn="md5": per-token bits come from the first 16 hex chars of
    md5(token) (4 bits per hex digit), and the output is a 64-char
    '0'/'1' string — the construction a DuckDB oracle can replicate
    byte-for-byte (md5 is the only shared hash primitive).
    """
    df = df.withColumn("_toks", tokens_expr(F.col(text_col)))

    if hash_fn == "md5":
        # per token: 16 hex-digit values (64 bits), md5 bound ONCE via
        # the 1-element-array trick (an inline md5 in the digit lambda
        # would be re-evaluated per digit)
        def md5_digits(t: Column) -> Column:
            return F.element_at(
                F.transform(
                    F.array(F.md5(t)),
                    lambda h: F.transform(
                        F.sequence(F.lit(1), F.lit(16)),
                        lambda k: F.conv(h.substr(k, F.lit(1)), 16, 10).cast("int"))),
                1)

        df = df.withColumn("_hashes", F.transform(F.col("_toks"), md5_digits))

        def bit_vec(dig: Column) -> Column:
            return F.array(*[
                F.when(F.shiftright(F.element_at(dig, j // 4 + 1), j % 4)
                       .bitwiseAND(F.lit(1)) == 1, F.lit(1)).otherwise(F.lit(-1))
                for j in range(bits)
            ])
    else:
        df = df.withColumn("_hashes",
                           F.transform(F.col("_toks"), lambda t: F.xxhash64(t)))

        def bit_vec(h: Column) -> Column:
            return F.array(*[
                F.when(F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, F.lit(1))
                .otherwise(F.lit(-1))
                for j in range(bits)
            ])

    df = df.withColumn("_acc", F.aggregate(
        F.col("_hashes"), F.array_repeat(F.lit(0), bits),
        lambda a, h: F.zip_with(a, bit_vec(h), lambda x, y: x + y)))
    if hash_fn == "md5":
        out = F.array_join(
            F.transform(F.col("_acc"),
                        lambda v: F.when(v > 0, F.lit("1")).otherwise(F.lit("0"))),
            "")
    else:
        out = _pack_sign_bits(F.col("_acc"), bits)
    return df.withColumn(out_col, out).drop("_toks", "_hashes", "_acc")


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", ngram: int = 3,
                        threshold: float = 0.8,
                        block_on: list[str] | None = None,
                        candidates: DataFrame | None = None,
                        allow_cross_join: bool = False) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs.

    All-pairs Jaccard is O(n^2) — a scale-killer at any real corpus
    size — so a candidate-bounding strategy is REQUIRED: either
    ``block_on`` columns (e.g. same lang+source), or a ``candidates``
    DataFrame of (id_a, id_b) pairs (typically the output of
    minhash_lsh_pairs, making this the exact verifier). The unblocked
    cartesian path raises unless ``allow_cross_join=True`` is passed
    explicitly (tiny/test corpora only). The set intersection is
    native array_intersect.
    """
    if candidates is not None:
        base = with_shingles(df.select(id_col, text_col), text_col, "_ng", ngram)
        sa = base.select(F.col(id_col).alias("id_a"), F.col("_ng").alias("_ng_a"))
        sb = base.select(F.col(id_col).alias("id_b"), F.col("_ng").alias("_ng_b"))
        pairs = (candidates.select("id_a", "id_b")
                 .join(sa, on="id_a").join(sb, on="id_b"))
        # bind the O(|a|*|b|) intersection ONCE before multi-reference
        # (Catalyst re-evaluates inline expressions per reference)
        pairs = pairs.withColumn(
            "_inter",
            F.size(F.array_intersect(F.col("_ng_a"), F.col("_ng_b"))).cast("double"))
        union = (F.size(F.col("_ng_a")) + F.size(F.col("_ng_b"))
                 - F.col("_inter")).cast("double")
        return (pairs.withColumn("jaccard", F.col("_inter") / union)
                .filter(F.col("jaccard") >= threshold)
                .select("id_a", "id_b", "jaccard"))
    if not block_on and not allow_cross_join:
        raise ValueError(
            "ngram_jaccard_pairs without block_on/candidates is an all-pairs "
            "cartesian product; pass block_on=[...], candidates=<pairs df>, "
            "or allow_cross_join=True for tiny corpora")
    base = with_shingles(
        df.select(id_col, text_col, *(block_on or [])), text_col, "_ng", ngram
    ).select(F.col(id_col), *(block_on or []), F.col("_ng"))
    a = base.select(F.col(id_col).alias("id_a"), F.col("_ng").alias("_ng_a"), *(block_on or []))
    b = base.select(F.col(id_col).alias("id_b"), F.col("_ng").alias("_ng_b"), *(block_on or []))
    on = block_on if block_on else None
    pairs = (a.join(b, on=on) if on else a.crossJoin(b)).filter(F.col("id_a") < F.col("id_b"))
    pairs = pairs.withColumn(
        "_inter",
        F.size(F.array_intersect(F.col("_ng_a"), F.col("_ng_b"))).cast("double"))
    union = (F.size(F.col("_ng_a")) + F.size(F.col("_ng_b"))
             - F.col("_inter")).cast("double")
    return (pairs.withColumn("jaccard", F.col("_inter") / union)
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard"))


# Alternating large-star/small-star rounds reach their fixpoint in
# O(log^2 n) rounds (Kiveris et al.), about log2 n in practice: a run
# still moving after this many is a fault, never a partial result.
_MAX_STAR_ROUNDS = 100


def connected_components(pairs: DataFrame, src: str = "id_a",
                         dst: str = "id_b") -> DataFrame:
    """Duplicate-cluster transitive closure: connected components over
    near-dup pair edges by alternating large-star / small-star rounds
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SOCC'14 — public algorithm). Rounds grow with log n, not with the
    component DIAMETER, so chained dup clusters (A≈B≈C≈... across a
    mirrored corpus) stay cheap.

    Output: (node, cluster) for every non-NULL endpoint, where cluster
    = the component's min id — the canonical representative used for
    "keep one doc per duplicate cluster". NULL is not a node: an id
    whose only partner is NULL, like an id with only a self-loop, is
    its own cluster.

    large-star: every node links its larger neighbors to the min of
    its neighborhood (incl. itself). small-star: every node links its
    smaller-or-equal neighbors to their min. Both are one groupBy-min
    plus one join over the edge frame per round; every round's edges
    point from a larger to a smaller id and keep the components. The
    loop stops at the fixpoint, a star forest (each member has one
    edge, to a root that has none), so each root is its component's
    min and the labels are exact.

    Integer ids are cast to long. Other ids (string doc hashes, URLs —
    whatever id_col a caller hands curate_corpus) take a dictionary
    lane: each distinct id gets a unique long that grows with the id,
    so the component min maps back to the min original id, with no
    hash collisions.
    """
    # materialize the input edges ONCE (the pair-generation lineage —
    # e.g. a full MinHash chain — must not replay per round/action)
    raw = (pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
           .localCheckpoint(eager=True))
    ends = (raw.select(F.col("a").alias("orig"))
            .union(raw.select(F.col("b").alias("orig")))
            .filter(F.col("orig").isNotNull()).distinct())
    if all(t in {"tinyint", "smallint", "int", "bigint"}
           for _, t in raw.dtypes):
        dic = None
        nodes = ends.select(F.col("orig").cast("long").alias("node"))
        edges = raw.select(F.col("a").cast("long").alias("u"),
                           F.col("b").cast("long").alias("v"))
    else:
        # monotonically_increasing_id over a sorted frame grows with
        # the sort key; the checkpoint fixes the ids, which a re-run
        # of the sort could partition differently
        dic = (ends.orderBy("orig")
               .withColumn("node", F.monotonically_increasing_id())
               .localCheckpoint(eager=True))
        nodes = dic
        edges = (raw
                 .join(dic.select(F.col("orig").alias("a"),
                                  F.col("node").alias("u")), on="a")
                 .join(dic.select(F.col("orig").alias("b"),
                                  F.col("node").alias("v")), on="b")
                 .select("u", "v"))
    edges = edges.filter(F.col("u") != F.col("v")).distinct()

    def large_star(e: DataFrame) -> DataFrame:
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = (sym.groupBy("u").agg(F.min("v").alias("_mn"))
                .select("u", F.least(F.col("_mn"), F.col("u")).alias("m")))
        return (sym.join(mins, on="u")
                .filter(F.col("v") > F.col("u"))
                .select(F.col("v").alias("u"), F.col("m").alias("v"))
                .filter(F.col("u") != F.col("v")).distinct())

    def small_star(e: DataFrame) -> DataFrame:
        dd = (e.select(F.greatest("u", "v").alias("u"),
                       F.least("u", "v").alias("v")).distinct())
        mins = dd.groupBy("u").agg(F.min("v").alias("m"))
        linked = (dd.join(mins, on="u")
                  .select(F.col("v").alias("u"), F.col("m").alias("v")))
        self_link = mins.select(F.col("u"), F.col("m").alias("v"))
        return (linked.union(self_link)
                .filter(F.col("u") != F.col("v")).distinct())

    def is_star_forest(e: DataFrame) -> bool:
        deg = (e.select("u", F.lit(1).alias("o"), F.lit(0).alias("i"))
               .union(e.select(F.col("v").alias("u"), F.lit(0).alias("o"),
                               F.lit(1).alias("i")))
               .groupBy("u").agg(F.sum("o").alias("o"), F.sum("i").alias("i")))
        # a member has one out-edge and no in-edge; a root no out-edge
        return deg.filter((F.col("o") > 1)
                          | ((F.col("o") > 0) & (F.col("i") > 0))).isEmpty()

    for _ in range(_MAX_STAR_ROUNDS):
        edges = small_star(large_star(edges)).localCheckpoint(eager=True)
        if is_star_forest(edges):
            break
    else:
        raise RuntimeError(
            f"connected_components: no fixpoint in {_MAX_STAR_ROUNDS} rounds")
    # a star forest: u (member) -> v (component min); roots label
    # themselves
    labels = (nodes.join(edges, nodes.node == edges.u, "left")
              .withColumn("cluster", F.coalesce(F.col("v"), F.col("node"))))
    if dic is None:
        return labels.select("node", "cluster")
    return (labels.join(dic.select(F.col("node").alias("cluster"),
                                   F.col("orig").alias("_corig")),
                        on="cluster")
            .select(F.col("orig").alias("node"),
                    F.col("_corig").alias("cluster")))


def cosine_sim_expr(a: Column, b: Column) -> Column:
    """Cosine similarity of two ARRAY<FLOAT/DOUBLE> columns, native
    (zip_with dot product + aggregate norms) — double accumulation."""
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
                      F.lit(0.0), lambda s, v: s + v)
    na = F.sqrt(F.aggregate(F.transform(a, lambda x: x.cast("double") * x.cast("double")),
                            F.lit(0.0), lambda s, v: s + v))
    nb = F.sqrt(F.aggregate(F.transform(b, lambda x: x.cast("double") * x.cast("double")),
                            F.lit(0.0), lambda s, v: s + v))
    return dot / (na * nb)


def hyperplane_component(p: int, j: int) -> float:
    """Deterministic pseudo-gaussian component j of hyperplane p
    (splitmix-style avalanche + Box-Muller) — reproducible on the
    driver, in tests, and in the DuckDB oracle (as float literals)."""
    import math
    h = (p * 0x9E3779B97F4A7C15 + j * 0xBF58476D1CE4E5B9) % (1 << 64)
    h = (h ^ (h >> 30)) * 0xBF58476D1CE4E5B9 % (1 << 64)
    u = ((h >> 11) / float(1 << 53)) or 1e-12
    return math.sqrt(-2 * math.log(u)) * math.cos(2 * math.pi * ((h & 0xFFFF) / 65536.0))


def embedding_sign_signature(vec_col: str, dim: int, n_bits: int) -> Column:
    """'0'/'1' sign-bit string of ``n_bits`` hyperplane dot products.

    One nested HOF over a literal plane matrix — the vector column is
    referenced only as zip_with input, so the (possibly expensive)
    upstream expression is never re-evaluated per plane.
    """
    planes = F.array(*[
        F.array(*[F.lit(hyperplane_component(p, j)) for j in range(dim)])
        for p in range(n_bits)])
    dots = F.transform(planes, lambda pl: F.aggregate(
        F.zip_with(F.col(vec_col), pl, lambda x, y: x.cast("double") * y),
        F.lit(0.0), lambda s, v: s + v))
    return F.array_join(
        F.transform(dots, lambda d: F.when(d >= 0, F.lit("1")).otherwise(F.lit("0"))),
        "")


def embedding_neardup_pairs(df: DataFrame, vec_col: str = "embedding",
                            id_col: str = "vec_id", threshold: float = 0.9,
                            n_bands: int = 8, band_bits: int = 12,
                            dim: int | None = None) -> DataFrame:
    """Embedding-cosine near-dup via multi-band random-hyperplane LSH.

    OR-construction over ``n_bands`` bands of ``band_bits`` sign bits
    each (a single AND-composed full signature has near-zero recall —
    one flipped sign bit loses the pair): a candidate pair needs ALL
    bits of at least ONE band to agree. Recall for cosine s:
    1-(1-(1-acos(s)/pi)^band_bits)^n_bands — ~0.93 at s=0.9 and ~0.99
    at s=0.95 with the defaults. Candidates are verified with exact
    cosine in-bucket.

    Scale shape (10^12 vectors): explode is n_bands rows per vector;
    the self-join shuffles on (band, bucket) where bucket cardinality
    is 2^band_bits per band — raise band_bits as the corpus grows so
    per-bucket row counts stay bounded. The candidate distinct is on
    narrow (id_a, id_b) pairs; vectors are re-joined only for the
    verify step.
    """
    if dim is None:
        dim = df.select(F.size(F.col(vec_col)).alias("d")).first()["d"]
    sig = embedding_sign_signature(vec_col, dim, n_bands * band_bits)
    sigd = df.select(F.col(id_col), F.col(vec_col)).withColumn("_sig", sig)
    banded = sigd.select(
        id_col,
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"),
                     F.substring(F.col("_sig"), b * band_bits + 1,
                                 band_bits).alias("bucket"))
            for b in range(n_bands)])).alias("bb"),
    ).select(id_col, "bb.band", "bb.bucket")
    a = banded.select(F.col(id_col).alias("id_a"), "band", "bucket")
    b = banded.select(F.col(id_col).alias("id_b"), "band", "bucket")
    cand = (a.join(b, on=["band", "bucket"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b").distinct())
    va = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("_v_a"))
    vb = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("_v_b"))
    sim = cosine_sim_expr(F.col("_v_a"), F.col("_v_b"))
    return (cand.join(va, on="id_a").join(vb, on="id_b")
            .withColumn("cosine", sim)
            .filter(F.col("cosine") >= threshold)
            .select("id_a", "id_b", "cosine"))


def contamination_overlap(docs: DataFrame, benchmark: DataFrame,
                          n: int = 3, text_col: str = "text",
                          id_col: str = "doc_id",
                          broadcast_benchmark: bool = True) -> DataFrame:
    """Benchmark-contamination check for training corpora: per
    document, the fraction of its distinct word n-grams that appear
    anywhere in the benchmark set (the standard n-gram-overlap
    decontamination test run before training).

    Output: (id, n_ngrams, n_hits, overlap_frac).

    Scale shape: docs explode to (id, ngram) rows (distinct per doc by
    construction — shingles are array_distinct); the benchmark reduces
    to a DISTINCT ngram set.  With ``broadcast_benchmark`` (default —
    benchmark suites are tiny next to a training corpus) the probe is
    a broadcast left-join: the corpus never shuffles, one exchange for
    the final per-doc groupBy.  For benchmark sets too big to
    broadcast, pass False: both sides shuffle on the ngram string —
    still linear, no all-pairs anywhere.
    """
    d = explode_nonnull(with_shingles(docs, text_col, "_ng", n),
                        "_ng", "_gram", keep=[id_col])
    b = (explode_nonnull(with_shingles(benchmark, text_col, "_bng", n),
                         "_bng", "_gram")
         .distinct()
         .withColumn("_hit", F.lit(1)))
    if broadcast_benchmark:
        b = F.broadcast(b)
    joined = d.join(b, on="_gram", how="left")
    frac = F.col("n_hits") / F.greatest(F.col("n_ngrams"), F.lit(1))
    return (joined.groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_ngrams"),
                 F.coalesce(F.sum("_hit"), F.lit(0)).cast("long")
                 .alias("n_hits"))
            .withColumn("overlap_frac", frac))


def repeated_line_removal(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id",
                          max_occurrences: int = 2) -> DataFrame:
    """Corpus-level boilerplate line dedup (the CCNet paragraph-dedup /
    RefinedWeb line-dedup step, Wenzek et al. 2020 §3.1 / Penedo et al.
    2023 §3.3): every line whose NORMALIZED form occurs more than
    ``max_occurrences`` times across the whole corpus ("Skip to
    content", cookie banners, nav menus) is removed from every document
    it appears in; documents are reassembled in original line order.

    Output: (id, n_lines, n_kept, cleaned).  Documents whose text has
    no non-empty lines still emit a row (n_lines=0, cleaned='').

    Scale shape — the canonical 3-exchange corpus-dedup plan, linear in
    corpus size with no all-pairs anywhere:
      1. posexplode to (id, pos, line) rows; the line-frequency count
         groups on xxhash64(normalized line) — a fixed-width shuffle
         key, with map-side partial aggregation, instead of shipping
         full line strings (hash collisions merge distinct lines at
         ~n_lines^2/2^64 probability; group on the string where
         exactness is non-negotiable);
      2. frequency join back on the same key (freq side arrives
         pre-partitioned from its groupBy — one new exchange for the
         lines side);
      3. per-document regroup sorts (pos, line) structs and
         array_joins the kept lines.
    Super-common lines are NOT skew keys: the count pre-aggregates
    map-side, and the join fans the (small) frequency row out to the
    line rows, never the reverse.
    """
    t = F.col(text_col)
    lines_arr = F.filter(F.transform(F.split(t, r"\n"), lambda l: F.trim(l)),
                         lambda l: l != F.lit(""))
    staged = df.select(F.col(id_col), lines_arr.alias("_lines"))
    # posexplode_outer + null post-filter on the generated pair: the
    # plain posexplode lets InferFiltersFromGenerate inline the whole
    # split/trim/filter chain into a pre-Generate size() filter (see
    # explode_nonnull); _outer also keeps zero-line documents as a
    # single null-line row so they survive to the output.
    lines = staged.select(
        F.col(id_col),
        F.posexplode_outer("_lines").alias("_pos", "_line"))
    lines = lines.withColumn(
        "_lh", F.xxhash64(normalize_text(F.col("_line"))))
    freq = (lines.filter(F.col("_line").isNotNull())
            .groupBy("_lh")
            .agg(F.count(F.lit(1)).alias("_freq")))
    joined = (lines.join(freq, on="_lh", how="left")
              .withColumn("_keep",
                          F.col("_line").isNotNull()
                          & (F.col("_freq") <= max_occurrences)))
    kept_struct = F.when(F.col("_keep"),
                         F.struct(F.col("_pos"), F.col("_line")))
    return (joined.groupBy(id_col)
            .agg(F.count("_line").alias("n_lines"),
                 F.sum(F.col("_keep").cast("long")).alias("n_kept"),
                 F.array_join(
                     F.transform(
                         F.array_sort(F.collect_list(kept_struct)),
                         lambda s: s.getField("_line")),
                     "\n").alias("cleaned")))


def winnow_fingerprints(toks: Column, k: int = 5, w: int = 4,
                        hash_fn: str = "xxhash64") -> Column:
    """Distinct winnowed fingerprints of token k-grams (Schleimer et
    al. 2003, SIGMOD — the MOSS algorithm): hash every k-token gram,
    then keep the minimum hash of each window of ``w`` consecutive
    gram hashes.  Winnowing guarantee: any two documents sharing a
    token run of length >= k + w - 1 share at least one fingerprint —
    position-INDEPENDENT, unlike stride sampling, because selection
    depends only on content.

    ``toks`` must be a BOUND column (CLAUDE.md staging rule).
    hash_fn="md5" emits 16-hex-char prefixes so DuckDB can replicate
    byte-identically (min over fixed-width lowercase hex == numeric
    min); default xxhash64 longs for production.
    """
    if hash_fn == "md5":
        def ghash(g: Column) -> Column:
            return F.substring(F.md5(g), 1, 16)
    else:
        def ghash(g: Column) -> Column:
            return F.xxhash64(g)
    # guards: F.sequence(1, 0) infers step -1 and yields [1, 0], so
    # short inputs must short-circuit to an empty array explicitly
    hash_t = "string" if hash_fn == "md5" else "bigint"
    grams = F.when(
        F.size(toks) >= k,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - k + 1),
            lambda i: ghash(F.concat_ws(" ", F.slice(toks, i, k))))
    ).otherwise(F.array().cast(f"array<{hash_t}>"))

    # bind the gram-hash array via the 1-element-array trick so the
    # window lambda does not re-evaluate the whole hashing chain per
    # window position (O(len^2) otherwise)
    def windows(hs: Column) -> Column:
        return F.when(
            F.size(hs) >= w,
            F.array_distinct(F.transform(
                F.sequence(F.lit(1), F.size(hs) - w + 1),
                lambda j: F.array_min(F.slice(hs, j, w))))
        ).otherwise(F.array().cast(f"array<{hash_t}>"))

    return F.element_at(F.transform(F.array(grams), windows), 1)


def substring_overlap_pairs(df: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id", k: int = 5,
                            w: int = 4, hash_fn: str = "xxhash64",
                            min_shared: int = 1,
                            max_fp_doc_freq: int = 100) -> DataFrame:
    """Exact-substring overlap detection for training corpora (the
    Spark-scale stand-in for Lee et al. 2021's suffix-array ExactSubstr
    dedup, arXiv:2107.06499): pairs of documents sharing a verbatim
    token run of >= k + w - 1 normalized tokens, found via winnowed
    fingerprints — a suffix array is inherently sequential, while
    winnowing is a per-row projection plus one equi-join.

    Output: (id_a, id_b, n_shared) with id_a < id_b and n_shared
    shared fingerprints >= ``min_shared``.

    Scale shape: per doc ~2·len/(w+1) distinct fingerprints explode to
    (fingerprint, id) rows; the pair generation is a bucketed
    self-join on the fingerprint — NO all-pairs anywhere.  Boilerplate
    fingerprints shared by huge numbers of docs would make quadratic
    buckets, so fingerprints with document frequency >
    ``max_fp_doc_freq`` are dropped first (the stop-shingle guard; at
    100 TB this also removes the skewed join keys).  The frequency
    pass is one extra aggregation on the already-exploded frame.
    """
    fp = explode_nonnull(
        df.withColumn("_toks", tokens_expr(F.col(text_col)))
          .withColumn("_fps", winnow_fingerprints(
              F.col("_toks"), k=k, w=w, hash_fn=hash_fn)),
        "_fps", "_fp", keep=[id_col])
    rare = (fp.groupBy("_fp")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") <= max_fp_doc_freq)
            .select("_fp"))
    fp = fp.join(rare, on="_fp")
    a = fp.select(F.col("_fp"), F.col(id_col).alias("id_a"))
    b = fp.select(F.col("_fp"), F.col(id_col).alias("id_b"))
    return (a.join(b, on="_fp")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("n_shared"))
            .filter(F.col("n_shared") >= min_shared))
