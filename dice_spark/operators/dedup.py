"""Document deduplication operators (training-data pipeline surface).

Beyond the reference's proposition-level dedup, these are the large-scale
corpus-dedup primitives a 100 TB training-data pipeline needs, over the
``documents`` table (doc_id, text, lang, source, n_chars):

* exact_dedup           — hash-groupBy on canonicalized text (one shuffle);
* ngram_jaccard_pairs   — shingle-overlap candidate pairs via an inverted
                          n-gram index join (never a cross join);
* minhash_signatures_df /
  minhash_lsh_pairs     — MinHash (md5-based, engine-portable) banded LSH:
                          shingle -> minhash -> band -> bucket join;
* simhash64_df          — 60-bit SimHash over token hashes (Hamming near-dup);
* embedding_near_dup    — cosine near-duplicate pairs over an embedding column.

Scale notes: every operator blocks before comparing — the bucket-join pattern
keeps pair generation linear in (docs x bands), AQE handles hot buckets; exact
cosine runs only within blocks/candidates.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dice_spark.functions.textfns import canonicalize_text


MAX_GROUP_IDS = 100


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Groups of exact duplicates after text canonicalization.

    Returns (canon_hash, n_docs, doc_ids, keep_id) — keep_id = min id
    survives. doc_ids is capped at the MAX_GROUP_IDS smallest ids per group
    (rank-before-collect): an unbounded per-group array would blow executor
    memory when one canonical text dominates a 100 TB corpus. The window and
    the groupBy share the canon_hash clustering, so the cap adds no shuffle.
    """
    from pyspark.sql.window import Window

    canon = canonicalize_text(text_col)
    hashed = docs.select(F.col(id_col).alias("doc_id"), F.md5(canon).alias("canon_hash"))
    rn = F.row_number().over(Window.partitionBy("canon_hash").orderBy("doc_id"))
    return (
        hashed.withColumn("_rn", rn)
        .groupBy("canon_hash")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.array_sort(
                F.collect_list(F.when(F.col("_rn") <= MAX_GROUP_IDS, F.col("doc_id")))
            ).alias("doc_ids"),
            F.min("doc_id").alias("keep_id"),
        )
    )


def shingle_rows(docs: DataFrame, n: int = 3, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(doc_id, n_sh, shingle) exploded distinct shingle relation.

    Built from posexplode + window lead()s — pure whole-stage-codegen
    operators, ~30x faster than evaluating the array-of-shingles expression
    (interpreted higher-order lambdas cost ~ms per row). Shingles are the
    full n-gram windows, or the whole (short) text when the doc has fewer
    than n words. Repartitions by id first: small parquet scans
    arrive as one partition and shingling is the CPU-heavy step.
    """
    from pyspark.sql.window import Window

    words = docs.repartition(F.col(id_col)).select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(canonicalize_text(text_col), " ")).alias("pos", "w"),
    )
    win = Window.partitionBy("doc_id").orderBy("pos")
    leads = [F.lead("w", j).over(win) for j in range(1, n)]
    cnt = F.count(F.lit(1)).over(Window.partitionBy("doc_id"))
    sh = (
        words.select(
            "doc_id",
            "pos",
            F.concat_ws(" ", F.col("w"), *leads).alias("shingle"),  # concat_ws skips nulls
            leads[-1].isNotNull().alias("full"),
            cnt.alias("n_words"),
        )
        .filter(F.col("full") | ((F.col("pos") == 0) & (F.col("n_words") < n)))
        .select("doc_id", "shingle")
        .distinct()
    )
    return sh.withColumn(
        "n_sh", F.count(F.lit(1)).over(Window.partitionBy("doc_id")).cast("int")
    ).select("doc_id", "n_sh", "shingle")


MAX_SHINGLE_DF = 1000


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df: int = MAX_SHINGLE_DF,
) -> DataFrame:
    """Candidate pairs with n-gram Jaccard >= threshold via inverted index.

    Pairs share >= 1 shingle by construction; Jaccard computed from exact
    shingle-set sizes: J = |inter| / (|a| + |b| - |inter|).

    Stop-shingles (document frequency > max_df) are dropped from BOTH sets
    before pairing — the inverted-index join costs sum(df^2) per shingle, so
    one boilerplate shingle shared by 10^6 docs would alone generate 10^12
    pairs. Jaccard is then computed over the filtered shingle sets (set sizes
    recomputed after the cap); the DuckDB oracle applies the identical rule.
    """
    from pyspark.sql.window import Window

    raw = shingle_rows(docs, n, text_col, id_col)
    dfreq = raw.groupBy("shingle").agg(F.count(F.lit(1)).alias("_df"))
    inv = (
        raw.drop("n_sh")
        .join(dfreq.filter(F.col("_df") <= max_df).select("shingle"), "shingle")
        .withColumn("n_sh", F.count(F.lit(1)).over(Window.partitionBy("doc_id")).cast("int"))
        .select("doc_id", "n_sh", "shingle")
        # Materialize once: both sides of the self-join read the same relation.
        .localCheckpoint(eager=False)
    )
    a, b = inv.alias("a"), inv.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n_sh").alias("na"),
            F.col("b.n_sh").alias("nb"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    jac = F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
    return (
        inter.withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def minhash_signatures_df(
    docs: DataFrame,
    n_hashes: int = 16,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, h0..h{n_hashes-1}) via explode + groupBy-min: per seed i,
    min(md5(i || shingle)).

    String-min over salted md5 hex is engine-portable (identical in DuckDB),
    unlike murmur3 — chosen so the oracle can recompute signatures exactly.
    The aggregation form computes each shingle's md5 exactly once per seed
    (an array-expression form would re-evaluate the shingle array per seed
    inside one projection, quadratic work per row). This is also the shape
    that scales: the explode spreads hashing across the cluster and the
    partial min combines map-side.
    """
    exploded = shingle_rows(docs, n, text_col, id_col).drop("n_sh")
    hashed = exploded.select(
        "doc_id",
        *[F.md5(F.concat(F.lit(f"{i}|"), F.col("shingle"))).alias(f"mh{i}") for i in range(n_hashes)],
    )
    return hashed.groupBy("doc_id").agg(
        *[F.min(f"mh{i}").alias(f"h{i}") for i in range(n_hashes)]
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    n_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Banded-LSH candidate pairs: docs agreeing on a full band collide.

    rows_per_band = n_hashes / bands; band key = md5(concat(band rows)).
    Returns (doc_a, doc_b, n_bands_matched).
    """
    rows = n_hashes // bands
    sig = minhash_signatures_df(docs, n_hashes, n, text_col, id_col)
    banded = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.md5(F.concat_ws("|", *[F.col(f"h{bi * rows + r}") for r in range(rows)])).alias("key"),
                    )
                    for bi in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")).localCheckpoint(eager=False)
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_bands_matched"))
    )


SIMHASH_BITS = 60  # 15 hex chars of md5: fits a signed bigint in Spark AND DuckDB
SIMHASH_QUARTER = SIMHASH_BITS // 4


def token_hash60(tok: Column) -> Column:
    """Engine-portable 60-bit token hash: first 15 hex chars of md5 as bigint.

    Spark: conv(hex, 16, 10); DuckDB: ('0x' || hex)::bigint — identical values,
    so the simhash oracle can value-check pairs (same reason
    minhash_signatures_df uses md5 rather than murmur3/xxhash64).
    """
    return F.conv(F.substring(F.md5(tok), 1, 15), 16, 10).cast("long")


def simhash64_df(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(doc_id, sh) 60-bit SimHash via explode + groupBy bit-vote sums.

    Per bit b: sum(+1 if bit set else -1) over the md5-derived token hashes;
    bit set in the result when the sum > 0. One md5 per token, 60 conditional
    sums combined map-side — an array-expression form would fold the token
    array 60 times per row inside a single projection.
    """
    toks = (
        docs.repartition(F.col(id_col))
        .select(
            F.col(id_col).alias("doc_id"),
            F.explode(F.split(canonicalize_text(text_col), " ")).alias("tok"),
        )
        .withColumn("h", token_hash60(F.col("tok")))
    )
    votes = toks.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright("h", b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"v{b}")
            for b in range(SIMHASH_BITS)
        ]
    )
    out = F.lit(0).cast("long")
    for b in range(SIMHASH_BITS):
        out = out + F.when(F.col(f"v{b}") > 0, F.shiftleft(F.lit(1).cast("long"), b)).otherwise(
            F.lit(0).cast("long")
        )
    return votes.select("doc_id", out.alias("sh"))


def simhash_near_dups(docs: DataFrame, max_hamming: int = 3, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Near-dup pairs with SimHash Hamming distance <= max_hamming.

    Blocked on 15-bit quarters (pigeonhole: distance <= 3 implies at least one
    of 4 quarters identical) — never a cross join.
    """
    sh = simhash64_df(docs, text_col, id_col)
    quarters = sh.select(
        "doc_id",
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(q).alias("q"),
                        F.shiftright(F.col("sh"), q * SIMHASH_QUARTER)
                        .bitwiseAND(F.lit((1 << SIMHASH_QUARTER) - 1))
                        .alias("qk"),
                    )
                    for q in range(4)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "sh", F.col("b.q").alias("q"), F.col("b.qk").alias("qk")).localCheckpoint(eager=False)
    a, b = quarters.alias("a"), quarters.alias("b")
    xor = F.col("a.sh").bitwiseXOR(F.col("b.sh"))
    hamming = F.bit_count(xor)
    return (
        a.join(
            b,
            (F.col("a.q") == F.col("b.q")) & (F.col("a.qk") == F.col("b.qk")) & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def hyperplane_planes(dim: int, n_planes: int = 8, seed: int = 42) -> list[list[float]]:
    """Deterministic random hyperplanes for sign-LSH bucketing."""
    import random

    rnd = random.Random(seed)
    return [[rnd.gauss(0, 1) for _ in range(dim)] for _ in range(n_planes)]


def hyperplane_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-bit LSH bucket string of ``vec`` against literal hyperplanes."""
    bits = []
    for p in planes:
        lit = F.array(*[F.lit(float(x)) for x in p])
        dot = F.aggregate(
            F.zip_with(vec, lit, lambda a, b: (a * b).cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bits.append(F.when(dot >= 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def cosine_expr(a: Column, b: Column) -> Column:
    """Cosine similarity of two float-array columns via zip_with/aggregate."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: (x * y).cast("double")), F.lit(0.0), lambda acc, v: acc + v
    )
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + (v * v).cast("double")))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, v: acc + (v * v).cast("double")))
    return dot / (na * nb)


def dot_expr(a: Column, b: Column) -> Column:
    """Dot product of two float-array columns (zip_with/aggregate fold).

    Identical fold order to cosine_expr's numerator, so
    ``dot_expr(a, b) / (norm_a * norm_b)`` with per-row precomputed norms is
    bit-identical to ``cosine_expr(a, b)`` — hoist norms to the row side of a
    pair join to turn three interpreted HOF passes per pair into one.
    (Unrolling to element_at arithmetic instead measured ~10x SLOWER than the
    HOF form on a 26-dim pair scan — giant codegen expressions fall off the
    fast path; don't go there.)
    """
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x * y).cast("double")), F.lit(0.0), lambda acc, v: acc + v
    )


def norm_expr(a: Column) -> Column:
    """L2 norm matching cosine_expr's denominator factors bit-for-bit."""
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + (v * v).cast("double")))


def embedding_near_dups(
    embeddings: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = "label",
    dim: int | None = None,
    n_planes: int = 6,
    seed: int = 42,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, blocked.

    Default blocking reuses a coarse partition column (e.g. cluster label from
    an upstream IVF/k-means assignment); falls back to multi-bit hyperplane
    sign-LSH buckets (2^n_planes blocks — a single sign split would leave
    ~N^2/4 pairs). Exact cosine only within blocks. The fallback needs ``dim``.
    """
    if block_col is None:
        if dim is None:
            raise ValueError("hyperplane fallback blocking requires dim")
        blk = hyperplane_bucket(F.col(vec_col), hyperplane_planes(dim, n_planes, seed))
    else:
        blk = F.col(block_col)
    # Norms are hoisted to the row side (N rows) so each PAIR pays one
    # interpreted-HOF fold (the dot) instead of three; dot/(na*nb) is
    # bit-identical to cosine_expr (same folds, same grouping — see
    # dot_expr's contract note).
    e = embeddings.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("vec"),
        blk.alias("blk"),
    ).withColumn("_nrm", norm_expr(F.col("vec")))
    a, b = e.alias("a"), e.alias("b")
    sim = dot_expr(F.col("a.vec"), F.col("b.vec")) / (F.col("a._nrm") * F.col("b._nrm"))
    return (
        a.join(b, (F.col("a.blk") == F.col("b.blk")) & (F.col("a.vid") < F.col("b.vid")))
        .select(
            F.col("a.vid").alias("vec_a"),
            F.col("b.vid").alias("vec_b"),
            F.round(sim, 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def dedup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    a_col: str = "doc_a",
    b_col: str = "doc_b",
) -> DataFrame:
    """Candidate pairs -> duplicate clusters + keep/drop decision per doc.

    The end-product a training-data pipeline actually consumes: the pair
    generators (minhash_lsh_pairs / simhash_near_dups / ngram_jaccard_pairs /
    embedding_near_dups) say "these two look alike"; this closes the pairs
    into connected components (the same min-id label propagation the entity
    canonicalizer uses — DuplicateCollectorStrategy.kt:117-146 is the
    reference's union-find analog) and elects ONE survivor per cluster:
    longest text first (near-dup families usually keep the most complete
    variant), doc_id ascending as the deterministic tiebreak.

    Output: (doc_id, cluster_id, cluster_size, keep) — one row per input
    doc; docs in no pair are their own singleton cluster (keep = true).

    Scale: CC runs ONLY over pair members (dup candidates are a small
    fraction of the corpus); the join back to docs is a left join on the
    id; size + survivor share one window partitioning, so the decision
    stage is a single shuffle on cluster_id.
    """
    from pyspark.sql import Window

    from dice_spark.operators.canonicalize import connected_components

    nodes = (
        pairs.select(F.col(a_col).alias("node_id"))
        .unionByName(pairs.select(F.col(b_col).alias("node_id")))
        .distinct()
    )
    edges = pairs.select(F.col(a_col).alias("a"), F.col(b_col).alias("b"))
    comp = connected_components(nodes, edges)
    out = (
        docs.select(F.col(id_col), F.length(F.col(text_col)).alias("_len"))
        .join(comp.withColumnRenamed("node_id", id_col), id_col, "left")
        .withColumn("cluster_id", F.coalesce(F.col("component"), F.col(id_col)))
    )
    w = Window.partitionBy("cluster_id")
    rank_w = w.orderBy(F.desc("_len"), F.asc(id_col))
    return out.select(
        id_col,
        "cluster_id",
        F.count(F.lit(1)).over(w).alias("cluster_size"),
        (F.row_number().over(rank_w) == 1).alias("keep"),
    )
