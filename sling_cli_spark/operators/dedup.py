"""Deduplication operators for large-scale document corpora.

Beyond the reference's PK dedup (``dropDuplicates`` over primary keys,
api/spec.go:344-345), a training-data pipeline needs content dedup. All
operators here are bucketed-by-construction — no all-pairs comparison ever
materializes, so every plan survives a 100 TB corpus:

- exact_dedup: normalize -> sha256 -> keep first per hash (one shuffle on
  the 32-byte digest, AQE-coalesced).
- minhash_lsh_dedup: shingle -> k minhash signatures -> b bands -> explode
  bands -> groupBy(band, band_hash). Candidates only meet inside a bucket;
  bucket cardinality is controlled by (b, r), the standard S-curve knob.
- simhash: 64-bit locality hash per document (bit-majority over token
  hashes) — Hamming-near docs get equal/nearby keys; dedup = groupBy key.
- ngram_jaccard: exact verify step for candidate pairs (array_intersect /
  array_union on shingle sets).

Everything is built-in Catalyst expressions (split/transform/aggregate/
xxhash64) — zero Python UDFs on the data path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# deterministic coefficients for the universal-hash family
# h_i(x) = (a_i * x + b_i) mod p. p = 2^31-1 (Mersenne prime) keeps
# a*h+b < 2^62, safe under ANSI int64 arithmetic (Spark 4 default).
_P = (1 << 31) - 1


def _hash_coeffs(k: int, seed: int = 7) -> list[tuple[int, int]]:
    # deterministic LCG so signatures are reproducible across runs/sessions
    coeffs, state = [], seed
    for _ in range(k):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = (state % (_P - 1)) + 1
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = state % _P
        coeffs.append((a, b))
    return coeffs


def normalize_text(c: Column) -> Column:
    """Lowercase, strip non-alphanumerics, collapse whitespace — the usual
    near-dup normalization before hashing.

    ONE regexp pass: any run of non-alphanumerics (punctuation and
    whitespace alike) collapses to a single space — equivalent to the
    two-pass strip-then-collapse, at half the regex cost over large docs.
    """
    return F.trim(F.regexp_replace(F.lower(c), "[^a-z0-9]+", " "))


def tokens_col(text: Column) -> Column:
    return F.split(normalize_text(text), " ")


def shingles_col(text: Column, n: int = 3) -> Column:
    """Word n-gram shingles as an array<string> (empty-safe)."""
    toks = tokens_col(text)
    cnt = F.size(toks)
    return F.when(cnt < n, F.array(F.concat_ws(" ", toks))).otherwise(
        F.transform(
            F.sequence(F.lit(1), cnt - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        )
    )


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    normalize: bool = True,
) -> DataFrame:
    """Keep one row per distinct (normalized) content hash.

    Deterministic winner = min(id) per hash so results are stable and
    SQL-expressible for the oracle. One hash-shuffle on the digest; with
    AQE the skew of popular boilerplate dups is split automatically.
    """
    with_h = df.withColumn(
        "__h", content_digest(F.col(text_col), normalize))
    w = Window.partitionBy("__h").orderBy(F.col(id_col))
    return (
        with_h.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__h", "__rn")
    )


def spread_small_input(df: DataFrame, factor: int = 2) -> DataFrame:
    """OPT-IN parallelism floor: a small parquet input (one file / one
    row group) scans as ONE partition, serializing per-row work on a
    many-core executor. When the scan has far fewer partitions than the
    cluster parallelism, repartition up front.

    Measured guidance (32-core box, sf0.1 documents): worth it ONLY for
    pipelines whose expensive per-row work has NO downstream shuffle to
    parallelize it — the interpreted array-HOF shingle explode went 5x
    faster. Pipelines that already shuffle right after the projection
    (shingle_table's id-window, the minhash aggregate) measured
    SLIGHTLY SLOWER with the extra round-robin exchange than with the
    serial-but-codegen scan prefix — don't wire it in front of those.
    At 100 TB the scan has >= parallelism partitions and this is a
    no-op either way."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    try:
        parts = df.rdd.getNumPartitions()
    except Exception:
        return df
    return df.repartition(target) if parts * factor <= target else df


def shingle_table(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    shingle_n: int = 3,
) -> DataFrame:
    """(id, shingle) rows via posexplode + window ``lead`` — NOT the
    array higher-order functions: Spark evaluates HOF lambdas interpreted
    (outside whole-stage codegen), which measured ~3x slower here. The
    window shuffles on (id), and the downstream signature groupBy(id)
    reuses that exact partitioning — one shuffle total.

    Documents shorter than ``shingle_n`` tokens contribute one whole-text
    shingle (concat_ws skips the null leads), matching ``shingles_col``.
    """
    # hash-partition the DOCS by id BEFORE exploding (r14, guide §2.3):
    # the window below requires hashpartitioning(id), so Catalyst reuses
    # this exchange and the shuffle moves each document's text ONCE
    # instead of its exploded (id, pos, tok) token rows (~3x the bytes +
    # per-row overhead at any scale). Locally it also parallelizes the
    # tokenize+explode itself — a small parquet input scans as ONE task
    # (single row group), which serialized the regex+explode prefix.
    # Explicit numPartitions = the session shuffle parallelism so the
    # count matches what the window would have used (AQE must not
    # coalesce this exchange to 1 on tiny inputs and re-serialize the
    # explode). Measured: minhash_dedup 1.59s -> 0.96s at sf0.1.
    n_shuffle = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    toks = df.repartition(n_shuffle, F.col(id_col)).select(
        F.col(id_col),
        F.posexplode_outer(tokens_col(F.col(text_col))).alias("pos", "tok"),
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    leads = [F.lead("tok", i).over(w).alias(f"t{i}")
             for i in range(1, shingle_n)]
    # the doc token count uses the SAME partition+order spec as the
    # leads (unbounded frame), so Catalyst evaluates every frame in ONE
    # Window exec — a separate unordered count-window would add a full
    # extra pass over the exploded rows
    cnt = F.count(F.lit(1)).over(
        w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
    tri = toks.select(id_col, "pos", "tok", cnt.alias("__cnt"), *leads)
    last = F.col(f"t{shingle_n - 1}")
    full = tri.filter(
        last.isNotNull()
        | ((F.col("__cnt") < shingle_n) & (F.col("pos") == 0)))
    parts = ["tok"] + [f"t{i}" for i in range(1, shingle_n)]
    return full.select(
        id_col, F.concat_ws(" ", *parts).alias("shingle"))


def md5_hash60(c: Column) -> Column:
    """Deterministic 60-bit shingle hash derived from md5.

    ``conv(substr(md5(x),1,15),16,10)`` is exactly reproducible in DuckDB
    as ``('0x'||substr(md5(x),1,15))::BIGINT``, which makes every pipeline
    built on it fully oracle-checkable — unlike xxhash64, whose seed/impl
    is Spark-private. ~2x the cost of xxhash64 per shingle (crypto hash),
    so it's opt-in: the default production path stays xxhash64.
    """
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def shingle_hash_table(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    shingle_n: int = 3, hasher=None,
) -> DataFrame:
    """(id, __h) rows: a 64-bit hash of each shingle — the shared upstream
    of the MinHash signature AND the exact-Jaccard verifier. Hashing once
    here means downstream shuffles move 8-byte longs instead of shingle
    strings. When several consumers appear in ONE plan, ``.persist()``
    the result: Catalyst does NOT canonicalize the identical
    explode->window subtrees to a ReusedExchange (the r6 jaccard plan
    executed the pipeline 3x); an InMemoryRelation is computed once by
    construction, and the downstream min/collect_set aggregates stay
    whole-stage-codegen over the cache scan.

    ``hasher`` defaults to xxhash64 (fastest); pass :func:`md5_hash60`
    when the run must be reproducible outside Spark (oracle checks).
    """
    hasher = hasher if hasher is not None else F.xxhash64
    return shingle_table(df, text_col, id_col, shingle_n).select(
        id_col, hasher(F.col("shingle")).alias("__h"))


def minhash_signature_table(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    num_hashes: int = 64, shingle_n: int = 3,
    hashed: DataFrame | None = None, hasher=None,
) -> DataFrame:
    """id -> k minhash slot columns ``__s0..__s{k-1}``.

    Shingle rows feed k min-aggregates in ONE hash aggregate (map-side
    partial agg, whole-stage codegen) over the window's existing (id)
    partitioning — vs. the naive k-nested-array-transforms expression,
    which is interpreted HOF eval and measured ~3x slower.
    ``hashed`` short-circuits the shingle pipeline with a precomputed
    :func:`shingle_hash_table` (shared with the Jaccard verifier);
    ``hasher`` picks the shingle hash when building it here (see
    :func:`md5_hash60` for the oracle-reproducible variant).
    """
    if hashed is None:
        hashed = shingle_hash_table(df, text_col, id_col, shingle_n, hasher)
    shingled = hashed.select(
        id_col, F.pmod(F.col("__h"), F.lit(_P)).alias("__h"))
    # SQL-text expressions, one parse each (r14, guide §1.2 driver
    # overhead): the Column-API form issued ~6 py4j roundtrips per slot
    # (~400 for k=64) and measured ~1.1s of driver time PER RUN just
    # building the expression tree. Literal types and operator
    # semantics are identical (a,b,_P < 2^31 parse as INT and promote
    # against BIGINT __h exactly like F.lit ints; a*h+b < 2^62 so no
    # overflow either way) — slot values are byte-identical.
    aggs = [
        F.expr(f"min(({a} * __h + {b}) % {_P}) AS __s{i}")
        for i, (a, b) in enumerate(_hash_coeffs(num_hashes))
    ]
    return shingled.groupBy(id_col).agg(*aggs)


def lsh_band_table(
    sig: DataFrame, id_col: str = "doc_id",
    num_hashes: int = 64, bands: int = 16,
) -> DataFrame:
    """Band a minhash signature table (``__s*`` slot columns) into the
    (id, band_id, band_hash) candidate-bucket table."""
    assert num_hashes % bands == 0, "bands must divide num_hashes"
    r = num_hashes // bands
    # one SQL-text parse for the whole band array (r14, guide §1.2):
    # the nested Column-API struct/concat/cast build was ~350 py4j
    # roundtrips (~0.95s driver time per run); CAST(.. AS STRING),
    # concat_ws and xxhash64 (default seed 42) are the same functions,
    # so band hashes are byte-identical.
    band_structs = F.expr("array(" + ", ".join(
        f"struct({i} AS band_id, xxhash64(concat_ws(',', "
        + ", ".join(f"CAST(__s{i * r + j} AS STRING)"
                    for j in range(r))
        + ")) AS band_hash)"
        for i in range(bands)) + ")")
    return (
        sig.select(F.col(id_col), F.explode(band_structs).alias("b"))
        .select(id_col, "b.band_id", "b.band_hash")
    )


def minhash_lsh_candidates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    num_hashes: int = 64, bands: int = 16, shingle_n: int = 3,
    hashed: DataFrame | None = None, hasher=None,
) -> DataFrame:
    """LSH banding: -> (band_id, band_hash, id) exploded table.

    Docs sharing any (band_id, band_hash) are near-dup candidates. The only
    shuffles are the signature groupBy(id) and the groupBy on band keys
    downstream — never an all-pairs join. rows = num_docs * bands, each row
    ~24 bytes: at 100 TB of text this table is a small fraction of the
    corpus.
    """
    sig = minhash_signature_table(
        df, text_col, id_col, num_hashes, shingle_n, hashed=hashed,
        hasher=hasher)
    return lsh_band_table(sig, id_col, num_hashes, bands)


def minhash_lsh_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    num_hashes: int = 64, bands: int = 16, shingle_n: int = 3,
    hasher=None,
) -> DataFrame:
    """Near-dedup: drop docs that share an LSH bucket with an earlier doc.

    Standard scalable policy (min-id representative per bucket): a doc
    survives iff it is the minimum id in every bucket it falls into.
    Cost: the candidates table + one aggregation by id — no pairs join.
    """
    cand = minhash_lsh_candidates(
        df, text_col, id_col, num_hashes, bands, shingle_n, hasher=hasher)
    w = Window.partitionBy("band_id", "band_hash")
    keep_ids = (
        cand.withColumn("__min_id", F.min(F.col(id_col)).over(w))
        .groupBy(id_col)
        .agg(F.max(F.when(F.col(id_col) != F.col("__min_id"), 1).otherwise(0))
             .alias("__is_dup"))
        .filter(F.col("__is_dup") == 0)
        .select(id_col)
    )
    return df.join(keep_ids, on=id_col, how="left_semi")


def simhash_table(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    bits: int = 64, hasher=None,
) -> DataFrame:
    """id -> simhash bigint, via explode + hash-aggregate (same rationale
    as minhash_signature_table: k sum-aggregates stay inside codegen).
    ``hasher`` picks the token hash; with :func:`md5_hash60` only the
    low 60 bits carry signal (the top 4 stay 0 on both sides), which
    keeps the signature oracle-reproducible at a 4-bit fidelity cost."""
    hasher = hasher if hasher is not None else F.xxhash64
    # same pre-explode hash-partitioning as shingle_table (r14): the
    # groupBy(id) reuses the exchange, and the tokenize+explode+64-bit
    # sums run at full parallelism instead of inside the single scan
    # task of a one-row-group input. Measured: simhash_dedup 0.91s ->
    # 0.74s at sf0.1.
    n_shuffle = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    toks = df.repartition(n_shuffle, F.col(id_col)).select(
        F.col(id_col),
        F.explode_outer(tokens_col(F.col(text_col))).alias("__t"),
    ).select(id_col, hasher(F.coalesce(F.col("__t"), F.lit(""))).alias("__h"))
    # SQL-text expressions, one parse per aggregate and ONE for the
    # whole sign-bit packing reduction (r14, guide §1.2): the
    # Column-API build was ~900 py4j roundtrips (~1.5s of driver time
    # per run). Semantics are identical — `& 1` promotes INT against
    # the BIGINT shift exactly like bitwiseAND(F.lit(1)), and
    # shiftleft(1L, i) reproduces every packing weight including bit
    # 63's -(1<<63) (shifts wrap, no ANSI overflow check) — so both
    # the per-bit sums and the packed signature are byte-identical.
    aggs = [
        F.expr(f"sum(CAST(shiftrightunsigned(__h, {i}) & 1 AS BIGINT)"
               f" * 2 - 1) AS __b{i}")
        for i in range(bits)
    ]
    agg = toks.groupBy(id_col).agg(*aggs)
    packed = " | ".join(
        f"(CASE WHEN __b{i} > 0 THEN shiftleft(CAST(1 AS BIGINT), {i}) "
        f"ELSE CAST(0 AS BIGINT) END)"
        for i in range(bits))
    return agg.select(F.col(id_col), F.expr(packed).alias("__sh"))


def simhash_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    hasher=None,
) -> DataFrame:
    """Exact-simhash-collision dedup (Hamming distance 0 buckets)."""
    hashes = simhash_table(df, text_col, id_col, hasher=hasher)
    w = Window.partitionBy("__sh").orderBy(F.col(id_col))
    keep = (
        hashes.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(id_col)
    )
    return df.join(keep, on=id_col, how="left_semi")


def jaccard_similarity(a: Column, b: Column) -> Column:
    """Exact Jaccard over two shingle arrays (the verify step after LSH)."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union == 0, F.lit(0.0)).otherwise(inter / union)


def ngram_jaccard_pairs(
    df: DataFrame, candidate_pairs: DataFrame,
    text_col: str = "text", id_col: str = "doc_id",
    shingle_n: int = 3, threshold: float = 0.8,
    hashed: DataFrame | None = None,
) -> DataFrame:
    """Verify candidate (id_a, id_b) pairs with exact n-gram Jaccard.

    ``candidate_pairs`` comes from LSH buckets, so this join touches only
    candidate rows — broadcastable when the candidate set is small.

    Shingle sets are collected as xxhash64 longs (8 bytes vs the shingle
    string): Jaccard over hashed shingles equals string Jaccard up to
    64-bit collisions, and the collect_set shuffle + array_intersect
    scorer shrink ~3x. Pass the same (persisted) :func:`shingle_hash_table`
    the LSH candidate stage used and the exploded-token pipeline executes
    ONCE via the cache instead of once per consumer (Catalyst does not
    ReuseExchange across these subtrees). ``array_intersect``/
    ``array_union`` are native set expressions, not interpreted lambdas.
    """
    if hashed is None:
        hashed = shingle_hash_table(df, text_col, id_col, shingle_n)
    sh = hashed.groupBy(id_col).agg(F.collect_set("__h").alias("__sh"))
    a = sh.withColumnRenamed(id_col, "id_a").withColumnRenamed("__sh", "sh_a")
    b = sh.withColumnRenamed(id_col, "id_b").withColumnRenamed("__sh", "sh_b")
    return (
        candidate_pairs.join(a, "id_a").join(b, "id_b")
        .withColumn("jaccard", jaccard_similarity(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def connected_components(
    edges: DataFrame, src: str = "src", dst: str = "dst",
    max_iterations: int = 50,
) -> DataFrame:
    """Connected components over an undirected edge list by iterative
    min-label propagation (the Pregel/GraphX shape, driver-side loop):
    every node starts labeled with its own id, and each round takes the
    min of its own and its neighbors' labels. Returns (id, label) for
    every node appearing in ``edges``; label = min node id in the
    component.

    Spark-job shape per round: ONE shuffle (edge ⋈ label join + min
    aggregate on node id) over the label table — which is sized by the
    candidate GRAPH, not the corpus. ``localCheckpoint`` after each
    round truncates lineage so the plan doesn't grow exponentially.
    Rounds needed = graph diameter; near-dup candidate graphs are
    star-shaped around bucket minima (diameter ~2 per bucket chain), so
    3-5 rounds is typical. Convergence = zero labels changed this round
    (a short-circuiting ``limit(1)`` filter over the round's own
    checkpointed output — the old label rides through the aggregate,
    so the probe never joins or shuffles; type-agnostic — node
    ids can be strings/UUIDs, not just numbers); exhausting
    ``max_iterations`` without a fixpoint raises instead of returning a
    half-propagated labeling. For adversarially deep chain graphs,
    alternate large-star/small-star contraction (Kiveris et al.) to get
    O(log n) rounds — not needed for LSH bucket graphs.
    """
    sym = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).union(
        edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
    ).distinct().localCheckpoint()
    labels = sym.select(F.col("a").alias("id")).distinct() \
        .withColumn("label", F.col("id"))
    null_id = F.lit(None).cast(sym.schema["a"].dataType)
    for _ in range(max_iterations):
        neighbor = (
            sym.join(labels.withColumnRenamed("id", "a"), "a")
            .select(F.col("b").alias("id"), "label",
                    null_id.alias("__old")))
        # carry each node's OLD label through the min-aggregate (every
        # id has exactly one labels row, so min(__old) IS the old
        # label) — the convergence probe below is then a plain filter
        # over the checkpointed partitions instead of a join+shuffle
        # per round (r14, guide §2.4)
        merged = (
            labels.select("id", "label", F.col("label").alias("__old"))
            .unionByName(neighbor)
            .groupBy("id").agg(F.min("label").alias("label"),
                               F.min("__old").alias("__old"))
        ).localCheckpoint()
        changed = merged.filter(
            F.col("label") != F.col("__old")).limit(1).count()
        labels = merged.select("id", "label")
        if changed == 0:
            return labels
    raise RuntimeError(
        f"connected_components: no fixpoint after {max_iterations} "
        "rounds (graph diameter exceeds the iteration budget)")


def duplicate_clusters(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    num_hashes: int = 64, bands: int = 16, shingle_n: int = 3,
    hasher=None, max_iterations: int = 50,
) -> DataFrame:
    """Transitive near-duplicate clusters: (id, cluster_id) where
    cluster_id is the min doc id of the document's connected component
    in the LSH candidate graph — the structure dedup-at-scale pipelines
    actually want (pick one representative per cluster, count cluster
    sizes, audit what got merged), and strictly stronger than pairwise
    min-id dropping: A~B and B~C land in ONE cluster even when A and C
    share no bucket.

    Edges are the bucket STARS (bucket-min -> member), not all pairs
    within a bucket: a k-doc bucket contributes k-1 edges instead of
    k(k-1)/2 with identical connectivity, so the graph stays linear in
    the candidate table. Docs in no bucket pair are singleton clusters
    (cluster_id = own id) via the final left join.
    """
    cand = minhash_lsh_candidates(
        df, text_col, id_col, num_hashes, bands, shingle_n, hasher=hasher)
    w = Window.partitionBy("band_id", "band_hash")
    edges = (
        cand.withColumn("__mn", F.min(F.col(id_col)).over(w))
        .filter(F.col(id_col) != F.col("__mn"))
        .select(F.col("__mn").alias("src"), F.col(id_col).alias("dst"))
        .distinct())
    cc = connected_components(edges, "src", "dst", max_iterations)
    return (
        df.select(id_col)
        .join(cc.withColumnRenamed("id", id_col), id_col, "left")
        .select(id_col,
                F.coalesce(F.col("label"), F.col(id_col))
                .alias("cluster_id")))


def content_digest(text: Column, normalize: bool = True) -> Column:
    """The exact-dedup content fingerprint: sha256 over the normalized
    text (one shared definition so batch dedup, the store probe, and
    SQL oracles all hash identically)."""
    return F.sha2(normalize_text(text) if normalize else text, 256)


def dedup_against_store(
    spark,
    batch: DataFrame,
    store_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    normalize: bool = True,
    update_store: bool = True,
) -> DataFrame:
    """Continuous-ingest exact dedup: drop batch rows whose content
    digest is already in a persisted fingerprint STORE, dedup the batch
    internally (min id per digest), and append the survivors' digests
    back to the store — the per-batch shape of a rolling crawl pipeline,
    where state is the digest set, not the corpus.

    Store layout: a parquet directory of ``(digest string)`` — ~32
    bytes/doc, readable by any engine. Spark shape: the probe is ONE
    left-anti join on the digest (AQE broadcasts the batch side or the
    store side, whichever is small; at 100 TB-of-history scale the
    store anti-join shuffles on the digest — perfectly uniform keys, no
    skew by construction). The store append writes only the NEW
    digests. Crash contract: the append is the last step, so a retry
    re-deduplicates correctly (digests are idempotent set inserts);
    readers of a half-written parquet dir are the same hazard as any
    non-transactional parquet sink — point the store at a Delta path
    for stronger guarantees.
    """
    from sling_cli_spark import fsio

    digest = content_digest(F.col(text_col), normalize)
    with_h = batch.withColumn("__h", digest)
    w = Window.partitionBy("__h").orderBy(F.col(id_col))
    internal = (with_h.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1).drop("__rn"))
    fs = fsio.get_fs(store_path)
    store_exists = fs.exists(store_path) and any(
        not n.startswith((".", "_")) for n in fs.listdir(store_path))
    if store_exists:
        seen = spark.read.parquet(store_path).select("digest")
        survivors = internal.join(
            seen, internal["__h"] == seen["digest"], "left_anti")
    else:
        survivors = internal
    if update_store:
        # materialize survivors BEFORE the append: the store write must
        # not re-trigger a probe against the store it is appending to
        survivors = survivors.localCheckpoint()
        survivors.select(F.col("__h").alias("digest")) \
            .write.mode("append").parquet(store_path)
    return survivors.drop("__h")


def exact_substring_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    gram_n: int = 20, hasher=None,
) -> DataFrame:
    """Exact-substring dedup, n-gram approximation (Lee et al. 2021,
    arXiv:2107.06499 — the ExactSubstr criterion): a document sharing
    ANY full ``gram_n``-token window with a LOWER-id document drops.
    Where the paper builds a corpus-wide suffix array, this keys every
    window's hash to its minimum holder — the same "verbatim span
    appears elsewhere" signal, grouped by Spark's hash shuffle instead
    of driver-side suffix sorting.

    100 TB posture: one shingle explode (hashed to 8-byte longs before
    any shuffle), one codegen hash-aggregate for the per-window min
    owner, one equi-join back — bucketed by the window hash, never
    all-pairs; the shingle table persists because BOTH consumers (min
    aggregate, ownership join) would otherwise re-run the explode.
    ``hasher`` defaults to xxhash64; pass :func:`md5_hash60` for
    oracle-reproducible runs. Returns the surviving rows of ``df``."""
    from sling_cli_spark.caching import persist_tracked

    hasher = hasher if hasher is not None else F.xxhash64
    sh = persist_tracked(shingle_table(df, text_col, id_col, gram_n).select(
        F.col(id_col), hasher(F.col("shingle")).alias("__h"),
    ))
    mins = sh.groupBy("__h").agg(F.min(id_col).alias("__min_id"))
    dropped = (
        sh.join(mins, on="__h")
        .filter(F.col(id_col) > F.col("__min_id"))
        .select(id_col).distinct())
    return df.join(dropped, on=id_col, how="left_anti")


def line_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    min_count: int = 2, keep_first: bool = True, sep: str = "\n",
) -> DataFrame:
    """Corpus-wide LINE-level dedup (the Dolma/CCNet preprocessing
    step; C4 does it at three-sentence spans): a non-empty line
    appearing in >= ``min_count`` places across the whole corpus is
    removed from every document — except its first occurrence (by
    ``(id, position)``) when ``keep_first``. Documents come back with
    ``text`` reassembled in original line order plus
    ``lines_kept`` / ``lines_removed`` counts (empty-after-trim lines
    never participate: they are structure, not content, and every
    blank line would otherwise count as a duplicate of every other).

    100 TB posture: duplicate statistics come from a map-side-
    combining ``groupBy(line)`` — count plus ``min(struct(id, pos))``
    for the first occurrence — NOT a window over line partitions, so
    a boilerplate line repeated 10M times collapses to one row per
    upstream partition before it ever shuffles (windows would sort
    all 10M copies in one task). The stats join back by line (AQE
    handles residual skew: the probe side streams), and reassembly is
    one groupBy(doc) of (pos, line) structs."""
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), sep))
        .alias("__pos", "__line"))
    content = lines.filter(F.trim("__line") != "")
    stats = content.groupBy("__line").agg(
        F.count("*").alias("__cnt"),
        F.min(F.struct(F.col(id_col), F.col("__pos")))
        .alias("__first"))
    keep = (F.col("__cnt") < min_count)
    if keep_first:
        keep = keep | ((F.col("__first")[id_col] == F.col(id_col)) &
                       (F.col("__first")["__pos"] == F.col("__pos")))
    kept_content = (content.join(stats, "__line")
                    .filter(keep)
                    .select(id_col, "__pos", "__line"))
    blank = lines.filter(F.trim("__line") == "")
    kept = kept_content.unionByName(blank.select(
        id_col, "__pos", "__line"))
    rebuilt = kept.groupBy(id_col).agg(
        F.concat_ws(sep, F.transform(
            F.array_sort(F.collect_list(
                F.struct(F.col("__pos"), F.col("__line")))),
            lambda s: s["__line"])).alias("__new_text"),
        F.count("*").alias("lines_kept"))
    n_lines = lines.groupBy(id_col).agg(
        F.count("*").alias("__n_lines"))
    out = (df.join(rebuilt, id_col, "left")
           .join(n_lines, id_col, "left"))
    return (out
            .withColumn("lines_kept",
                        F.coalesce("lines_kept", F.lit(0)))
            .withColumn("lines_removed",
                        F.coalesce(F.col("__n_lines") -
                                   F.col("lines_kept"), F.lit(0)))
            .withColumn(text_col, F.coalesce("__new_text", F.lit("")))
            .drop("__new_text", "__n_lines"))


def ngram_novelty(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    gram_n: int = 3, hasher=None, round_to: int = 4,
) -> DataFrame:
    """Per-document NOVELTY: the fraction of a document's DISTINCT
    word ``gram_n``-grams that appear in NO other document — the
    boilerplate-vs-original signal corpus audits rank by (a page of
    templated text scores ~0, fresh prose ~1), and the natural
    prioritizer for near-dup triage. Returns
    ``(id, novelty, n_grams)``.

    100 TB shape: the one shingle explode hashes to 8-byte longs
    before anything shuffles, per-doc distinct + per-gram document
    frequency are map-side-combining aggregates, the join back is
    bucketed by the gram hash (AQE handles boilerplate-gram skew — the
    probe side streams), and the final mean is one doc-keyed
    aggregate. ``hasher`` defaults to xxhash64; pass
    :func:`md5_hash60` for oracle-reproducible runs."""
    from sling_cli_spark.caching import persist_tracked

    hs = persist_tracked(
        shingle_hash_table(df, text_col, id_col, gram_n, hasher)
        .distinct())
    dfreq = hs.groupBy("__h").agg(F.count("*").alias("__df"))
    return (hs.join(dfreq, "__h")
            .groupBy(id_col)
            .agg(F.round(F.avg((F.col("__df") == 1).cast("double")),
                         round_to).alias("novelty"),
                 F.count("*").alias("n_grams")))
