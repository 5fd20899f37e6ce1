"""Deduplication operators for training-data pipelines: exact, MinHash+LSH,
SimHash, n-gram Jaccard.

Design for 100 TB:
- Exact dedup: hash-groupBy on a 128-bit content hash — one shuffle keyed by
  the hash, perfectly parallel, no skew (hashes are uniform).
- MinHash+LSH: signatures are computed map-side (no shuffle); candidate
  generation is a self-equi-join on (band, bucket) — O(candidates), never
  the O(n²) all-pairs product. Bucket join keys are uniform hashes → no
  skew. Verification (estimated Jaccard from signature agreement) happens
  only on candidate pairs.
- SimHash: map-side signature; near-dup candidates via band equality over
  bit-slices (Hamming-ball probing), again an equi-join.
- n-gram Jaccard: exact verification for candidate pairs via an n-gram
  equi-join + group count — cost O(shared n-grams), bounded by candidates.

Techniques from the public literature: MinHash + banded LSH (Broder,
"On the resemblance and containment of documents", 1997; banding per
Leskovec/Rajaraman/Ullman, Mining of Massive Datasets ch.3), SimHash
(Charikar, "Similarity estimation techniques from rounding algorithms",
STOC 2002).

Every operator is built on the portable md5-based hash family
(functions/hashing.py) so each has a DuckDB SQL twin the driver's oracle
can check bit-for-bit — the sql_* generators below emit that twin from the
SAME parameters (seeded hash family, shingle size, bands).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators import cache
from .hashing import (
    MERSENNE_P,
    expand_round6,
    hash_params,
    md5_long,
    round_portable,
    sql_md5_long,
    sql_universal_hash,
    universal_hash,
)
from .text import sql_tokens, tokens

SHINGLE_N = 3           # word-shingle width
NUM_HASHES = 16         # MinHash signature length
LSH_BANDS = 4           # bands (rows per band = NUM_HASHES // LSH_BANDS)
SIMHASH_BITS = 32


# -- exact dedup --------------------------------------------------------------

def exact_dedup(df: DataFrame, text: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: group by md5(text), keep the smallest id per group.
    Returns (kept doc_id, content hash, n_dupes)."""
    return (
        df.select(F.col(id_col), F.md5(F.col(text)).alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("kept_id"),
            F.count(F.lit(1)).cast("int").alias("n_dupes"),
        )
    )


# -- shingles + MinHash -------------------------------------------------------

def shingles(text: Column, n: int = SHINGLE_N) -> Column:
    """Distinct word n-gram shingles of the canonical token stream.
    Docs shorter than n words yield an empty array (sequence(1,0) would
    count DOWN in Spark, hence the explicit guard)."""
    toks = tokens(text)
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.array_distinct(grams)


def sql_shingles(expr: str, n: int = SHINGLE_N) -> str:
    toks = sql_tokens(expr)
    return (
        f"list_distinct(list_transform("
        f"generate_series(1, greatest(len({toks}) - {n - 1}, 0)), "
        f"i -> array_to_string(list_slice({toks}, i, i + {n - 1}), ' ')))"
    )


def shingles_exploded(df: DataFrame, text: str = "text",
                      id_col: str = "doc_id", n: int = SHINGLE_N,
                      distinct: bool = False) -> DataFrame:
    """(id, shingle) rows via posexplode + lead window — 8x faster than
    the array-expression form at sf0.1 (Catalyst re-evaluates the
    tokenizer inside HOF lambdas; the window plan tokenizes once and
    shuffles by doc, which is one well-distributed exchange). Set
    ``distinct`` for set semantics (needed by Jaccard counts; MinHash is
    idempotent to duplicates and skips it).

    r17 measurement note: a fully MAP-SIDE spelling (token array bound
    once via the F.aggregate hoist, shingles as array_join-of-slice,
    explode — zero shuffle) was implemented, verified multiset-equal,
    and measured SLOWER on every consumer (dedup_containment 3.7 ->
    4.5 s, text_dup_ngram_fraction 1.9 -> 2.2 s at sf0.1): building
    the per-doc shingle array allocates O(doc) UnsafeArrayData per row
    while the exchange it saves is small and uniform. Keep the window
    form."""
    w = Window.partitionBy(id_col).orderBy("_pos")
    grams = (
        df.select(F.col(id_col), F.posexplode(tokens(F.col(text)))
                  .alias("_pos", "_w"))
        .select(
            id_col, "_pos", "_w",
            *[F.lead("_w", i).over(w).alias(f"_w{i}") for i in range(1, n)],
        )
        .filter(F.col(f"_w{n - 1}").isNotNull())
        .select(
            id_col,
            F.concat_ws(" ", "_w", *[f"_w{i}" for i in range(1, n)])
            .alias("shingle"),
        )
    )
    return grams.dropDuplicates([id_col, "shingle"]) if distinct else grams


def minhash_signature(text: Column, num_hashes: int = NUM_HASHES,
                      n: int = SHINGLE_N) -> Column:
    """MinHash signature: array of ``num_hashes`` min-values of the universal
    hash family over the shingle set. Empty docs get p (= +inf sentinel) in
    every slot. Pure map-side Column expression."""
    sh = shingles(text, n)
    base = F.transform(sh, lambda s: md5_long(s))

    def slot(a: int, b: int) -> Column:
        # closure factory: a default-arg lambda would look like a multi-arg
        # HOF lambda to PySpark's signature inspection
        return F.coalesce(
            F.array_min(F.transform(base, lambda x: universal_hash(x, a, b))),
            F.lit(MERSENNE_P).cast("long"),
        )

    return F.array(*[slot(a, b) for a, b in hash_params(num_hashes)])


def sql_minhash_base(expr: str, n: int = SHINGLE_N) -> str:
    """DuckDB expr: list of 60-bit shingle hashes for a text column."""
    sh = sql_shingles(expr, n)
    return f"list_transform({sh}, s -> {sql_md5_long('s')})"


def sql_minhash_slots(base: str = "_mh",
                      num_hashes: int = NUM_HASHES) -> str:
    """DuckDB expr: the signature array given a column holding the base
    hash list (use inside a CTE to avoid recomputing the shingles per
    slot)."""
    slots = ", ".join(
        f"coalesce(list_min(list_transform({base}, x -> "
        f"{sql_universal_hash('x', a, b)})), {MERSENNE_P})"
        for a, b in hash_params(num_hashes)
    )
    return f"[{slots}]"


def minhash_lsh_pairs(df: DataFrame, text: str = "text",
                      id_col: str = "doc_id",
                      num_hashes: int = NUM_HASHES,
                      bands: int = LSH_BANDS,
                      n: int = SHINGLE_N) -> DataFrame:
    """MinHash + banded-LSH near-duplicate candidate pairs.

    Plan (scale-first): explode shingles → hash each shingle ONCE →
    groupBy(doc) with ``num_hashes`` min-aggregates (single pass, map-side
    combine — the signature costs one md5 per shingle, not one per
    shingle×slot as a naive array-HOF expression would after Catalyst
    collapses projections) → per-band bucket key → self-equi-join on
    (band, bucket) → distinct (a, b) pairs with a < b, plus the
    signature-estimated Jaccard (fraction of agreeing minhash slots).
    The join is an equi-join on uniform keys: O(candidates),
    broadcast-able when one side is small, AQE-skew-safe otherwise.
    Docs with no shingles (< n words) have no signature and never pair.
    """
    rows_per_band = num_hashes // bands
    params = hash_params(num_hashes)
    shingled = shingles_exploded(df, text, id_col, n).select(
        F.col(id_col).alias("_id"),
        md5_long(F.col("shingle")).alias("_h"))
    sig = shingled.groupBy("_id").agg(*[
        F.min(universal_hash(F.col("_h"), a, b)).alias(f"_m{j}")
        for j, (a, b) in enumerate(params)
    ])
    banded = sig.select(
        "*",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(bi).alias("band"),
                    F.md5(
                        F.concat_ws(
                            ",",
                            *[F.col(f"_m{bi * rows_per_band + ri}")
                              for ri in range(rows_per_band)],
                        )
                    ).alias("bucket"),
                )
                for bi in range(bands)
            ])
        ).alias("_bb"),
    ).select(*sig.columns, "_bb.band", "_bb.bucket")
    a, b = banded.alias("a"), banded.alias("b")
    n_agree = None
    for j in range(num_hashes):
        term = F.when(F.col(f"a._m{j}") == F.col(f"b._m{j}"), 1).otherwise(0)
        n_agree = term if n_agree is None else n_agree + term
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            round_portable(
                n_agree.cast("double") / F.lit(float(num_hashes))
            ).alias("est_jaccard"),
        )
        .distinct()
    )
    return pairs


def sql_minhash_lsh_pairs(table: str = "documents", text: str = "text",
                          id_col: str = "doc_id",
                          num_hashes: int = NUM_HASHES,
                          bands: int = LSH_BANDS,
                          n: int = SHINGLE_N) -> str:
    rows_per_band = num_hashes // bands
    band_structs = ", ".join(
        "{'band': %d, 'bucket': md5(concat_ws(',', %s))}"
        % (bi, ", ".join(f"_sig[{bi * rows_per_band + ri + 1}]"
                         for ri in range(rows_per_band)))
        for bi in range(bands)
    )
    return expand_round6(f"""
    WITH mh AS (SELECT {id_col} AS _id,
                       {sql_minhash_base(text, n)} AS _mh FROM {table}),
    sig AS (SELECT _id, {sql_minhash_slots('_mh', num_hashes)} AS _sig
            FROM mh WHERE len(_mh) > 0),
    banded AS (
      SELECT _id, _sig, unnest([{band_structs}]) AS bb FROM sig
    ),
    pairs AS (
      SELECT DISTINCT a._id AS id_a, b._id AS id_b,
             ROUND6(CAST(len(list_filter(
                 list_transform(generate_series(1, {num_hashes}),
                                i -> a._sig[i] = b._sig[i]),
                 e -> e)) AS DOUBLE) / {float(num_hashes)}) AS est_jaccard
      FROM banded a JOIN banded b
        ON a.bb.band = b.bb.band AND a.bb.bucket = b.bb.bucket
       AND a._id < b._id
    )
    SELECT id_a, id_b, est_jaccard FROM pairs
    """)


# -- SimHash ------------------------------------------------------------------

def simhash(df: DataFrame, text: str = "text", id_col: str = "doc_id",
            bits: int = SIMHASH_BITS) -> DataFrame:
    """SimHash fingerprint: per bit i, sum (+1/-1) over tokens according to
    bit i of the token's 60-bit md5 integer; bit set iff the sum > 0.
    Map-side explode + one groupBy on the doc id (combiner-friendly)."""
    words = df.select(
        F.col(id_col),
        F.explode(tokens(F.col(text))).alias("_w"),
    ).withColumn("_h", md5_long(F.col("_w")))
    bit_sums = words.groupBy(id_col).agg(*[
        F.sum(
            F.when(F.shiftright(F.col("_h"), i).bitwiseAND(1) == 1, 1).otherwise(-1)
        ).alias(f"_b{i}")
        for i in range(bits)
    ])
    sim = None
    for i in range(bits):
        term = F.when(F.col(f"_b{i}") > 0, F.lit(2 ** i).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sim = term if sim is None else sim + term
    return bit_sums.select(F.col(id_col), sim.alias("simhash"))


def sql_simhash(table: str = "documents", text: str = "text",
                id_col: str = "doc_id", bits: int = SIMHASH_BITS) -> str:
    toks = sql_tokens(text)
    h = sql_md5_long("_w")
    bit_sums = ", ".join(
        f"sum(CASE WHEN (_h // {2 ** i}) % 2 = 1 THEN 1 ELSE -1 END) AS _b{i}"
        for i in range(bits)
    )
    sim = " + ".join(
        f"CASE WHEN _b{i} > 0 THEN CAST({2 ** i} AS BIGINT) ELSE 0 END"
        for i in range(bits)
    )
    return f"""
    WITH w AS (
      SELECT {id_col}, unnest({toks}) AS _w FROM {table}
    ), h AS (
      SELECT {id_col}, {h} AS _h FROM w
    ), s AS (
      SELECT {id_col}, {bit_sums} FROM h GROUP BY {id_col}
    )
    SELECT {id_col}, ({sim}) AS simhash FROM s
    """


# -- exact n-gram Jaccard -----------------------------------------------------

def ngram_jaccard_pairs(df: DataFrame, text: str = "text",
                        id_col: str = "doc_id", group_col: str | None = None,
                        n: int = SHINGLE_N,
                        threshold: float = 0.5) -> DataFrame:
    """Exact Jaccard over distinct word n-grams for pairs sharing at least
    one n-gram: explode → self-equi-join on the n-gram (+ optional blocking
    column, e.g. lang) → |∩| per pair → |A∪B| = |A|+|B|−|∩|.

    Cost is O(pairs sharing an n-gram), not O(n²); at 100 TB pair this with
    minhash_lsh_pairs as the blocking stage and run this only on its
    candidates.
    """
    grams = shingles_exploded(df, text, id_col, n, distinct=True)
    if group_col:
        grams = grams.join(df.select(id_col, group_col), id_col)
    # force=True (r17): size-gated, the distinct gram table re-ran per
    # consumer (counts + both self-join arms) — dedup_ngram_jaccard
    # measured 3.0 s gated vs 2.5 s forced at sf0.1
    base = cache.maybe_persist(grams.select(
        F.col(id_col).alias("_id"),
        *([F.col(group_col).alias("_g")] if group_col else []),
        F.col("shingle").alias("_ng"),
    ), force=True)
    counts = base.groupBy("_id").agg(F.count(F.lit(1)).alias("_n"))
    a, b = base.alias("a"), base.alias("b")
    join_cond = (F.col("a._ng") == F.col("b._ng")) & (F.col("a._id") < F.col("b._id"))
    if group_col:
        join_cond = join_cond & (F.col("a._g") == F.col("b._g"))
    inter = (
        a.join(b, join_cond)
        .groupBy(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("_common"))
    )
    return (
        inter.join(counts.withColumnRenamed("_id", "id_a")
                   .withColumnRenamed("_n", "_na"), "id_a")
        .join(counts.withColumnRenamed("_id", "id_b")
              .withColumnRenamed("_n", "_nb"), "id_b")
        .select(
            "id_a",
            "id_b",
            round_portable(
                F.col("_common").cast("double")
                / (F.col("_na") + F.col("_nb") - F.col("_common")).cast("double")
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def sql_ngram_jaccard_pairs(table: str = "documents", text: str = "text",
                            id_col: str = "doc_id",
                            group_col: str | None = None,
                            n: int = SHINGLE_N,
                            threshold: float = 0.5) -> str:
    sh = sql_shingles(text, n)
    gsel = f", {group_col} AS _g" if group_col else ""
    gcond = " AND a._g = b._g" if group_col else ""
    return expand_round6(f"""
    WITH base AS (
      SELECT {id_col} AS _id{gsel}, unnest({sh}) AS _ng FROM {table}
    ),
    counts AS (SELECT _id, count(*) AS _n FROM base GROUP BY _id),
    inter AS (
      SELECT a._id AS id_a, b._id AS id_b, count(*) AS _common
      FROM base a JOIN base b ON a._ng = b._ng AND a._id < b._id{gcond}
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           ROUND6(CAST(_common AS DOUBLE)
                 / CAST(ca._n + cb._n - _common AS DOUBLE)) AS jaccard
    FROM inter
    JOIN counts ca ON ca._id = id_a
    JOIN counts cb ON cb._id = id_b
    WHERE ROUND6(CAST(_common AS DOUBLE)
                / CAST(ca._n + cb._n - _common AS DOUBLE)) >= {threshold}
    """)


def containment_pairs(df: DataFrame, text: str = "text",
                      id_col: str = "doc_id", n: int = SHINGLE_N,
                      threshold_pct: int = 80,
                      max_df: int | None = None) -> DataFrame:
    """Asymmetric near-CONTAINMENT pairs: |A∩B| / min(|A|,|B|) ≥ t.

    Jaccard misses the quote/excerpt case — a 100-gram doc fully pasted
    into a 10,000-gram doc has Jaccard ≈ 0.01 but containment 1.0, and
    training corpora are full of exactly that (boilerplate wrappers,
    quoted articles, README prologues). Broder's containment coefficient
    (SEQUENCES 1997) is the standard detector.

    Same O(pairs-sharing-a-gram) equi-join skeleton as
    :func:`ngram_jaccard_pairs`; ``max_df`` optionally drops n-grams
    present in more than that many documents BEFORE the self-join — the
    hot-gram cap that keeps the candidate count near-linear at 100 TB
    (a boilerplate gram shared by 1M docs would otherwise fan out 1e12
    pairs; capped grams can only cost recall on pairs ALSO sharing a
    rarer gram, and the oracle applies the identical cap so the check
    stays exact). The keep verdict compares in the integer domain
    (100·common ≥ t·min) — the ratio double is display-only."""
    grams = shingles_exploded(df, text, id_col, n, distinct=True)
    # the gram table feeds counts, the hot-gram filter, AND both self-join
    # sides — at corpus scale recomputing means re-tokenizing 4x, so pay
    # the cache once. force=True (r17): the size gate read a small
    # Catalyst estimate and skipped this persist, re-tokenizing per
    # consumer — dedup_containment measured 4.3 s gated vs 2.9 s forced
    base = cache.maybe_persist(
        grams.select(F.col(id_col).alias("_id"),
                     F.col("shingle").alias("_ng")), force=True)
    counts = base.groupBy("_id").agg(F.count(F.lit(1)).alias("_n"))
    if max_df is not None:
        hot = (base.groupBy("_ng").agg(F.count(F.lit(1)).alias("_df"))
               .filter(F.col("_df") <= max_df).select("_ng"))
        base = base.join(hot, "_ng")
    a, b = base.alias("a"), base.alias("b")
    inter = (
        a.join(b, (F.col("a._ng") == F.col("b._ng"))
               & (F.col("a._id") < F.col("b._id")))
        .groupBy(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("common_ngrams"))
    )
    return (
        inter.join(counts.withColumnRenamed("_id", "id_a")
                   .withColumnRenamed("_n", "na"), "id_a")
        .join(counts.withColumnRenamed("_id", "id_b")
              .withColumnRenamed("_n", "nb"), "id_b")
        .filter(F.lit(100) * F.col("common_ngrams")
                >= F.lit(threshold_pct) * F.least("na", "nb"))
        .select("id_a", "id_b", "common_ngrams", "na", "nb",
                round_portable(
                    F.col("common_ngrams").cast("double")
                    / F.least("na", "nb").cast("double"))
                .alias("containment"))
    )


def sql_containment_pairs(table: str = "documents", text: str = "text",
                          id_col: str = "doc_id", n: int = SHINGLE_N,
                          threshold_pct: int = 80,
                          max_df: int | None = None) -> str:
    sh = sql_shingles(text, n)
    hot = (f"""base AS (
      SELECT _id, _ng FROM base0
      WHERE _ng IN (SELECT _ng FROM base0 GROUP BY _ng
                    HAVING count(*) <= {max_df})
    ),""" if max_df is not None else "base AS (SELECT * FROM base0),")
    return expand_round6(f"""
    WITH base0 AS (
      SELECT {id_col} AS _id, unnest({sh}) AS _ng FROM {table}
    ),
    counts AS (SELECT _id, count(*) AS _n FROM base0 GROUP BY _id),
    {hot}
    inter AS (
      SELECT a._id AS id_a, b._id AS id_b,
             CAST(count(*) AS BIGINT) AS common_ngrams
      FROM base a JOIN base b ON a._ng = b._ng AND a._id < b._id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, common_ngrams,
           CAST(ca._n AS BIGINT) AS na, CAST(cb._n AS BIGINT) AS nb,
           ROUND6(CAST(common_ngrams AS DOUBLE)
                 / CAST(least(ca._n, cb._n) AS DOUBLE)) AS containment
    FROM inter
    JOIN counts ca ON ca._id = id_a
    JOIN counts cb ON cb._id = id_b
    WHERE 100 * common_ngrams >= {threshold_pct} * least(ca._n, cb._n)
    """)


# -- near-dup clustering (connected components) ------------------------------

def _materialize(df: DataFrame) -> DataFrame:
    """Cut lineage between propagation sweeps, durably when possible.

    ``localCheckpoint`` stores blocks on executors: on a real cluster,
    losing one executor mid-sweep kills the truncated lineage (or
    silently recomputes a nondeterministic upstream sample). When the
    session has a reliable checkpoint dir configured
    (``spark.sparkContext.setCheckpointDir`` → HDFS/S3/local FS), use a
    reliable ``checkpoint`` instead; fall back to ``localCheckpoint``
    only when no dir is set (single-JVM local mode, where executor loss
    means the whole app is gone anyway).
    """
    sc = df.sparkSession.sparkContext
    try:
        has_dir = sc.getCheckpointDir() is not None
    except Exception:
        has_dir = False
    if has_dir:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def connected_components(nodes: DataFrame, edges: DataFrame,
                         id_col: str = "doc_id",
                         max_iter: int = 20) -> DataFrame:
    """Union near-dup pairs into clusters: each node's label converges to
    the MIN id in its connected component via iterative label
    propagation (alternating small-star-ish min-joins). Iterations are
    O(component diameter) — bounded by ``max_iter`` with an early stop
    when a sweep changes nothing, so the driver loop runs a handful of
    distributed joins, never a per-row loop.

    Returns (id, component). The canonical dedup policy "keep the
    smallest id per cluster" is then ``component == id``.
    """
    sym = (
        edges.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(
            edges.select(F.col("id_b").alias("src"),
                         F.col("id_a").alias("dst")))
        .distinct()
    )
    # materialize once: the edge lineage (often an LSH candidate
    # pipeline) must not be recomputed on every propagation sweep
    sym = _materialize(sym)
    # Only edge-endpoint nodes can ever change label — iterate over THEM
    # (O(|endpoints|), tiny relative to the corpus after LSH blocking at
    # any scale) and left-join the untouched corpus back at the end with
    # label = own id. Initial label = min(id, min neighbor): the first
    # propagation sweep fused into the init aggregate (one groupBy
    # instead of a full join+groupBy+join+checkpoint round).
    labels = (
        sym.groupBy("src")
        .agg(F.min("dst").alias("_m"))
        .select(F.col("src").alias("id"),
                F.least("src", "_m").alias("label"))
    )
    labels = _materialize(labels)
    # The convergence check rides the checkpoint's own action as an
    # Observation (CollectMetrics is a pass-through node): the old
    # spelling re-joined the materialized sweep against the previous
    # labels and counted — one extra join job PER SWEEP whose only
    # output was a boolean. Same fixed point, same early stop (a
    # changed label is exactly a row where least(old, nmin) != old).
    for sweep in range(max_iter):
        neighbor_min = (
            sym.join(labels, sym.dst == labels.id)
            .groupBy("src").agg(F.min("label").alias("nlabel"))
        )
        obs = Observation()
        new_labels = (
            labels.join(neighbor_min,
                        labels.id == neighbor_min.src, "left")
            .select(
                "id",
                F.col("label").alias("_old"),
                F.least(F.col("label"),
                        F.coalesce(F.col("nlabel"), F.col("label")))
                .alias("label"),
            )
            .observe(obs, F.sum((F.col("label") != F.col("_old"))
                                .cast("long")).alias("changed"))
            .select("id", "label")
        )
        labels = _materialize(new_labels)
        if (obs.get["changed"] or 0) == 0:
            break
    return (
        nodes.select(F.col(id_col).alias("id"))
        .join(labels.withColumnRenamed("id", "_eid"),
              F.col("id") == F.col("_eid"), "left")
        .select(F.col("id").alias(id_col),
                F.coalesce("label", F.col("id")).alias("component"))
    )


def sql_connected_components(nodes_sql: str, edges_sql: str,
                             id_col: str = "doc_id") -> str:
    """DuckDB twin via recursive transitive closure (fine at oracle
    scale; the Spark path above is the one that scales)."""
    return f"""
    WITH RECURSIVE
    nodes AS ({nodes_sql}),
    edges AS ({edges_sql}),
    sym AS (
      SELECT id_a AS src, id_b AS dst FROM edges
      UNION SELECT id_b, id_a FROM edges
      UNION SELECT {id_col}, {id_col} FROM nodes
    ),
    reach(src, dst) AS (
      SELECT src, dst FROM sym
      UNION
      SELECT r.src, e.dst FROM reach r JOIN sym e ON e.src = r.dst
    )
    SELECT src AS {id_col}, min(dst) AS component
    FROM reach GROUP BY src
    """


# ---------------------------------------------------------------------------
# Winnowing fingerprints (local exact-substring dedup)
# ---------------------------------------------------------------------------

WINNOW_K = 16  # character k-gram length
WINNOW_W = 8   # winnowing window (guarantee: matches >= W+K-1 chars hit)
# k=16/w=8 (23-char ~ 4-word guarantee) and not the classic small k:
# on a small-vocabulary corpus 8-char substrings recur corpus-wide, so
# at sf0.1 nearly every k=8 fingerprint exceeded any sane max_df and
# recall collapsed to zero; at k=16, 99.5% of each doc's fingerprints
# have df <= 100 even at 10x docs (measured) — the fingerprint space
# must out-scale the corpus for the hot cap to cost only noise.


def winnowing_pairs(df: DataFrame, text: str = "text",
                    id_col: str = "doc_id", k: int = WINNOW_K,
                    w: int = WINNOW_W, threshold_pct: int = 80,
                    max_df: int | None = 100) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
    "Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD
    2003 — the MOSS algorithm): hash every character k-gram, keep the
    MINIMUM hash of each w-wide sliding window, and match documents on
    shared selected fingerprints. This is the LOCAL exact-substring
    detector the shingle-set family (Jaccard/containment) is not: any
    shared substring of length >= w + k - 1 is GUARANTEED to surface a
    common fingerprint regardless of how different the rest of the
    documents are — the "Deduplicating Training Data" (Lee et al.,
    ACL 2022) exact-substring axis, at O(selected fingerprints)
    instead of suffix-array cost.

    Portability/scale: hashes are the repo's md5_long (identical in
    DuckDB); window minima are position-independent (a value min, so
    tie handling cannot differ cross-engine); selection is pure
    map-side array expressions — the k-gram hash array is computed
    ONCE per row inside an F.aggregate zero-accumulator (HOF lambdas
    defeat Catalyst subexpression elimination, so referencing the
    array from two sibling expressions would re-run every md5 — the
    bloom-probe lesson); candidates are an equi-join on fingerprint
    with the same ``max_df`` hot-fingerprint cap as containment_pairs
    bounding the self-join fan-out at corpus scale. Documents shorter
    than k have no fingerprints (dropped identically in both engines);
    documents with fewer than w k-grams contribute the min of what
    they have (one window).

    The keep verdict is RELATIVE, like containment: pairs where
    shared fingerprints cover at least ``threshold_pct`` percent of
    the smaller document's selected-fingerprint set (integer-domain
    comparison; the fraction double is display-only) — an absolute
    shared-count threshold drowns in background matches on a
    small-vocabulary corpus where every document shares some
    substrings with every other.

    Returns (id_a, id_b, shared_fps, na, nb, match_frac)."""
    t = F.col(text)
    hs = F.transform(
        F.sequence(F.lit(1), F.length(t) - F.lit(k - 1)),
        lambda i: md5_long(t.substr(i, F.lit(k))))
    sel = F.aggregate(
        F.lit([1]),
        F.struct(hs.alias("hs")),         # k-gram hashes computed ONCE
        lambda acc, _: acc,
        lambda acc: F.array_distinct(F.transform(
            F.sequence(
                F.lit(1),
                F.greatest(F.size(acc["hs"]) - F.lit(w - 1), F.lit(1))),
            lambda j: F.array_min(F.slice(acc["hs"], j, w)))))
    # force=True (r17): the fingerprint table feeds counts, the hot cap
    # aggregate, and both self-join arms; size-gated it re-ran the
    # winnow window selection per consumer — dedup_winnowing measured
    # 10.8 s gated vs 6.5 s forced at sf0.1
    fps = cache.maybe_persist(
        df.filter(F.length(t) >= k)
        .select(F.col(id_col).alias("_id"), F.explode(sel).alias("_fp")),
        force=True)
    counts = fps.groupBy("_id").agg(F.count(F.lit(1)).alias("_n"))
    capped = fps
    if max_df is not None:
        ok = (fps.groupBy("_fp").agg(F.count(F.lit(1)).alias("_df"))
              .filter(F.col("_df") <= max_df).select("_fp"))
        capped = fps.join(ok, "_fp")
    a, b = capped.alias("a"), capped.alias("b")
    inter = (
        a.join(b, (F.col("a._fp") == F.col("b._fp"))
               & (F.col("a._id") < F.col("b._id")))
        .groupBy(F.col("a._id").alias("id_a"),
                 F.col("b._id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("shared_fps"))
    )
    return (
        inter.join(counts.withColumnRenamed("_id", "id_a")
                   .withColumnRenamed("_n", "na"), "id_a")
        .join(counts.withColumnRenamed("_id", "id_b")
              .withColumnRenamed("_n", "nb"), "id_b")
        .filter(F.lit(100) * F.col("shared_fps")
                >= F.lit(threshold_pct) * F.least("na", "nb"))
        .select("id_a", "id_b", "shared_fps", "na", "nb",
                round_portable(
                    F.col("shared_fps").cast("double")
                    / F.least("na", "nb").cast("double"))
                .alias("match_frac"))
    )


def sql_winnowing_pairs(table: str = "documents", text: str = "text",
                        id_col: str = "doc_id", k: int = WINNOW_K,
                        w: int = WINNOW_W, threshold_pct: int = 80,
                        max_df: int | None = 100) -> str:
    """DuckDB twin of ``winnowing_pairs``: same k-gram hashes, same
    window minima, same hot-fingerprint cap and relative threshold."""
    gram_hash = sql_md5_long(f"substr({text}, CAST(i AS INTEGER), {k})")
    cap = (f"WHERE _fp IN (SELECT _fp FROM _wn_sel GROUP BY _fp "
           f"HAVING count(*) <= {max_df})") if max_df is not None else ""
    return f"""
    WITH _wn_h AS (
      SELECT {id_col} AS _id,
             list_transform(generate_series(1, length({text}) - {k - 1}),
                            i -> {gram_hash}) AS hs
      FROM {table} WHERE length({text}) >= {k}
    ),
    _wn_sel AS (
      SELECT _id, unnest(list_distinct(list_transform(
               generate_series(1, greatest(len(hs) - {w - 1}, 1)),
               j -> list_aggregate(
                      hs[CAST(j AS INTEGER) :
                         CAST(j + {w - 1} AS INTEGER)], 'min')))) AS _fp
      FROM _wn_h
    ),
    _wn_counts AS (
      SELECT _id, CAST(count(*) AS BIGINT) AS _n
      FROM _wn_sel GROUP BY _id
    ),
    _wn_f AS (SELECT _id, _fp FROM _wn_sel {cap}),
    _wn_pairs AS (
      SELECT a._id AS id_a, b._id AS id_b,
             CAST(count(*) AS BIGINT) AS shared_fps
      FROM _wn_f a JOIN _wn_f b
        ON b._fp = a._fp AND a._id < b._id
      GROUP BY 1, 2
    )
    SELECT p.id_a, p.id_b, p.shared_fps,
           ca._n AS na, cb._n AS nb,
           ROUND6(CAST(p.shared_fps AS DOUBLE)
                  / CAST(least(ca._n, cb._n) AS DOUBLE)) AS match_frac
    FROM _wn_pairs p
    JOIN _wn_counts ca ON ca._id = p.id_a
    JOIN _wn_counts cb ON cb._id = p.id_b
    WHERE 100 * p.shared_fps >= {threshold_pct} * least(ca._n, cb._n)
    """


# -- exact duplicated-span masking (ExactSubstr axis) -------------------------

SPAN_K = 5  # token k-gram width for duplicated-span detection


def span_islands(df: DataFrame, text: str = "text",
                 id_col: str = "doc_id", k: int = SPAN_K,
                 min_count: int = 2) -> DataFrame:
    """The shared ExactSubstr core: maximal duplicated token spans per
    document as (_id, _s, _e) with 1-based token positions, end
    exclusive — a span is the union of the [p, p+k) intervals of every
    k-gram occurring >= min_count times corpus-wide, merged by the
    gaps-and-islands chain (grams overlap/touch while the next start
    is <= the running max end, so each island's coverage is
    contiguous). Consumed by span_dedup_report (the measurement) and
    span_scrub (the cut); both twins' finishers MUST share this core
    or a one-sided edit could silently split them."""
    t = F.col(text)
    # gram side: the token array is bound ONCE inside the
    # aggregate-zero accumulator (HOF lambdas defeat Catalyst CSE —
    # the winnowing/bloom lesson: slicing a re-derived split() inside
    # the transform lambda would re-split per position, O(n²)/doc).
    # Docs shorter than k yield NULL (no otherwise branch) and explode
    # drops them — which also sidesteps Spark's backwards
    # sequence(1, 0) trap.
    gs = F.aggregate(
        F.lit([1]),
        F.struct(tokens(t).alias("tk")),
        lambda acc, _: acc,
        lambda acc: F.when(
            F.size(acc["tk"]) >= k,
            F.transform(
                F.sequence(F.lit(1), F.size(acc["tk"]) - F.lit(k - 1)),
                lambda i: F.struct(
                    i.cast("int").alias("p"),
                    md5_long(F.array_join(F.slice(acc["tk"], i, k), " "))
                    .alias("g")))))
    grams = (df.select(F.col(id_col).alias("_id"),
                       F.explode(gs).alias("_u"))
             .select("_id", F.col("_u.p").alias("p"),
                     F.col("_u.g").alias("g")))
    # force=True (r17): the gram table feeds the dup-gram aggregate AND
    # the semi-join probe; size-gated, both re-ran the position explode
    # (span report 3.1 -> 2.3 s, scrub 4.5 -> 3.3 s at sf0.1)
    grams = cache.maybe_persist(grams, force=True)
    dup = (grams.groupBy("g")
           .agg(F.count(F.lit(1)).alias("_c"))
           .filter(F.col("_c") >= min_count).select("g"))
    hits = grams.join(dup, "g", "left_semi").select("_id", "p")
    w_prev = (Window.partitionBy("_id").orderBy("p")
              .rowsBetween(Window.unboundedPreceding, -1))
    w_run = (Window.partitionBy("_id").orderBy("p")
             .rowsBetween(Window.unboundedPreceding, 0))
    marked = hits.withColumn(
        "_pe", F.max(F.col("p") + F.lit(k)).over(w_prev))
    isl = (marked.withColumn(
        "_st", F.when(F.col("_pe").isNull()
                      | (F.col("p") > F.col("_pe")), 1).otherwise(0))
        .withColumn("_isl", F.sum("_st").over(w_run)))
    return (isl.groupBy("_id", "_isl")
            .agg(F.min("p").alias("_s"),
                 F.max(F.col("p") + F.lit(k)).alias("_e"))
            .select("_id", "_s", "_e"))


def _sql_span_islands(table: str, text: str, id_col: str, k: int,
                      min_count: int) -> str:
    """DuckDB twin of span_islands, as WITH-clause bodies ending in
    _sp_spans(_id, _s, _e); _sp_base(_id, n_tokens, tk) is also
    exposed for the consumers' all-documents joins."""
    toks = sql_tokens(text)
    gram_hash = sql_md5_long(
        f"array_to_string(tk[CAST(i AS INTEGER)"
        f" : CAST(i + {k - 1} AS INTEGER)], ' ')")
    return f"""
    _sp_base AS (
      SELECT {id_col} AS _id, coalesce(len({toks}), 0) AS n_tokens,
             {toks} AS tk
      FROM {table}
    ),
    _sp_grams AS (
      SELECT _id,
             unnest(generate_series(1, len(tk) - {k - 1})) AS p,
             unnest(list_transform(generate_series(1, len(tk) - {k - 1}),
                                   i -> {gram_hash})) AS g
      FROM _sp_base WHERE n_tokens >= {k}
    ),
    _sp_hits AS (
      SELECT _id, p FROM _sp_grams
      WHERE g IN (SELECT g FROM _sp_grams
                  GROUP BY g HAVING count(*) >= {min_count})
    ),
    _sp_marked AS (
      SELECT _id, p,
             max(p + {k}) OVER (PARTITION BY _id ORDER BY p
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS _pe
      FROM _sp_hits
    ),
    _sp_isl AS (
      SELECT _id, p,
             sum(CASE WHEN _pe IS NULL OR p > _pe THEN 1 ELSE 0 END)
               OVER (PARTITION BY _id ORDER BY p
                     ROWS UNBOUNDED PRECEDING) AS _isl
      FROM _sp_marked
    ),
    _sp_spans AS (
      SELECT _id, _isl, min(p) AS _s, max(p + {k}) AS _e
      FROM _sp_isl GROUP BY 1, 2
    )"""


def span_dedup_report(df: DataFrame, text: str = "text",
                      id_col: str = "doc_id", k: int = SPAN_K,
                      min_count: int = 2) -> DataFrame:
    """Per-document duplicated-span report — the ExactSubstr operation
    of "Deduplicating Training Data Makes Language Models Better"
    (Lee et al., ACL 2022): find every maximal token span covered by a
    k-token gram that occurs at least ``min_count`` times in the WHOLE
    corpus (other documents or elsewhere in the same one), and report
    how much of each document is duplicated text. Where the pair
    detectors (minhash/jaccard/winnowing) answer "which documents are
    near-copies", this answers the span-level question their verdicts
    can't: "which PARTS of this document are boilerplate the corpus
    already contains" — the signal ExactSubstr uses to CUT spans
    rather than drop documents.

    Scale design (why this needs no suffix array): the (doc, pos,
    gram-hash) table is linear in corpus tokens and built map-side;
    the duplicated-gram set is one groupBy on a uniform 64-bit hash;
    membership is a semi-join that can only SHRINK the gram table
    (each position matches at most once — no fan-out, unlike the
    pair-join detectors, so no hot-gram cap is needed); the interval
    merge (classic gaps-and-islands) runs in a per-document window
    bounded by document length. One scan, two bounded shuffles.

    A span's tokens are the UNION of its covering k-gram intervals
    [p, p+k): grams chain while the next start is <= the running max
    end, so each island's coverage is exactly (max end - min start).
    Documents shorter than k tokens (and NULL/empty texts) report
    zeros. Returns (doc_id, n_tokens, dup_tokens, n_spans)."""
    t = F.col(text)
    # report side: cheap per-doc token count for EVERY document
    base = df.select(F.col(id_col).alias("_id"),
                     F.coalesce(F.size(tokens(t)), F.lit(0))
                     .alias("n_tokens"))
    spans = span_islands(df, text, id_col, k, min_count)
    agg = (spans.groupBy("_id")
           .agg(F.sum(F.col("_e") - F.col("_s")).cast("long")
                .alias("dup_tokens"),
                F.count(F.lit(1)).cast("long").alias("n_spans")))
    return (base.select("_id", "n_tokens")
            .join(agg, "_id", "left")
            .select(F.col("_id").alias(id_col),
                    F.col("n_tokens").cast("long").alias("n_tokens"),
                    F.coalesce("dup_tokens", F.lit(0)).cast("long")
                    .alias("dup_tokens"),
                    F.coalesce("n_spans", F.lit(0)).cast("long")
                    .alias("n_spans")))


def sql_span_dedup_report(table: str = "documents", text: str = "text",
                          id_col: str = "doc_id", k: int = SPAN_K,
                          min_count: int = 2) -> str:
    """DuckDB twin of ``span_dedup_report``: same tokenizer, same
    md5-hashed token k-grams, same corpus-count threshold and
    gaps-and-islands interval merge (shared via _sql_span_islands)."""
    return f"""
    WITH {_sql_span_islands(table, text, id_col, k, min_count)},
    _sp_agg AS (
      SELECT _id, CAST(sum(_e - _s) AS BIGINT) AS dup_tokens,
             CAST(count(*) AS BIGINT) AS n_spans
      FROM _sp_spans GROUP BY 1
    )
    SELECT b._id AS {id_col}, CAST(b.n_tokens AS BIGINT) AS n_tokens,
           coalesce(a.dup_tokens, 0) AS dup_tokens,
           coalesce(a.n_spans, 0) AS n_spans
    FROM _sp_base b LEFT JOIN _sp_agg a ON a._id = b._id
    """


def span_scrub(df: DataFrame, text: str = "text",
               id_col: str = "doc_id", k: int = SPAN_K,
               min_count: int = 2) -> DataFrame:
    """The ExactSubstr CUT (Lee et al., ACL 2022 §4.2): rebuild each
    document with every duplicated span removed, reported as the
    retained-token count plus an md5 of the scrubbed text so the gate
    can hash-compare the actual reconstruction, not just its size.
    Tokens keep their original order; docs with nothing duplicated
    hash their full canonical-token join; fully-duplicated docs hash
    the empty string (both engines agg empty to '').

    Scale shape on top of span_islands: positions explode map-side
    (linear in corpus tokens), the span-membership join is per-doc
    against DISJOINT intervals (<= 1 match per token — no fan-out),
    and the rebuild is one per-doc groupBy with an order-pinned
    string agg. Returns (doc_id, n_tokens, kept_tokens, scrub_md5)."""
    t = F.col(text)
    base = df.select(F.col(id_col).alias("_id"),
                     F.coalesce(F.size(tokens(t)), F.lit(0))
                     .alias("n_tokens"))
    pos = (df.select(F.col(id_col).alias("_id"),
                     F.posexplode(tokens(t)).alias("_p0", "tok"))
           .select("_id", (F.col("_p0") + F.lit(1)).alias("p"), "tok"))
    spans = span_islands(df, text, id_col, k, min_count)
    kept = (pos.alias("x")
            .join(spans.alias("s"),
                  (F.col("x._id") == F.col("s._id"))
                  & (F.col("x.p") >= F.col("s._s"))
                  & (F.col("x.p") < F.col("s._e")), "left_anti"))
    rebuilt = (kept.groupBy("_id")
               .agg(F.count(F.lit(1)).cast("long").alias("kept_tokens"),
                    F.md5(F.array_join(
                        F.transform(
                            F.array_sort(F.collect_list(
                                F.struct("p", "tok"))),
                            lambda x: x["tok"]), " ")).alias("scrub_md5")))
    return (base.join(rebuilt, "_id", "left")
            .select(F.col("_id").alias(id_col),
                    F.col("n_tokens").cast("long").alias("n_tokens"),
                    F.coalesce("kept_tokens", F.lit(0)).cast("long")
                    .alias("kept_tokens"),
                    F.coalesce("scrub_md5", F.md5(F.lit("")))
                    .alias("scrub_md5")))


def sql_span_scrub(table: str = "documents", text: str = "text",
                   id_col: str = "doc_id", k: int = SPAN_K,
                   min_count: int = 2) -> str:
    """DuckDB twin of ``span_scrub`` over the same _sql_span_islands
    core: WITH-ORDINALITY-substitute position explode, disjoint-span
    anti-join, order-pinned string_agg, md5 of the rebuilt text."""
    return f"""
    WITH {_sql_span_islands(table, text, id_col, k, min_count)},
    _sc_pos AS (
      SELECT _id,
             unnest(generate_series(1, len(tk))) AS p,
             unnest(tk) AS tok
      FROM _sp_base WHERE n_tokens > 0
    ),
    _sc_kept AS (
      SELECT x._id, x.p, x.tok FROM _sc_pos x
      WHERE NOT EXISTS (SELECT 1 FROM _sp_spans s
                        WHERE s._id = x._id
                          AND x.p >= s._s AND x.p < s._e)
    ),
    _sc_built AS (
      SELECT _id, CAST(count(*) AS BIGINT) AS kept_tokens,
             md5(string_agg(tok, ' ' ORDER BY p)) AS scrub_md5
      FROM _sc_kept GROUP BY _id
    )
    SELECT b._id AS {id_col}, CAST(b.n_tokens AS BIGINT) AS n_tokens,
           coalesce(r.kept_tokens, 0) AS kept_tokens,
           coalesce(r.scrub_md5, md5('')) AS scrub_md5
    FROM _sp_base b LEFT JOIN _sc_built r ON r._id = b._id
    """
