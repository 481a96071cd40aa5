"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design (the point of these at 100 TB):

- **exact**: one hash-aggregate on ``md5(text)`` — a single shuffle keyed by
  a 128-bit fingerprint, perfectly partitionable, no skew (hash keys).
- **MinHash+LSH**: signatures are per-row projections (no shuffle); banding
  explodes to ``n_bands`` rows/doc and the candidate join shuffles on
  ``(band, band_hash)`` — tiny keys, and only docs sharing a band collide,
  so the join fan-out is bounded by actual near-duplicate density rather
  than O(n²).
- **SimHash**: per-row fingerprint then one group-by on the fingerprint.
- **n-gram Jaccard**: evaluated only on LSH candidate pairs (never all
  pairs).

All hashing is exactly SQL-replayable — ``md5`` fingerprints, and for
minhash ONE md5 base hash per shingle expanded through frozen affine
permutations mod a Mersenne prime (pure BIGINT arithmetic both engines
compute identically) — so a DuckDB oracle reproduces results exactly;
everything below is JVM-side column algebra (no Python UDFs).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from xcube_geodb_spark.functions.spread import spread_small
from xcube_geodb_spark.functions.text import normalized


def shingles(text: Column, n: int = 3) -> Column:
    """Distinct n-word shingles; falls back to the whole normalized text for
    documents shorter than n words.

    WARNING: this single-expression form re-evaluates the tokenization per
    element_at reference (no subexpression elimination inside higher-order
    functions — observed ~20x slowdown on real corpora). Table-level
    operators should use :func:`shingle_table` instead, which materializes
    the token array in its own projection."""
    toks = F.split(normalized(text), " ")
    k = F.size(toks)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(k - (n - 1), F.lit(1))),
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, i + j) for j in range(n)]
        ),
    )
    return F.array_distinct(
        F.when(k >= n, grams).otherwise(F.array(normalized(text)))
    )


def shingle_table(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """(id, sh: array<string>) with the token array materialized in a
    separate projection so each element_at reads an attribute instead of
    re-running regexp+split (Catalyst's CollapseProject keeps non-cheap
    aliases referenced more than once in their own project).

    The raw (id, text) pair is round-robin-spread first when the input
    is provably small (functions/spread): shingling + downstream md5
    cost hundreds of CPU ops per input byte, and a one-row-group
    parquet source would otherwise run the whole chain on one core."""
    src = spread_small(df.select(F.col(id_col), F.col(text_col)))
    tok = src.select(
        F.col(id_col), normalized(F.col(text_col)).alias("__norm")
    ).select(F.col(id_col), F.col("__norm"), F.split("__norm", " ").alias("__toks"))
    k = F.size("__toks")
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(k - (n - 1), F.lit(1))),
        lambda i: F.concat_ws(
            " ", *[F.element_at(F.col("__toks"), i + j) for j in range(n)]
        ),
    )
    sh = F.array_distinct(F.when(k >= n, grams).otherwise(F.array(F.col("__norm"))))
    return tok.select(F.col(id_col), sh.alias("sh"))


def exact_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup: fingerprint -> (keeper id, duplicate count).
    One hash-shuffle on the fingerprint."""
    return (
        df.select(F.md5(F.col(text_col)).alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .filter(F.col("n_docs") > 1)
    )


# 2-universal permutation family for minhash: h_j(x) = (A_j*x + B_j) mod P
# over the 32-bit base hash x = first 8 hex digits of md5(shingle), itself
# reduced mod P. P = 2^31 - 1 (Mersenne prime); the (A, B) pairs are drawn
# once from a fixed seed and frozen so retraining is bit-identical.
# A < P and (x mod P) < P keep A*x + B under 2^63 — the arithmetic is
# exact in both Spark LONG and DuckDB BIGINT, so SQL oracles replay
# signatures bit-for-bit. One base hash + k affine permutations is the
# standard minhash construction (Broder 1997; same shape as the widely
# used datasketch implementation).
_MINHASH_P = 2_147_483_647
_MINHASH_COEFFS = [
    (188173298, 62257558), (1614569235, 1541888525),
    (1123302577, 1183693761), (941201756, 612741583),
    (1915815023, 145743895), (1042332867, 1469431003),
    (1586907769, 1724705301), (1367643000, 567634413),
    (1182429425, 1450717929), (1840887320, 92282879),
    (2033346063, 1574816040), (1426551802, 1173352586),
    (2087082879, 168846213), (1825997516, 891168106),
    (124724675, 334069097), (1102350415, 1146895919),
]


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 12,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, m0..m{k-1}) min-hash signature table: one md5 base hash per
    shingle + ``num_hashes`` affine permutations (``_MINHASH_COEFFS``).

    Physical shape: explode shingles -> ONE codegen'd md5 projection
    (the base hash; md5 dominates per-row cost, so deriving every
    minhash function from one digest instead of salted re-hashes is the
    ~k/4x throughput lever) -> hash-aggregate MIN per doc over k cheap
    multiply-add-mod permutations of the bound base column. Spark's
    higher-order array lambdas are interpreted per element (observed 40x
    slower); the explode form stays in whole-stage codegen, and the
    aggregate does map-side partial mins, so the single shuffle carries
    only k longs per doc.

    The permutations are computed INSIDE the aggregate against the bound
    ``__x`` attribute: md5 is non-cheap and referenced k times, so
    CollapseProject keeps the base-hash projection rather than inlining
    k copies. min over LONG keeps the mutable-buffer HashAggregate (a
    string min demotes to SortAggregate — measured 4x at 10x scale)."""
    if num_hashes > len(_MINHASH_COEFFS):
        raise ValueError(
            f"num_hashes > {len(_MINHASH_COEFFS)} frozen permutations"
        )
    # explode_outer, not explode: InferFiltersFromGenerate would bolt a
    # `size(sh) > 0` filter under the projections with the whole shingle
    # tree inlined and interpreted — a measured 15x slowdown. Shingle arrays
    # are non-empty by construction, so the outer variant is equivalent.
    exploded = shingle_table(df, text_col, id_col, shingle_n).select(
        F.col(id_col), F.explode_outer("sh").alias("__s")
    )
    base = exploded.select(
        F.col(id_col),
        (
            F.conv(F.substring(F.md5(F.col("__s")), 1, 8), 16, 10)
            .cast("long")
            % F.lit(_MINHASH_P)
        ).alias("__x"),
    )
    return base.groupBy(id_col).agg(
        *[
            F.min(
                (F.lit(a) * F.col("__x") + F.lit(b)) % F.lit(_MINHASH_P)
            ).alias(f"m{h}")
            for h, (a, b) in enumerate(_MINHASH_COEFFS[:num_hashes])
        ]
    )


def minhash_bands(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 12,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, band, band_hash) — one row per band per doc."""
    rows_per_band = num_hashes // bands
    sig = minhash_signatures(df, text_col, id_col, num_hashes, shingle_n)
    band_cols = []
    for b in range(bands):
        parts = [F.col(f"m{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_cols.append(
            F.struct(
                F.lit(b).alias("band"), F.md5(F.concat_ws("|", *parts)).alias("band_hash")
            )
        )
    return sig.select(
        F.col(id_col), F.explode(F.array(*band_cols)).alias("b")
    ).select(
        F.col(id_col),
        F.col("b.band").alias("band"),
        F.col("b.band_hash").alias("band_hash"),
    )


def minhash_candidate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 12,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """Distinct candidate near-duplicate pairs (a < b) sharing >= 1 LSH band.
    The self-join shuffles on (band, band_hash) only. The banded table is
    cached: both join sides would otherwise recompute every signature."""
    banded = minhash_bands(df, text_col, id_col, num_hashes, bands, shingle_n).cache()
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(b, ["band", "band_hash"])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.6,
    num_hashes: int = 12,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """Exact n-gram Jaccard, evaluated only on LSH candidates: verify step
    of the dedup pipeline. Returns (id_a, id_b, jaccard)."""
    cand = minhash_candidate_pairs(df, text_col, id_col, num_hashes, bands, shingle_n)
    sh = shingle_table(df, text_col, id_col, shingle_n)
    a = sh.alias("sa")
    b = sh.alias("sb")
    joined = (
        cand.join(a, cand.id_a == F.col(f"sa.{id_col}"))
        .join(b, cand.id_b == F.col(f"sb.{id_col}"))
        .select(
            "id_a",
            "id_b",
            (
                F.size(F.array_intersect("sa.sh", "sb.sh"))
                / F.size(F.array_union("sa.sh", "sb.sh"))
            ).alias("jaccard"),
        )
    )
    return joined.filter(F.col("jaccard") >= threshold).withColumn(
        "jaccard", F.round("jaccard", 6)
    )


def simhash_fingerprints(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 16
) -> DataFrame:
    """(id, simhash) fingerprint table via explode + codegen'd vote sums
    (same physical rationale as :func:`minhash_signatures`)."""
    df = spread_small(df.select(F.col(id_col), F.col(text_col)))
    tokd = df.select(
        F.col(id_col),
        # explode_outer: see minhash_signatures — avoids the inferred
        # size()>0 filter with the tokenization tree inlined
        F.explode_outer(
            F.array_distinct(F.split(normalized(F.col(text_col)), " "))
        ).alias("__t"),
    ).select(F.col(id_col), F.md5("__t").alias("__h"))
    votes = tokd.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.substring("__h", b + 1, 1) >= "8", 1).otherwise(-1)
            ).alias(f"__s{b}")
            for b in range(bits)
        ]
    )
    fp = F.concat(
        *[
            F.when(F.col(f"__s{b}") >= 0, F.lit("1")).otherwise(F.lit("0"))
            for b in range(bits)
        ]
    )
    return votes.select(F.col(id_col), fp.alias("simhash"))


def duplicate_clusters(
    pairs: DataFrame,
    max_iters: int = 20,
) -> DataFrame:
    """Connected components over candidate pairs -> (doc_id, cluster_id)
    with cluster_id = min doc id in the component.

    Two-level: a PARTITION-LOCAL UNION-FIND pre-collapse (one
    mapPartitions pass, no shuffle) first contracts every partition's
    edges into stars around the local min member; the distributed rounds
    then run on the REDUCED root graph, whose edges exist only where a
    node is shared across partitions — on a percolated geo graph this
    cuts ~8 rounds to ~2 (r7 verdict order 5: the rounds, not the data,
    dominated DBSCAN latency). The distributed part is label propagation
    with POINTER JUMPING: each round a node takes the minimum of its own
    label, its neighbors' labels, and the label of its label (path
    compression), so convergence is O(log diameter) rounds. Each round's frame is
    ``localCheckpoint(eager=True)``: TRUE lineage truncation. ``cache()``
    alone leaves the logical plan growing round over round and, once an
    upstream round is unpersisted, recomputation doubles per round —
    measured 4x-per-round runtime blowup ending in driver OOM on a
    95k-edge percolated graph. No driver-side union-find: state is one
    (id, label) row per vertex however many billions of pairs stream in.

    Each round's checkpoint blocks are RELEASED once the successor round
    materializes (tracked via ``getPersistentRDDs`` id deltas), so block
    storage stays O(|V| + |E|), not O(rounds x |V|). Caveat (inherent to
    ``localCheckpoint``): blocks live on executors, so losing an executor
    mid-computation (e.g. dynamic allocation) fails the job unrecoverably
    — configure a reliable ``sparkContext.setCheckpointDir`` cluster-side
    if executors are preemptible.
    """
    sc = pairs.sparkSession.sparkContext

    def _persistent_ids():
        return {int(i) for i in sc._jsc.getPersistentRDDs().keySet().toArray()}

    def _checkpoint_tracked(frame):
        before = _persistent_ids()
        out = frame.localCheckpoint(eager=True)
        return out, _persistent_ids() - before

    def _release(ids):
        jmap = sc._jsc.getPersistentRDDs()
        for i in ids:
            rdd = jmap.get(i)
            if rdd is not None:
                rdd.unpersist(False)

    # PRE-COLLAPSE: one mapPartitions union-find pass turns each
    # partition's edge set into stars around the local min member, so the
    # distributed rounds only bridge ACROSS partitions — on a percolated
    # graph this cuts ~8 pointer-jump rounds (each a join + checkpoint +
    # scheduling barrier) to ~2, since global connectivity flows through
    # nodes shared between partitions and each partition is already one
    # hop deep. Memory is O(nodes per partition) on one task — the same
    # bound the per-partition shuffle already implies.
    from pyspark.sql import types as _T

    id_type = pairs.schema["id_a"].dataType

    def _local_uf(rows):
        parent: dict = {}

        def find(a):
            r = a
            while parent[r] != r:
                r = parent[r]
            while parent[a] != r:
                parent[a], a = r, parent[a]
            return r

        for row in rows:
            a, b = row[0], row[1]
            if a not in parent:
                parent[a] = a
            if b not in parent:
                parent[b] = b
            ra, rb = find(a), find(b)
            if ra != rb:
                if rb < ra:
                    ra, rb = rb, ra
                parent[rb] = ra
        for n in parent:
            yield (n, find(n))

    spark = pairs.sparkSession
    local, local_ids = _checkpoint_tracked(
        spark.createDataFrame(
            pairs.select("id_a", "id_b").rdd.mapPartitions(_local_uf),
            _T.StructType(
                [
                    _T.StructField("id", id_type),
                    _T.StructField("root", id_type),
                ]
            ),
        )
    )
    # one row per node; root0 = min local root across partitions (the
    # reduced edges below connect ALL of a node's local roots to it)
    node_root, _node_ids = _checkpoint_tracked(
        local.groupBy("id").agg(F.min("root").alias("root0"))
    )
    edges, edge_ids = _checkpoint_tracked(
        local.join(node_root, "id")
        .filter(F.col("root") != F.col("root0"))
        .select(F.col("root").alias("src"), F.col("root0").alias("dst"))
        .unionByName(
            local.join(node_root, "id")
            .filter(F.col("root") != F.col("root0"))
            .select(F.col("root0").alias("src"), F.col("root").alias("dst"))
        )
        .distinct()
    )
    _release(local_ids)
    labels, label_ids = _checkpoint_tracked(
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("cluster_id", F.col("id"))
    )
    for _ in range(max_iters):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("cluster_id").alias("n_min"))
        )
        cand = (
            labels.join(neighbor_min, labels.id == neighbor_min.src, "left")
            .select(
                "id",
                F.col("cluster_id").alias("__old"),
                F.least(
                    F.col("cluster_id"),
                    F.coalesce(F.col("n_min"), F.col("cluster_id")),
                ).alias("__cand"),
            )
        )
        # pointer jump: the label of my candidate label (labels only ever
        # hold member ids of the same component, so this is safe and
        # monotone — it halves the remaining path length every round)
        jump = labels.select(
            F.col("id").alias("__jid"), F.col("cluster_id").alias("__jcl")
        )
        new_labels, new_ids = _checkpoint_tracked(
            cand.join(jump, cand.__cand == F.col("__jid"), "left").select(
                "id",
                F.least(
                    F.col("__cand"),
                    F.coalesce(F.col("__jcl"), F.col("__cand")),
                ).alias("cluster_id"),
                (
                    F.least(
                        F.col("__cand"),
                        F.coalesce(F.col("__jcl"), F.col("__cand")),
                    )
                    < F.col("__old")
                ).alias("__changed"),
            )
        )
        changed = new_labels.agg(F.max("__changed")).collect()[0][0]
        _release(label_ids)
        labels, label_ids = new_labels.drop("__changed"), new_ids
        if not changed:
            break
    # final labels are re-materialized by the caller's action; releasing
    # the last checkpoint (or node_root's) would drop them, so only the
    # reduced edges are freed here.
    _release(edge_ids)
    # map every node back through its min local root; roots of
    # partition-complete components never entered the reduced graph, so
    # their label IS root0 (the local min member)
    return (
        node_root.join(labels, node_root.root0 == labels.id, "left")
        .select(
            node_root.id.alias("doc_id"),
            F.coalesce(labels.cluster_id, node_root.root0).alias(
                "cluster_id"
            ),
        )
    )


def dedup_pipeline(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    jaccard_threshold: float = 0.6,
) -> DataFrame:
    """End-to-end near-dedup: MinHash LSH candidates -> exact Jaccard verify
    -> connected components -> keep the minimum-id doc per cluster.
    Returns the deduplicated frame (same schema as the input)."""
    verified = ngram_jaccard_pairs(
        df, text_col, id_col, threshold=jaccard_threshold
    ).select("id_a", "id_b")
    clusters = duplicate_clusters(verified)
    losers = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select(
        F.col("doc_id").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


def simhash_buckets(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 16
) -> DataFrame:
    """Docs sharing an identical SimHash fingerprint (hamming distance 0
    buckets; near-dup buckets at this bit width)."""
    return (
        simhash_fingerprints(df, text_col, id_col, bits)
        .groupBy("simhash")
        .agg(F.min(id_col).alias("keeper_id"), F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") > 1)
    )


def line_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 2,
    sep: str = "\n",
    group_cols: list[str] | None = None,
    input_partitions: int | None = None,
) -> DataFrame:
    """Corpus-level exact line deduplication (the CCNet / RefinedWeb
    "remove lines that repeat across the corpus" idiom): drop every line
    whose exact content occurs ``>= min_count`` times corpus-wide, then
    reassemble each document from its surviving lines in original order.
    With ``group_cols`` (typically the source domain) line frequencies
    count WITHIN each group only — site boilerplate repeats per site, and
    a line legitimately shared across unrelated sources should survive.

    Returns ``(id, text, n_lines, n_removed)``; documents whose lines were
    ALL removed are dropped entirely (they carry no content).

    Scale shape (100 TB): the line explode is narrow; corpus line
    frequencies and the banned-line anti-join are both keyed by a
    128-bit line fingerprint (two independent-seed xxhash64 longs —
    native 64-bit hashing, measured ~15 % faster end-to-end than the
    md5 hex string it replaced, with the same negligible collision
    odds; the pair stays two longs, never a formatted string), so
    partitioning is uniform in the number of distinct lines. The
    frequency aggregate is map-side combined (two longs + a count per
    distinct line — tiny exchange), and the anti-join is a sort-merge
    LeftAnti that streams sorted runs — a boilerplate line repeated
    hundreds of millions of times is a long sorted run, never a
    buffered build side (AQE broadcasts the banned side when it is
    small). The source is scanned twice, but the aggregate branch is
    column-pruned to the line bytes only; a fingerprint-keyed
    repartition shared by both branches was measured SLOWER than the
    recompute (it ships every exploded line's text, and the optimizer
    collapses the aggregate branch's exchange so ReuseExchange never
    fires). Reassembly is one shuffle on the document id. Nothing is
    ever collected; the banned set stays distributed (it can be
    corpus-sized for boilerplate-heavy crawls).

    ``input_partitions``: optional fan-out for the line explode + hash.
    Spark sizes scan splits by INPUT bytes; compressed text costs
    hundreds of CPU ops per input byte here, so a small-but-dense scan
    under-parallelizes (a ~25 MB corpus = 6 openCost-floored splits).
    Set to the cluster's core count when the input frame has fewer
    partitions than that; leave None at warehouse scale where the scan
    already fans past every core.
    """
    groups = list(group_cols or [])
    # NOT spread_small here: measured 1.2s -> 1.9-2.2s at 10x — the line
    # explode + xxhash is narrow (tens of ops/byte, unlike the shingle
    # md5 path), so shipping the full text through a repartition costs
    # more than the serial scan it parallelizes. The explicit
    # ``input_partitions`` knob remains for warehouse frames that arrive
    # with pathological partitioning.
    if input_partitions:
        df = df.repartition(int(input_partitions))
    # F.split treats the separator as a Java regex while concat_ws
    # reassembles it literally: regex-escape so a sep of '.', '|', '||'
    # splits on the literal characters and rebuilds identical content.
    sep_re = re.escape(sep)
    freq_keys = groups + ["h1", "h2"]
    lines = (
        df.select(
            F.col(id_col),
            *groups,
            F.posexplode(F.split(F.col(text_col), F.lit(sep_re))).alias(
                "pos", "line"
            ),
            F.size(F.split(F.col(text_col), F.lit(sep_re))).alias("n_lines"),
        )
        .withColumn("h1", F.xxhash64(F.col("line")))
        .withColumn("h2", F.xxhash64(F.col("line"), F.lit(7)))
    )
    banned = (
        lines.groupBy(*freq_keys)
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= min_count)
        .select(*freq_keys)
    )
    kept = lines.join(banned, freq_keys, "left_anti")
    return (
        kept.groupBy(id_col)
        .agg(
            F.concat_ws(
                sep,
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "line"))),
                    lambda s: s["line"],
                ),
            ).alias(text_col),
            F.count(F.lit(1)).alias("n_kept"),
            F.first("n_lines").alias("__total"),
        )
        .select(
            F.col(id_col),
            F.col(text_col),
            F.col("n_kept").alias("n_lines"),
            (F.col("__total") - F.col("n_kept")).alias("n_removed"),
        )
    )


def dedup_against(
    new_df: DataFrame,
    corpus_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    jaccard_threshold: float = 0.6,
    num_hashes: int = 12,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """Incremental dedup: keep only rows of ``new_df`` that are neither
    exact nor near duplicates of any ``corpus_df`` row (the "dedup each
    new crawl against the already-ingested corpus" step — the corpus
    itself is never rewritten).

    Physical shape: one anti-join on ``md5(text)`` removes exact matches;
    survivors and the corpus are then both banded (MinHash LSH) and joined
    on ``(band, band_hash)`` — a new-vs-corpus join only, never
    corpus-vs-corpus, so the fan-out is bounded by the new batch's
    duplicate density — and candidates are Jaccard-verified on exact
    shingle sets before the final anti-join. All keys are hashes: no skew,
    and the typically-huge corpus side is only ever scanned, banded, and
    hash-joined, never self-joined (it is read twice: once for bands,
    once for the verify shingles — both single passes). The
    exact-survivor set feeds three consumers (its bands, its shingles,
    the returned rows), so it is materialized once with
    ``localCheckpoint`` instead of re-running the anti-join per branch;
    the new batch is the small side, so this is cheap.
    """
    fp = F.md5(F.col(text_col)).alias("fingerprint")
    corpus_fp = corpus_df.select(fp).distinct()
    survivors = new_df.join(
        corpus_fp,
        F.md5(new_df[text_col]) == F.col("fingerprint"),
        "left_anti",
    ).localCheckpoint(eager=True)
    nb = minhash_bands(survivors, text_col, id_col, num_hashes, bands, shingle_n)
    cb = minhash_bands(corpus_df, text_col, id_col, num_hashes, bands, shingle_n)
    cand = (
        nb.alias("n")
        .join(cb.alias("c"), ["band", "band_hash"])
        .select(
            F.col(f"n.{id_col}").alias("id_new"),
            F.col(f"c.{id_col}").alias("id_corpus"),
        )
        .distinct()
    )
    sh_new = shingle_table(survivors, text_col, id_col, shingle_n)
    sh_corpus = shingle_table(corpus_df, text_col, id_col, shingle_n)
    losers = (
        cand.join(sh_new.alias("sn"), cand.id_new == F.col(f"sn.{id_col}"))
        .join(sh_corpus.alias("sc"), cand.id_corpus == F.col(f"sc.{id_col}"))
        .select(
            "id_new",
            (
                F.size(F.array_intersect("sn.sh", "sc.sh"))
                / F.size(F.array_union("sn.sh", "sc.sh"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select(F.col("id_new").alias(id_col))
        .distinct()
    )
    return survivors.join(losers, id_col, "left_anti")


def simhash_near_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 16,
    max_hamming: int = 2,
) -> DataFrame:
    """Near-duplicate pairs at SimHash Hamming distance <= ``max_hamming``
    via the pigeonhole block join: the fingerprint splits into
    ``max_hamming + 1`` blocks, and any pair within distance k must agree
    on at least one whole block — so candidates join on (block index,
    block content) and the exact Hamming check runs only on collisions.
    Unlike MinHash banding this cover is COMPLETE, not probabilistic:
    the result is exactly every pair with distance <= k.

    Returns ``(id_a, id_b, hamming)``. One keyed self-join on short block
    strings; fan-out bounded by fingerprint-prefix density (uniform for
    md5-derived bits), never O(n²).
    """
    if max_hamming < 0 or max_hamming >= bits:
        raise ValueError("max_hamming must be in [0, bits)")
    fps = simhash_fingerprints(df, text_col, id_col, bits).cache()
    nb = max_hamming + 1
    bounds = [round(i * bits / nb) for i in range(nb + 1)]
    blocks = F.array(
        *[
            F.struct(
                F.lit(i).alias("blk"),
                F.substring(
                    "simhash", bounds[i] + 1, bounds[i + 1] - bounds[i]
                ).alias("val"),
            )
            for i in range(nb)
        ]
    )
    banded = fps.select(
        F.col(id_col), F.col("simhash"), F.explode(blocks).alias("b")
    ).select(
        F.col(id_col),
        F.col("simhash"),
        F.col("b.blk").alias("blk"),
        F.col("b.val").alias("val"),
    )
    a = banded.alias("a")
    b = banded.alias("b")
    ham = None
    for i in range(bits):
        term = (
            F.substring(F.col("a.simhash"), i + 1, 1)
            != F.substring(F.col("b.simhash"), i + 1, 1)
        ).cast("int")
        ham = term if ham is None else ham + term
    return (
        a.join(b, ["blk", "val"])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 50,
    stride: int = 25,
    min_count: int = 2,
) -> DataFrame:
    """Duplicate span detection — the bounded, shuffle-friendly relative of
    exact-substring dedup, with CONTENT-DEFINED span starts (the winnowing
    idea): a window of ``n`` tokens begins at every *anchor* position — a
    token whose md5 is ``0 mod stride`` — plus position 0 as a fallback, and
    every occurrence of a window whose hash repeats ``>= min_count`` times
    corpus-wide is returned as ``(id, start_tok, span_hash,
    n_occurrences)``.

    Anchors depend only on token content, never on document offsets, so two
    documents sharing a verbatim passage emit IDENTICAL windows wherever
    the passage sits in each document — a fixed stride grid cannot do this
    (offsets must agree mod stride, which cross-document boilerplate never
    guarantees). A shared passage collides exactly when an anchor token
    occurs among its first ``len - n + 1`` tokens; anchors land every
    ``stride`` tokens in expectation. Documents shorter than ``n`` tokens
    hash from their anchors to the end (clamped windows).

    Scale shape: expected ~``tokens / stride`` windows per document;
    frequencies and the flagging join are keyed by the 128-bit span hash
    (no value skew, map-side-combined aggregate, streaming sort-merge
    join) — the same plan family as :func:`line_dedup`, cost linear in
    corpus tokens.
    """
    if n < 1 or stride < 1:
        raise ValueError("n and stride must be >= 1")
    tok = df.select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("__toks")
    )
    k = F.size("__toks")
    is_anchor = lambda i: (  # noqa: E731
        F.conv(
            F.substring(F.md5(F.element_at(F.col("__toks"), i)), 1, 8), 16, 10
        ).cast("long")
        % stride
        == 0
    ) | (i == 1)
    anchors = F.filter(F.sequence(F.lit(1), k), is_anchor)
    spans = F.transform(
        anchors,
        lambda i: F.struct(
            (i - 1).cast("long").alias("start_tok"),
            F.md5(
                F.concat_ws(" ", F.slice(F.col("__toks"), i, n))
            ).alias("span_hash"),
        ),
    )
    occ = tok.select(
        F.col(id_col), F.explode(spans).alias("sp")
    ).select(
        F.col(id_col),
        F.col("sp.start_tok").alias("start_tok"),
        F.col("sp.span_hash").alias("span_hash"),
    )
    freq = (
        occ.groupBy("span_hash")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .filter(F.col("n_occurrences") >= min_count)
    )
    return occ.join(freq, "span_hash").select(
        id_col, "start_tok", "span_hash", "n_occurrences"
    )


def fuzzy_join(
    left: DataFrame,
    right: DataFrame,
    left_text: str = "text",
    right_text: str = "text",
    left_id: str = "doc_id",
    right_id: str = "doc_id",
    threshold: float = 0.6,
    num_hashes: int = 12,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """Similarity (record-linkage) join between two frames: pairs whose
    n-gram Jaccard is ``>= threshold``, found via MinHash-LSH banding so
    only band-colliding pairs are ever scored — never a cross product.
    Returns ``(left_id, right_id, jaccard)`` (ids aliased ``_l``/``_r``
    when the names collide).

    This is :func:`dedup_against`'s candidate machinery exposed as a
    join: entity resolution between two collections, matching a new
    feed against a master table, etc. Both sides are banded
    independently; the join shuffles on the tiny ``(band, band_hash)``
    key and the exact Jaccard verify runs on collisions only.
    """
    lid = left_id if left_id != right_id else f"{left_id}_l"
    rid = right_id if left_id != right_id else f"{right_id}_r"
    lf = left.select(
        F.col(left_id).alias(lid), F.col(left_text).alias("__text")
    )
    rf = right.select(
        F.col(right_id).alias(rid), F.col(right_text).alias("__text")
    )
    lb = minhash_bands(lf, "__text", lid, num_hashes, bands, shingle_n)
    rb = minhash_bands(rf, "__text", rid, num_hashes, bands, shingle_n)
    cand = (
        lb.join(rb, ["band", "band_hash"]).select(lid, rid).distinct()
    )
    sl = shingle_table(lf, "__text", lid, shingle_n)
    sr = shingle_table(rf, "__text", rid, shingle_n)
    return (
        cand.join(sl, lid)
        .join(sr, rid)
        .select(
            lid,
            rid,
            F.round(
                F.size(F.array_intersect(sl.sh, sr.sh))
                / F.size(F.array_union(sl.sh, sr.sh)),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def semantic_dedup(
    df: DataFrame,
    threshold: float = 0.95,
    n_clusters: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_iters: int = 5,
    sample_size: int = 10000,
    max_cluster: int = 2_000_000,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    near-duplicate pruning over an embedding column. K-means clusters
    the normalized vectors (similarity.ivf_centroids — deterministic
    lowest-id driver sample, distributed Arrow-batched assignment), then
    WITHIN each cluster a greedy lowest-id-first sweep keeps a row only
    if its cosine against every already-kept cluster member stays below
    ``threshold``. Returns the kept (id) frame.

    Scale design: the O(n^2) cosine matrix only ever spans ONE cluster
    (``applyInPandas`` per centroid id — one hash shuffle on a small
    int key), never the corpus; n_clusters is the knob that bounds the
    quadratic term, and ``max_cluster`` fail-fasts instead of letting a
    degenerate clustering OOM an executor. The greedy lowest-id rule is
    the deterministic spelling of the paper's one-representative-per-
    near-dup-group policy (which representative survives is a free
    choice there).

    Sizing ``n_clusters`` at corpus scale: the per-cluster sweep is
    O((n/k)^2 * dim) work and O((n/k) * dim) executor memory, so k must
    grow with the corpus — aim for n/k in the 10^4-10^6 range (the
    SemDeDup paper uses 50k clusters for ~600M LAION embeddings); the
    default 64 is a small-fixture default, and ``max_cluster`` exists
    precisely to fail fast when k is too small for the data."""
    import numpy as np
    import pandas as pd

    from xcube_geodb_spark.errors import GeoDBError
    from xcube_geodb_spark.functions.similarity import (
        ivf_assignments,
        ivf_centroids,
    )

    # NOT spread_small here (measured 1.4-1.7s -> 2.2-2.6s at 10x): the
    # quadratic within-cluster sweep — the heavy part — already fans out
    # through the applyInPandas groupBy-centroid shuffle, so spreading
    # the input only taxes the centroid sample and the cheap assignment
    cents = ivf_centroids(
        df,
        n_centroids=n_clusters,
        n_iters=n_iters,
        sample_size=sample_size,
        vec_col=vec_col,
        id_col=id_col,
    )
    assigned = ivf_assignments(df, cents, vec_col=vec_col, id_col=id_col)
    thr = float(threshold)
    cap = int(max_cluster)

    def _prune(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) > cap:
            raise GeoDBError(
                f"semantic_dedup: cluster of {len(pdf)} rows exceeds "
                f"max_cluster={cap}; raise n_clusters (or the cap)"
            )
        pdf = pdf.sort_values(id_col, kind="mergesort")
        X = np.asarray(
            [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
        )
        X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
        # the kept matrix is a preallocated VIEW into X (kept rows are a
        # subset of X's rows) — no per-kept-row reallocation; X is the
        # backing buffer and `kept` tracks how many rows are live
        kept_rows: list[int] = []
        kept_mat = np.empty_like(X)
        kept = 0
        for i in range(len(X)):
            if kept == 0 or float(
                (kept_mat[:kept] @ X[i]).max(initial=-1.0)
            ) < thr:
                kept_rows.append(i)
                kept_mat[kept] = X[i]
                kept += 1
        return pdf.iloc[kept_rows][[id_col]]

    kept = assigned.groupBy("centroid_id").applyInPandas(
        _prune, schema=f"{id_col} long"
    )
    return kept
