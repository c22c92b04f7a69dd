"""Deduplication for training-data pipelines: exact, MinHash+LSH, n-gram
Jaccard, SimHash — all expressed as DataFrame plans (shuffles on hash keys,
no Python in the hot path).

Scale notes:
- Exact dedup is a groupBy on a 128-bit content hash — partial aggregation
  map-side, so duplicate-heavy corpora don't skew reducers.
- MinHash+LSH is the standard shingle→signature→band→bucket-join pipeline:
  candidate generation never compares all pairs; the only join key is
  (band_id, band_key), so cost is O(docs × bands + bucket collisions).
- Hash functions are md5-based so the DuckDB oracle can reproduce results
  bit-for-bit (lexicographic min over hex strings is engine-independent).
- SimHash packs 64 bits from per-token md5 prefixes — a cheap near-dup
  fingerprint whose Hamming distance can be banded the same way.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def content_hash(text: Column) -> Column:
    return F.md5(text)


def _widen_degenerate_scan(df: DataFrame, cap: int = 16) -> DataFrame:
    """Repartition ONLY a degenerate few-SPLIT scan (a small 1-file table
    scans as ~one task and serializes the downstream explode).

    For FILE-BACKED inputs the decision uses driver-side scan metadata
    (``df.inputFiles()`` from the plan's FileIndex, plus file sizes for
    the few-file case) — no ``df.rdd`` conversion on that path. A single
    LARGE splittable file already fans out by maxPartitionBytes, so
    splits are estimated from bytes (non-splittable .gz/.bz2 count as one
    split each) and a big file is NOT needlessly shuffled. Inputs with
    ≥cap files pass through untouched, so at real scale this is
    metadata-only and plan-neutral. Non-file inputs (in-memory frames,
    joined/derived plans) have no scan metadata, so ONLY they fall back
    to a ``df.rdd.getNumPartitions()`` probe (planning-only) and are
    widened when fewer than ``threshold`` partitions."""
    import math
    from urllib.parse import unquote

    from kafka_connect_fs_spark.sources.discovery import stat

    try:
        files = df.inputFiles()
    except Exception:
        return df
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    threshold = min(target, cap)
    if not files:
        # non-file-backed input (in-memory frame, joined/derived plan):
        # no scan metadata exists, so fall back to the plan's partition
        # count — the .rdd conversion is planning-only here, and the
        # input is already driver-materialized or post-shuffle, so the
        # per-call cost the metadata path avoids for big scans doesn't
        # apply
        try:
            if df.rdd.getNumPartitions() < threshold:
                return df.repartition(target)
        except Exception:
            pass
        return df
    if len(files) >= threshold:
        return df
    try:
        max_pb = int(
            spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
        )
    except Exception:
        max_pb = 128 * 1024 * 1024
    est_splits = 0
    for p in files:
        try:
            # inputFiles() are percent-encoded URIs
            meta = stat(unquote(p))
        except Exception:  # only a sizing guess: an unknown size counts one
            meta = None
        if meta is None or p.endswith((".gz", ".bz2")):
            est_splits += 1
        else:
            est_splits += max(1, math.ceil(meta.length / max_pb))
        if est_splits >= threshold:
            return df
    return df.repartition(target)


def exact_dedup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One row per distinct content: hash, group size, kept (min) id."""
    return (
        df.groupBy(content_hash(F.col(text_col)).alias("text_hash"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(id_col).alias("keep_doc_id"),
        )
    )


def _shingle_array(text_col: str, k: int) -> Column:
    """Per-row array of DISTINCT k-word shingles (lower-cased,
    space-tokenized) — the shared map-side basis of shingles() and
    minhash_signatures(). array_distinct inside the row gives set
    semantics without any shuffle."""
    w = F.split(F.lower(F.col(text_col)), " ")
    # guard short docs: sequence(1, 0) would be DESCENDING [1, 0] in Spark
    idx = F.when(
        F.size(w) >= k, F.sequence(F.lit(1), F.size(w) - (k - 1))
    ).otherwise(F.array().cast("array<int>"))
    sh = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(w, i, k)))
    return F.array_distinct(F.filter(sh, lambda s: F.length(s) > 0))


def shingles(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3) -> DataFrame:
    """Distinct k-word shingles per document, one row per (doc, shingle).

    SQL twin: UNNEST(generate_series(...)) over string_split — identical
    shingle strings by construction.

    The explode multiplies rows ~|doc|×, so an input with fewer partitions
    than cores serializes the heaviest stage (a 1-file table scans as ONE
    task). Widen only in that degenerate case — at real scale the input
    already has thousands of partitions and this is a no-op (never shuffle
    full text payloads unless the alternative is idle executors).
    """
    df = _widen_degenerate_scan(df)
    return df.select(
        F.col(id_col), F.explode(_shingle_array(text_col, k)).alias("shingle")
    )


def minhash_signatures(sh: DataFrame, n_hashes: int = 8, id_col: str = "doc_id") -> DataFrame:
    """doc → wide signature (h0..h{n-1}) in ONE aggregation pass.

    n_hashes separate min() aggregates over the same shingle scan — no
    seed-explode (which would multiply the shuffle by n_hashes), full
    map-side partial aggregation. At 10^9 docs this is the difference
    between shuffling |shingles| and |shingles|×n_hashes rows.

    Kept as explode + groupBy deliberately: an r6 experiment moved the
    whole signature map-side (array_min over transform(shingle_array))
    and measured 3-4× SLOWER — higher-order functions are not whole-stage
    codegen'd, and Catalyst's project collapsing re-evaluates the shingle
    pipeline inside every one of the n_hashes expressions. The exploded
    aggregate runs in codegen'd hash-agg with map-side partials, so the
    shuffle carries one signature row per doc either way."""
    aggs = [
        F.min(F.md5(F.concat_ws("#", F.col("shingle"), F.lit(str(s))))).alias(f"h{s}")
        for s in range(n_hashes)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def lsh_candidate_pairs(
    sig: DataFrame, n_bands: int = 4, n_hashes: int = 8, id_col: str = "doc_id"
) -> DataFrame:
    """Band the wide signature, bucket-join on (band_id, band_key) →
    candidate pairs (a < b). The join is the only shuffle touching pairs."""
    rows_per_band = max(1, n_hashes // n_bands)
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.md5(
                    F.concat_ws(
                        "|",
                        *[
                            F.col(f"h{s}")
                            for s in range(b * rows_per_band, (b + 1) * rows_per_band)
                        ],
                    )
                ).alias("band_key"),
            )
            for b in range(n_bands)
        ]
    )
    keys = sig.select(F.col(id_col), F.explode(bands).alias("b")).select(
        id_col, "b.band_id", "b.band_key"
    )
    a = keys.select(F.col(id_col).alias("doc_a"), "band_id", "band_key")
    b = keys.select(F.col(id_col).alias("doc_b"), "band_id", "band_key")
    return (
        a.join(b, ["band_id", "band_key"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    n_hashes: int = 8,
    n_bands: int = 4,
) -> DataFrame:
    sh = shingles(df, text_col, id_col, k)
    sig = minhash_signatures(sh, n_hashes, id_col)
    return lsh_candidate_pairs(sig, n_bands, n_hashes, id_col)


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold_bp: int = 5000,
    block_col: str | None = None,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact Jaccard (integer basis points — engine-exact) over k-shingle
    sets for pairs sharing ≥1 shingle (optionally blocked by e.g. language
    to bound the pair space).

    ``max_shingle_df`` is the web-scale guard: a shingle present in N docs
    emits N² rows in the candidate self-join, so one stopword-like trigram
    shared by 10^6 documents would alone produce 10^12 pair rows. Capping
    document frequency drops those shingles from BOTH the intersection and
    the set sizes — the result is exact Jaccard over the df-filtered
    shingle sets (hot shingles carry no dedup signal; rare ones do), and
    the per-shingle join fanout is bounded by cap². Corpora needing
    uncapped semantics at scale should use the MinHash path instead."""
    sh = shingles(df, text_col, id_col, k)
    if block_col:
        sh = sh.join(df.select(id_col, block_col), id_col)
        sh = sh.withColumn(
            "shingle", F.concat_ws("\x1f", F.col(block_col), F.col("shingle"))
        ).drop(block_col)
    if max_shingle_df is not None:
        # df cap as a window count over shingle, not a separate aggregate +
        # semi-join: ONE shuffle on shingle whose exchange ReuseExchange
        # dedupes across every downstream consumer (sizes ×2 + postings),
        # so the explode is computed exactly once per action instead of 3×
        # (the r02 regression). Hot shingles never reach the quadratic pair
        # generation; the window's unbounded count spills per-partition
        # instead of building driver- or reducer-side giant structures.
        w = Window.partitionBy("shingle")
        sh = (
            sh.withColumn("_df", F.count(F.lit(1)).over(w))
            .where(F.col("_df") <= max_shingle_df)
            .drop("_df")
        )
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    # posting-list pair generation: ONE shuffle on shingle builds the
    # sorted doc list (bounded by the df cap), then all (a < b) pairs come
    # from an array double-transform — no second shuffle of the full
    # shingle table through a self-join. This is the standard inverted-
    # index candidate generator; without a df cap, lists are unbounded, so
    # exact-uncapped corpora should cap or use the MinHash path.
    postings = sh.groupBy("shingle").agg(
        F.sort_array(F.collect_list(F.col(id_col))).alias("ids")
    )
    n = F.size("ids")
    pair_arr = F.flatten(
        F.transform(
            "ids",
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, n),  # ids after position i → a < b
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )
    inter = (
        postings.select(F.explode(pair_arr).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    # SHUFFLE_HASH with sizes as the build side, not planner choice: the
    # pair-aggregate side's size estimate (two aggregations + a generate
    # deep) is garbage, and at sf1 Catalyst chose to BROADCAST `inter` —
    # an 8 GiB+ hashed relation that first exhausted the driver heap and
    # then hit Spark's hard broadcast cap. Building per-partition hash
    # tables of the doc-sized `sizes` relation is the strategy that holds
    # at every scale: `inter` (pairs — the big side) streams, `sizes`
    # partitions stay small, and no relation is ever broadcast (guide
    # §3.1: force the strategy when you know the sizes; estimates after
    # explodes/aggregates are often badly wrong).
    out = (
        inter.join(
            sizes.select(
                F.col(id_col).alias("doc_a"), F.col("sz").alias("sz_a")
            ).hint("shuffle_hash"),
            "doc_a",
        )
        .join(
            sizes.select(
                F.col(id_col).alias("doc_b"), F.col("sz").alias("sz_b")
            ).hint("shuffle_hash"),
            "doc_b",
        )
        .withColumn(
            "jaccard_bp",
            F.floor(
                F.col("inter").cast("long") * 10000
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
            ).cast("long"),
        )
        .where(F.col("jaccard_bp") >= threshold_bp)
        .select("doc_a", "doc_b", "jaccard_bp")
    )
    return out


def simhash64(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash: per distinct token, take the first 16 hex chars of
    md5 as a 64-bit pattern; each bit contributes +1/-1; sign → bit.

    Pure DataFrame ops: explode tokens → per-bit vote via bit ops → sum.
    """
    df = _widen_degenerate_scan(df)  # same degenerate-input widening as shingles()
    tok = df.select(
        F.col(id_col), F.explode(F.array_distinct(F.split(F.lower(F.col(text_col)), " "))).alias("t")
    ).where(F.length("t") > 0)
    h = F.conv(F.substring(F.md5(F.col("t")), 1, 15), 16, 10).cast("long")  # 60 bits, sign-safe
    tok = tok.withColumn("h", h)
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{b}")
        for b in range(60)
    ]
    agg = tok.groupBy(id_col).agg(*votes)
    sim = None
    for b in range(60):
        bit = F.when(F.col(f"b{b}") > 0, F.lit(1)).otherwise(F.lit(0)).cast("long")
        term = bit * F.lit(1 << b).cast("long")
        sim = term if sim is None else (sim + term)
    return agg.select(F.col(id_col), sim.alias("simhash"))


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 25,
) -> DataFrame:
    """Cluster near-duplicate PAIRS into components: (doc_id, cluster_id)
    with cluster_id = the MIN doc id reachable through the pair graph —
    the canonical "keep one representative per duplicate cluster" step a
    training-data pipeline runs after MinHash/SimHash pair generation
    (the reference has no analog; this is beyond-parity pipeline surface).

    Iterative min-label propagation WITH pointer jumping: each round a
    node takes the min of its own label, its neighbors' labels (one
    shuffle join + partial-agg groupBy on the node id), and its label's
    label (the shortcut join that doubles the effective hop distance per
    round). Convergence is O(log(diameter)) rounds — a 10^6-node chain
    needs ~20 rounds, a near-clique LSH dup cluster 2-3. Each round's
    driver-side cost is one `count()` of CHANGED labels (an int, not
    data); state per round is O(nodes).

    Lineage is truncated every round with an eager ``localCheckpoint``
    (the canonical Spark iterative-algorithm pattern): the round's plan
    references the previous labels three times, so WITHOUT truncation
    the logical plan grows 3^rounds and the driver OOMs just printing it
    — caching alone cuts re-execution, not plan size. localCheckpoint
    also releases the prior round's blocks as they become unreferenced.
    Deterministic: labels are ids, no RNG. Warns if max_iter exhausts
    before a fixpoint — the returned clusters would then be over-split.
    """
    edges = (
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .union(pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst")))
        .distinct()
    )
    edges = edges.localCheckpoint(eager=True)
    # label(n) = min(n, min neighbor) to start
    labels = edges.groupBy("src").agg(
        F.least(F.min("dst"), F.first("src")).alias("label")
    ).select(F.col("src").alias("node"), "label")
    labels = labels.localCheckpoint(eager=True)
    converged = False
    for _ in range(max_iter):
        # (a) neighbor propagation: push labels across edges
        received = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("rcv"))
            .select(F.col("src").alias("node"), "rcv")
        )
        # (b) pointer jumping: label[label[n]] — shortcut through the
        # current label graph, doubling hop distance per round
        lab2 = labels.select(
            F.col("node").alias("l_node"), F.col("label").alias("l_label")
        )
        new = (
            labels.join(received, "node", "left")
            .join(lab2, labels.label == lab2.l_node, "left")
            .select(
                "node",
                F.least(
                    F.col("label"),
                    F.coalesce("rcv", F.col("label")),
                    F.coalesce("l_label", F.col("label")),
                ).alias("label"),
                (
                    (F.col("rcv") < F.col("label"))
                    | (F.col("l_label") < F.col("label"))
                ).alias("changed"),
            )
        )
        new = new.localCheckpoint(eager=True)  # truncate lineage + materialize
        n_changed = new.where("changed").count()  # an int — no data to driver
        labels = new.select("node", "label")
        if n_changed == 0:
            converged = True
            break
    if not converged:
        import warnings

        warnings.warn(
            f"connected_components did not converge within {max_iter} rounds; "
            "clusters may be over-split (raise max_iter)",
            stacklevel=2,
        )
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("cluster_id"))
