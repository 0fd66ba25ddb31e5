"""Training-pipeline composites, batch 3: exact distributed heavy
hitters (sketch candidates + exact verify), near-dup cluster survivor
selection, boilerplate shingle detection, and SemDeDup-style embedding
survivor selection.

These compose the already-verified dedup/cluster primitives into the
decisions a corpus pipeline actually ships: which duplicate to KEEP,
which shingles are boilerplate, which embeddings are semantically
redundant. Each oracle inlines the oracle SQL of the primitive it
builds on, so every query stays independently checkable over the
driver's base views.

The reference has no analog surface (its apps stop at wordcount /
indexer, mrapps/wc.go:21-44); these extend §2's inventory along the
LLM-data-pipeline axis the survey calls for.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from go_map_reduce_spark.catalog import ensure_min_parallelism, load_table
from go_map_reduce_spark.operators import advanced as _advanced  # noqa: F401  (oracle reuse)
from go_map_reduce_spark.operators.dedup import _SQL_SHINGLES
from go_map_reduce_spark.registry import ORACLES, query

# Heavy-hitter support: report tokens with count*K >= total token count.
HH_K = 200
# A shingle present in at least this many distinct docs is boilerplate.
# (The synthetic corpus is near-unique word soup — max 3-gram doc
# frequency is ~7-9 at the driver SFs — so the threshold sits where it
# actually selects the shared tail; a web corpus would set it ~1000.)
BOILER_MIN_DOCS = 5

_SQL_TOKS = "list_filter(regexp_split_to_array(text, '[^A-Za-z]+'), x -> x <> '')"


def _misra_gries_partition(it):
    """Per-partition Misra-Gries sketch with HH_K counters.

    Streaming one pass over the partition's rows: increment a counter if
    the token holds one, open a counter if a slot is free, else decrement
    all (the classic k-counter reduction, Misra & Gries 1982). Guarantee:
    any token with partition count > n_p/(HH_K+1) ends the pass holding a
    counter — so a token with GLOBAL count >= N/HH_K must survive in at
    least one partition (its count can't be below n_p/HH_K everywhere),
    and the union of per-partition candidates is a strict superset of the
    true heavy hitters. Python is acceptable here because the sketch is
    not expressible in native expressions AND its output is only a
    candidate set — phase 2 recomputes exact counts natively, so sketch
    precision never affects the result.
    """
    import re

    import pandas as pd

    counters: dict[str, int] = {}
    split = re.compile(r"[^A-Za-z]+").split
    for pdf in it:
        for text in pdf["text"]:
            for tok in split(text or ""):
                if not tok:
                    continue
                if tok in counters:
                    counters[tok] += 1
                elif len(counters) < HH_K:
                    counters[tok] = 1
                else:
                    for key in list(counters):
                        counters[key] -= 1
                        if counters[key] == 0:
                            del counters[key]
    yield pd.DataFrame({"token": list(counters)})


@query(
    "heavy_hitters_exact",
    oracle=f"""
    WITH toks AS (
      SELECT unnest({_SQL_TOKS}) AS token FROM documents
    ),
    counts AS (SELECT token, COUNT(*) AS cnt FROM toks GROUP BY token),
    total AS (SELECT COUNT(*) AS n FROM toks)
    SELECT token, CAST(cnt AS BIGINT) AS cnt
    FROM counts CROSS JOIN total
    WHERE cnt * {HH_K} >= n
    """,
)
def heavy_hitters_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT heavy hitters (tokens with frequency >= N/{HH_K}) via the
    two-pass sketch-then-verify pattern every large-scale frequent-items
    job uses.

    Phase 1 (candidates): a per-partition Misra-Gries sketch over the
    raw text — map-side only, ZERO shuffle, output bounded at HH_K
    tokens per partition regardless of data volume. Phase 2 (verify):
    exact counts restricted to the candidate set — the token explode is
    filtered by a broadcast semi-join BEFORE the groupBy, so the one
    shuffle carries only candidate occurrences, and the support
    threshold compares in pure int64 (cnt*K >= N, no float division).
    Correctness does not depend on sketch accuracy (the candidate set
    is provably a superset; phase 2 discards false positives), which is
    what lets the oracle be the plain full GROUP BY. At 100 TB the
    explode of non-candidate tokens never leaves the map side."""
    docs = ensure_min_parallelism(
        spark, load_table(spark, sf_dir, "documents").select("text")
    )
    candidates = (
        docs.mapInPandas(_misra_gries_partition, "token string")
        .distinct()
    )
    toks = docs.select(
        F.explode(F.filter(F.split("text", "[^A-Za-z]+"), lambda x: x != "")).alias(
            "token"
        )
    )
    total = toks.agg(F.count(F.lit(1)).alias("n"))
    return (
        toks.join(F.broadcast(candidates), "token", "left_semi")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .crossJoin(F.broadcast(total))
        .where(F.col("cnt") * HH_K >= F.col("n"))
        .select("token", "cnt")
    )


@query(
    "near_dup_survivors",
    oracle=f"""
    WITH labels AS (
      SELECT doc_id, cluster_id FROM ({ORACLES["dedup_clusters"]}) l
    ),
    full_docs AS (
      SELECT d.doc_id,
             COALESCE(l.cluster_id, d.doc_id) AS cluster_id,
             d.n_chars
      FROM documents d LEFT JOIN labels l USING (doc_id)
    )
    SELECT doc_id, cluster_id, n_chars
    FROM (
      SELECT doc_id, cluster_id, n_chars,
             row_number() OVER (PARTITION BY cluster_id
                                ORDER BY n_chars DESC, doc_id) AS rk
      FROM full_docs
    ) WHERE rk = 1
    """,
)
def near_dup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The KEEP decision of near-dup dedup: one survivor per minhash
    cluster — the longest member (n_chars, doc_id tiebreak) — plus every
    unclustered doc as its own singleton cluster.

    Composes dedup_clusters (connected components over verified minhash
    pairs, advanced.py) with a per-cluster top-1 window. The label frame
    is one row per clustered doc (tiny next to the corpus), so the
    left join against documents broadcasts it; the survivor window
    partitions by cluster_id — group sizes are near-dup cluster sizes,
    bounded by the LSH bucket cap upstream, so no skewed-window hazard.
    Oracle inlines the dedup_clusters recursive-CTE oracle, staying
    self-contained over the driver's base views."""
    from go_map_reduce_spark.operators.advanced import dedup_clusters

    labels = dedup_clusters(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    full = docs.join(F.broadcast(labels), "doc_id", "left").select(
        "doc_id",
        F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
        "n_chars",
    )
    rk = F.row_number().over(
        Window.partitionBy("cluster_id").orderBy(
            F.desc("n_chars"), F.asc("doc_id")
        )
    )
    return (
        full.withColumn("rk", rk).where(F.col("rk") == 1).drop("rk")
    )


@query(
    "boilerplate_shingles",
    oracle=f"""
    SELECT shingle, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM ({_SQL_SHINGLES}) sh
    GROUP BY shingle
    HAVING COUNT(*) >= {BOILER_MIN_DOCS}
    """,
)
def boilerplate_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate detection: the 3-gram shingles shared by >=
    {BOILER_MIN_DOCS} distinct documents — headers, footers, license
    blurbs; the list a corpus-cleaning pass subtracts before minhashing
    (and exactly the shingles that produce the degenerate LSH buckets
    dedup.py caps).

    Reuses the dedup pipeline's per-row shingle-set build (zip_with
    k-gram fold, array_distinct inside the row): the exploded frame is
    already unique per (doc, shingle), so the doc count is a plain
    COUNT(*) with map-side partial aggregation — one shuffle of shingle
    keys, each carrying a partial count, never a doc list. The oracle
    repeats dedup.py's _SQL_SHINGLES expansion verbatim (same K=3)."""
    from go_map_reduce_spark.operators.dedup import _spark_shingles

    return (
        _spark_shingles(spark, sf_dir)
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .where(F.col("n_docs") >= BOILER_MIN_DOCS)
    )


# Shard count for the deterministic training-order writer.
N_SHARDS = 16


@query(
    "training_shard_assignment",
    oracle=f"""
    SELECT doc_id, shard,
           CAST(row_number() OVER (
                  PARTITION BY shard
                  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
                AS BIGINT) AS pos
    FROM (
      SELECT doc_id,
             CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 7))
                  AS BIGINT) % {N_SHARDS} AS shard
      FROM documents
    )
    """,
)
def training_shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle + sharding — the layout step that
    fixes a training run's data order: every doc gets a pseudorandom
    64-bit-ish key (md5 of its id), a shard (key prefix mod
    {N_SHARDS}), and a position within its shard (rank by key).

    Reproducibility is the point: the permutation is a pure function of
    doc_id — stable across runs, task retries, partitioning, and
    engines (the oracle computes the identical md5 ordering), which is
    what makes a training run resumable ("start at shard 7 pos 1.2M")
    and ablations comparable. Execution is one hash shuffle on shard +
    a per-shard sort — md5 balances shard sizes, so the window has no
    skewed partition; at 100 TB this is exactly a sort-within-partitions
    write (`repartition(shard).sortWithinPartitions(key)`), no global
    sort anywhere."""
    key = F.md5(F.col("doc_id").cast("string"))
    shard = F.conv(F.substring(key, 1, 7), 16, 10).cast("long") % N_SHARDS
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", shard.alias("shard"), key.alias("__key")
    )
    pos = F.row_number().over(
        Window.partitionBy("shard").orderBy("__key", "doc_id")
    )
    return docs.select(
        "doc_id", "shard", pos.cast("long").alias("pos")
    )


@query(
    "semantic_dedup_survivors",
    oracle=f"""
    SELECT vec_id, label
    FROM embeddings
    WHERE vec_id NOT IN (
      SELECT vec_b FROM ({ORACLES["embedding_near_dup_pairs"]}) p
    )
    """,
)
def semantic_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style survivor selection over the embedding table: drop
    every vector that has a LOWER-id near neighbor (cosine >= threshold
    within its sign-LSH bucket), keep the rest.

    The greedy lower-id-wins rule is deterministic and local to the
    verified pair list: a chain a<b<c with pairs (a,b),(b,c) keeps only
    a — the standard greedy epsilon-ball sweep SemDeDup applies within
    clusters (public literature: Abbas et al. 2023), chosen over
    per-component argmin so no transitive closure is needed. Execution
    is the pair pipeline (bucket-equality join + cosine verify,
    dedup.py) followed by one broadcast anti-join of the dropped-id set
    against the table — the drop set is bounded by the pair count, far
    smaller than the corpus at any scale."""
    from go_map_reduce_spark.operators.dedup import embedding_near_dup_pairs

    dropped = (
        embedding_near_dup_pairs(spark, sf_dir)
        .select(F.col("vec_b").alias("vec_id"))
        .distinct()
    )
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    return emb.join(F.broadcast(dropped), "vec_id", "left_anti")
