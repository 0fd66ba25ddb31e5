"""Round-12/13 pipeline operators: the cross-modal dedup capstone,
the media admit stage the curation funnel composes, video's
perceptual dedup tier, and the erasure cascade into the DERIVED
stores.

``crossmodal_dedup_survivors`` is the endgame of the dedup tiers: a
real crawl dedups the DOCUMENT, not each modality separately.  The
verified text near-dup pairs (MinHash-LSH banded + exact-Jaccard),
the image perceptual clusters (cross-codec aHash), the audio
perceptual clusters (layout-invariant energy fingerprint) and — r13,
the r12 verdict's top task — the video sequence-fingerprint clusters
union into ONE edge set over one doc universe, the registered
large-star connected-components operator contracts it, and one
survivor per unified cluster is elected under a single composed
policy: quality (content mass) first, then lossless-media preference
(the pipeline34 rank tables: PNG < BMP < JPEG, mono < stereo < loud,
master < reencoded < padded < reenc_padded), then doc_id.
Media cluster co-membership enters the edge set as STAR edges (every
member → the cluster's minimum doc_id): connectivity-equivalent to
the all-pairs co-membership relation but LINEAR in cluster size — an
all-pairs encoding of a 10k-member boilerplate cluster would emit
5·10⁷ edges before CC even started.  Media edges are scoped to the
MEDIA CARRIERS (the funnel stage's model, below): in the synthetic
corpus every doc_id synthesizes an image and an audio track from only
~11+16 distinct perceptual contents, so unscoped media co-membership
would contract the entire corpus into ONE cluster (measured at
sf0.01) and the capstone would report nothing; the carrier slice is
also the semantically honest universe — a document that carries no
media has no media co-membership.

``media_admit_decision`` is the funnel-facing form of the media tier:
a deterministic ~40% of documents CARRY a media object (residue 2:
image or audio, alternating; residue 4, r13: video), and a carrier is
admitted iff it is its perceptual cluster's survivor among carriers —
the ``media_dedup_survivors`` arg-min policy applied to the carrier
slice.  The carrier model is deliberately sparse: the synthetic media
tiers give EVERY doc_id an image and an audio track with only ~11+16
distinct perceptual contents corpus-wide, so gating the whole corpus
on global survivorship would collapse the text funnel to ~27
documents and destroy every downstream funnel consumer; a ~20% slice
keeps the media stage a real, attributable funnel stage (the r11
verdict's media_dropped) without the degenerate corpus shape.
Non-carriers pass vacuously.

Reference anchor: the map-side dedup in mrapps/indexer.go:21-26 is
the engine-level seed of the survivor tier; the erasure discipline
extends the reference's truncate-then-rebuild storage contract
(mr/s3.go:92-124) to derived state.

Composition queries import tier functions directly (package
convention: the staleness closure must see the edges)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from go_map_reduce_spark.catalog import load_table
from go_map_reduce_spark.operators import pipeline26 as _pipeline26  # noqa: F401  (oracle reuse)
from go_map_reduce_spark.operators.advanced import _cc_largestar
from go_map_reduce_spark.operators.dedup import minhash_near_dup_pairs
from go_map_reduce_spark.operators.pipeline33 import (
    AUD_TAGGED_CTES,
    CC_TAGGED_CTES,
    audio_fp_frame,
    cc_hashed_frame,
)
from go_map_reduce_spark.operators.pipeline34 import (
    _AUD_RANK_SQL,
    _IMG_RANK_SQL,
    _PREF_BASE,
    AUD_RANK,
    IMG_RANK,
    _rank_col,
    _rank_sql,
    _survivor_agg,
)
from go_map_reduce_spark.operators.textstats import text_quality_scores
from go_map_reduce_spark.registry import ORACLES, query, shared_frame

# --------------------------------------------------------------------------
# Video tier constants + closed-form fingerprint CTE (defined first:
# the media admit stage and the capstone compose them)
# --------------------------------------------------------------------------

VPD_RESIDUES = 16  # doc_id % 16 picks the frame-sequence content
VPD_FRAMES = 6  # content frames per clip
VPD_SIDE = 32  # frame side; aHash cells are 4x4 px
VPD_BLOCKS = 4  # 4x4 grid of 8x8 constant blocks per frame
VPD_M_RES, VPD_M_BX, VPD_M_BY = 37, 71, 113  # pipeline33 multipliers
VPD_M_T = 29  # per-frame term, so frames within a clip hash differently
VPD_SAMPLE_EVERY = 2  # hash every 2nd content frame (0, 2, 4)

# Survivor preference among the synthesis variants (lossless container
# first, then the re-encode, then the padded re-uploads).
VID_RANK = {"master": 0, "reencoded": 1, "padded": 2, "reenc_padded": 3}
_VID_RANK_SQL = _rank_sql("variant", VID_RANK)

_VPD_VARIANTS = ("master", "reencoded", "padded", "reenc_padded")

# The closed-form (doc_id, variant, vfp) derivation as a reusable CTE
# body — the video sibling of CC_TAGGED_CTES / AUD_TAGGED_CTES, shared
# by the video tier's own gate, the media admit stage, the cross-modal
# capstone and the erasure cascade so the five oracles cannot drift.
VPD_TAGGED_CTES = f"""
    vpd_docs AS (
      SELECT doc_id, doc_id % {VPD_RESIDUES} AS res,
             CASE (doc_id // {VPD_RESIDUES}) % 4
                  WHEN 0 THEN 'master'
                  WHEN 1 THEN 'reencoded'
                  WHEN 2 THEN 'padded'
                  ELSE 'reenc_padded' END AS variant
      FROM documents
    ),
    vpd_blocks AS (
      SELECT res, t, bx, by,
             ({VPD_M_RES} * res + {VPD_M_BX} * bx + {VPD_M_BY} * by
              + {VPD_M_T} * t) % 200 AS g
      FROM (SELECT DISTINCT res FROM vpd_docs),
           range(0, {VPD_FRAMES}, {VPD_SAMPLE_EVERY}) u(t),
           range({VPD_BLOCKS}) t1(bx), range({VPD_BLOCKS}) t2(by)
    ),
    vpd_tot AS (
      SELECT res, t, SUM(g) AS total FROM vpd_blocks GROUP BY res, t
    ),
    vpd_bits AS (
      SELECT b.res, b.t, b.bx, b.by,
             CASE WHEN {VPD_BLOCKS * VPD_BLOCKS} * b.g > tt.total
                  THEN '1' ELSE '0' END AS bit
      FROM vpd_blocks b JOIN vpd_tot tt ON tt.res = b.res AND tt.t = b.t
    ),
    vpd_rows AS (
      SELECT res, t, by,
             string_agg(repeat(bit, 2), '' ORDER BY bx) AS rowstr
      FROM vpd_bits GROUP BY res, t, by
    ),
    vpd_fhash AS (
      SELECT res, t, string_agg(rowstr || rowstr, '' ORDER BY by) AS fhash
      FROM vpd_rows GROUP BY res, t
    ),
    vpd_fp AS (
      SELECT res, string_agg(fhash, '|' ORDER BY t) AS vfp
      FROM vpd_fhash GROUP BY res
    ),
    vpd_tagged AS (
      SELECT d.doc_id, d.variant, fp.vfp
      FROM vpd_docs d JOIN vpd_fp fp ON fp.res = d.res
    )
"""


# --------------------------------------------------------------------------
# The media admit stage (consumed by the curation funnel, pipeline27)
# --------------------------------------------------------------------------

# A document CARRIES a media object iff doc_id % MOD is a carrier
# residue (~40% of the corpus): residue REM carries an image or an
# audio track (alternating via doc_id // MOD, decoupled from the
# carrier predicate AND from the media tiers' doc_id % 16 content
# residues — the pipeline34 coupled-key lesson); residue VID_REM
# (r13, the r12 verdict's top task) carries a VIDEO.  The video slice
# is a disjoint residue rather than a third arm of the image/audio
# alternation so the r12 image/audio carrier decisions are unchanged —
# video joins the model without reshuffling who carries what.
MEDIA_CARRIER_MOD = 5
MEDIA_CARRIER_REM = 2
MEDIA_VID_REM = 4

# The survivor election CTEs over the carrier slice, given the
# pipeline33 closed-form CTE bodies (CC_TAGGED_CTES → tagged,
# AUD_TAGGED_CTES → aud_tagged) are in scope.  ``msv`` is the admitted
# carrier set: one survivor per carrier-populated perceptual cluster,
# elected by the IDENTICAL packed arg-min the media_dedup_survivors act
# registers.
_IS_IMG_CARRIER_SQL = (
    f"doc_id % {MEDIA_CARRIER_MOD} = {MEDIA_CARRIER_REM}"
    f" AND (doc_id // {MEDIA_CARRIER_MOD}) % 2 = 0"
)
_IS_AUD_CARRIER_SQL = (
    f"doc_id % {MEDIA_CARRIER_MOD} = {MEDIA_CARRIER_REM}"
    f" AND (doc_id // {MEDIA_CARRIER_MOD}) % 2 = 1"
)
_IS_VID_CARRIER_SQL = f"doc_id % {MEDIA_CARRIER_MOD} = {MEDIA_VID_REM}"

# The video chain rides INSIDE this body so every existing composition
# site (STAGED_ORACLE, the dataset card, the incremental funnel) picks
# up the video carriers without editing its own WITH list.
MEDIA_SV_CTES = f"""
    {VPD_TAGGED_CTES},
    media_img_sv AS (
      SELECT CAST(arg_min(doc_id, ({_IMG_RANK_SQL}) * {_PREF_BASE} + doc_id)
                  AS BIGINT) AS sdoc
      FROM tagged WHERE {_IS_IMG_CARRIER_SQL}
      GROUP BY ahash
    ),
    media_aud_sv AS (
      SELECT CAST(arg_min(doc_id, ({_AUD_RANK_SQL}) * {_PREF_BASE} + doc_id)
                  AS BIGINT) AS sdoc
      FROM aud_tagged WHERE {_IS_AUD_CARRIER_SQL}
      GROUP BY afp
    ),
    media_vid_sv AS (
      SELECT CAST(arg_min(doc_id, ({_VID_RANK_SQL}) * {_PREF_BASE} + doc_id)
                  AS BIGINT) AS sdoc
      FROM vpd_tagged WHERE {_IS_VID_CARRIER_SQL}
      GROUP BY vfp
    ),
    msv AS (SELECT sdoc FROM media_img_sv
            UNION ALL SELECT sdoc FROM media_aud_sv
            UNION ALL SELECT sdoc FROM media_vid_sv)
"""

def media_ok_sql(alias: str = "d") -> str:
    """media_ok as a SQL predicate over a documents-keyed relation
    aliased ``alias``, with ``msv`` LEFT-joined as ``sv`` in scope
    (pipeline27 embeds this in STAGED_ORACLE over its split relation;
    the media_admit_decision oracle uses it over documents)."""
    return (
        f"({alias}.doc_id % {MEDIA_CARRIER_MOD} <> {MEDIA_CARRIER_REM}"
        f" AND {alias}.doc_id % {MEDIA_CARRIER_MOD} <> {MEDIA_VID_REM}"
        " OR sv.sdoc IS NOT NULL)"
    )


MEDIA_OK_SQL = media_ok_sql()


def _carrier(col: F.Column) -> F.Column:
    return ((col % MEDIA_CARRIER_MOD) == MEDIA_CARRIER_REM) | (
        (col % MEDIA_CARRIER_MOD) == MEDIA_VID_REM
    )


def _carrier_media_frames(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The carrier slices of the three decoded media frames: image
    carriers of cc_hashed_frame, audio carriers of audio_fp_frame,
    video carriers (residue {MEDIA_VID_REM}, r13) of video_fp_frame.
    ONE definition of 'which documents carry which media' shared by
    the funnel stage and the cross-modal capstone, so the two cannot
    drift."""
    img = cc_hashed_frame(spark, sf_dir)
    aud = audio_fp_frame(spark, sf_dir)
    vid = video_fp_frame(spark, sf_dir)
    rem = F.col("doc_id") % MEDIA_CARRIER_MOD
    side = F.expr(f"doc_id DIV {MEDIA_CARRIER_MOD}") % 2
    imgc = img.where((rem == MEDIA_CARRIER_REM) & (side == 0))
    audc = aud.where((rem == MEDIA_CARRIER_REM) & (side == 1))
    vidc = vid.where(rem == MEDIA_VID_REM)
    return imgc, audc, vidc


def media_survivor_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The admitted carrier set — one survivor doc_id per
    carrier-populated perceptual cluster (image clusters among image
    carriers, audio clusters among audio carriers, video sequence
    clusters among video carriers), elected by the registered
    ``_survivor_agg`` arg-min policy.  Tiny by construction
    (≤ #distinct perceptual keys rows), so every consumer broadcasts
    it: the media stage adds ZERO shuffles to the funnel.

    r15: memoized via registry.shared_frame — the staged decisions,
    the bucketed layout and the media_admit_decision query each ran
    the three survivor elections (plus the memoized decode-frame
    reads) per call; the elected id set is survivor-sized and
    materializes once per session."""
    from go_map_reduce_spark.registry import shared_frame

    def _build() -> DataFrame:
        imgc, audc, vidc = _carrier_media_frames(spark, sf_dir)
        img_sv = _survivor_agg(
            imgc, "ahash", "codec", _rank_col("codec", IMG_RANK)
        ).select(F.col("survivor_doc_id").alias("doc_id"))
        aud_sv = _survivor_agg(
            audc, "afp", "layout", _rank_col("layout", AUD_RANK)
        ).select(F.col("survivor_doc_id").alias("doc_id"))
        vid_sv = _survivor_agg(
            vidc, "vfp", "variant", _rank_col("variant", VID_RANK)
        ).select(F.col("survivor_doc_id").alias("doc_id"))
        return (
            img_sv.unionByName(aud_sv)
            .unionByName(vid_sv)
            .localCheckpoint(eager=True)
        )

    return shared_frame(
        spark, f"media_survivors:{sf_dir}", _build, data_path=sf_dir
    )


def media_keep_decision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, media_ok) for EVERY document: non-carriers pass
    vacuously; a carrier passes iff it is its cluster's survivor.
    One broadcast left join of the tiny survivor set — no shuffle."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    sv = media_survivor_ids(spark, sf_dir).withColumn("is_sv", F.lit(True))
    return docs.join(F.broadcast(sv), "doc_id", "left").select(
        "doc_id",
        (~_carrier(F.col("doc_id")) | F.coalesce("is_sv", F.lit(False))).alias(
            "media_ok"
        ),
    )


@query(
    "media_admit_decision",
    oracle=f"""
    WITH {CC_TAGGED_CTES},
    {AUD_TAGGED_CTES},
    {MEDIA_SV_CTES}
    SELECT d.doc_id,
           (d.doc_id % {MEDIA_CARRIER_MOD} = {MEDIA_CARRIER_REM}
            OR d.doc_id % {MEDIA_CARRIER_MOD} = {MEDIA_VID_REM})
             AS is_carrier,
           {MEDIA_OK_SQL} AS media_ok
    FROM documents d LEFT JOIN msv sv ON sv.sdoc = d.doc_id
    """,
)
def media_admit_decision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The media funnel stage as its own gated artifact: per document,
    whether it carries media (image/audio on residue
    {MEDIA_CARRIER_REM}, video on residue {MEDIA_VID_REM} — r13) and
    whether the media stage admits it (non-carrier, or its perceptual
    cluster's survivor among carriers).  This is the per-doc decision
    column ``staged_decisions`` (pipeline27) composes; registering it
    separately bisects a funnel regression to the stage in one
    artifact read, exactly like the gate/cut/keep/split stages.

    100 TB shape: the survivor election is one groupBy per media tier
    over the carrier slice (the pipeline34 plan), the decision itself
    a broadcast left join of the ≤ #clusters survivor set against a
    doc_id-only scan — no corpus shuffle anywhere."""
    dec = media_keep_decision(spark, sf_dir)
    return dec.select(
        "doc_id", _carrier(F.col("doc_id")).alias("is_carrier"), "media_ok"
    )


# --------------------------------------------------------------------------
# The cross-modal dedup capstone
# --------------------------------------------------------------------------


def _star_edges(frame: DataFrame, key: str) -> DataFrame:
    """Cluster co-membership as star edges (member → cluster-min
    doc_id): the connectivity of the co-membership relation in
    LINEAR edges per cluster.  One map-side-combinable min per key
    plus one broadcastable hub join — never the quadratic all-pairs
    expansion."""
    hubs = frame.groupBy(key).agg(F.min("doc_id").alias("hub"))
    return (
        frame.join(hubs, key)
        .where(F.col("doc_id") != F.col("hub"))
        .select(F.col("doc_id").alias("doc_a"), F.col("hub").alias("doc_b"))
    )


def _crossmodal_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unified (doc_id, cluster_id) over text ∪ image ∪ audio ∪ video
    edges via the registered large-star operator — memoized per
    context (registry.shared_frame): the unified cluster assignment is
    the frame a cross-modal pipeline composes on, and its lineage
    contains the LSH verify join plus all three media decode tiers.

    First-consumer attribution note (the r09 convention): whichever
    query touches this frame first in a session pays the minhash
    pipeline, any not-yet-built media decode frames, and the CC
    contraction (measured 12.7 s cold vs 0.9 s steady at sf0.1);
    bench treats the consumer as NOISY (best-of-2) for this reason."""

    def _build() -> DataFrame:
        txt = minhash_near_dup_pairs(spark, sf_dir).select("doc_a", "doc_b")
        imgc, audc, vidc = _carrier_media_frames(spark, sf_dir)
        edges = (
            txt.union(_star_edges(imgc, "ahash"))
            .union(_star_edges(audc, "afp"))
            .union(_star_edges(vidc, "vfp"))
            .localCheckpoint(eager=True)
        )
        return _cc_largestar(edges).localCheckpoint(eager=True)

    return shared_frame(
        spark, f"crossmodal_labels:{sf_dir}", _build, data_path=sf_dir
    )


def _crossmodal_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The unified-cluster member frame the capstone aggregates and
    the erasure cascade re-elects over — ONE Spark definition so the
    two cannot drift (mirrors the oracle side's shared members CTE):
    (doc_id, cluster_id, n_tokens, codec, layout, variant, c_ahash,
    c_afp, c_vfp) with isolated docs as singletons."""
    labels = _crossmodal_labels(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    quality = text_quality_scores(spark, sf_dir).select("doc_id", "n_tokens")
    img = cc_hashed_frame(spark, sf_dir).select("doc_id", "codec")
    aud = audio_fp_frame(spark, sf_dir).select("doc_id", "layout")
    vid = video_fp_frame(spark, sf_dir).select("doc_id", "variant")
    imgc, audc, vidc = _carrier_media_frames(spark, sf_dir)
    img_k = imgc.select("doc_id", F.col("ahash").alias("c_ahash"))
    aud_k = audc.select("doc_id", F.col("afp").alias("c_afp"))
    vid_k = vidc.select("doc_id", F.col("vfp").alias("c_vfp"))
    return (
        docs.join(labels, "doc_id", "left")
        .join(quality, "doc_id", "left")
        .join(img, "doc_id")
        .join(aud, "doc_id")
        .join(vid, "doc_id")
        .join(img_k, "doc_id", "left")
        .join(aud_k, "doc_id", "left")
        .join(vid_k, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            "codec",
            "layout",
            "variant",
            "c_ahash",
            "c_afp",
            "c_vfp",
        )
    )


def _xm_ordk() -> F.Column:
    """The composed survivor-preference struct: most content first,
    then the lossless-media rank tables (image, audio, then video —
    r13), then lowest doc_id."""
    return F.struct(
        (-F.col("n_tokens")).alias("neg_q"),
        _rank_col("codec", IMG_RANK).alias("img_rank"),
        _rank_col("layout", AUD_RANK).alias("aud_rank"),
        _rank_col("variant", VID_RANK).alias("vid_rank"),
        F.col("doc_id").alias("tie"),
    )


# The unified-graph chain (edges → transitive closure → labels →
# members → ranked) as a reusable CTE body: the capstone's oracle and
# the erasure cascade's 'crossmodal' store (r13) compose the SAME
# chain, so the two cannot drift.  Requires CC_TAGGED_CTES,
# AUD_TAGGED_CTES and VPD_TAGGED_CTES in scope, under WITH RECURSIVE.
#
# The ``reach`` closure is all-pairs within each cluster — QUADRATIC
# in cluster size (r12 ADVICE).  Deliberately kept: at the gate's
# sf0.01 the largest unified cluster is tiny, DuckDB 1.0 lacks the
# ``USING KEY`` recursive CTEs that would make a per-round min-label
# propagation expressible (plain UNION recursion accumulates the same
# all-pairs reachability set), and the CC tier's own oracle set the
# precedent.  If a larger-SF oracle run is ever needed, upgrade DuckDB
# and switch to an iterative min-label CTE.
_XM_CHAIN = f"""
    txt_pairs AS (
      SELECT doc_a, doc_b FROM ({ORACLES["minhash_near_dup_pairs"]})
    ),
    imgc AS (SELECT * FROM tagged WHERE {_IS_IMG_CARRIER_SQL}),
    audc AS (SELECT * FROM aud_tagged WHERE {_IS_AUD_CARRIER_SQL}),
    vidc AS (SELECT * FROM vpd_tagged WHERE {_IS_VID_CARRIER_SQL}),
    img_hub AS (SELECT ahash, MIN(doc_id) AS hub FROM imgc GROUP BY ahash),
    img_edges AS (
      SELECT t.doc_id AS doc_a, h.hub AS doc_b
      FROM imgc t JOIN img_hub h ON h.ahash = t.ahash
      WHERE t.doc_id <> h.hub
    ),
    aud_hub AS (SELECT afp, MIN(doc_id) AS hub FROM audc GROUP BY afp),
    aud_edges AS (
      SELECT a.doc_id AS doc_a, a2.hub AS doc_b
      FROM audc a JOIN aud_hub a2 ON a2.afp = a.afp
      WHERE a.doc_id <> a2.hub
    ),
    vid_hub AS (SELECT vfp, MIN(doc_id) AS hub FROM vidc GROUP BY vfp),
    vid_edges AS (
      SELECT v.doc_id AS doc_a, vh.hub AS doc_b
      FROM vidc v JOIN vid_hub vh ON vh.vfp = v.vfp
      WHERE v.doc_id <> vh.hub
    ),
    all_edges AS (
      SELECT doc_a, doc_b FROM txt_pairs
      UNION SELECT doc_a, doc_b FROM img_edges
      UNION SELECT doc_a, doc_b FROM aud_edges
      UNION SELECT doc_a, doc_b FROM vid_edges
    ),
    sym AS (SELECT doc_a AS a, doc_b AS b FROM all_edges
            UNION SELECT doc_b, doc_a FROM all_edges),
    reach(a, b) AS (
      SELECT a, b FROM sym
      UNION
      SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
    ),
    labels AS (
      SELECT a AS doc_id, least(a, MIN(b)) AS cluster_id
      FROM reach GROUP BY a
    ),
    quality AS ({ORACLES["text_quality_scores"]}),
    members AS (
      SELECT d.doc_id,
             COALESCE(l.cluster_id, d.doc_id) AS cluster_id,
             CAST(COALESCE(q.n_tokens, 0) AS BIGINT) AS n_tokens,
             t.codec, au.layout, vt.variant,
             ic.ahash AS c_ahash, ac.afp AS c_afp, vc.vfp AS c_vfp
      FROM documents d
      JOIN tagged t ON t.doc_id = d.doc_id
      JOIN aud_tagged au ON au.doc_id = d.doc_id
      JOIN vpd_tagged vt ON vt.doc_id = d.doc_id
      LEFT JOIN imgc ic ON ic.doc_id = d.doc_id
      LEFT JOIN audc ac ON ac.doc_id = d.doc_id
      LEFT JOIN vidc vc ON vc.doc_id = d.doc_id
      LEFT JOIN labels l ON l.doc_id = d.doc_id
      LEFT JOIN quality q ON q.doc_id = d.doc_id
    ),
    ranked AS (
      SELECT *, row_number() OVER (
               PARTITION BY cluster_id
               ORDER BY n_tokens DESC, ({_IMG_RANK_SQL}),
                        ({_AUD_RANK_SQL}), ({_VID_RANK_SQL}), doc_id
             ) AS rk
      FROM members
    )
"""


@query(
    "crossmodal_dedup_survivors",
    oracle=f"""
    WITH RECURSIVE
    {CC_TAGGED_CTES},
    {AUD_TAGGED_CTES},
    {VPD_TAGGED_CTES},
    {_XM_CHAIN},
    surv AS (
      SELECT cluster_id, doc_id AS survivor_doc_id,
             n_tokens AS survivor_n_tokens,
             codec AS survivor_codec, layout AS survivor_layout,
             variant AS survivor_variant
      FROM ranked WHERE rk = 1
    ),
    agg AS (
      SELECT cluster_id,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(COUNT(DISTINCT c_ahash) AS BIGINT) AS n_img_clusters,
             CAST(COUNT(DISTINCT c_afp) AS BIGINT) AS n_aud_clusters,
             CAST(COUNT(DISTINCT c_vfp) AS BIGINT) AS n_vid_clusters,
             CAST(COUNT(*) - 1 AS BIGINT) AS cut_count
      FROM members GROUP BY cluster_id
    )
    SELECT a.cluster_id, a.n_docs, a.n_img_clusters, a.n_aud_clusters,
           a.n_vid_clusters,
           CAST(s.survivor_doc_id AS BIGINT) AS survivor_doc_id,
           s.survivor_n_tokens, s.survivor_codec, s.survivor_layout,
           s.survivor_variant,
           a.cut_count
    FROM agg a JOIN surv s ON s.cluster_id = a.cluster_id
    """,
)
def crossmodal_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cross-modal dedup capstone: ONE cluster graph, ONE survivor
    policy.  Verified text near-dup pairs and image / audio / video
    perceptual co-membership (each as linear-size star edges; video
    joined in r13 — the r12 verdict's top task) union over the
    document universe; the registered large-star operator contracts
    the graph in O(log n) rounds; every document lands in exactly one
    unified cluster (isolated docs are singletons); and each cluster
    keeps ONE survivor under the composed policy — most content
    (n_tokens) first, then the lossless-media preference tables the
    media_dedup_survivors act registers (PNG < BMP < JPEG, then
    mono < stereo < loud, then master < reencoded < padded <
    reenc_padded), then lowest doc_id.  Emits per unified cluster:
    member count, how many image / audio / video perceptual clusters
    it absorbs (each per-modality cluster is a REFINEMENT of the
    unified clustering — pinned in tests), the survivor's identity /
    content mass / formats, and the cut-list size.

    Oracle: composes the registered tier CTEs verbatim (pipeline33
    closed forms, the video chain, the minhash pair SQL, the
    quality-tier SQL) with the recursive-CTE transitive closure the
    CC tier already gates against — no codec, no LSH and no graph
    logic duplicated on the DuckDB side beyond those registered
    bodies.

    100 TB shape: the media decode tiers read their session-memoized
    frames; star-edge construction is one short-key min-aggregate per
    tier; large-star is the registered O(log n) contraction whose
    edge frame only ever SHRINKS; the survivor election is one
    groupBy over cluster_id with a single struct-ordered ``min_by``
    per output column (map-side-combinable arg-min — no window over
    the corpus, no members-vs-cluster self-join).  Everything heavy
    is linear in edges, and the edge encoding keeps edges linear in
    members."""
    members = _crossmodal_members(spark, sf_dir)
    ordk = _xm_ordk()
    return members.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.count_distinct("c_ahash").cast("long").alias("n_img_clusters"),
        F.count_distinct("c_afp").cast("long").alias("n_aud_clusters"),
        F.count_distinct("c_vfp").cast("long").alias("n_vid_clusters"),
        F.min_by("doc_id", ordk).cast("long").alias("survivor_doc_id"),
        F.min_by("n_tokens", ordk).cast("long").alias("survivor_n_tokens"),
        F.min_by("codec", ordk).alias("survivor_codec"),
        F.min_by("layout", ordk).alias("survivor_layout"),
        F.min_by("variant", ordk).alias("survivor_variant"),
        (F.count(F.lit(1)) - F.lit(1)).cast("long").alias("cut_count"),
    )


# --------------------------------------------------------------------------
# Video perceptual dedup (re-encoded / padded copies collapse)
# --------------------------------------------------------------------------


def _vpd_frame_gray(doc_id: int, t: int) -> list[list[int]]:
    """Content pixels of frame ``t``: the pipeline33 block closed form
    plus a per-frame term and +1 (every content pixel >= 1, so all-zero
    PAD frames are exactly distinguishable — the letterbox trim
    discipline applied to the TIME axis), plus a per-doc brightness
    jitter that keeps same-variant payloads byte-distinct while
    cancelling in the exact-integer average hash."""
    res, jit = doc_id % VPD_RESIDUES, (doc_id // 5) % 3
    return [
        [
            (
                VPD_M_RES * res
                + VPD_M_BX * (x // 8)
                + VPD_M_BY * (y // 8)
                + VPD_M_T * t
            )
            % 200
            + 1
            + jit
            for x in range(VPD_SIDE)
        ]
        for y in range(VPD_SIDE)
    ]


def _vpd_synth_batch(batches):
    """Encode the SAME content frame sequence under the variant
    (doc_id // {VPD_RESIDUES}) % 4 selects (decoupled from the content
    residue): 0 'master' BMP frames; 1 'reencoded' PNG frames (a
    re-encoded copy — every frame byte-distinct, container re-written);
    2 'padded' BMP frames with 2 leading + 1 trailing all-black frames
    (slate/outro); 3 'reenc_padded' PNG frames with 1 leading black
    frame.  All four are byte-distinct GMRV containers; two have a
    DIFFERENT frame count."""
    import pandas as pd

    from go_map_reduce_spark.operators.multimodal import (
        encode_bmp,
        encode_png,
        encode_video,
    )

    import numpy as np

    def enc_frame(gray, png: bool) -> bytes:
        # numpy form of the per-pixel RGB triple: identical row bytes
        rgb = np.repeat(np.asarray(gray, dtype=np.uint8), 3, axis=1)
        rows = [rgb[y].tobytes() for y in range(VPD_SIDE)]
        if png:
            return encode_png(VPD_SIDE, VPD_SIDE, rows)
        return encode_bmp(VPD_SIDE, VPD_SIDE, rows[::-1])  # BMP bottom-up

    black = [[0] * VPD_SIDE for _ in range(VPD_SIDE)]
    for pdf in batches:
        payloads, variants = [], []
        for doc_id in pdf["doc_id"]:
            variant = _VPD_VARIANTS[(doc_id // VPD_RESIDUES) % 4]
            png = variant in ("reencoded", "reenc_padded")
            content = [
                enc_frame(_vpd_frame_gray(doc_id, t), png)
                for t in range(VPD_FRAMES)
            ]
            if variant == "padded":
                frames = [enc_frame(black, False)] * 2 + content + [
                    enc_frame(black, False)
                ]
            elif variant == "reenc_padded":
                frames = [enc_frame(black, True)] + content
            else:
                frames = content
            payloads.append(encode_video(frames))
            variants.append(variant)
        yield pd.DataFrame(
            {"doc_id": pdf["doc_id"], "variant": variants, "payload": payloads}
        )


def _vpd_fingerprint_batch(batches):
    """REAL container walk + per-frame decode: find the content frame
    range by trimming leading/trailing ALL-ZERO frames (exact — content
    pixels are >= 1 by construction), sample every
    {VPD_SAMPLE_EVERY}nd content frame BY OFFSET, decode it through the
    codec its magic bytes select (BMP rows arrive bottom-up and flip),
    average-hash it in exact integer arithmetic, and emit the
    SEQUENCE fingerprint: the sampled frame hashes joined in temporal
    order.  Unsampled interior frames are never decoded; the trim only
    decodes the (few) frames it inspects at each end."""
    import struct

    import numpy as np
    import pandas as pd

    from go_map_reduce_spark.operators.multimodal import decode_image

    def frame_bounds(payload: bytes) -> list[tuple[int, int]]:
        _magic, n = struct.unpack_from("<4sI", payload, 0)
        offsets = struct.unpack_from(f"<{n}I", payload, 8)
        bounds = list(offsets) + [len(payload)]
        return [(bounds[i], bounds[i + 1]) for i in range(n)]

    def gray_of(payload: bytes, lo: int, hi: int) -> "np.ndarray":
        frame = payload[lo:hi]
        w, h, bpp, px = decode_image(frame)
        if (w, h) != (VPD_SIDE, VPD_SIDE):
            raise ValueError(f"unexpected frame dims {w}x{h}")
        g = np.frombuffer(px, dtype=np.uint8).reshape(VPD_SIDE, VPD_SIDE, 3)[
            :, :, 0
        ]
        if frame[:2] == b"BM":
            g = g[::-1]  # bottom-up -> top-down
        return g

    def ahash(g: "np.ndarray") -> str:
        cells = g.astype(np.int64).reshape(8, 4, 8, 4).sum(axis=(1, 3))
        total = int(g.astype(np.int64).sum())
        bits = 64 * cells > total
        return "".join("1" if b else "0" for b in bits.ravel())

    for pdf in batches:
        out = {"doc_id": [], "variant": [], "vfp": []}
        for doc_id, variant, payload in zip(
            pdf["doc_id"], pdf["variant"], pdf["payload"]
        ):
            p = bytes(payload)
            spans = frame_bounds(p)
            lo = 0
            while lo < len(spans) and not gray_of(p, *spans[lo]).any():
                lo += 1
            hi = len(spans)
            while hi > lo and not gray_of(p, *spans[hi - 1]).any():
                hi -= 1
            if hi - lo != VPD_FRAMES:
                raise ValueError(f"unexpected content length {hi - lo}")
            hashes = [
                ahash(gray_of(p, *spans[lo + t]))
                for t in range(0, hi - lo, VPD_SAMPLE_EVERY)
            ]
            out["doc_id"].append(doc_id)
            out["variant"].append(variant)
            out["vfp"].append("|".join(hashes))
        yield pd.DataFrame(out)


def video_fp_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decoded-and-fingerprinted video frame (doc_id, variant,
    vfp) — session-memoized exactly like ``cc_hashed_frame`` /
    ``audio_fp_frame`` (r13: the container walk + per-frame decode is
    now shared by the tier's own gate, the media admit stage, the
    cross-modal capstone and the erasure cascade, so it must run once
    per session, not once per consumer).  The eager-construction
    contract documented on ``cc_hashed_frame`` applies verbatim;
    first-consumer attribution note (r09 convention) applies."""
    from go_map_reduce_spark.operators.pipeline33 import _spread_ids
    from go_map_reduce_spark.shipping import ensure_package_shipped

    ensure_package_shipped(spark)

    def _build() -> DataFrame:
        ids = _spread_ids(spark, sf_dir)
        media = ids.mapInPandas(
            _vpd_synth_batch,
            schema="doc_id long, variant string, payload binary",
        )
        return media.mapInPandas(
            _vpd_fingerprint_batch,
            schema="doc_id long, variant string, vfp string",
        ).localCheckpoint(eager=True)

    return shared_frame(spark, f"vpd_fp:{sf_dir}", _build, data_path=sf_dir)


@query(
    "video_perceptual_dedup",
    oracle=f"""
    WITH {VPD_TAGGED_CTES}
    SELECT vfp,
           CAST(COUNT(*) AS BIGINT) AS group_size,
           CAST(COUNT(DISTINCT variant) AS BIGINT) AS n_variants,
           CAST(SUM(CASE WHEN variant = 'master' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_master,
           CAST(SUM(CASE WHEN variant = 'reencoded' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_reencoded,
           CAST(SUM(CASE WHEN variant = 'padded' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_padded,
           CAST(SUM(CASE WHEN variant = 'reenc_padded' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_reenc_padded,
           CAST(arg_min(doc_id, ({_VID_RANK_SQL}) * {_PREF_BASE} + doc_id)
                AS BIGINT) AS survivor_doc_id,
           arg_min(variant, ({_VID_RANK_SQL}) * {_PREF_BASE} + doc_id)
             AS survivor_variant,
           CAST(COUNT(*) - 1 AS BIGINT) AS cut_count
    FROM vpd_tagged GROUP BY vfp
    """,
)
def video_perceptual_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video earns its dedup tier: the same 6-frame clip arrives as a
    BMP-frame container, a PNG re-encode (every frame byte-distinct,
    container re-written), a slate-padded re-upload (2 leading + 1
    trailing black frames) and a padded re-encode — four byte-distinct
    GMRV containers, two with a DIFFERENT frame count, which exact
    dedup and any whole-payload hash fail to collapse.  Every payload
    is really walked and the sampled frames really decoded (magic
    sniff per frame: BMP header walk or PNG chunk+filter
    reconstruction); the TEMPORAL trim (drop leading/trailing
    all-zero frames — content pixels are >= 1 by construction, the
    letterbox bbox discipline applied to the time axis) recovers the
    content frame range, every {VPD_SAMPLE_EVERY}nd content frame is
    average-hashed in exact integers, and the ORDER-PRESERVING concat
    of frame hashes is the sequence fingerprint that collapses each
    content residue to ONE cluster.  The survivor act is reconciled in
    the same row: the pipeline34 packed arg-min (master container
    first, then the re-encode, then the padded re-uploads, doc_id
    tiebreak) elects the canonical copy and prices the cut list.  The
    oracle predicts every sampled frame hash bit and the survivor from
    the block closed form — no codec, no container walk, no trim logic
    on the DuckDB side.

    100 TB shape: identical to the image/audio tiers — two
    Arrow-batched map stages (encode / walk+decode+hash after the
    keys-only id repartition; pixels never shuffle), one shuffle of
    fingerprint strings for the cluster-aggregate-plus-survivor (a
    single groupBy: the act costs no second pass).  Frame sampling is
    by OFFSET, so interior unsampled frames are never decoded, and the
    trim decodes only the few frames it inspects at each end — decode
    cost scales with frames KEPT, the production frame-sampler
    contract (multimodal_video_framesample's discipline, upgraded
    from feature extraction to identity).  The fingerprinted frame is
    session-memoized (``video_fp_frame``, r13) so the media stage,
    the capstone and the erasure cascade reuse the decode instead of
    re-paying it."""
    printed = video_fp_frame(spark, sf_dir)
    pref = F.when(
        F.col("doc_id") >= _PREF_BASE,
        F.raise_error(
            F.concat(
                F.lit("doc_id overflows the packed preference key "
                      f"(>= 2^40={_PREF_BASE}): "),
                F.col("doc_id").cast("string"),
            )
        ).cast("long"),
    ).otherwise(
        _rank_col("variant", VID_RANK) * F.lit(_PREF_BASE) + F.col("doc_id")
    )
    return printed.withColumn("pref", pref).groupBy("vfp").agg(
        F.count(F.lit(1)).cast("long").alias("group_size"),
        F.count_distinct("variant").cast("long").alias("n_variants"),
        F.sum((F.col("variant") == "master").cast("long"))
        .cast("long")
        .alias("n_master"),
        F.sum((F.col("variant") == "reencoded").cast("long"))
        .cast("long")
        .alias("n_reencoded"),
        F.sum((F.col("variant") == "padded").cast("long"))
        .cast("long")
        .alias("n_padded"),
        F.sum((F.col("variant") == "reenc_padded").cast("long"))
        .cast("long")
        .alias("n_reenc_padded"),
        F.min_by("doc_id", "pref").cast("long").alias("survivor_doc_id"),
        F.min_by("variant", "pref").alias("survivor_variant"),
        (F.count(F.lit(1)) - F.lit(1)).cast("long").alias("cut_count"),
    )


# --------------------------------------------------------------------------
# Erasure cascades into the derived stores
# --------------------------------------------------------------------------


def _erasure_oracle() -> str:
    """Closed-form oracle for ``erasure_derived_stores``, composed from
    the registered tier CTEs: the pipeline31 standing-Lloyd chain +
    batch assign for the IVF occupancy deltas, the keep-best SQL for
    the text re-election, the pipeline33/35 closed forms + pipeline34
    packed arg-min for the three media tiers, and (r13) the unified
    _XM_CHAIN + composed-policy windows for the cross-modal store."""
    from go_map_reduce_spark.operators.pipeline15 import ERASE_MOD
    from go_map_reduce_spark.operators.pipeline20 import (
        NEW_BATCH_MOD,
        NEW_BATCH_REM,
    )
    from go_map_reduce_spark.operators.pipeline31 import (
        _standing_chain_parts,
    )
    from go_map_reduce_spark.operators.kmeans import (
        DIMS,
        ITERATIONS,
        _sql_assign,
    )

    gone = f"% {ERASE_MOD} = 0"
    keep = f"% {ERASE_MOD} <> 0"
    parts, cur = _standing_chain_parts()
    parts.insert(
        1,
        f"""
    eb AS (
      SELECT vec_id, i AS d, CAST(embedding[i] AS DOUBLE) AS val
      FROM embeddings, range(1, {DIMS + 1}) t(i)
      WHERE vec_id % {NEW_BATCH_MOD} = {NEW_BATCH_REM}
    )""",
    )
    parts.append(_sql_assign(cur, "ab", src="eb"))
    chain = ",".join(parts)

    def _media_store(
        store: str, src: str, key: str, fmt: str, rank_sql: str
    ) -> str:
        pref = f"({rank_sql}) * {_PREF_BASE} + doc_id"
        return f"""
    SELECT '{store}' AS store, {key} AS key,
           CAST(COUNT(*) AS BIGINT) AS n_before,
           CAST(SUM(CASE WHEN doc_id {gone} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_erased,
           CAST(SUM(CASE WHEN doc_id {keep} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_after,
           CAST(arg_min(doc_id, {pref}) AS VARCHAR) AS keeper_before,
           CAST(arg_min(CASE WHEN doc_id {keep} THEN doc_id END,
                        CASE WHEN doc_id {keep} THEN {pref} END)
                AS VARCHAR) AS keeper_after
    FROM {src} GROUP BY {key}
    HAVING SUM(CASE WHEN doc_id {gone} THEN 1 ELSE 0 END) > 0"""

    return f"""
    WITH RECURSIVE {chain},
    allasg AS (
      SELECT vec_id, cid FROM a{ITERATIONS}
      UNION ALL SELECT vec_id, cid FROM ab
    ),
    keepq AS ({ORACLES["dedup_keep_best_quality"]}),
    txt_before AS (
      SELECT cluster_id,
             CAST(COUNT(*) AS BIGINT) AS n_before,
             CAST(SUM(CASE WHEN doc_id {gone} THEN 1 ELSE 0 END) AS BIGINT)
               AS n_erased,
             MIN(kept_doc_id) AS keeper_before
      FROM keepq GROUP BY cluster_id
    ),
    txt_after AS (
      SELECT cluster_id, doc_id AS keeper_after FROM (
        SELECT cluster_id, doc_id,
               row_number() OVER (PARTITION BY cluster_id
                                  ORDER BY n_tokens DESC, doc_id) AS rk
        FROM keepq WHERE doc_id {keep}
      ) WHERE rk = 1
    ),
    {CC_TAGGED_CTES},
    {AUD_TAGGED_CTES},
    {VPD_TAGGED_CTES},
    {_XM_CHAIN},
    xm_before AS (
      SELECT cluster_id,
             CAST(COUNT(*) AS BIGINT) AS n_before,
             CAST(SUM(CASE WHEN doc_id {gone} THEN 1 ELSE 0 END) AS BIGINT)
               AS n_erased
      FROM members GROUP BY cluster_id
    ),
    xm_keeper_before AS (
      SELECT cluster_id, doc_id AS keeper_before FROM ranked WHERE rk = 1
    ),
    xm_ranked_after AS (
      SELECT cluster_id, doc_id, row_number() OVER (
               PARTITION BY cluster_id
               ORDER BY n_tokens DESC, ({_IMG_RANK_SQL}),
                        ({_AUD_RANK_SQL}), ({_VID_RANK_SQL}), doc_id
             ) AS rk
      FROM members WHERE doc_id {keep}
    ),
    xm_keeper_after AS (
      SELECT cluster_id, doc_id AS keeper_after
      FROM xm_ranked_after WHERE rk = 1
    )
    SELECT 'ivf' AS store, CAST(cid AS VARCHAR) AS key,
           CAST(COUNT(*) AS BIGINT) AS n_before,
           CAST(SUM(CASE WHEN vec_id {gone} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_erased,
           CAST(SUM(CASE WHEN vec_id {keep} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_after,
           CAST(NULL AS VARCHAR) AS keeper_before,
           CAST(NULL AS VARCHAR) AS keeper_after
    FROM allasg GROUP BY cid
    UNION ALL
    SELECT 'text', CAST(b.cluster_id AS VARCHAR), b.n_before, b.n_erased,
           b.n_before - b.n_erased,
           CAST(b.keeper_before AS VARCHAR),
           CAST(a.keeper_after AS VARCHAR)
    FROM txt_before b LEFT JOIN txt_after a ON a.cluster_id = b.cluster_id
    WHERE b.n_erased > 0
    UNION ALL
    {_media_store('image', 'tagged', 'ahash', 'codec', _IMG_RANK_SQL)}
    UNION ALL
    {_media_store('audio', 'aud_tagged', 'afp', 'layout', _AUD_RANK_SQL)}
    UNION ALL
    {_media_store('video', 'vpd_tagged', 'vfp', 'variant', _VID_RANK_SQL)}
    UNION ALL
    SELECT 'crossmodal', CAST(b.cluster_id AS VARCHAR), b.n_before,
           b.n_erased, b.n_before - b.n_erased,
           CAST(kb.keeper_before AS VARCHAR),
           CAST(ka.keeper_after AS VARCHAR)
    FROM xm_before b
    JOIN xm_keeper_before kb ON kb.cluster_id = b.cluster_id
    LEFT JOIN xm_keeper_after ka ON ka.cluster_id = b.cluster_id
    WHERE b.n_erased > 0
    """


@query("erasure_derived_stores", oracle=_erasure_oracle())
def erasure_derived_stores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What a right-to-erasure request does to the DERIVED stores —
    the follow-through ``gdpr_erasure_cascade`` (relational row
    counts) stops short of: per affected store, the occupancy before,
    the erased member count, the occupancy after, and — for stores
    that elect a canonical keeper — the keeper before and the
    RE-ELECTED keeper over the cluster minus the erased set.  The
    erasure subject set reuses the registered {ERASE_MOD}-modulus
    carve-out (pipeline15), applied to doc_id/vec_id.

    Stores:

    - 'ivf': every cell of the post-upsert index (the standing
      assignment plus the batch assignment against the frozen
      centroids — exactly the populations ``ivf_index_upsert``
      counts): n_before / n_erased / n_after is the upsert report's
      occupancy columns IN REVERSE, and n_before reconciles cell by
      cell with the upsert's n_standing + n_new (pinned).
    - 'text': every keep-best near-dup cluster containing an erased
      member: keeper_before is the registered keep-best keeper;
      keeper_after re-runs the same (n_tokens DESC, doc_id) arg-min
      over the survivors (NULL when the cluster empties).
    - 'image' / 'audio': every perceptual cluster
      (``media_dedup_survivors``'s universe) containing an erased
      member, re-elected under the same packed rank arg-min.
    - 'video' (r13): every sequence-fingerprint cluster
      (``video_perceptual_dedup``'s universe), same packed arg-min
      under VID_RANK.
    - 'crossmodal' (r13, the r12 verdict's task 4): every UNIFIED
      cluster (``crossmodal_dedup_survivors``'s universe) containing
      an erased member, re-elected under the COMPOSED policy
      (n_tokens DESC, image/audio/video rank, doc_id) over the
      survivors; keeper_before reconciles with the capstone's
      survivor_doc_id and n_before with its n_docs (pinned).

    100 TB shape: the IVF delta is one short-key aggregate over the
    already-memoized assignments (the frozen-centroid shared frame);
    each dedup store is one groupBy over its cluster key with
    map-side-combinable conditional counts and arg-mins — the erasure
    audit costs the same cost class as the reports it reverses, and
    nothing rescans payloads (the media frames are the session-
    memoized decoded frames).

    First-consumer attribution note (the r09 convention): run in a
    fresh session this query bills the frozen-centroid Lloyd
    training, the keep-best cluster frame and any unbuilt media
    frames (measured 25.4 s cold vs ~3 s steady at sf0.1); bench
    treats it as NOISY (best-of-2) for this reason."""
    from go_map_reduce_spark.operators.kmeans import (
        _spark_assign_vec,
        _spark_exploded,
        _spark_vectors,
    )
    from go_map_reduce_spark.operators.pipeline15 import ERASE_MOD
    from go_map_reduce_spark.operators.pipeline20 import (
        NEW_BATCH_MOD,
        NEW_BATCH_REM,
    )
    from go_map_reduce_spark.operators.pipeline26 import (
        dedup_keep_best_quality,
    )
    from go_map_reduce_spark.operators.pipeline31 import _standing_frozen
    from go_map_reduce_spark.registry import track_cache

    gone = lambda c: (F.col(c) % ERASE_MOD) == 0  # noqa: E731

    # -- ivf occupancy delta over the post-upsert assignments ---------
    ex = _spark_exploded(spark, sf_dir).persist().transform(track_cache)
    is_new = (F.col("vec_id") % NEW_BATCH_MOD) == NEW_BATCH_REM
    v = _spark_vectors(spark, sf_dir)
    assign, c = _standing_frozen(
        spark, sf_dir, ex.where(~is_new), v.where(~is_new)
    )
    ab = _spark_assign_vec(v.where(is_new), c)
    allasg = assign.select("vec_id", "cid").union(ab.select("vec_id", "cid"))
    ivf = allasg.groupBy("cid").agg(
        F.count(F.lit(1)).cast("long").alias("n_before"),
        F.sum(gone("vec_id").cast("long")).cast("long").alias("n_erased"),
        F.sum((~gone("vec_id")).cast("long")).cast("long").alias("n_after"),
    ).select(
        F.lit("ivf").alias("store"),
        F.col("cid").cast("string").alias("key"),
        "n_before",
        "n_erased",
        "n_after",
        F.lit(None).cast("string").alias("keeper_before"),
        F.lit(None).cast("string").alias("keeper_after"),
    )

    # -- text keep-best re-election ------------------------------------
    keep = dedup_keep_best_quality(spark, sf_dir)
    ordk = F.struct(
        (-F.col("n_tokens")).alias("nq"), F.col("doc_id").alias("tie")
    )
    t_before = keep.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_before"),
        F.sum(gone("doc_id").cast("long")).cast("long").alias("n_erased"),
        F.min("kept_doc_id").alias("keeper_before"),
    )
    t_after = (
        keep.where(~gone("doc_id"))
        .groupBy("cluster_id")
        .agg(F.min_by("doc_id", ordk).alias("keeper_after"))
    )
    txt = (
        t_before.where(F.col("n_erased") > 0)
        .join(t_after, "cluster_id", "left")
        .select(
            F.lit("text").alias("store"),
            F.col("cluster_id").cast("string").alias("key"),
            "n_before",
            "n_erased",
            (F.col("n_before") - F.col("n_erased")).alias("n_after"),
            F.col("keeper_before").cast("string"),
            F.col("keeper_after").cast("string"),
        )
    )

    # -- media perceptual re-election ----------------------------------
    def media_store(
        store: str, frame: DataFrame, key: str, fmt: str, ranks: dict
    ) -> DataFrame:
        pref = F.struct(
            _rank_col(fmt, ranks).alias("r"), F.col("doc_id").alias("tie")
        )
        before = frame.groupBy(key).agg(
            F.count(F.lit(1)).cast("long").alias("n_before"),
            F.sum(gone("doc_id").cast("long")).cast("long").alias("n_erased"),
            F.min_by("doc_id", pref).alias("keeper_before"),
        )
        after = (
            frame.where(~gone("doc_id"))
            .groupBy(key)
            .agg(F.min_by("doc_id", pref).alias("keeper_after"))
        )
        return (
            before.where(F.col("n_erased") > 0)
            .join(after, key, "left")
            .select(
                F.lit(store).alias("store"),
                F.col(key).cast("string").alias("key"),
                "n_before",
                "n_erased",
                (F.col("n_before") - F.col("n_erased")).alias("n_after"),
                F.col("keeper_before").cast("string"),
                F.col("keeper_after").cast("string"),
            )
        )

    img = media_store(
        "image", cc_hashed_frame(spark, sf_dir), "ahash", "codec", IMG_RANK
    )
    aud = media_store(
        "audio", audio_fp_frame(spark, sf_dir), "afp", "layout", AUD_RANK
    )
    vid = media_store(
        "video", video_fp_frame(spark, sf_dir), "vfp", "variant", VID_RANK
    )

    # -- cross-modal unified-cluster re-election (r13) ------------------
    # An erased UNIFIED survivor must re-elect under the COMPOSED
    # policy, not just its per-modality tier's: the member frame and
    # the ordering struct are the capstone's own
    # (_crossmodal_members / _xm_ordk), so keeper_before reconciles
    # with crossmodal_dedup_survivors.survivor_doc_id row for row
    # (pinned in tests).
    mem = _crossmodal_members(spark, sf_dir)
    ordk = _xm_ordk()
    xm_before = mem.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_before"),
        F.sum(gone("doc_id").cast("long")).cast("long").alias("n_erased"),
        F.min_by("doc_id", ordk).alias("keeper_before"),
    )
    xm_after = (
        mem.where(~gone("doc_id"))
        .groupBy("cluster_id")
        .agg(F.min_by("doc_id", ordk).alias("keeper_after"))
    )
    xm = (
        xm_before.where(F.col("n_erased") > 0)
        .join(xm_after, "cluster_id", "left")
        .select(
            F.lit("crossmodal").alias("store"),
            F.col("cluster_id").cast("string").alias("key"),
            "n_before",
            "n_erased",
            (F.col("n_before") - F.col("n_erased")).alias("n_after"),
            F.col("keeper_before").cast("string"),
            F.col("keeper_after").cast("string"),
        )
    )
    return (
        ivf.unionByName(txt)
        .unionByName(img)
        .unionByName(aud)
        .unionByName(vid)
        .unionByName(xm)
    )
