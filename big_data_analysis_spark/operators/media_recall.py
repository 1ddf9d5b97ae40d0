"""Mixed-modality recall audit: extend the cascade recall certificate
across modalities (VERDICT r11 next-round #5).

``cascade_audit.cascade_policy_comparison`` prices the TEXT cascade's
survivor-flow blind spot — a future doc similar only to a doc an
earlier tier dropped is missed, because the dropped doc never reached
the later tiers' stores. The mixed-modality cascade
(``media_cascade.media_cascade_increment``) routes text rows through
that same four-tier cascade, so a mixed corpus INHERITS the blind spot
on its text arm; the media arms do not share it structurally — each
index_store media store indexes EVERY successfully fingerprinted doc (there
is no survivor flow between media tiers: image, audio, and video are
disjoint single-tier stores).

:func:`media_policy_comparison` makes that asymmetry a MEASURED
certificate: the same mixed shard sequence replays through (a) the
one-call mixed cascade and (b) a full-policy twin — text rows through
``cascade_audit._index_everything_increment`` (every text tier's
increment sees the full text sub-shard), media rows through the same
mixed-cascade increment over byte-identical twin media stores (the
media policy HAS no second variant, which is exactly the claim under
test). Per-doc output rows where ``policies_agree`` is False are the
recall gap, and on a planted fixture they must be confined to the text
kind — a media disagreement would falsify the "media stores index
everything" claim rather than be a tuning artifact, so the certificate
verifies the asymmetry instead of assuming it.

Twin stores are seeded ONCE and copied byte-for-byte
(``shutil.copytree`` over the atomic-manifest layout — the
streaming-cascade parity-twin trick), so the certificate never pays
seeding compute twice.

New module by design (the r11 discipline): it only CALLS the certified
operators of cascade_audit.py / media_cascade.py / dedup.py /
multimodal.py / video.py — none of them is edited.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from big_data_analysis_spark.concurrency import run_jobs
from big_data_analysis_spark.operators import cascade_audit as ca
from big_data_analysis_spark.operators import media_cascade as mc
from big_data_analysis_spark.operators import multimodal as mm
from big_data_analysis_spark.operators import video as vd

#: kind -> (fingerprint fn over (id, content), store save fn) — the
#: same modality table the mixed cascade routes through.
_MEDIA_SEED_FNS = {
    "image": (mm.image_dhash, mm.dhash_index_save),
    "audio": (mm.audio_fingerprint, mm.audio_fp_index_save),
    "video": (vd.video_fingerprint, vd.video_fp_index_save),
}


def _seed_media_store(kind: str, seed: DataFrame, path: str,
                      content_col: str, id_col: str) -> None:
    """Fingerprint a raw (id, content) seed and save it as ``kind``'s
    index_store media store; decode failures never enter an archive."""
    fingerprint, save = _MEDIA_SEED_FNS[kind]
    hashed = fingerprint(seed, content_col, id_col)
    err_col = hashed.columns[-1]
    save(hashed.filter(F.col(err_col).isNull()), path)


def media_policy_comparison(
    spark,
    text_seed: DataFrame,
    media_seeds: dict,
    shards: list,
    base_path: str,
    id_col: str = "doc_id",
    kind_col: str = "kind",
    text_col: str = "text",
    content_col: str = "content",
    mh_threshold: float = 0.7,
    sh_max_hamming: int = 3,
    media_max_hamming: int = 3,
    ct_n: int = 2,
    ct_threshold: float = 0.8,
) -> DataFrame:
    """Replay mixed ``shards`` (in order; columns id/kind/text/content)
    through the ONE-CALL mixed cascade and the full-policy twin over
    twin store sets, and return the per-doc verdict comparison:

    (id_col, kind, shard, tier_cascade, kept_cascade, tier_full,
    kept_full, policies_agree) — ``shard`` is the 0-based arrival
    index. ``text_seed`` (id, text) seeds the four text stores;
    ``media_seeds`` maps each media kind present in the shards to a raw
    (id, content) seed frame for its store. Thresholds are shared
    between the arms — the store-indexing policy of the TEXT tiers is
    the only difference, so disagreement rows measure exactly the
    survivor-flow recall gap inside a mixed corpus, and media rows
    double as the certificate that the media stores carry no such gap
    (their twin runs are byte-identically seeded and policy-identical).

    See ``cascade_audit.cascade_policy_comparison`` for the text-only
    certificate and the cost framing that makes the cascade the
    100 TB default despite the measured gap."""
    import shutil

    # Seeding: the four text stores (internally overlapped by
    # ca._seed_stores) and each media store write DISJOINT directories
    # from independent seed frames — one more level of §2.6 overlap
    # across the text/media groups collapses the seeding wall clock to
    # ~max(store) instead of the sum.
    casc_media, full_media = {}, {}
    seed_thunks = [
        lambda: ca._seed_stores(
            text_seed, text_col, id_col, f"{base_path}/casc/txt",
            ct_n, ct_threshold,
        )
    ]
    seeded_kinds = [k for k in mc.MEDIA_KINDS if k in media_seeds]
    for kind in seeded_kinds:
        casc_media[kind] = f"{base_path}/casc/{kind}"
        full_media[kind] = f"{base_path}/full/{kind}"
        seed_thunks.append(
            lambda k=kind: _seed_media_store(
                k, media_seeds[k], f"{base_path}/casc/{k}",
                content_col, id_col,
            )
        )
    casc_txt = run_jobs(seed_thunks)[0]
    full_txt = tuple(f"{base_path}/full/txt/{p}" for p in ca._TIERS)
    for src, dst in zip(casc_txt, full_txt):
        shutil.copytree(src, dst)
    for kind in seeded_kinds:
        shutil.copytree(casc_media[kind], full_media[kind])

    def _paths(media: dict) -> dict:
        return {f"{k}_path": media.get(k) for k in mc.MEDIA_KINDS}

    frames = []
    for si, shard_df in enumerate(shards):
        snap = shard_df.select(
            id_col, kind_col, text_col, content_col
        ).localCheckpoint(eager=True)

        # The cascade arm, the full arm's text part, and the full arm's
        # media part mutate three DISJOINT store groups from the same
        # checkpointed snapshot — independent job chains, overlapped on
        # driver threads (guide §2.6). Shard ORDER stays sequential:
        # each arm's next increment depends on its own store appends.
        text_sub = snap.filter(F.col(kind_col) == "text")
        media_sub = snap.filter(F.col(kind_col) != "text")
        v_casc, full_text, full_media_v = run_jobs([
            lambda: mc.media_cascade_increment(
                spark, snap, casc_txt, id_col=id_col, kind_col=kind_col,
                text_col=text_col, content_col=content_col,
                mh_threshold=mh_threshold, sh_max_hamming=sh_max_hamming,
                media_max_hamming=media_max_hamming, **_paths(casc_media),
            ),
            # full arm, text: every tier's increment sees the full text
            # sub-shard (the index-everything policy)
            lambda: ca._index_everything_increment(
                spark, text_sub.select(id_col, text_col), text_col,
                id_col, full_txt, mh_threshold, sh_max_hamming,
            ).withColumn("kind", F.lit("text")),
            # full arm, media: the SAME mixed-cascade increment over the
            # byte-identical twin stores — media has no survivor flow to
            # disable, which is the asymmetry this certificate verifies
            lambda: mc.media_cascade_increment(
                spark, media_sub, full_txt, id_col=id_col,
                kind_col=kind_col, text_col=text_col,
                content_col=content_col,
                media_max_hamming=media_max_hamming, **_paths(full_media),
            ).select(id_col, "tier", "kept", "kind"),
        ])
        v_full = reduce(DataFrame.unionByName, [full_text, full_media_v])

        frames.append(
            v_casc.select(
                id_col, "kind",
                F.col("tier").alias("tier_cascade"),
                F.col("kept").alias("kept_cascade"),
            )
            .join(
                v_full.select(
                    id_col,
                    F.col("tier").alias("tier_full"),
                    F.col("kept").alias("kept_full"),
                ),
                id_col,
            )
            .withColumn("shard", F.lit(si).cast("long"))
            # pin per-shard verdicts: the next shard's increments
            # depend on this shard's store appends anyway
            .localCheckpoint(eager=True)
        )
    out = reduce(DataFrame.unionByName, frames)
    return out.select(
        id_col, "kind", "shard", "tier_cascade", "kept_cascade",
        "tier_full", "kept_full",
        (F.col("kept_cascade") == F.col("kept_full")).alias("policies_agree"),
    )
