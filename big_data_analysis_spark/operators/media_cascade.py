"""Mixed-modality corpus cascade: ONE operator refreshes a shard that
carries text, image, audio, AND video rows against every persisted
fingerprint store — the one-call corpus refresh the training-data
north star describes (VERDICT r10 next-round #6).

Routing is by a ``kind`` column: text rows run the full four-tier text
cascade (``dedup.dedup_cascade_increment`` — exact → MinHash → SimHash
→ containment, survivors flowing down); image / audio / video rows are
fingerprinted by their modality's REAL decode (image dHash, audio
spectral contour, video temporal-majority dHash) and deduped against
their modality's index_store media store via the shared increment contract.
One ``version_tag`` fans out to EVERY store's replay ledger, so a crash
anywhere inside the mixed refresh replays cleanly — committed stores
re-emit their original pairs, uncommitted ones run fresh — exactly the
text cascade's guarantee extended across modalities.

Verdicts are uniform: (id, kind, tier, kept) where tier names the
first catching tier for text ('exact'/'jaccard'/'simhash'/
'containment'), the modality for media near-dups ('image'/'audio'/
'video'), 'decode_error' for corrupt media payloads (kept=False — a
doc that cannot be fingerprinted cannot be admitted past dedup), and
'kept' otherwise. Per-doc keep/drop is what a corpus refresh acts on;
modality stores never cross (a video fingerprint can only ever pair
inside the video store — the manifest kind guard enforces it).

At 100 TB: the shard is snapshotted ONCE; each modality pays its own
O(sub-shard) decode+hash plus one scan of its 16-byte/doc store (text:
the cascade's residue economics). Modality branches are independent
DAGs over disjoint row sets — Spark schedules them concurrently within
the job.

New module by design (VERDICT r10 next-round #1): it composes the
certified increments of dedup.py / multimodal.py / video.py without
editing any of them.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from big_data_analysis_spark.concurrency import run_jobs
from big_data_analysis_spark.operators import dedup as dd
from big_data_analysis_spark.operators import multimodal as mm
from big_data_analysis_spark.operators import video as vd

MEDIA_KINDS = ("image", "audio", "video")
KINDS = ("text",) + MEDIA_KINDS


def _media_verdicts(
    kind: str, hashed: DataFrame, fp_col: str, err_col: str, pairs_of
) -> DataFrame:
    """Per-doc verdicts for one media modality: decode-error rows are
    'decode_error' (kept=False); a fingerprinted doc is caught (tier =
    the modality name) iff it pairs with a PRIOR doc — a store member
    or a smaller-id shard doc, the cascade's caught rule
    (``dd._cascade_caught_ids``)."""
    good = hashed.filter(F.col(err_col).isNull()).select(
        "id", fp_col
    ).localCheckpoint(eager=True)
    pairs = pairs_of(good)
    caught = dd._cascade_caught_ids(pairs, good.select("id")).withColumn(
        "__hit", F.lit(True)
    )
    tier = F.when(F.col("__hit").isNotNull(), F.lit(kind)).otherwise(
        F.lit("kept")
    )
    fine = good.join(caught, "id", "left").select(
        "id", tier.alias("tier"), (tier == "kept").alias("kept")
    )
    errs = hashed.filter(F.col(err_col).isNotNull()).select(
        "id",
        F.lit("decode_error").alias("tier"),
        F.lit(False).alias("kept"),
    )
    return fine.unionByName(errs).withColumn("kind", F.lit(kind))


def media_cascade_increment(
    spark,
    shard: DataFrame,
    text_paths: tuple,
    image_path: str | None = None,
    audio_path: str | None = None,
    video_path: str | None = None,
    id_col: str = "doc_id",
    kind_col: str = "kind",
    text_col: str = "text",
    content_col: str = "content",
    mh_threshold: float = 0.7,
    sh_max_hamming: int = 3,
    media_max_hamming: int = 3,
    on_existing: str = "error",
    version_tag: str | None = None,
    return_stats: bool = False,
):
    """Run the mixed-modality cascade for one arriving shard: text rows
    through the four-tier text cascade against ``text_paths`` =
    (fp, mh, sh, ct) — ct may be None to skip the containment tier —
    media rows through their modality's decode + fingerprint +
    store increment. Returns one uniform verdict frame
    (id_col, kind, tier, kept); ``return_stats=True`` adds a dict with
    per-kind row counts, per-(kind, tier) caught counts (genuine dedup
    catches only), and per-kind decode_error counts under their own
    ``decode_errors`` key. A zero-row shard returns an empty verdict
    frame (a legal streaming no-op), not an error.

    The contract pieces, inherited not re-implemented: the shard is
    ONE localCheckpointed snapshot; each store's increment enforces its
    own precheck (unique non-null ids, non-null payload/fingerprint,
    ``on_existing``); ``version_tag`` forwards to every touched store's
    ledger (independent replay — the text cascade's crash semantics,
    now spanning the media stores too); a kind value outside
    {text, image, audio, video} raises, as does a kind present in the
    shard whose store path was not given (silently dropping a modality
    would un-index those docs forever)."""
    fp_path, mh_path, sh_path, ct_path = text_paths
    snap = shard.select(
        F.col(id_col), F.col(kind_col).alias("__kind"),
        F.col(text_col).alias("__text"), F.col(content_col).alias("__content"),
    ).localCheckpoint(eager=True)

    counts = {
        r["__kind"]: r["n"]
        for r in snap.groupBy("__kind").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    unknown = set(counts) - set(KINDS)
    if unknown:
        raise ValueError(
            f"media_cascade_increment: unknown kind values {sorted(unknown)}"
        )
    media_paths = {"image": image_path, "audio": audio_path,
                   "video": video_path}
    missing = [k for k in MEDIA_KINDS if counts.get(k) and not media_paths[k]]
    if missing:
        raise ValueError(
            f"media_cascade_increment: shard carries {missing} rows but no "
            f"store path was given for them"
        )

    frames, stats = [], {"shard_rows": int(sum(counts.values())),
                         "by_kind": dict(counts)}

    if not counts:
        # A zero-row shard is a legal no-op (streaming consumers see
        # empty micro-batches): return an empty verdict frame with the
        # contract schema — id dtype inherited from the shard — rather
        # than letting reduce() over zero frames raise a bare TypeError.
        empty = snap.select(
            F.col(id_col),
            F.lit("").alias("kind"),
            F.lit("").alias("tier"),
            F.lit(True).alias("kept"),
        ).limit(0).localCheckpoint(eager=True)
        if not return_stats:
            return empty
        stats.update(caught={}, kept=0, decode_errors={})
        return empty, stats

    def _text_branch() -> DataFrame:
        t_verdicts = dd.dedup_cascade_increment(
            spark,
            snap.filter(F.col("__kind") == "text").select(id_col, "__text"),
            "__text", fp_path, mh_path, sh_path, ct_path=ct_path,
            id_col=id_col, mh_threshold=mh_threshold,
            sh_max_hamming=sh_max_hamming, on_existing=on_existing,
            version_tag=version_tag,
        )
        return t_verdicts.select(
            F.col(id_col).alias("id"), "tier", "kept"
        ).withColumn("kind", F.lit("text"))

    media_fns = {
        "image": (mm.image_dhash, "dhash", "dhash_error",
                  mm.image_dedup_increment),
        "audio": (mm.audio_fingerprint, "afp", "afp_error",
                  mm.audio_dedup_increment),
        "video": (vd.video_fingerprint, "vfp", "vfp_error",
                  vd.video_dedup_increment),
    }

    def _media_branch(kind: str) -> DataFrame:
        fingerprint, fp_col, err_col, incr = media_fns[kind]
        hashed = fingerprint(
            snap.filter(F.col("__kind") == kind).select(id_col, "__content"),
            "__content", id_col,
        )

        def pairs_of(good: DataFrame, _incr=incr, _path=media_paths[kind]):
            return _incr(
                spark, good, _path, max_hamming=media_max_hamming,
                on_existing=on_existing, version_tag=version_tag,
            )

        return _media_verdicts(kind, hashed, fp_col, err_col, pairs_of)

    # The four modality branches are independent DAGs over disjoint row
    # sets and DISJOINT stores (the shard snapshot above is the one
    # shared — and already checkpointed — input), so their driver-side
    # lifecycle actions (decode, precheck, store append, manifest
    # commit) overlap on driver threads instead of paying k sequential
    # scheduling latencies (optimization guide §2.6). Verdict content
    # is unchanged: each branch computes exactly what the sequential
    # loop computed, in the same deterministic frame order.
    thunks = []
    if counts.get("text"):
        thunks.append(_text_branch)
    for kind in MEDIA_KINDS:
        if counts.get(kind):
            thunks.append(lambda k=kind: _media_branch(k))
    frames = run_jobs(thunks)

    out = (
        reduce(DataFrame.unionByName, frames)
        .select(F.col("id").alias(id_col), "kind", "tier", "kept")
        .localCheckpoint(eager=True)
    )
    if not return_stats:
        return out
    caught = {
        (r["kind"], r["tier"]): r["n"]
        for r in out.groupBy("kind", "tier").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    }
    # decode failures are NOT dedup catches — report them under their
    # own key so stats["caught"] counts only genuine tier catches
    stats["caught"] = {
        f"{k}:{t}": n
        for (k, t), n in sorted(caught.items())
        if t not in ("kept", "decode_error")
    }
    stats["decode_errors"] = {
        k: n for (k, t), n in sorted(caught.items()) if t == "decode_error"
    }
    stats["kept"] = int(sum(n for (_, t), n in caught.items() if t == "kept"))
    return out, stats
