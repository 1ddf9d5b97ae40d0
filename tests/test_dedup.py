"""Near-dup dedup quality tests (north star): MinHash-LSH candidate
recall against exact Jaccard ground truth, SimHash hamming behavior,
and the exact inverted-index set-similarity join."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from big_data_analysis_spark.io import load_tables
from big_data_analysis_spark.operators import dedup as dd


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    # Unpersist at module teardown: the session-scoped SparkSession is
    # shared across test files, and a lingering full-column documents
    # cache gets substituted by the CacheManager into later tests'
    # identical scan subtrees — test_plans' column-pruning assertions
    # would then see the cached 5-column scan instead of a pruned one.
    d = load_tables(spark, sf_dir, ["documents"])["documents"].cache()
    yield d
    d.unpersist()


def test_minhash_recall_vs_exact_jaccard(spark, docs):
    """LSH candidates must recover >=80% of true high-Jaccard pairs
    (64 hashes, 16 bands is a permissive banding at threshold 0.5)."""
    exact = dd.ngram_jaccard_pairs(docs, "text", "doc_id", n=1, threshold=0.5)
    truth = {(r["id_a"], r["id_b"]) for r in exact.collect()}
    if not truth:
        pytest.skip("no high-similarity pairs at this sf")
    approx = dd.minhash_dedup_pairs(
        docs, "text", "doc_id", num_hashes=64, num_bands=16, shingle_n=1, threshold=0.5
    )
    got = {(r["id_a"], r["id_b"]) for r in approx.collect()}
    recall = len(truth & got) / len(truth)
    assert recall >= 0.8, f"recall {recall} over {len(truth)} true pairs"


def test_minhash_signature_shape(spark, docs):
    sig = dd.minhash_signature(docs.limit(20), "text", "doc_id", num_hashes=32).head()
    assert len(sig["signature"]) == 32


def test_minhash_incremental_index_composes_with_batch(spark, docs, request):
    """VERDICT r6 #2 done-criterion: TWO successive shard increments
    against a persisted signature index must together equal ONE batch
    run on the union — incrB yields batch(A∪B) pairs touching B, incrC
    yields batch(A∪B∪C) pairs touching C, and incrB ∪ incrC ∪
    batch(A) == batch(A∪B∪C) exactly (ids, pairs AND est_jaccard:
    signature determinism makes the incremental path an identity).
    Also pins: already-indexed ids are skipped, append=False leaves
    the manifest untouched, a never-saved path refuses."""
    import os
    import shutil

    d = docs.filter(F.col("doc_id") < 900)
    a = d.filter(F.col("doc_id") % 3 == 0)
    b = d.filter(F.col("doc_id") % 3 == 1)
    c = d.filter(F.col("doc_id") % 3 == 2)
    path = f"/root/repo/.scratch/minhash-index-{os.getpid()}"
    shutil.rmtree(path, ignore_errors=True)
    request.addfinalizer(lambda: shutil.rmtree(path, ignore_errors=True))

    kw = dict(num_hashes=64, num_bands=16, shingle_n=1)
    dd.minhash_index_save(a, "text", "doc_id", path, **kw)

    def pairset(df):
        return {
            (r["id_a"], r["id_b"], round(r["est_jaccard"], 9))
            for r in df.collect()
        }

    incr_b = pairset(
        dd.minhash_dedup_increment(spark, b, "text", path, threshold=0.5)
    )
    incr_c = pairset(
        dd.minhash_dedup_increment(spark, c, "text", path, threshold=0.5)
    )
    batch_a = pairset(
        dd.minhash_dedup_pairs(a, "text", "doc_id", threshold=0.5, **kw)
    )
    batch_all = pairset(
        dd.minhash_dedup_pairs(d, "text", "doc_id", threshold=0.5, **kw)
    )
    assert incr_b | incr_c | batch_a == batch_all
    # increments are disjoint from each other and from the base set
    assert not (incr_b & batch_a)
    assert not (incr_c & (incr_b | batch_a))

    # re-submitting an already-indexed shard: LOUD by default (the id
    # collision hides the colliding text — VERDICT r7 #2) ...
    import json

    man_before = json.load(open(os.path.join(path, "_INDEX.json")))
    with pytest.raises(ValueError, match="already indexed"):
        dd.minhash_dedup_increment(spark, b, "text", path, threshold=0.5)
    # ... and with the skip opt-in: every id skips -> no pairs, no
    # manifest churn, and the stats report skipped == shard size
    again, st = dd.minhash_dedup_increment(
        spark, b, "text", path, threshold=0.5,
        on_existing="skip", return_stats=True,
    )
    assert again.count() == 0
    assert st["skipped_existing"] == st["shard_rows"] == b.count()
    assert st["indexed"] == 0 and st["appended"] is False
    assert json.load(open(os.path.join(path, "_INDEX.json"))) == man_before
    # duplicate shard ids would merge two texts into one signature:
    # always rejected
    with pytest.raises(ValueError, match="duplicate or NULL"):
        dd.minhash_dedup_increment(
            spark,
            spark.createDataFrame(
                [(7000, "one text"), (7000, "another text")],
                "doc_id long, text string",
            ),
            "text", path, threshold=0.5,
        )

    # append=False: pairs computed, nothing persisted
    probe = docs.filter((F.col("doc_id") >= 900) & (F.col("doc_id") < 950))
    dd.minhash_dedup_increment(spark, probe, "text", path, append=False).count()
    assert json.load(open(os.path.join(path, "_INDEX.json"))) == man_before

    # compaction folds base + 2 shard versions into one; increments
    # against the compacted store behave identically (probe pairs ==
    # the append=False pairs computed pre-compaction)
    pre = pairset(
        dd.minhash_dedup_increment(spark, probe, "text", path, append=False,
                                   threshold=0.5)
    )
    dd.minhash_index_compact(spark, path)
    man_c = json.load(open(os.path.join(path, "_INDEX.json")))
    assert len(man_c["sig_dirs"]) == 1 and len(man_c["band_dirs"]) == 1
    sigs_c, bands_c, _ = dd.minhash_index_load(spark, path)
    assert sigs_c.count() == a.count() + b.count() + c.count()
    post = pairset(
        dd.minhash_dedup_increment(spark, probe, "text", path, append=False,
                                   threshold=0.5)
    )
    assert post == pre
    dd.minhash_index_compact(spark, path)  # idempotent: already compact
    assert json.load(open(os.path.join(path, "_INDEX.json"))) == man_c

    with pytest.raises(FileNotFoundError, match="_INDEX.json"):
        dd.minhash_dedup_increment(
            spark, b, "text", "/root/repo/.scratch/no-such-minhash-index"
        )
    with pytest.raises(ValueError, match="multiple of num_bands"):
        dd.minhash_index_save(a, "text", "doc_id", path, num_hashes=60, num_bands=16)


def test_simhash_increment_composes_with_batch(spark, docs, request):
    """SimHash-store increments compose: index(A), increment(B),
    increment(C) — incr(B) ∪ incr(C) ∪ batch(A) equal one batch
    simhash_near_pairs over A∪B∪C, pair-for-pair INCLUDING hamming
    (emission depends only on the two 64-bit hashes). Re-submitted
    shards skip; append=False persists nothing; max_hamming stays a
    probe-time knob (0 = exact-fingerprint equality path)."""
    import json
    import os
    import shutil

    d = docs.filter(F.col("doc_id") < 900)
    a = d.filter(F.col("doc_id") % 3 == 0)
    b = d.filter(F.col("doc_id") % 3 == 1)
    c = d.filter(F.col("doc_id") % 3 == 2)
    path = f"/root/repo/.scratch/simhash-compose-{os.getpid()}"
    shutil.rmtree(path, ignore_errors=True)
    request.addfinalizer(lambda: shutil.rmtree(path, ignore_errors=True))

    dd.simhash_index_save(a, "text", "doc_id", path)
    pairs = lambda df_: {
        (r["id_a"], r["id_b"], r["hamming"]) for r in df_.collect()
    }
    incr_b = pairs(
        dd.simhash_dedup_increment(spark, b, "text", path, max_hamming=3)
    )
    incr_c = pairs(
        dd.simhash_dedup_increment(spark, c, "text", path, max_hamming=3)
    )
    batch_a = pairs(dd.simhash_near_pairs(a, "text", "doc_id", max_hamming=3))
    batch_all = pairs(dd.simhash_near_pairs(d, "text", "doc_id", max_hamming=3))
    assert incr_b | incr_c | batch_a == batch_all
    assert not (incr_b & batch_a) and not (incr_c & (incr_b | batch_a))

    man = json.load(open(os.path.join(path, "_INDEX.json")))
    with pytest.raises(ValueError, match="already indexed"):
        dd.simhash_dedup_increment(spark, b, "text", path, max_hamming=3)
    again, st = dd.simhash_dedup_increment(
        spark, b, "text", path, max_hamming=3,
        on_existing="skip", return_stats=True,
    )
    assert again.count() == 0
    assert st["skipped_existing"] == st["shard_rows"] and st["indexed"] == 0
    assert json.load(open(os.path.join(path, "_INDEX.json"))) == man
    probe = docs.filter(F.col("doc_id") >= 900)
    dd.simhash_dedup_increment(
        spark, probe, "text", path, max_hamming=3, append=False
    ).count()
    assert json.load(open(os.path.join(path, "_INDEX.json"))) == man

    # max_hamming=0: exact-equality path, both join shapes
    dup = spark.createDataFrame(
        [(5000, d.filter(F.col("doc_id") == 0).head()["text"]),
         (5001, "completely different text about nothing shared at all"),
         (5002, "completely different text about nothing shared at all")],
        "doc_id long, text string",
    )
    got = pairs(
        dd.simhash_dedup_increment(
            spark, dup, "text", path, max_hamming=0, append=False
        )
    )
    assert (0, 5000, 0) in got and (5001, 5002, 0) in got

    with pytest.raises(FileNotFoundError, match="_INDEX.json"):
        dd.simhash_dedup_increment(
            spark, b, "text", "/root/repo/.scratch/no-such-sh-index"
        )


def test_exact_dedup_increment_composes_with_batch(spark, docs, request):
    """Fingerprint-index increments compose: index(A), increment(B),
    increment(C) — survivors(B) ∪ survivors(C) plus A's keepers equal
    one batch exact_dedup over A∪B∪C (ids ordered A<B<C so
    first-indexed-wins == keep-lowest-id). A re-submitted shard yields
    zero survivors and no manifest churn; append=False persists
    nothing."""
    import json
    import os
    import shutil

    d = docs.filter(F.col("doc_id") < 900).select("doc_id", "text", "source")
    # ID-RANGE splits (A<B<C), so first-indexed-wins == keep-lowest-id
    # for ANY duplicate distribution (natural sf0.1 dups included);
    # synthesized cross-set duplicates: B carries copies of A texts, C
    # carries copies of A and B texts (ids shifted ABOVE all real ids)
    a = d.filter(F.col("doc_id") < 300)
    # deterministic duplicate slices (NOT limit(): an unordered limit
    # may pick different rows per job, and b/c are each evaluated in
    # several independent jobs here)
    b = d.filter((F.col("doc_id") >= 300) & (F.col("doc_id") < 600)).unionByName(
        a.filter(F.col("doc_id") < 30).select(
            (F.col("doc_id") + 100000).alias("doc_id"), "text", "source"
        )
    )
    c = d.filter(F.col("doc_id") >= 600).unionByName(
        b.filter(F.col("doc_id") < 330).select(
            (F.col("doc_id") + 200000).alias("doc_id"), "text", "source"
        )
    )
    path = f"/root/repo/.scratch/fp-compose-{os.getpid()}"
    shutil.rmtree(path, ignore_errors=True)
    request.addfinalizer(lambda: shutil.rmtree(path, ignore_errors=True))

    dd.fingerprint_index_save(a, "text", "doc_id", path)
    ids = lambda df_: {r["doc_id"] for r in df_.select("doc_id").collect()}
    surv_b = ids(dd.exact_dedup_increment(spark, b, "text", path))
    surv_c = ids(dd.exact_dedup_increment(spark, c, "text", path))
    batch_all = ids(
        dd.exact_dedup(a.unionByName(b).unionByName(c), "text", "doc_id")
    )
    kept_a = ids(dd.exact_dedup(a, "text", "doc_id"))
    assert kept_a | surv_b | surv_c == batch_all
    assert not (surv_b & kept_a) and not (surv_c & (surv_b | kept_a))
    # the +100000/+200000 copies never survive (their originals are
    # indexed first)
    assert all(i < 100000 for i in surv_b | surv_c)

    man = json.load(open(os.path.join(path, "_INDEX.json")))
    again, st = dd.exact_dedup_increment(
        spark, b, "text", path, return_stats=True
    )
    assert again.count() == 0
    # the replayed shard's losses are ACCOUNTED, not silent (VERDICT
    # r7 #2): every row drops as already-indexed or within-shard dup
    assert st["survivors"] == 0 and st["appended"] is False
    assert (
        st["dropped_already_indexed"] + st["dropped_within_shard"]
        == st["shard_rows"]
    )
    assert json.load(open(os.path.join(path, "_INDEX.json"))) == man
    fresh = docs.filter(F.col("doc_id") >= 900).select("doc_id", "text", "source")
    dd.exact_dedup_increment(spark, fresh, "text", path, append=False).count()
    assert json.load(open(os.path.join(path, "_INDEX.json"))) == man

    # duplicate shard ids: both rows would survive while one fp indexes
    # (ADVICE r7) — rejected up front
    with pytest.raises(ValueError, match="duplicate or NULL"):
        dd.exact_dedup_increment(
            spark,
            spark.createDataFrame(
                [(9000, "text one", "s"), (9000, "text two", "s")],
                "doc_id long, text string, source string",
            ),
            "text", path, append=False,
        )

    with pytest.raises(FileNotFoundError, match="_INDEX.json"):
        dd.exact_dedup_increment(spark, b, "text",
                                 "/root/repo/.scratch/no-such-fp-index")


def test_exact_dedup_increment_version_tag_replay(spark, docs, request):
    """version_tag makes the fp append replay-idempotent end to end —
    the crashed-between-fp-append-and-sink-publish interleaving: a
    SECOND call with the same tag and the same shard must return the
    ORIGINAL survivors (not zero rows from anti-joining the shard
    against its own fingerprints) and must not append a second
    version. An empty-bootstrap index (fingerprint_index_init) serves
    batch 0."""
    import json
    import os
    import shutil

    path = f"/root/repo/.scratch/fp-tag-{os.getpid()}"
    shutil.rmtree(path, ignore_errors=True)
    request.addfinalizer(lambda: shutil.rmtree(path, ignore_errors=True))

    dd.fingerprint_index_init(spark, path, id_col="doc_id", id_type="bigint")
    fps0, man0 = dd.fingerprint_index_load(spark, path)
    assert fps0.count() == 0 and man0["fp_dirs"] == []

    d = docs.filter(F.col("doc_id") < 200).select("doc_id", "text", "source")
    b0 = d.filter(F.col("doc_id") < 100)
    surv0 = dd.exact_dedup_increment(
        spark, b0, "text", path, version_tag="batch-0"
    )
    ids0 = {r["doc_id"] for r in surv0.select("doc_id").collect()}
    assert ids0 == {
        r["doc_id"] for r in dd.exact_dedup(b0, "text", "doc_id").collect()
    }
    man1 = json.load(open(os.path.join(path, "_INDEX.json")))
    assert man1["fp_dirs"] == ["fps-tag-batch-0"]

    # replay batch 0: same survivors, zero new versions
    replay, st = dd.exact_dedup_increment(
        spark, b0, "text", path, version_tag="batch-0", return_stats=True
    )
    assert {r["doc_id"] for r in replay.select("doc_id").collect()} == ids0
    assert st["replayed"] is True and st["appended"] is False
    assert st["survivors"] == len(ids0)
    assert json.load(open(os.path.join(path, "_INDEX.json"))) == man1

    # batch 1 composes on top; a bad tag is rejected before any work
    b1 = d.filter(F.col("doc_id") >= 100)
    surv1 = dd.exact_dedup_increment(
        spark, b1, "text", path, version_tag="batch-1"
    )
    all_keep = {
        r["doc_id"] for r in dd.exact_dedup(d, "text", "doc_id").collect()
    }
    assert ids0 | {r["doc_id"] for r in surv1.select("doc_id").collect()} == all_keep
    with pytest.raises(ValueError, match="version_tag"):
        dd.exact_dedup_increment(spark, b1, "text", path, version_tag="a/b")


def _scratch_path(name: str) -> str:
    """A pid-scoped work dir under the checkout's ``.scratch``."""
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    return os.path.join(repo, ".scratch", f"{name}-{os.getpid()}")


def _fp_lifecycle_checks(spark, rows):
    """Fingerprint store (before delete, after delete, after compact):
    a copy of keeper 2's text dies while 2 is indexed; once 2 is
    deleted the text is re-ingestable, the increment re-indexes it
    under keeper 100 and the same text arriving again dies; the
    compacted dir holds exactly one keeper-100 row."""

    def copy_of_2(doc_id):
        return spark.createDataFrame(
            [(doc_id, rows[2][1])], "doc_id long, text string"
        )

    def before_delete(fpp):
        assert dd.exact_dedup_increment(
            spark, copy_of_2(100), "text", fpp, append=False
        ).count() == 0

    def after_delete(fpp):
        surv = dd.exact_dedup_increment(spark, copy_of_2(100), "text", fpp)
        assert [r["doc_id"] for r in surv.collect()] == [100]
        assert dd.exact_dedup_increment(
            spark, copy_of_2(200), "text", fpp, append=False
        ).count() == 0

    def after_compact(fpp, raw):
        assert raw.filter(F.col("keeper_id") == 100).count() == 1

    return before_delete, after_delete, after_compact


def _simhash_lifecycle_checks(spark, rows):
    """SimHash store (before delete, after delete, after compact): a
    probe equal to doc 2's text pairs with {2, 3}, with {3} once 2 is
    tombstoned, and still with {3} after compaction, whose dir holds
    the 8 base + 3 appended rows minus the deleted one."""
    probe = spark.createDataFrame(
        [(300, rows[2][1])], "doc_id long, text string"
    )

    def partners(shp):
        got = dd.simhash_dedup_increment(
            spark, probe, "text", shp, max_hamming=3, append=False
        ).collect()
        return ({r["id_a"] for r in got} | {r["id_b"] for r in got}) - {300}

    def before_delete(shp):
        assert partners(shp) == {2, 3}

    def after_delete(shp):
        assert partners(shp) == {3}

    def after_compact(shp, raw):
        assert raw.count() == 10
        assert partners(shp) == {3}

    return before_delete, after_delete, after_compact


def _lifecycle_case(spark, kind):
    """(save, tagged append, delete, compact, load-rows, kind-specific
    checks or None, {list key: artifact prefix}, other manifest keys)
    for one store kind. Base rows have ids 0..7 (docs 2k and 2k+1 share a text);
    the tagged append adds ids 10..12; id 2 is deleted."""
    import numpy as np

    from big_data_analysis_spark.operators import index_store
    from big_data_analysis_spark.operators import multimodal as mm
    from big_data_analysis_spark.operators import similarity as sim
    from big_data_analysis_spark.operators import video as vd

    rows = [(i, " ".join(f"t{i // 2}_{j}" for j in range(12))) for i in range(8)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    shard = spark.createDataFrame(
        [(i, " ".join(f"s{i}_{j}" for j in range(12))) for i in (10, 11, 12)],
        "doc_id long, text string",
    )
    tag = dict(version_tag="batch-1")
    if kind == "fingerprint":
        return (
            lambda p: dd.fingerprint_index_save(docs, "text", "doc_id", p),
            lambda p: dd.exact_dedup_increment(spark, shard, "text", p, **tag),
            dd.fingerprint_index_delete, dd.fingerprint_index_compact,
            lambda p: dd.fingerprint_index_load(spark, p)[0].select(
                F.col("keeper_id").alias("id")),
            _fp_lifecycle_checks(spark, rows),
            {"fp_dirs": "fps-"}, {"id_col", "id_type"},
        )
    if kind == "minhash":
        return (
            lambda p: dd.minhash_index_save(docs, "text", "doc_id", p,
                                            num_hashes=16, num_bands=4),
            lambda p: dd.minhash_dedup_increment(spark, shard, "text", p, **tag),
            dd.minhash_index_delete, dd.minhash_index_compact,
            lambda p: dd.minhash_index_load(spark, p)[0],
            None,
            {"sig_dirs": "sigs-", "band_dirs": "bands-"},
            {"num_hashes", "num_bands", "rows_per_band", "shingle_n", "id_col"},
        )
    if kind == "simhash":
        return (
            lambda p: dd.simhash_index_save(docs, "text", "doc_id", p),
            lambda p: dd.simhash_dedup_increment(spark, shard, "text", p, **tag),
            dd.simhash_index_delete, dd.simhash_index_compact,
            lambda p: dd.simhash_index_load(spark, p)[0],
            _simhash_lifecycle_checks(spark, rows),
            {"sh_dirs": "shs-"}, {"id_col"},
        )
    if kind == "containment":
        return (
            lambda p: dd.containment_index_save(docs, "text", "doc_id", p,
                                                n=2, threshold=0.5),
            lambda p: dd.containment_dedup_increment(spark, shard, "text", p, **tag),
            dd.containment_index_delete, dd.containment_index_compact,
            lambda p: dd.containment_index_load(spark, p)[0].select("id").distinct(),
            None,
            {"cg_dirs": "cgs-"}, {"id_col", "id_type", "n", "threshold"},
        )
    if kind == "leakage_split":
        # leakage_split_increment takes no version_tag: the tagged
        # append runs through the store module itself
        def split_append(p):
            _, man = dd.split_index_load(spark, p)
            assigned = dd.leakage_split_increment(
                spark, shard, "text", p, append=False)
            index_store.append(dd._SPLIT, p, man, assigned.select(
                F.col("doc_id").alias("id"), F.lit("fp").alias("fp"),
                "group_key", "split"), tag="batch-1")

        return (
            lambda p: dd.split_index_save(docs, "text", "doc_id", p),
            split_append,
            dd.split_index_delete, dd.split_index_compact,
            lambda p: dd.split_index_load(spark, p)[0],
            None,
            {"split_dirs": "split-"},
            {"id_col", "id_type", "test_fraction", "seed", "buckets"},
        )
    if kind == "ivfpq":
        rng = np.random.default_rng(3)
        emb = spark.createDataFrame(
            [(i, [float(x) for x in rng.normal(size=4)]) for i in (*range(8), 10, 11, 12)],
            "vec_id long, embedding array<double>",
        )

        def ivf_save(p):
            base = emb.filter(F.col("vec_id") < 8)
            sim.ivfpq_save(*sim.ivfpq_build(base, n_cells=2, m=2, k=4, max_iter=2), p)

        return (
            ivf_save,
            lambda p: sim.ivfpq_append(spark, p, emb.filter(F.col("vec_id") >= 10),
                                       **tag),
            sim.ivfpq_delete, sim.ivfpq_compact,
            lambda p: sim.ivfpq_load(spark, p)[0].select(F.col("vec_id").alias("id")),
            None,
            {"encoded_dirs": "encoded-"},
            {"version", "codebooks_file", "n_cells", "dim", "m", "k",
             "metadata_cols", "id_col"},
        )
    save, incr, delete, compact, load, fp_col, dirs_key, prefix = {
        "dhash": (mm.dhash_index_save, mm.image_dedup_increment,
                  mm.dhash_index_delete, mm.dhash_index_compact,
                  mm.dhash_index_load, "dhash", "dh_dirs", "dhs-"),
        "audiofp": (mm.audio_fp_index_save, mm.audio_dedup_increment,
                    mm.audio_fp_index_delete, mm.audio_fp_index_compact,
                    mm.audio_fp_index_load, "afp", "afp_dirs", "afp-"),
        "videofp": (vd.video_fp_index_save, vd.video_dedup_increment,
                    vd.video_fp_index_delete, vd.video_fp_index_compact,
                    vd.video_fp_index_load, "vfp", "vfp_dirs", "vfp-"),
    }[kind]
    hashed = spark.createDataFrame(
        [(i, (i // 2) << 20) for i in range(8)], f"id long, {fp_col} long")
    fresh = spark.createDataFrame(
        [(i, (i * 7919) << 40) for i in (10, 11, 12)], f"id long, {fp_col} long")
    return (
        lambda p: save(hashed, p),
        lambda p: incr(spark, fresh, p, **tag),
        delete, compact,
        lambda p: load(spark, p)[0],
        None,
        {dirs_key: prefix}, {"id_col", "id_type"},
    )


@pytest.mark.parametrize("kind", [
    "fingerprint", "minhash", "simhash", "containment", "leakage_split",
    "ivfpq", "dhash", "audiofp", "videofp",
])
def test_fp_and_simhash_index_delete_compact_lifecycle(spark, request, kind):
    """Every persisted store kind runs the ONE index_store lifecycle:
    save, tagged append (artifacts named ``<prefix>tag-<tag>``, tag in
    the ``tags`` ledger), scoped tombstone delete (masked at load, no
    artifact rewrite, empty delete = no version churn), compaction
    (one dir per group, tombstones purged physically, tags ledger
    kept, a second compact is a no-op) and load. Manifest keys and
    artifact prefixes keep the layout each store had before the
    stores shared one module. The fingerprint case also pins that a
    copy dies before the delete and keeper re-ingest after it, the
    SimHash case pair masking before and after delete and compaction."""
    import json
    import os
    import shutil

    save, append, delete, compact, load, checks, prefixes, meta = (
        _lifecycle_case(spark, kind))
    path = _scratch_path(f"lifecycle-{kind}")
    request.addfinalizer(lambda: shutil.rmtree(path, ignore_errors=True))
    shutil.rmtree(path, ignore_errors=True)

    def manifest():
        return json.load(open(os.path.join(path, "_INDEX.json")))

    def ids():
        return sorted(r["id"] for r in load(path).select("id").collect())

    save(path)
    man0 = manifest()
    layout = {"format_version", "kind", "retained", *prefixes, *meta}
    assert set(man0) == layout and man0["kind"] == kind
    for key, prefix in prefixes.items():
        assert len(man0[key]) == 1 and man0[key][0].startswith(prefix)
    if kind == "ivfpq":
        assert man0["codebooks_file"].startswith("codebooks-")

    append(path)
    man1 = manifest()
    assert man1["tags"] == ["batch-1"]
    for key, prefix in prefixes.items():
        assert man1[key] == man0[key] + [f"{prefix}tag-batch-1"]
    assert {2, 10, 11, 12} <= set(ids())
    if checks is not None:
        checks[0](path)

    delete(spark, path, [2])
    man2 = manifest()
    assert man2["tombstones_file"].startswith("tombstones-")
    assert {k: man2[k] for k in prefixes} == {k: man1[k] for k in prefixes}
    assert 2 not in ids()
    delete(spark, path, [])
    assert manifest() == man2
    if checks is not None:
        checks[1](path)

    before = ids()
    compact(spark, path)
    man3 = manifest()
    assert "tombstones_file" not in man3 and man3["tags"] == ["batch-1"]
    assert set(man3) == layout | {"tags"}
    # the column tombstones mask: fingerprint rows are (fp, keeper_id),
    # IVFPQ rows are keyed by the manifest's id_col
    masked = {"fingerprint": "keeper_id", "ivfpq": man3["id_col"]}.get(kind, "id")
    for key, prefix in prefixes.items():
        assert len(man3[key]) == 1 and man3[key][0].startswith(prefix)
        raw = spark.read.parquet(os.path.join(path, man3[key][0]))
        assert raw.filter(F.col(masked) == 2).count() == 0
    if checks is not None:
        checks[2](path, spark.read.parquet(
            os.path.join(path, man3[next(iter(prefixes))][0])))
    assert ids() == before
    compact(spark, path)
    assert manifest() == man3


def test_minhash_index_delete_tombstone_lifecycle(spark, request):
    """Takedown path: a tombstoned doc stops appearing in incremental
    pairs immediately (no artifact rewrite), a LATER shard append may
    re-add the id (scope semantics), increments treat deleted ids as
    not-indexed, and compaction purges physically (single dirs, no
    tombstone file, masked rows gone from the raw store)."""
    import json
    import os
    import shutil

    # docs 2k and 2k+1 share an identical, pair-unique vocabulary —
    # cross-pair Jaccard is exactly 0, so partner sets are crisp
    rows = [
        (i, " ".join(f"w{i // 2}_{j}" for j in range(12))) for i in range(10)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    path = f"/root/repo/.scratch/minhash-del-{os.getpid()}"
    shutil.rmtree(path, ignore_errors=True)
    request.addfinalizer(lambda: shutil.rmtree(path, ignore_errors=True))

    dd.minhash_index_save(docs, "text", "doc_id", path, num_hashes=64,
                          num_bands=16, shingle_n=1)
    probe = spark.createDataFrame(
        [(100, " ".join(f"w0_{j}" for j in range(12)))],
        "doc_id long, text string",
    )

    def probe_partners():
        got = dd.minhash_dedup_increment(
            spark, probe, "text", path, threshold=0.5, append=False
        ).collect()
        return ({r["id_a"] for r in got} | {r["id_b"] for r in got}) - {100}

    assert probe_partners() == {0, 1}

    dd.minhash_index_delete(spark, path, [0])
    after = probe_partners()
    assert 0 not in after and 1 in after
    sigs, bands, man = dd.minhash_index_load(spark, path)
    assert sigs.filter(F.col("id") == 0).count() == 0
    assert bands.filter(F.col("id") == 0).count() == 0
    assert sigs.count() == 9

    # empty delete: no version churn
    snap = json.load(open(os.path.join(path, "_INDEX.json")))
    dd.minhash_index_delete(spark, path, [])
    assert json.load(open(os.path.join(path, "_INDEX.json"))) == snap

    # a LATER append re-adds the id: the skip-existing anti-join runs
    # against the MASKED load, so the deleted id counts as not-indexed
    readd = docs.filter(F.col("doc_id") == 0)
    dd.minhash_dedup_increment(spark, readd, "text", path, threshold=0.5)
    sigs2, _, _ = dd.minhash_index_load(spark, path)
    assert sigs2.filter(F.col("id") == 0).count() == 1  # exactly once
    assert probe_partners() == {0, 1}

    # re-delete consolidates to the max scope: 0 vanishes again even
    # though its new row lives past the FIRST tombstone's scope
    dd.minhash_index_delete(spark, path, [0, 3])
    assert probe_partners() == {1}
    sigs3, _, _ = dd.minhash_index_load(spark, path)
    assert sigs3.count() == 8

    # compaction purges physically and drops the tombstone file
    dd.minhash_index_compact(spark, path)
    man_c = json.load(open(os.path.join(path, "_INDEX.json")))
    assert len(man_c["sig_dirs"]) == 1 and "tombstones_file" not in man_c
    raw = spark.read.parquet(os.path.join(path, man_c["sig_dirs"][0]))
    assert raw.count() == 8
    assert raw.filter(F.col("id").isin(0, 3)).count() == 0
    assert probe_partners() == {1}

    # 2-column ids frame refuses; unknown path refuses
    with pytest.raises(ValueError, match="one column"):
        dd.minhash_index_delete(spark, path, docs.select("doc_id", "text"))
    with pytest.raises(FileNotFoundError, match="_INDEX.json"):
        dd.minhash_index_delete(spark, "/root/repo/.scratch/no-such-mh", [1])


def test_simhash_identical_and_perturbed(spark):
    """Identical texts -> hamming 0; one-token change -> small hamming;
    unrelated texts -> large hamming."""
    base = "the quick brown fox jumps over the lazy dog " * 5
    perturbed = base.replace("lazy", "sleepy")
    other = "completely different content about spark engines and parquet files " * 5
    df = spark.createDataFrame(
        [(1, base), (2, base), (3, perturbed), (4, other)], ["doc_id", "text"]
    )
    sh = {r["id"]: r["simhash"] for r in dd.simhash(df, "text", "doc_id").withColumnRenamed("id", "id").collect()}

    def hamming(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    assert hamming(sh[1], sh[2]) == 0
    assert hamming(sh[1], sh[3]) <= 16
    assert hamming(sh[1], sh[4]) > 16


def test_simhash_near_pairs_matches_bruteforce(spark, docs):
    """The Manku 3-of-n block tables are a pigeonhole guarantee, not a
    heuristic: every pair within max_hamming must survive candidate
    generation. Compare against brute-force all-pairs hamming on a
    300-doc slice."""
    sample = docs.limit(300)
    sh = {r["id"]: r["simhash"] for r in dd.simhash(sample, "text", "doc_id").collect()}
    ids = sorted(sh)
    truth = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            if bin((sh[a] ^ sh[b]) & ((1 << 64) - 1)).count("1") <= 3:
                truth.add((a, b))
    got = {
        (r["id_a"], r["id_b"])
        for r in dd.simhash_near_pairs(sample, "text", "doc_id", max_hamming=3).collect()
    }
    assert got == truth


def test_simhash_candidates_near_linear_on_block_collision(spark):
    """The r4 scale-killer regression guard: a corpus engineered so every
    fingerprint shares one 16-bit region (the old scheme's block 0 —
    which made candidate volume quadratic: N^2/2 pairs all colliding in
    one bucket) must stay near-linear under the 3-of-n combo tables,
    because a candidate now needs 3 whole blocks (>=31 key bits) equal,
    not one 16-bit block."""
    import random

    rng = random.Random(7)
    n = 2000
    rows = [(i, (rng.getrandbits(46) << 16) | 0xBEEF) for i in range(n)]
    hashed = spark.createDataFrame(rows, "id long, simhash long")
    cand_count = dd.simhash_candidate_pairs(hashed, max_hamming=3).count()
    # Old single-block scheme: n*(n-1)/2 = ~2M candidates. New scheme:
    # random pairs need 3 full-block agreement — expected count is tiny.
    assert cand_count <= 5 * n, f"candidate volume {cand_count} is not near-linear"


def test_connected_components_chain_and_triangle(spark):
    """A 4-node chain, a triangle, and an isolated pair resolve to 3
    components labeled by their minimum id."""
    edges = [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)]
    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    comps = {r["id"]: r["component"] for r in dd.connected_components(df).collect()}
    assert comps == {
        1: 1, 2: 1, 3: 1, 4: 1,
        10: 10, 11: 10, 12: 10,
        20: 20, 21: 20,
    }


def test_connected_components_local_tier_parity(spark):
    """The small-graph union-find tier must produce exactly the
    distributed min-label result (same components, same canonical
    labels), and the threshold gate must route big-enough inputs to
    the distributed path (local_threshold below the edge count)."""
    import random

    rng = random.Random(5)
    edges = [(i, i + 1) for i in range(0, 40, 2)]  # 20 disjoint pairs
    edges += [(100 + rng.randrange(20), 100 + rng.randrange(20)) for _ in range(30)]
    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    dist = {
        r["id"]: r["component"] for r in dd.connected_components(df).collect()
    }
    local = {
        r["id"]: r["component"]
        for r in dd.connected_components(df, local_threshold=1000).collect()
    }
    assert local == dist
    # below-threshold gate: threshold smaller than the edge count must
    # take the distributed path (same answer either way — probe only)
    gated = {
        r["id"]: r["component"]
        for r in dd.connected_components(df, local_threshold=10).collect()
    }
    assert gated == dist


def test_connected_components_local_tier_empty_and_null_edges(spark):
    """Local-tier edge cases must mirror the distributed path: an
    empty pair set returns a typed empty (id, component) frame instead
    of crashing schema inference, and a null endpoint propagates no
    label (the non-null end stays its own node; the null node surfaces
    once as (null, null) — exactly what null-never-matches join
    semantics produce)."""
    empty = spark.createDataFrame([], "id_a long, id_b long")
    out = dd.connected_components(empty, local_threshold=100)
    assert out.columns == ["id", "component"] and out.count() == 0

    with_null = spark.createDataFrame(
        [(None, 5), (1, 2)], "id_a long, id_b long"
    )
    local = {
        tuple(r) for r in dd.connected_components(with_null, local_threshold=100).collect()
    }
    assert local == {(5, 5), (1, 1), (2, 1), (None, None)}


def test_keep_best_in_group_policy_and_singletons(spark):
    """The dedup action: chain {1,2,3} keeps the highest score (3);
    pair {10,11} tie on score keeps the lower id (10); singleton 20
    survives as its own group of 1."""
    docs = spark.createDataFrame(
        [(1, 5.0), (2, 9.0), (3, 9.5), (10, 7.0), (11, 7.0), (20, 1.0)],
        ["doc_id", "score"],
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], ["id_a", "id_b"])
    kept = {
        r["doc_id"]: (r["component"], r["group_size"])
        for r in dd.keep_best_in_group(docs, pairs, "doc_id", "score").collect()
    }
    assert kept == {3: (1, 3), 10: (10, 2), 20: (20, 1)}

    # id_col="id" is this module's own convention elsewhere — the join
    # with the component table must not collide with it
    renamed = docs.withColumnRenamed("doc_id", "id")
    kept2 = {
        r["id"] for r in dd.keep_best_in_group(renamed, pairs, "id", "score").collect()
    }
    assert kept2 == {3, 10, 20}

    import pytest as _pytest

    with _pytest.raises(ValueError, match="component"):
        dd.keep_best_in_group(
            docs.withColumn("component", F.lit(1)), pairs, "doc_id", "score"
        )


def test_exact_dedup_fingerprint_normalization(spark):
    """Whitespace/case variants collapse to one fingerprint."""
    from big_data_analysis_spark.operators.text import fingerprint

    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, " HELLO\tWORLD "), (4, "other")],
        ["doc_id", "text"],
    )
    fp = fingerprint(df, "text")
    assert fp.select("fingerprint").distinct().count() == 2


def test_prefix_filter_same_output_fewer_candidates(spark, docs):
    """The prefix-filtered join must return EXACTLY the naive join's
    pairs (filter-verify is lossless) while indexing strictly fewer
    shingle postings than the full inverted index."""
    sample = docs.filter(F.col("doc_id") < 100)
    naive = dd.ngram_jaccard_pairs(sample, "text", "doc_id", n=1, threshold=0.5, prefix_filter=False)
    fast = dd.ngram_jaccard_pairs(sample, "text", "doc_id", n=1, threshold=0.5, prefix_filter=True)
    truth = {(r["id_a"], r["id_b"]): round(r["jaccard"], 9) for r in naive.collect()}
    got = {(r["id_a"], r["id_b"]): round(r["jaccard"], 9) for r in fast.collect()}
    assert got == truth and len(truth) > 0

    shingled = sample.select(
        F.col("doc_id").alias("id"), dd._token_shingles(F.col("text"), 1).alias("sh")
    ).withColumn("sh_size", F.size("sh"))
    full_postings = shingled.select(F.explode("sh")).count()
    prefix_postings = dd.jaccard_prefix_index(shingled, 0.5).count()
    assert prefix_postings < full_postings, (prefix_postings, full_postings)


def test_prefix_filter_handcheck(spark):
    """Hand-checked: prefix join at t=0.6 finds the one qualifying pair
    even when the shared rare tokens sit at different positions."""
    df = spark.createDataFrame(
        [(1, "common1 common2 rare1 rare2"), (2, "common1 common2 rare1 rare3"),
         (3, "common1 common2 zz1 zz2 zz3 zz4")],
        ["doc_id", "text"],
    )
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dd.ngram_jaccard_pairs(df, "text", "doc_id", n=1, threshold=0.6).collect()
    }
    assert got == {(1, 2): pytest.approx(3 / 5)}


def test_ngram_jaccard_exact_values(spark):
    """Hand-checked Jaccard on token sets."""
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c e"), (3, "x y z w")], ["doc_id", "text"]
    )
    pairs = dd.ngram_jaccard_pairs(df, "text", "doc_id", n=1, threshold=0.1)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs.collect()}
    assert got[(1, 2)] == pytest.approx(3 / 5)  # |{a,b,c}| / |{a,b,c,d,e}|
    assert (1, 3) not in got


def test_contamination_and_decontaminate(spark):
    """Decontamination: overlap counts are exact distinct-5-gram counts
    and the anti-join removes exactly the flagged train docs."""
    from big_data_analysis_spark.operators import dedup as dd

    shared = "alpha beta gamma delta epsilon zeta"  # 2 distinct 5-grams
    train = spark.createDataFrame(
        [
            (1, shared + " unique tail one"),
            (2, "totally different words with no overlap at all here"),
        ],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame([(100, shared)], ["doc_id", "text"])
    pairs = {
        (r["train_id"], r["bench_id"]): r["n_shared"]
        for r in dd.contamination_pairs(train, bench, "text", "doc_id", n=5).collect()
    }
    # doc 1 contains the full benchmark string -> both its 5-grams.
    assert pairs[(1, 100)] == 2
    assert (2, 100) not in pairs

    clean = dd.decontaminate(train, bench, "text", "doc_id", n=5)
    assert [r["doc_id"] for r in clean.collect()] == [2]


def test_dedup_spans_global_hand_case(spark):
    """First corpus-wide occurrence of a chunk wins; later copies are cut
    from their docs; a fully-duplicated doc disappears."""
    from big_data_analysis_spark.operators import dedup as dd

    span = "one two three four"  # span_tokens=4 chunk
    df = spark.createDataFrame(
        [
            (1, span + " alpha beta gamma delta"),
            (2, span + " keep these words here"),  # loses the shared chunk
            (3, span),  # nothing left -> dropped
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r["text_dedup"] for r in dd.dedup_spans_global(df, "text", "doc_id", span_tokens=4).collect()}
    assert out[1] == span + " alpha beta gamma delta"
    assert out[2] == "keep these words here"
    assert 3 not in out


def test_novelty_scores_known_corpus(spark):
    from big_data_analysis_spark.operators import dedup as dd

    df = spark.createDataFrame(
        [
            (1, "a b c d"),   # grams: "a b c", "b c d"
            (2, "a b c e"),   # grams: "a b c", "b c e"
            (3, "x y z w"),   # fully novel
        ],
        "doc_id int, text string",
    )
    out = {
        r["doc_id"]: (r["n_grams"], r["dup_gram_frac"])
        for r in dd.novelty_scores(df, "text", "doc_id", n=3).collect()
    }
    assert out[1] == (2, 0.5)   # "a b c" shared with doc 2
    assert out[2] == (2, 0.5)
    assert out[3] == (2, 0.0)


def test_edit_distance_pairs_exact_including_short_strings(spark):
    """Output equals the brute-force levenshtein join, including
    repeated-character strings, length-changing edits, and strings
    shorter than the old gram width (symmetric-delete has no minimum
    length)."""
    from big_data_analysis_spark.operators import dedup as dd

    names = [
        (1, "aaaaaa"), (2, "aaaaab"), (3, "aaaaa"),   # repeats + length edit
        (4, "bananas"), (5, "bananos"), (6, "bandanas"),
        (7, "zz"), (8, "z"),                           # short strings
        (9, "totally different"),
    ]
    df = spark.createDataFrame(names, "id int, s string")
    got = {
        (r["id_a"], r["id_b"]): r["dist"]
        for r in dd.edit_distance_pairs(df, "s", "id", k=1).collect()
    }
    import itertools

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    want = {
        (a_id, b_id): lev(a, b)
        for (a_id, a), (b_id, b) in itertools.combinations(names, 2)
        if lev(a, b) <= 1
    }
    assert got == want and (1, 2) in got and (1, 3) in got and (7, 8) in got

    got2 = {
        (r["id_a"], r["id_b"]): r["dist"]
        for r in dd.edit_distance_pairs(df, "s", "id", k=2).collect()
    }
    want2 = {
        (a_id, b_id): lev(a, b)
        for (a_id, a), (b_id, b) in itertools.combinations(names, 2)
        if lev(a, b) <= 2
    }
    assert got2 == want2 and (4, 5) in got2  # bananas/bananos = 2 subs? no: 1 sub... distance computed by lev


def test_edit_distance_delete_blocking_bounds_candidates(spark):
    """The scale property symmetric-delete buys over gram blocking:
    on near-identical ID-like names (every row 'Customer#NNNNNNNNN'),
    a shared deletion variant forces agreement on every non-deleted
    position, so candidate pairs stay within a small factor of the
    TRUE pair count — not n^2, which is exactly where rarest-gram
    prefix blocking degenerates on this corpus."""
    from pyspark.sql import functions as F

    from big_data_analysis_spark.operators import dedup as dd

    n = 300
    df = spark.createDataFrame(
        [(i, f"Customer#{i:09d}") for i in range(n)], "id long, s string"
    )
    true_pairs = dd.edit_distance_pairs(df, "s", "id", k=1).count()
    # candidate pairs = distinct pairs sharing a <=1-deletion variant
    base = df.select("id", F.col("s").alias("v"))
    dels = df.select(
        "id",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.length("s")),
                    lambda i: F.concat(
                        F.col("s").substr(F.lit(1), i - F.lit(1)),
                        F.col("s").substr(i + F.lit(1), F.length("s")),
                    ),
                )
            )
        ).alias("v"),
    )
    index = base.unionByName(dels).dropDuplicates(["id", "v"])
    a, b = index.alias("a"), index.alias("b")
    n_cands = (
        a.join(b, (F.col("a.v") == F.col("b.v")) & (F.col("a.id") < F.col("b.id")))
        .select("a.id", "b.id")
        .distinct()
        .count()
    )
    # This corpus is dense by construction: the TRUE pairs alone are
    # ~6.7% of all pairs. The claim is candidates track true density
    # (small constant factor), not n^2 like gram blocking here.
    assert true_pairs <= n_cands <= true_pairs * 3
    assert n_cands < n * (n - 1) / 2 * 0.2


def test_pagerank_matches_numpy_power_iteration(spark):
    """Hand graph vs dense numpy power iteration (same fixed-iteration
    recurrence): ranks agree to float tolerance, mass sums to ~1, and
    the hub out-scores the spokes. Dangling nodes are rejected."""
    import numpy as np
    import pytest

    from big_data_analysis_spark.operators.graph import pagerank

    # star + tail, undirected (both directions -> no dangling)
    und = [(0, 1), (0, 2), (0, 3), (3, 4)]
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src long, dst long"
    )
    got = {r["node"]: r["rank"] for r in pagerank(edges, iterations=12).collect()}

    n, d, iters = 5, 0.85, 12
    adj = np.zeros((n, n))
    for a, b in und:
        adj[a, b] = adj[b, a] = 1.0
    m = adj / adj.sum(axis=1, keepdims=True)   # row-stochastic
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        r = (1 - d) / n + d * (m.T @ r)
    for v in range(n):
        assert abs(got[v] - r[v]) < 1e-12, (v, got[v], r[v])
    assert abs(sum(got.values()) - 1.0) < 1e-9
    assert got[0] == max(got.values())

    dangling = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(ValueError, match="dangling"):
        pagerank(dangling)


def test_bloom_decontamination_no_false_negatives_and_bounded_fp(spark):
    """Bloom filter scale path: (a) every key inserted is found — a
    contaminated doc can never slip through; (b) probing 4000 grams
    DISJOINT from the 1000 inserted stays under 1% false positives at
    the default sizing (theory: ~1e-11 at this load; 1% is a loose
    ceiling)."""
    from big_data_analysis_spark.operators.dedup import (
        bloom_build,
        bloom_gram_hits,
    )

    keys = spark.createDataFrame(
        [(f"inserted gram number {i} only",) for i in range(1000)], "gram string"
    )
    bloom = bloom_build(keys, "gram", num_bits=1 << 20, num_hashes=5)

    # a "document" made of five inserted grams must hit 5/5 — the
    # shingler sees each full text as its grams via n=1 word shingles,
    # so build a text whose 1-grams ARE inserted keys
    docs = spark.createDataFrame(
        [(1, "zq0 zq1 zq2 zq3 zq4"), (2, "aa0 aa1 aa2 aa3 aa4")],
        "doc_id int, text string",
    )
    ins = spark.createDataFrame([(f"zq{i}",) for i in range(5)], "gram string")
    bloom2 = bloom_build(ins, "gram", num_bits=1 << 20, num_hashes=5)
    out = {
        r["doc_id"]: r
        for r in bloom_gram_hits(docs, "text", "doc_id", bloom2, n=1).collect()
    }
    assert out[1]["bloom_hits"] == 5 and out[1]["n_grams"] == 5  # no false negatives
    assert out[2]["bloom_hits"] <= 0  # disjoint doc: zero (fp would be <1%)

    # FP bound on a large disjoint probe set
    probe = spark.createDataFrame(
        [(100 + i, f"disjoint token {i} xx") for i in range(4000)], "doc_id int, text string"
    )
    hits = bloom_gram_hits(probe, "text", "doc_id", bloom, n=4)
    total = hits.agg(
        F.sum("bloom_hits").alias("h"), F.sum("n_grams").alias("n")
    ).head()
    assert total["h"] / total["n"] < 0.01, (total["h"], total["n"])


def test_countmin_never_undercounts_and_is_tight_on_heavy_hitters(spark):
    """CM guarantee: estimate >= true count always; on a skewed stream
    the heavy keys' estimates are exact or near-exact at this sizing."""
    import random

    from big_data_analysis_spark.operators.dedup import (
        countmin_build,
        countmin_estimate,
    )

    rng = random.Random(7)
    keys = [f"heavy{i}" for i in range(5)] * 2000 + [
        f"tail{rng.randrange(20000)}" for _ in range(20000)
    ]
    df = spark.createDataFrame([(k,) for k in keys], "k string")
    sketch = countmin_build(df, "k", width=1 << 14, depth=4)

    true = {}
    for k in keys:
        true[k] = true.get(k, 0) + 1
    probe = spark.createDataFrame([(k,) for k in sorted(true)], "k string")
    est = {r["k"]: r["est_count"] for r in countmin_estimate(probe, "k", sketch).collect()}
    assert all(est[k] >= c for k, c in true.items())  # never undercount
    for i in range(5):
        k = f"heavy{i}"
        assert est[k] - true[k] <= 0.01 * len(keys), (k, est[k], true[k])


def test_label_propagation_separates_bridged_cliques(spark):
    """Two 5-cliques joined by a single bridge edge: connected
    components would merge them; label propagation must keep two
    communities (the bridge can never outvote 4 clique neighbors),
    and each clique must be internally uniform."""
    from big_data_analysis_spark.operators.graph import label_propagation

    c1 = [(i, j) for i in range(5) for j in range(5) if i < j]
    c2 = [(i + 10, j + 10) for i in range(5) for j in range(5) if i < j]
    bridge = [(4, 10)]
    edges = spark.createDataFrame(c1 + c2 + bridge, "src long, dst long")
    out = {r["node"]: r["community"] for r in label_propagation(edges).collect()}
    comm1 = {out[i] for i in range(5)}
    comm2 = {out[i + 10] for i in range(5)}
    assert len(comm1) == 1 and len(comm2) == 1
    assert comm1 != comm2


def test_label_propagation_convergence_contract(spark):
    """VERDICT r6 #5: LPA must detect label-set stability and stop
    early. A triangle settles at round 3 (all-label-1 is a fixpoint
    verified by the zero-change round) — with a budget of 10 rounds
    LPA must report converged=True and rounds_used well short of the
    budget, and the early-stopped labels must equal a full fixed-round
    run (fixpoint => the unrolled oracle stays valid). A single edge
    is the classic synchronous 2-cycle (the endpoints adopt each
    other's labels forever): the budget must expire with
    converged=False, never a hang or a raise."""
    from big_data_analysis_spark.operators.graph import label_propagation

    tri = spark.createDataFrame([(1, 2), (2, 3), (1, 3)], "src long, dst long")
    labels, stats = label_propagation(tri, iterations=10, return_stats=True)
    assert stats["converged"] is True
    assert stats["rounds_used"] < 10
    early = {(r["node"], r["community"]) for r in labels.collect()}
    full = {
        (r["node"], r["community"])
        for r in label_propagation(tri, iterations=10).collect()
    }
    assert early == full == {(1, 1), (2, 1), (3, 1)}

    edge = spark.createDataFrame([(1, 2)], "src long, dst long")
    osc, stats = label_propagation(edge, iterations=4, return_stats=True)
    assert stats == {"converged": False, "rounds_used": 4}
    # period-2 swap: after an even number of rounds labels are back
    # to the initial self-labels
    assert {(r["node"], r["community"]) for r in osc.collect()} == {
        (1, 1),
        (2, 2),
    }


def test_pagerank_partial_indegree_join_path(spark):
    """A node with out-edges but NO in-edges (legal — only dangling
    OUT-degree is rejected) disables the full-indegree fast path; the
    nodes-left-join fallback must keep that node at base rank and
    still match the dense numpy recurrence."""
    import numpy as np

    from big_data_analysis_spark.operators.graph import pagerank

    directed = [(0, 1), (1, 2), (2, 0), (3, 0)]  # node 3: no in-edge
    edges = spark.createDataFrame(directed, "src long, dst long")
    got = {r["node"]: r["rank"] for r in pagerank(edges, iterations=10).collect()}

    n, d, iters = 4, 0.85, 10
    adj = np.zeros((n, n))
    for a, b in directed:
        adj[a, b] = 1.0
    m = adj / adj.sum(axis=1, keepdims=True)
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        r = (1 - d) / n + d * (m.T @ r)
    for v in range(n):
        assert abs(got[v] - r[v]) < 1e-12, (v, got[v], r[v])
    assert abs(got[3] - (1 - d) / n) < 1e-12  # pure base rank


def test_connected_components_releases_its_own_persist(spark):
    """ADVICE r5: when the local-tier probe routes to the distributed
    path, the pairs persist the probe created is released before
    return; a caller-cached input is left alone."""
    from big_data_analysis_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5), (6, 7)], "id_a int, id_b int"
    )
    out = connected_components(pairs, local_threshold=2)  # probe: 3 > 2
    assert out.count() == 7
    assert not pairs.is_cached, "distributed route leaked the probe's persist"

    # caller-owned caches survive EVERY route: the plain distributed
    # path, the local-tier probe that routes distributed, and the
    # local-tier path itself
    for thr in (0, 2, 10):
        caller_cached = spark.createDataFrame(
            [(1, 2), (2, 3), (4, 5)], "id_a int, id_b int"
        ).persist()
        caller_cached.count()
        try:
            connected_components(caller_cached, local_threshold=thr).count()
            assert caller_cached.is_cached, (
                f"caller-owned cache was unpersisted (local_threshold={thr})"
            )
        finally:
            caller_cached.unpersist()


def test_keep_best_guards_internal_temp_columns(spark):
    """ADVICE r5: input columns named __rn / __cc_id would be silently
    clobbered by the ranking internals — they must fail loudly exactly
    like the output names component/group_size do."""
    import pytest

    from big_data_analysis_spark.operators.dedup import keep_best_in_group

    pairs = spark.createDataFrame([(1, 2)], "id_a int, id_b int")
    for bad in ("__rn", "__cc_id", "component", "group_size"):
        df = spark.createDataFrame([(1, 5.0, 0.0)], f"doc_id int, score double, {bad} double")
        with pytest.raises(ValueError, match=bad):
            keep_best_in_group(df, pairs, "doc_id", "score")


def test_heavy_hitters_no_false_negatives_and_bounds(spark):
    """The PODS'12 mergeable-summaries guarantee, asserted on a Zipfian
    stream spread over many partitions: every key with true frequency
    above n/(capacity+1) appears, and for every reported key
    est <= true and true - est <= n/(capacity+1)."""
    from big_data_analysis_spark.operators.dedup import heavy_hitters

    rows = []
    for rank in range(1, 60):
        rows += [(f"k{rank}",)] * (2000 // rank)
    df = spark.createDataFrame(rows, "item string").repartition(7)
    cap = 8
    n = len(rows)
    err = n // (cap + 1)
    est = {r["item"]: r["est"] for r in heavy_hitters(df, "item", capacity=cap).collect()}
    from collections import Counter

    true = Counter(r[0] for r in rows)
    for k, t in true.items():
        e = est.get(k, 0)
        assert e <= t, (k, e, t)
        assert t - e <= err, (k, e, t, err)
        if t > err:
            assert k in est, f"heavy key {k} missing (true={t}, err={err})"


def test_heavy_hitters_exact_when_under_capacity(spark):
    """With fewer distinct keys than the capacity no trim ever fires:
    the summary is the exact count table."""
    from big_data_analysis_spark.operators.dedup import heavy_hitters

    rows = [(k,) for k in ["a"] * 5 + ["b"] * 3 + ["c"] * 2]
    df = spark.createDataFrame(rows, "item string").repartition(3)
    est = {r["item"]: r["est"] for r in heavy_hitters(df, "item", capacity=16).collect()}
    assert est == {"a": 5, "b": 3, "c": 2}


def test_heavy_hitters_long_keys_and_nulls(spark):
    """Integer key columns keep their type in the output; NULL keys are
    dropped (value_counts dropna), not counted under a sentinel."""
    from big_data_analysis_spark.operators.dedup import heavy_hitters

    df = spark.createDataFrame(
        [(1,), (1,), (2,), (None,), (None,), (None,)], "item long"
    )
    out = heavy_hitters(df, "item", capacity=4)
    assert dict(out.collect()) == {1: 2, 2: 1}
    assert out.schema["item"].dataType.typeName() == "long"


def test_connected_components_deep_chain_exceeds_old_round_budget(spark):
    """Regression for the r6 under-merge: a path graph of diameter 400
    must collapse to ONE component through the DISTRIBUTED path.
    One-hop min-label propagation needed O(diameter) rounds and
    silently returned under-merged labels past max_iter; the
    alternating large-star/small-star rewrite converges in O(log n)
    rounds regardless of diameter."""
    from big_data_analysis_spark.operators.dedup import connected_components

    chain = [(i, i + 1) for i in range(400)]
    df = spark.createDataFrame(chain, "id_a long, id_b long")
    comps = connected_components(df).collect()
    assert len(comps) == 401
    assert {r["component"] for r in comps} == {0}


def test_connected_components_random_graph_matches_union_find(spark):
    """Distributed star rounds against exact driver union-find on
    random graphs — full (id, component) parity, not just counts."""
    import collections
    import random

    from big_data_analysis_spark.operators.dedup import connected_components

    rng = random.Random(7)
    edges = set()
    while len(edges) < 250:
        a, b = rng.randrange(200), rng.randrange(200)
        if a != b:
            edges.add((a, b))
    edges = sorted(edges)
    nodes = sorted({x for e in edges for x in e})
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[rb] = ra
    groups = collections.defaultdict(list)
    for v in nodes:
        groups[find(v)].append(v)
    expect = sorted((v, min(groups[find(v)])) for v in nodes)
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = sorted(map(tuple, connected_components(df).collect()))
    assert got == expect


def test_edit_distance_pairs_block_by_equals_post_filter(spark):
    """Composite blocking (block_by) must be semantically identical to
    post-filtering the unblocked pairs on attribute equality — it only
    changes WHERE the pruning happens (inside the variant-index join
    key, never generating cross-block candidates)."""
    from big_data_analysis_spark.operators.dedup import edit_distance_pairs

    rows = [
        (1, "anna", "x"), (2, "anne", "x"), (3, "anna", "y"),
        (4, "bob", "x"), (5, "bobb", "x"), (6, "bob", None),
        (7, "ann", "x"),
    ]
    df = spark.createDataFrame(rows, "id long, name string, grp string")
    blocked = sorted(
        map(tuple, edit_distance_pairs(df, "name", "id", k=1, block_by=["grp"]).collect())
    )
    unblocked = edit_distance_pairs(df, "name", "id", k=1)
    grp = df.select(F.col("id").alias("gid"), F.col("grp").alias("g"))
    post = (
        unblocked.join(grp.withColumnRenamed("gid", "ga").withColumnRenamed("g", "g_a"),
                       F.col("id_a") == F.col("ga"))
        .join(grp.withColumnRenamed("gid", "gb").withColumnRenamed("g", "g_b"),
              F.col("id_b") == F.col("gb"))
        .filter(F.col("g_a") == F.col("g_b"))
        .select("id_a", "id_b", "dist")
    )
    assert blocked == sorted(map(tuple, post.collect()))
    # sanity: the rule actually separates: (1,3) same name, different
    # group -> absent; NULL group matches nothing
    ids = {(a, b) for a, b, _ in blocked}
    assert (1, 3) not in ids and (1, 2) in ids and (4, 6) not in ids


def test_duplicate_groups_reports_seeded_dupes(spark):
    from big_data_analysis_spark.operators.dedup import duplicate_groups

    rows = [
        (1, "Hello  World"),   # same fingerprint as 2/3 after
        (2, "hello world"),    # whitespace+case normalization
        (3, " hello   world "),
        (4, "something else"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = duplicate_groups(df, "text", "doc_id").collect()
    assert len(out) == 1
    assert out[0]["group_size"] == 3 and out[0]["member_ids"] == [1, 2, 3]


def test_increment_null_text_rejected_uniformly(spark, request):
    """Review r8: with NULL texts admitted, each tier decided silently
    and DIFFERENTLY — simhash dropped the row and miscounted it as
    'already indexed' (falsely raising under the default on_existing),
    minhash signed a [null] shingle that pairs every null doc with
    every other, and md5 collapsed all nulls into one bogus duplicate
    group (driving exact's dropped_already_indexed stat negative). The
    shared _increment_precheck now rejects NULL text up front in all
    three text tiers with one error shape."""
    import os
    import shutil

    base = f"/root/repo/.scratch/null-text-{os.getpid()}"
    request.addfinalizer(lambda: shutil.rmtree(base, ignore_errors=True))
    shutil.rmtree(base, ignore_errors=True)
    corpus = spark.createDataFrame(
        [(i, f"corpus doc {i} with several words") for i in range(6)],
        "doc_id long, text string",
    )
    shard = spark.createDataFrame(
        [(10, "totally new text here words"), (11, None)],
        "doc_id long, text string",
    )
    dd.minhash_index_save(corpus, "text", "doc_id", f"{base}/mh",
                          num_hashes=64, num_bands=16, shingle_n=1)
    dd.simhash_index_save(corpus, "text", "doc_id", f"{base}/sh")
    dd.fingerprint_index_save(corpus, "text", "doc_id", f"{base}/fp")
    with pytest.raises(ValueError, match="NULL text"):
        dd.minhash_dedup_increment(spark, shard, "text", f"{base}/mh")
    with pytest.raises(ValueError, match="NULL text"):
        dd.simhash_dedup_increment(spark, shard, "text", f"{base}/sh")
    with pytest.raises(ValueError, match="NULL text"):
        dd.exact_dedup_increment(spark, shard, "text", f"{base}/fp")
    # a clean shard with a genuinely new id must NOT raise (the simhash
    # false-positive regression case)
    clean = shard.filter(F.col("text").isNotNull())
    got, st = dd.simhash_dedup_increment(
        spark, clean, "text", f"{base}/sh", return_stats=True
    )
    assert st["skipped_existing"] == 0 and st["indexed"] == 1
    # exact stats never go negative and account every drop
    dup2 = spark.createDataFrame(
        [(20, "corpus doc 0 with several words"),
         (21, "within shard twin"), (22, "within shard twin")],
        "doc_id long, text string",
    )
    surv, st2 = dd.exact_dedup_increment(
        spark, dup2, "text", f"{base}/fp", return_stats=True
    )
    assert st2 == {
        "shard_rows": 3, "survivors": 1, "dropped_within_shard": 1,
        "dropped_already_indexed": 1, "appended": True, "replayed": False,
    }


def test_contamination_overlap_scores_known_corpus(spark):
    """Exact fractions on a hand-built corpus: doc 1 shares 2 of its 4
    distinct 2-grams with the benchmark, doc 2 shares none (reported at
    0.0, not omitted), doc 3 is fully contained (1.0). Benchmark-side
    duplicates must not inflate hits (vocabulary is deduped)."""
    train = spark.createDataFrame(
        [(1, "a b c x y"), (2, "p q r s"), (3, "a b c")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "a b c"), (101, "a b c"), (102, "z a b")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r
        for r in dd.contamination_overlap_scores(
            train, bench, "text", "doc_id", n=2
        ).collect()
    }
    # doc 1 grams: {a b, b c, c x, x y}; bench vocab: {a b, b c, z a}
    assert got[1]["n_grams"] == 4 and got[1]["n_hit"] == 2
    assert got[1]["overlap_frac"] == 0.5
    assert got[2]["n_hit"] == 0 and got[2]["overlap_frac"] == 0.0
    assert got[3]["n_grams"] == 2 and got[3]["overlap_frac"] == 1.0
    with pytest.raises(ValueError, match="benchmark"):
        dd.contamination_overlap_scores(train, None, "text", "doc_id")


def test_leakage_safe_split_groups_never_straddle(spark):
    """The defining invariant at both tiers: every duplicate group is
    single-sided. Exact tier: identical texts share group_key and
    split; pairs tier: connected near-dup components (including a
    transitive chain) stay together while singletons keep their own id.
    The split is deterministic (same seed => same assignment) and both
    labels occur on enough groups."""
    rows = [(i, f"unique text number {i} with words") for i in range(40)]
    rows += [(100 + i, f"unique text number {i} with words") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = dd.leakage_safe_split(df, "text", "doc_id", test_fraction=0.3).collect()
    by_id = {r["doc_id"]: r for r in out}
    assert len(out) == 50  # every row survives with its columns
    for i in range(10):
        a, b = by_id[i], by_id[100 + i]
        assert a["group_key"] == b["group_key"] == i
        assert a["split"] == b["split"]
    sides = {r["split"] for r in out}
    assert sides == {"train", "test"}
    again = {
        r["doc_id"]: r["split"]
        for r in dd.leakage_safe_split(
            df, "text", "doc_id", test_fraction=0.3
        ).collect()
    }
    assert again == {r["doc_id"]: r["split"] for r in out}

    # pairs tier: 1-2-3 is a transitive near-dup chain; 4 pairs with 5;
    # 6 is a singleton; 7 and 8 are EXACT duplicates the pairs frame
    # MISSED (a pre-filtered pair store) — the exact-tier keeper edges
    # are unioned in, so they must still co-side (review r8); and 8's
    # near-dup pair with 6 chains all three into one group
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5), (6, 8)], "id_a long, id_b long"
    )
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(1, 7)]
        + [(7, "identical twin text"), (8, "identical twin text")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r
        for r in dd.leakage_safe_split(
            docs, "text", "doc_id", test_fraction=0.5, pairs=pairs
        ).collect()
    }
    assert got[1]["group_key"] == got[2]["group_key"] == got[3]["group_key"] == 1
    assert got[1]["split"] == got[2]["split"] == got[3]["split"]
    assert got[4]["group_key"] == got[5]["group_key"] == 4
    assert got[4]["split"] == got[5]["split"]
    assert got[6]["group_key"] == got[7]["group_key"] == got[8]["group_key"] == 6
    assert got[6]["split"] == got[7]["split"] == got[8]["split"]

    # NULL text: an inner keeper join would silently DROP the row from
    # both sides (the one outcome a split must never produce) — the
    # shared precheck rejects it up front in both tiers
    bad = spark.createDataFrame(
        [(1, "a"), (2, None)], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="NULL text"):
        dd.leakage_safe_split(bad, "text", "doc_id")
    with pytest.raises(ValueError, match="NULL text"):
        dd.leakage_safe_split(bad, "text", "doc_id", pairs=pairs)


def test_exact_replay_masks_takedown_and_survives_compaction(spark, request):
    """The two replay-window hazards (VERDICT r8 'What's wrong' #1 +
    ADVICE r8): after a tagged increment crashes before its sink
    publish, (a) a takedown deleting one of the tagged keepers must be
    honored by the replay — the deleted row is NOT re-admitted — and
    (b) a compaction folding the tagged dir away must not blind the
    replay detection (the manifest's tags ledger survives compaction;
    the replay re-derives survivors from the compacted index instead
    of silently anti-joining the shard into zero rows)."""
    import json
    import os
    import shutil

    path = f"/root/repo/.scratch/fp-replaywin-{os.getpid()}"
    shutil.rmtree(path, ignore_errors=True)
    request.addfinalizer(lambda: shutil.rmtree(path, ignore_errors=True))

    dd.fingerprint_index_init(spark, path, id_col="doc_id", id_type="bigint")
    b0 = spark.createDataFrame(
        [(i, f"batch zero doc {i} words") for i in range(10)],
        "doc_id long, text string",
    )
    surv0 = dd.exact_dedup_increment(spark, b0, "text", path, version_tag="b0")
    assert surv0.count() == 10

    # (a) crash window: takedown of keeper 3 lands between the fp
    # append and the replay — the replay must return the original
    # survivors MINUS the deleted keeper
    dd.fingerprint_index_delete(spark, path, [3])
    replay, st = dd.exact_dedup_increment(
        spark, b0, "text", path, version_tag="b0", return_stats=True
    )
    ids = {r["doc_id"] for r in replay.select("doc_id").collect()}
    assert st["replayed"] is True and st["appended"] is False
    assert ids == set(range(10)) - {3}

    # (b) compaction between crash and replay: the tagged dir is folded
    # into one compacted version, but the tags ledger survives, so the
    # replay still detects itself and re-derives the same survivors
    dd.fingerprint_index_compact(spark, path)
    man = json.load(open(os.path.join(path, "_INDEX.json")))
    assert man["tags"] == ["b0"] and "fps-tag-b0" not in man["fp_dirs"]
    replay2, st2 = dd.exact_dedup_increment(
        spark, b0, "text", path, version_tag="b0", return_stats=True
    )
    assert st2["replayed"] is True and st2["appended"] is False
    assert {r["doc_id"] for r in replay2.select("doc_id").collect()} == ids
    # and a genuinely new batch still composes on the compacted store
    b1 = spark.createDataFrame(
        [(20, "batch zero doc 5 words"), (21, "brand new text entirely")],
        "doc_id long, text string",
    )
    surv1 = {r["doc_id"] for r in dd.exact_dedup_increment(
        spark, b1, "text", path, version_tag="b1"
    ).select("doc_id").collect()}
    assert surv1 == {21}


def test_exact_replay_keeps_archived_resubmission_dropped(spark, request):
    """A tagged shard that resubmits an already-archived doc (same id,
    same text — an overlapping shard) drops it on the first attempt,
    and the replay of that tag drops it too: the replay's keepers come
    from the tagged version only, not from the doc's own older keeper
    in an earlier version."""
    import shutil

    path = _scratch_path("fp-replay-archived")
    request.addfinalizer(lambda: shutil.rmtree(path, ignore_errors=True))
    shutil.rmtree(path, ignore_errors=True)

    dd.fingerprint_index_save(spark.createDataFrame(
        [(i, f"archived doc {i}") for i in range(4)], "doc_id long, text string"
    ), "text", "doc_id", path)
    shard = spark.createDataFrame(
        [(1, "archived doc 1"), (50, "fresh doc 50")], "doc_id long, text string"
    )
    first = dd.exact_dedup_increment(spark, shard, "text", path, version_tag="t1")
    assert [r["doc_id"] for r in first.collect()] == [50]
    replay, st = dd.exact_dedup_increment(
        spark, shard, "text", path, version_tag="t1", return_stats=True
    )
    assert st["replayed"] is True
    assert [r["doc_id"] for r in replay.collect()] == [50]


def _nondeterministic_shard(spark, scratch: str, n_rows: int = 8):
    """A frame that returns a DIFFERENT id range on every full
    evaluation (eval k yields ids k*100..k*100+n): a file-backed scan
    counter inside a single-partition mapInPandas — the deliberately
    hostile version of a limit()/sample() source whose rows change
    between jobs."""
    import os

    os.makedirs(scratch, exist_ok=True)
    counter = os.path.join(scratch, "evals")

    def gen(it):
        import pandas as pd

        with open(counter, "a") as fh:
            fh.write("x\n")
        k = sum(1 for _ in open(counter)) - 1
        for _ in it:
            yield pd.DataFrame({
                "doc_id": [k * 100 + i for i in range(n_rows)],
                "text": [f"shard eval {k} doc {i} words" for i in range(n_rows)],
            })

    frame = (
        spark.range(1).coalesce(1)
        .mapInPandas(gen, schema="doc_id long, text string")
    )
    return frame, counter


@pytest.mark.parametrize("tier", ["minhash", "simhash"])
def test_increment_precheck_reads_one_shard_snapshot(spark, request, tier):
    """ADVICE r8 (medium): the signature tiers prechecked the RAW
    shard but counted fresh rows off a later checkpoint — with a
    nondeterministic source the two aggregates see different rows and
    skipped = n_shard - n_fresh corrupts (spurious overlap raise or
    wrong stats). Both aggregates must read ONE snapshot; the
    file-backed scan counter proves the source is evaluated exactly
    once end-to-end."""
    import os
    import shutil

    base = f"/root/repo/.scratch/snap-{tier}-{os.getpid()}"
    shutil.rmtree(base, ignore_errors=True)
    request.addfinalizer(lambda: shutil.rmtree(base, ignore_errors=True))
    corpus = spark.createDataFrame(
        [(10_000 + i, f"corpus doc {i} many words") for i in range(5)],
        "doc_id long, text string",
    )
    shard, counter = _nondeterministic_shard(spark, base)
    if tier == "minhash":
        dd.minhash_index_save(corpus, "text", "doc_id", f"{base}/idx",
                              num_hashes=16, num_bands=4, shingle_n=1)
        _, st = dd.minhash_dedup_increment(
            spark, shard, "text", f"{base}/idx", return_stats=True
        )
    else:
        dd.simhash_index_save(corpus, "text", "doc_id", f"{base}/idx")
        _, st = dd.simhash_dedup_increment(
            spark, shard, "text", f"{base}/idx", return_stats=True
        )
    # no overlap with the corpus ids => skipped must be exactly 0, and
    # every shard row indexed — impossible if the aggregates had seen
    # two different evaluations (eval 0 ids 0..7, eval 1 ids 100..107)
    assert st["skipped_existing"] == 0
    assert st["shard_rows"] == st["indexed"] == 8
    assert sum(1 for _ in open(counter)) == 1, (
        "shard source evaluated more than once — precheck and fresh "
        "count are not reading one snapshot"
    )


def test_contamination_overlap_rejects_null_text_train(spark):
    """ADVICE r8: a NULL-text train doc would silently vanish from the
    report via gram_index's explode, contradicting the 'a report that
    omits clean docs can't certify them' contract — rejected up front
    when the train frame is in hand."""
    train = spark.createDataFrame(
        [(1, "a b c"), (2, None)], "doc_id long, text string"
    )
    bench = spark.createDataFrame([(9, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError, match="NULL text"):
        dd.contamination_overlap_scores(train, bench, "text", "doc_id", n=2)


def test_leakage_split_threshold_rounds_exactly(spark):
    """ADVICE r8: int(test_fraction * buckets) truncates binary-float
    error (0.3 * 10 -> 2.9999999999999996 -> threshold 2 instead of 3),
    deviating from the documented SQL re-derivation 'bucket <
    test_fraction * buckets' computed exactly. A group whose bucket
    lands exactly on the knife edge must be 'test'."""
    import hashlib

    # find doc ids whose md5 bucket (buckets=10) is exactly 2 — the
    # value int() loses and round() keeps for test_fraction=0.3
    def bucket(gk: int) -> int:
        h = hashlib.md5(f"split-v1\x1f{gk}".encode()).hexdigest()
        return int(h[:8], 16) % 10

    edge = [i for i in range(200) if bucket(i) == 2][:3]
    assert edge, "no edge ids found in range"
    df = spark.createDataFrame(
        [(i, f"text {i}") for i in edge], "doc_id long, text string"
    )
    out = dd.leakage_safe_split(
        df, "text", "doc_id", test_fraction=0.3, buckets=10
    ).collect()
    assert all(r["split"] == "test" for r in out), out


def test_leakage_split_increment_inherits_and_stays_stable(spark, request):
    """VERDICT r8 #2 core property: the persisted split never moves an
    already-assigned document. Shard texts duplicating indexed texts
    INHERIT the stored side; fresh texts assign once; after any number
    of increments every previously-stored row keeps its side
    (append-only store), and the assignment matches the batch rule for
    non-bridging corpora."""
    import os
    import shutil

    path = f"/root/repo/.scratch/split-incr-{os.getpid()}"
    shutil.rmtree(path, ignore_errors=True)
    request.addfinalizer(lambda: shutil.rmtree(path, ignore_errors=True))

    corpus = spark.createDataFrame(
        [(i, f"corpus text number {i} words") for i in range(30)],
        "doc_id long, text string",
    )
    dd.split_index_save(corpus, "text", "doc_id", path, test_fraction=0.4)
    rows0, man = dd.split_index_load(spark, path)
    sides0 = {r["id"]: (r["group_key"], r["split"]) for r in rows0.collect()}
    assert len(sides0) == 30 and man["test_fraction"] == 0.4

    # shard: 5 dups of indexed texts (inherit), 5 fresh incl. a within-
    # shard exact pair (group together, keeper = min shard id)
    shard = spark.createDataFrame(
        [(100 + i, f"corpus text number {i} words") for i in range(5)]
        + [(200, "brand new text alpha"), (201, "brand new text beta"),
           (202, "brand new text alpha"), (203, "fresh gamma"), (204, "fresh delta")],
        "doc_id long, text string",
    )
    out, st = dd.leakage_split_increment(
        spark, shard, "text", path, return_stats=True
    )
    got = {r["doc_id"]: r for r in out.collect()}
    assert st["shard_rows"] == st["returned"] == 10
    assert st["inherited"] == 5 and st["fresh"] == 5
    assert st["bridge_conflicts"] == 0 and st["appended"] is True
    for i in range(5):
        r = got[100 + i]
        assert r["inherited"] is True
        assert (r["group_key"], r["split"]) == sides0[i]
    assert got[200]["group_key"] == got[202]["group_key"] == 200
    assert got[200]["split"] == got[202]["split"]
    assert got[201]["group_key"] == 201 and got[203]["group_key"] == 203

    # stability: a second increment leaves every stored row's side
    # untouched, and its own dup-of-shard-A text inherits A's side
    rows1 = {r["id"]: (r["group_key"], r["split"])
             for r in dd.split_index_load(spark, path)[0].collect()}
    assert len(rows1) == 40
    shard_b = spark.createDataFrame(
        [(300, "brand new text alpha"), (301, "totally new epsilon")],
        "doc_id long, text string",
    )
    out_b = {r["doc_id"]: r for r in dd.leakage_split_increment(
        spark, shard_b, "text", path
    ).collect()}
    assert out_b[300]["inherited"] is True
    assert (out_b[300]["group_key"], out_b[300]["split"]) == rows1[200]
    rows2 = {r["id"]: (r["group_key"], r["split"])
             for r in dd.split_index_load(spark, path)[0].collect()}
    assert all(rows2[i] == rows1[i] for i in rows1), "a stored row moved"
    assert len(rows2) == 42

    # replay with on_existing='skip': stored assignments returned,
    # nothing appended; default errors loudly
    with pytest.raises(ValueError, match="already indexed"):
        dd.leakage_split_increment(spark, shard_b, "text", path)
    replay, st2 = dd.leakage_split_increment(
        spark, shard_b, "text", path, on_existing="skip", return_stats=True
    )
    rgot = {r["doc_id"]: r for r in replay.collect()}
    assert st2["skipped_existing"] == 2 and st2["appended"] is False
    assert (rgot[300]["group_key"], rgot[300]["split"]) == rows2[300]


def test_leakage_split_increment_bridge_detection(spark, request):
    """The r8 scenario the increment exists to prevent: a NEW doc that
    near-dup-bridges two existing groups on OPPOSITE sides. The batch
    operator re-run from scratch would merge the component and flip one
    group's rows; the increment raises by default, and with
    on_bridge='resolve' assigns the new doc the smaller group_key's
    side while every stored row keeps its side. Same-side merges are
    benign (no conflict counted)."""
    import hashlib
    import os
    import shutil

    path = f"/root/repo/.scratch/split-bridge-{os.getpid()}"
    shutil.rmtree(path, ignore_errors=True)
    request.addfinalizer(lambda: shutil.rmtree(path, ignore_errors=True))

    def side(gk: int, frac=0.5) -> str:
        h = hashlib.md5(f"split-v1\x1f{gk}".encode()).hexdigest()
        return "test" if int(h[:8], 16) % 1_000_000 < frac * 1_000_000 else "train"

    # find two singleton ids on OPPOSITE sides and two on the SAME side
    ids = list(range(50))
    train_ids = [i for i in ids if side(i) == "train"]
    test_ids = [i for i in ids if side(i) == "test"]
    a, b = train_ids[0], test_ids[0]          # opposite sides
    c, d = train_ids[1], train_ids[2]         # same side
    corpus = spark.createDataFrame(
        [(i, f"unique corpus doc {i}") for i in [a, b, c, d]],
        "doc_id long, text string",
    )
    dd.split_index_save(corpus, "text", "doc_id", path, test_fraction=0.5)

    # batch-from-scratch WOULD flip: component {a, b, 500} takes min
    # id's bucket, so whichever of a/b disagrees silently moves
    full = corpus.unionByName(spark.createDataFrame(
        [(500, "bridging newcomer doc")], "doc_id long, text string"))
    bridge_pairs = spark.createDataFrame(
        [(500, aa) for aa in (a, b)], "id_a long, id_b long")
    batch = {r["doc_id"]: r["split"] for r in dd.leakage_safe_split(
        full, "text", "doc_id", test_fraction=0.5, pairs=bridge_pairs
    ).collect()}
    assert batch[a] == batch[b], "batch merges the component onto one side"
    assert (batch[a] != side(a)) or (batch[b] != side(b)), (
        "scenario must actually flip one stored row under batch re-run")

    shard = spark.createDataFrame(
        [(500, "bridging newcomer doc")], "doc_id long, text string")
    with pytest.raises(ValueError, match="bridge"):
        dd.leakage_split_increment(spark, shard, "text", path,
                                   pairs=bridge_pairs)
    out, st = dd.leakage_split_increment(
        spark, shard, "text", path, pairs=bridge_pairs,
        on_bridge="resolve", return_stats=True,
    )
    got = {r["doc_id"]: r for r in out.collect()}
    assert st["bridge_conflicts"] == 1
    assert got[500]["group_key"] == min(a, b)
    assert got[500]["split"] == side(min(a, b))
    rows = {r["id"]: r["split"] for r in dd.split_index_load(spark, path)[0].collect()}
    assert rows[a] == side(a) and rows[b] == side(b), "stored rows flipped"

    # same-side component: benign, no conflict, inherits the side
    shard2 = spark.createDataFrame(
        [(600, "another joiner doc")], "doc_id long, text string")
    same_pairs = spark.createDataFrame(
        [(600, c), (600, d)], "id_a long, id_b long")
    out2, st2 = dd.leakage_split_increment(
        spark, shard2, "text", path, pairs=same_pairs, return_stats=True)
    g2 = {r["doc_id"]: r for r in out2.collect()}
    assert st2["bridge_conflicts"] == 0
    assert g2[600]["group_key"] == min(c, d) and g2[600]["split"] == side(min(c, d))

    # unknown pair endpoint raises
    bad_pairs = spark.createDataFrame([(600, 99999)], "id_a long, id_b long")
    shard3 = spark.createDataFrame(
        [(700, "yet another doc")], "doc_id long, text string")
    with pytest.raises(ValueError, match="neither in the shard nor"):
        dd.leakage_split_increment(spark, shard3, "text", path, pairs=bad_pairs)


def test_split_index_takedown_lifecycle(spark, request):
    """The split store joins the uniform takedown lifecycle: delete ->
    masked loads hide the rows, an increment treats the deleted id as
    unassigned, fp inheritance survives while OTHER bearers of the
    text remain and resets when the last bearer is gone; compact
    purges physically, drops the tombstone file, and preserves the
    manifest's split params."""
    import json
    import os
    import shutil

    path = f"/root/repo/.scratch/split-takedown-{os.getpid()}"
    shutil.rmtree(path, ignore_errors=True)
    request.addfinalizer(lambda: shutil.rmtree(path, ignore_errors=True))
    corpus = spark.createDataFrame(
        [(1, "shared twin text"), (2, "shared twin text"), (3, "solo text")],
        "doc_id long, text string",
    )
    dd.split_index_save(corpus, "text", "doc_id", path, test_fraction=0.5)
    before = {r["id"]: (r["group_key"], r["split"])
              for r in dd.split_index_load(spark, path)[0].collect()}

    # delete ONE twin: the other bearer keeps the group memory, so a
    # re-ingested copy still inherits the ORIGINAL side
    dd.split_index_delete(spark, path, [2])
    rows = {r["id"] for r in dd.split_index_load(spark, path)[0].collect()}
    assert rows == {1, 3}
    out = {r["doc_id"]: r for r in dd.leakage_split_increment(
        spark,
        spark.createDataFrame([(20, "shared twin text")],
                              "doc_id long, text string"),
        "text", path,
    ).collect()}
    assert out[20]["inherited"] is True
    assert (out[20]["group_key"], out[20]["split"]) == before[1]

    # deleted id is re-usable (counts as unassigned)
    out2 = {r["doc_id"]: r for r in dd.leakage_split_increment(
        spark,
        spark.createDataFrame([(2, "replacement text for id two")],
                              "doc_id long, text string"),
        "text", path,
    ).collect()}
    assert out2[2]["inherited"] is False

    # delete the LAST bearer of 'solo text': group memory resets — a
    # re-ingested copy assigns FRESH under its own keeper id
    dd.split_index_delete(spark, path, [3])
    out3 = {r["doc_id"]: r for r in dd.leakage_split_increment(
        spark,
        spark.createDataFrame([(30, "solo text")],
                              "doc_id long, text string"),
        "text", path,
    ).collect()}
    assert out3[30]["inherited"] is False and out3[30]["group_key"] == 30

    # compact: one dir, tombstones gone, params preserved, content ==
    # the masked pre-compact load
    pre = {(r["id"], r["fp"], r["group_key"], r["split"])
           for r in dd.split_index_load(spark, path)[0].collect()}
    dd.split_index_compact(spark, path)
    man = json.load(open(os.path.join(path, "_INDEX.json")))
    assert len(man["split_dirs"]) == 1 and "tombstones_file" not in man
    assert man["test_fraction"] == 0.5 and man["seed"] == "split-v1"
    post = {(r["id"], r["fp"], r["group_key"], r["split"])
            for r in dd.split_index_load(spark, path)[0].collect()}
    assert post == pre and {i for i, *_ in post} == {1, 20, 2, 30}


def test_split_increment_pairs_survive_reused_keeper_id(spark, request):
    """Review r9 (confirmed bug): shard candidate keys and stored
    group-key LABELS share one numeric space, and split_index_delete
    documents that a deleted keeper both keeps labeling its group and
    frees its id for reuse. Before the disjoint node encoding, a shard
    reusing a dead keeper's id (a) glued unrelated fresh docs into the
    old group and (b) raised a phantom bridge conflict for a pair
    touching only ONE group."""
    import os
    import shutil

    path = f"/root/repo/.scratch/split-reuse-{os.getpid()}"
    shutil.rmtree(path, ignore_errors=True)
    request.addfinalizer(lambda: shutil.rmtree(path, ignore_errors=True))

    # group {1, 2} keyed 1; singleton 7 — then keeper 1 is taken down
    corpus = spark.createDataFrame(
        [(1, "twin text"), (2, "twin text"), (7, "other text")],
        "doc_id long, text string",
    )
    dd.split_index_save(corpus, "text", "doc_id", path, test_fraction=0.5)
    store0 = {r["id"]: (r["group_key"], r["split"])
              for r in dd.split_index_load(spark, path)[0].collect()}
    dd.split_index_delete(spark, path, [1])

    # (a) shard reuses id 1 with UNRELATED text, near-dup to fresh 50:
    # the pair must form a fresh group {1, 50}, never alias stored
    # group label 1 (doc 2's group)
    shard = spark.createDataFrame(
        [(1, "reused id brand new text"), (50, "another brand new text")],
        "doc_id long, text string",
    )
    prs = spark.createDataFrame([(1, 50)], "id_a long, id_b long")
    out, st = dd.leakage_split_increment(
        spark, shard, "text", path, pairs=prs, return_stats=True
    )
    got = {r["doc_id"]: r for r in out.collect()}
    assert st["bridge_conflicts"] == 0, "phantom bridge conflict"
    assert got[1]["group_key"] == got[50]["group_key"] == 1
    assert got[1]["inherited"] is False and got[50]["inherited"] is False
    # doc 2's stored assignment is untouched and its group side is NOT
    # what doc 1/50 were forced to — they bucket on their own fresh key
    rows = {r["id"]: (r["group_key"], r["split"])
            for r in dd.split_index_load(spark, path)[0].collect()}
    assert rows[2] == store0[2]

    # (b) a pair from a reused dead-keeper id to a live group must
    # resolve against that ONE group without a conflict
    dd.split_index_delete(spark, path, [7])
    shard2 = spark.createDataFrame(
        [(7, "reused seven text")], "doc_id long, text string")
    prs2 = spark.createDataFrame([(7, 2)], "id_a long, id_b long")
    out2, st2 = dd.leakage_split_increment(
        spark, shard2, "text", path, pairs=prs2, return_stats=True
    )
    g2 = {r["doc_id"]: r for r in out2.collect()}
    assert st2["bridge_conflicts"] == 0
    assert (g2[7]["group_key"], g2[7]["split"]) == store0[2]


def test_split_threshold_half_bucket_matches_exact_rule(spark):
    """Review r9: round() banker-rounds exact half-buckets away from
    the documented rule 'bucket < test_fraction * buckets' (0.25 * 10
    = 2.5: bucket 2 IS < 2.5, test). The ceil-with-epsilon threshold
    pins bucket-2 groups to 'test' at fraction 0.25/buckets=10."""
    import hashlib

    from big_data_analysis_spark.operators.dedup import _split_threshold

    assert _split_threshold(0.25, 10) == 3       # 2.5 -> bucket 2 in test
    assert _split_threshold(0.3, 10) == 3        # float noise below
    assert _split_threshold(0.3, 1_000_000) == 300000
    assert _split_threshold(0.2, 1_000_000) == 200000
    assert _split_threshold(0.0, 10) == 0
    assert _split_threshold(1.0, 10) == 10

    def bucket(gk: int) -> int:
        h = hashlib.md5(f"split-v1\x1f{gk}".encode()).hexdigest()
        return int(h[:8], 16) % 10

    edge = [i for i in range(200) if bucket(i) == 2][:3]
    df = spark.createDataFrame(
        [(i, f"text {i}") for i in edge], "doc_id long, text string"
    )
    out = dd.leakage_safe_split(
        df, "text", "doc_id", test_fraction=0.25, buckets=10
    ).collect()
    assert all(r["split"] == "test" for r in out), out


def test_containment_pairs_catch_what_jaccard_misses(spark):
    """The defining property of the containment tier: a short doc
    quoted whole inside a much longer one has containment 1.0 but tiny
    Jaccard. Hand-built: doc 1 (4 distinct 2-grams) fully inside doc 2
    (many grams): C(1→2) = 1.0, J ≈ 0.2 — Jaccard at 0.8 finds
    nothing, containment at 0.8 finds the pair; prefix-filtered and
    naive paths emit identical rows; directionality is reported both
    ways; sub-threshold overlap excluded."""
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),
            (2, "alpha beta gamma delta epsilon zeta eta theta iota "
                "kappa lam mu nu xi omicron pi rho sigma tau"),
            (3, "unrelated words entirely different content here"),
            (4, "alpha beta zeta kappa pi sigma unrelated mixture"),
        ],
        "doc_id long, text string",
    )
    got = {
        (r["id_a"], r["id_b"]): r
        for r in dd.ngram_containment_pairs(
            docs, "text", "doc_id", n=2, threshold=0.8
        ).collect()
    }
    assert set(got) == {(1, 2)}
    assert got[(1, 2)]["containment_a"] == 1.0
    assert got[(1, 2)]["containment_b"] < 0.8
    assert got[(1, 2)]["common"] == 4
    # Jaccard at the same threshold structurally misses it
    j = dd.ngram_jaccard_pairs(docs, "text", "doc_id", n=2, threshold=0.8)
    assert j.count() == 0
    # prefix-filtered == naive, row for row
    naive = {
        (r["id_a"], r["id_b"]): (r["containment_a"], r["containment_b"], r["common"])
        for r in dd.ngram_containment_pairs(
            docs, "text", "doc_id", n=2, threshold=0.8, prefix_filter=False
        ).collect()
    }
    pf = {(a, b): (r["containment_a"], r["containment_b"], r["common"])
          for (a, b), r in got.items()}
    assert pf == naive


def test_containment_prefix_equals_naive_on_corpus(spark, docs):
    """Filter-verify parity on real data: the prefix-filtered
    containment join returns exactly the naive inverted-index join's
    rows on the documents corpus slice, at a threshold low enough to
    produce pairs."""
    d = docs.filter(F.col("doc_id") < 300).select("doc_id", "text")
    kw = dict(n=2, threshold=0.6)
    pf = {
        (r["id_a"], r["id_b"]): (r["containment_a"], r["containment_b"])
        for r in dd.ngram_containment_pairs(
            d, "text", "doc_id", prefix_filter=True, **kw
        ).collect()
    }
    naive = {
        (r["id_a"], r["id_b"]): (r["containment_a"], r["containment_b"])
        for r in dd.ngram_containment_pairs(
            d, "text", "doc_id", prefix_filter=False, **kw
        ).collect()
    }
    assert pf == naive and len(naive) > 0


def test_containment_increment_composes_with_batch(spark, request):
    """The asymmetric tier's incremental contract: successive
    increments against the persisted gram index emit exactly the batch
    ngram_containment_pairs over the union RESTRICTED to shard-touching
    pairs — including the quoted-inside direction caught only by the
    STORED doc's prefix — plus the uniform lifecycle (loud overlap,
    lossless skip, takedown masking, physical compaction)."""
    import os

    path = f"/root/repo/.scratch/cont-idx-{os.getpid()}"
    request.addfinalizer(lambda: __import__("shutil").rmtree(path, ignore_errors=True))
    __import__("shutil").rmtree(path, ignore_errors=True)
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "a completely different document about spark and parquet files"),
        # contains 0 whole (store->shard: needs the STORED prefix)
        (2, "the quick brown fox jumps over the lazy dog and then some extra words follow here"),
        (3, "spark and parquet files"),  # contained in 1 (shard->store)
        (4, "unrelated text with nothing shared at all whatsoever"),
        (5, "spark and parquet files plus trailing content"),  # pairs 3 (shard2 vs shard1)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    key = lambda r: (r["id_a"], r["id_b"], r["containment_a"],
                     r["containment_b"], r["common"])

    dd.containment_index_save(
        df.filter("doc_id < 2"), "text", "doc_id", path, n=2, threshold=0.8
    )
    p1 = dd.containment_dedup_increment(
        spark, df.filter("doc_id in (2, 3)"), "text", path
    )
    p2 = dd.containment_dedup_increment(
        spark, df.filter("doc_id in (4, 5)"), "text", path
    )
    got = {key(r) for r in p1.collect()} | {key(r) for r in p2.collect()}
    batch = dd.ngram_containment_pairs(df, "text", "doc_id", n=2, threshold=0.8)
    expect = {key(r) for r in batch.collect() if r["id_a"] >= 2 or r["id_b"] >= 2}
    assert got == expect and len(expect) >= 3
    # both asymmetric directions crossed the store boundary
    assert any(a == 0 and b == 2 for a, b, *_ in got)  # stored-prefix hit
    assert any(a == 1 and b == 3 for a, b, *_ in got)  # shard-prefix hit

    # loud overlap by default; 'skip' is a lossless no-op with accounting
    with pytest.raises(ValueError, match="already indexed"):
        dd.containment_dedup_increment(spark, df.filter("doc_id = 2"), "text", path)
    p3, st = dd.containment_dedup_increment(
        spark, df.filter("doc_id in (2, 3)"), "text", path,
        on_existing="skip", return_stats=True,
    )
    assert st == {"shard_rows": 2, "skipped_existing": 2, "indexed": 0,
                  "appended": False, "replayed": False}
    assert p3.count() == 0

    # takedown: deleted text stops pairing immediately; identical text
    # re-ingests under a new id; compact purges physically
    dd.containment_index_delete(spark, path, [0])
    p4 = dd.containment_dedup_increment(
        spark, spark.createDataFrame([(10, rows[0][1])], "doc_id long, text string"),
        "text", path,
    )
    got4 = {(r["id_a"], r["id_b"]) for r in p4.collect()}
    assert (0, 10) not in got4 and (2, 10) in got4
    dd.containment_index_compact(spark, path)
    idx, man = dd.containment_index_load(spark, path)
    assert idx.filter("id = 0").count() == 0
    assert len(man["cg_dirs"]) == 1 and "tombstones_file" not in man
    assert idx.select("id").distinct().count() == 6  # 1..5 + 10

    # start-from-zero bootstrap: init commits a manifest-only empty
    # store; the first increment sees no cross pairs, only shard-self
    path2 = path + "-boot"
    request.addfinalizer(
        lambda: __import__("shutil").rmtree(path2, ignore_errors=True)
    )
    dd.containment_index_init(spark, path2, n=2, threshold=0.8)
    pb = dd.containment_dedup_increment(
        spark, df.filter("doc_id in (1, 3)"), "text", path2
    )
    got_b = {key(r) for r in pb.collect()}
    expect_b = {
        key(r)
        for r in dd.ngram_containment_pairs(
            df.filter("doc_id in (1, 3)"), "text", "doc_id", n=2, threshold=0.8
        ).collect()
    }
    assert got_b == expect_b and len(got_b) == 1
    # empty-store save stays loud (the empty-parquet hazard)
    with pytest.raises(ValueError, match="empty input"):
        dd.containment_index_save(
            df.filter("doc_id < 0"), "text", "doc_id", path2 + "-x"
        )


def test_text_tier_version_tag_replay(spark, request):
    """Every text signature tier now shares the version_tag replay
    discipline (previously fp-only): for minhash, simhash AND
    containment, a re-run of a tagged increment — before and after a
    compaction folds the tagged version away — re-emits the ORIGINAL
    pairs, appends nothing, and reports replayed=True; the tags ledger
    survives both commits."""
    import json
    import os
    import shutil

    base = f"/root/repo/.scratch/text-tag-replay-{os.getpid()}"
    request.addfinalizer(lambda: shutil.rmtree(base, ignore_errors=True))
    shutil.rmtree(base, ignore_errors=True)
    rows = [(i, f"tok{i % 6} alpha beta gamma delta {i % 3} common tail "
                f"{'x' * (i % 4)}") for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    corpus, shard = df.filter("doc_id < 20"), df.filter("doc_id >= 20")

    tiers = [
        (
            "mh",
            lambda p: dd.minhash_index_save(corpus, "text", "doc_id", p,
                                            num_hashes=32, num_bands=8),
            lambda p, **kw: dd.minhash_dedup_increment(
                spark, shard, "text", p, threshold=0.2, **kw),
            dd.minhash_index_compact,
        ),
        (
            "sh",
            lambda p: dd.simhash_index_save(corpus, "text", "doc_id", p),
            lambda p, **kw: dd.simhash_dedup_increment(
                spark, shard, "text", p, max_hamming=10, **kw),
            dd.simhash_index_compact,
        ),
        (
            "ct",
            lambda p: dd.containment_index_save(corpus, "text", "doc_id", p,
                                                n=2, threshold=0.5),
            lambda p, **kw: dd.containment_dedup_increment(
                spark, shard, "text", p, **kw),
            dd.containment_index_compact,
        ),
    ]
    for name, save, incr, compact in tiers:
        path = f"{base}/{name}"
        save(path)
        p1, s1 = incr(path, return_stats=True, version_tag="batch-3")
        set1 = {tuple(r) for r in p1.collect()}
        assert s1["appended"] and not s1["replayed"], name
        assert len(set1) > 0, f"{name}: fixture produced no pairs"
        man = json.load(open(os.path.join(path, "_INDEX.json")))
        assert man["tags"] == ["batch-3"], name

        p2, s2 = incr(path, return_stats=True, version_tag="batch-3")
        assert {tuple(r) for r in p2.collect()} == set1, name
        assert s2["replayed"] and not s2["appended"], name
        assert s2["indexed"] == 0 and s2["skipped_existing"] == 0, name

        compact(spark, path)
        man2 = json.load(open(os.path.join(path, "_INDEX.json")))
        assert man2["tags"] == ["batch-3"], f"{name}: ledger lost in compact"
        p3, s3 = incr(path, return_stats=True, version_tag="batch-3")
        assert {tuple(r) for r in p3.collect()} == set1, name
        assert s3["replayed"] and not s3["appended"], name


def test_cascade_increment_equals_composed_tiers(spark, request):
    """The cascade operator's contract: per-doc verdicts name the FIRST
    tier that catches each doc, survivors flow down (a doc a tier
    catches never reaches a later tier's store), the fp store indexes
    every fresh distinct text, and a version_tag replay re-emits
    identical verdicts. The fixture plants one class per tier with
    margins that make the expected verdict closed-form: exact copies,
    one-appended-token variants (3-gram J ~ 28/29 — certain MinHash
    catch), pad-diluted containment composites (J ~ 1/3 — certain
    MinHash miss, containment 1.0), and all-novel-token docs (kept)."""
    import os
    import random
    import shutil

    base = f"/root/repo/.scratch/cascade-{os.getpid()}"
    request.addfinalizer(lambda: shutil.rmtree(base, ignore_errors=True))
    shutil.rmtree(base, ignore_errors=True)
    fp, mh, sh, ct = (os.path.join(base, p) for p in ("fp", "mh", "sh", "ct"))

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(400)]
    texts = {i: " ".join(rng.sample(vocab, 30)) for i in range(40)}
    seed = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    dd.fingerprint_index_save(seed, "text", "doc_id", fp)
    dd.minhash_index_save(seed, "text", "doc_id", mh,
                          num_hashes=64, num_bands=16, shingle_n=3)
    dd.simhash_index_save(seed, "text", "doc_id", sh)
    dd.containment_index_save(seed, "text", "doc_id", ct, n=2, threshold=0.8)

    rows = [(1000000 + s, texts[s]) for s in range(10)]
    rows += [(2000000 + s, texts[s] + " qq7xz") for s in range(10, 20)]
    rows += [
        (3000000 + s,
         texts[s] + " " + " ".join(f"pz{s}x{j}" for j in range(60)))
        for s in range(20, 30)
    ]
    rows += [
        (4000000 + k, " ".join(f"nv{k}x{j}" for j in range(30)))
        for k in range(10)
    ]
    shard = spark.createDataFrame(rows, "doc_id long, text string")

    verdicts, st = dd.dedup_cascade_increment(
        spark, shard, "text", fp, mh, sh, ct_path=ct, return_stats=True
    )
    got = {r["doc_id"]: (r["tier"], r["kept"]) for r in verdicts.collect()}
    exp = {1000000 + s: ("exact", False) for s in range(10)}
    exp |= {2000000 + s: ("jaccard", False) for s in range(10, 20)}
    exp |= {3000000 + s: ("containment", False) for s in range(20, 30)}
    exp |= {4000000 + k: ("kept", True) for k in range(10)}
    assert got == exp
    assert st["caught_exact"] == 10 and st["caught_jaccard"] == 10
    assert st["caught_simhash"] == 0 and st["caught_containment"] == 10
    assert st["kept"] == 10

    # survivor flow is visible in the STORES: fp indexed all 30 fresh
    # texts; mh indexed the 30 exact-survivors; sh and ct only the 20
    # docs the jaccard tier kept
    assert dd.fingerprint_index_load(spark, fp)[0].count() == 40 + 30
    mh_ids = {r["id"] for r in
              dd.minhash_index_load(spark, mh)[0].select("id").distinct().collect()}
    assert {i for i in mh_ids if i >= 1000000} == {
        i for i in exp if exp[i][0] != "exact"
    }
    sh_ids = {r["id"] for r in
              dd.simhash_index_load(spark, sh)[0].select("id").distinct().collect()}
    assert {i for i in sh_ids if i >= 1000000} == {
        i for i in exp if exp[i][0] in ("containment", "kept", "simhash")
    }
    ct_ids = {r["id"] for r in
              dd.containment_index_load(spark, ct)[0].select("id").distinct().collect()}
    assert {i for i in ct_ids if i >= 1000000} == {
        i for i in exp if exp[i][0] in ("containment", "kept")
    }

    # a second cascade: exact copies of the KEPT docs are caught at the
    # exact tier (the fp store indexed every fresh distinct text)
    shard2 = spark.createDataFrame(
        [(5000000 + k, " ".join(f"nv{k}x{j}" for j in range(30)))
         for k in range(10)],
        "doc_id long, text string")
    v2 = dd.dedup_cascade_increment(spark, shard2, "text", fp, mh, sh,
                                    ct_path=ct)
    assert all(r["tier"] == "exact" for r in v2.collect())

    # version_tag replay: identical verdicts, every store's tags ledger
    # fires independently
    shard3 = spark.createDataFrame(
        [(6000000, texts[30]),
         (6000001, " ".join(f"xv{j}q" for j in range(30)))],
        "doc_id long, text string")
    va = dd.dedup_cascade_increment(
        spark, shard3, "text", fp, mh, sh, ct_path=ct, version_tag="cb1")
    sa = {tuple(r) for r in va.collect()}
    vb = dd.dedup_cascade_increment(
        spark, shard3, "text", fp, mh, sh, ct_path=ct, version_tag="cb1")
    assert {tuple(r) for r in vb.collect()} == sa
    assert sa == {(6000000, "exact", False), (6000001, "kept", True)}

    # the containment tier is optional: without it the composite class
    # flows through as kept (nothing else can catch 1/3-Jaccard)
    shutil.rmtree(base, ignore_errors=True)
    dd.fingerprint_index_save(seed, "text", "doc_id", fp)
    dd.minhash_index_save(seed, "text", "doc_id", mh,
                          num_hashes=64, num_bands=16, shingle_n=3)
    dd.simhash_index_save(seed, "text", "doc_id", sh)
    v3 = dd.dedup_cascade_increment(spark, shard, "text", fp, mh, sh)
    got3 = {r["doc_id"]: r["tier"] for r in v3.collect()}
    assert {i for i, t in got3.items() if t == "kept"} == (
        {3000000 + s for s in range(20, 30)} | {4000000 + k for k in range(10)}
    )


def _cascade_stores(spark, base):
    """Seed fp / MinHash / SimHash stores over ten distinct texts;
    returns (fp, mh, sh) paths and the seed texts."""
    import os
    import shutil

    shutil.rmtree(base, ignore_errors=True)
    fp, mh, sh = (os.path.join(base, p) for p in ("fp", "mh", "sh"))
    texts = [" ".join(f"c{i}w{j}" for j in range(20)) for i in range(10)]
    seed = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    dd.fingerprint_index_save(seed, "text", "doc_id", fp)
    dd.minhash_index_save(seed, "text", "doc_id", mh, num_hashes=16, num_bands=4)
    dd.simhash_index_save(seed, "text", "doc_id", sh)
    return fp, mh, sh, texts


def test_cascade_append_failure_waits_for_sibling_appends(spark, request,
                                                          monkeypatch):
    """A failed deferred append (here the MinHash tier's) propagates
    out of the cascade only after every sibling append — the slower
    SimHash one included — has finished writing: no append thread is
    left running behind the error."""
    import os
    import shutil
    import time

    from big_data_analysis_spark import io as bio

    base = _scratch_path("cascade-fail")
    request.addfinalizer(lambda: shutil.rmtree(base, ignore_errors=True))
    fp, mh, sh, _ = _cascade_stores(spark, base)
    shard = spark.createDataFrame(
        [(100 + k, " ".join(f"n{k}w{j}" for j in range(20))) for k in range(4)],
        "doc_id long, text string",
    )
    real = bio.write_parquet
    finished = []

    def flaky(df, path, *args, **kwargs):
        name = os.path.basename(path)
        if name.startswith("sigs-"):
            raise RuntimeError("injected append failure")
        if name.startswith("shs-"):
            time.sleep(2.0)
        real(df, path, *args, **kwargs)
        finished.append(name)

    monkeypatch.setattr(bio, "write_parquet", flaky)
    with pytest.raises(RuntimeError, match="injected append failure"):
        dd.dedup_cascade_increment(spark, shard, "text", fp, mh, sh)
    assert [n for n in finished if n.startswith("fps-")]
    assert [n for n in finished if n.startswith("shs-")]


def test_cascade_rejects_bad_on_existing_when_exact_catches_all(spark, request):
    """``on_existing`` is validated at the cascade's entry, so a shard
    the exact tier catches in full (no near tier ever runs) still
    refuses an unknown mode instead of accepting it silently."""
    import os
    import shutil

    base = _scratch_path("cascade-onex")
    request.addfinalizer(lambda: shutil.rmtree(base, ignore_errors=True))
    fp, mh, sh, texts = _cascade_stores(spark, base)
    copies = spark.createDataFrame(
        [(100 + i, t) for i, t in enumerate(texts[:3])], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="on_existing"):
        dd.dedup_cascade_increment(
            spark, copies, "text", fp, mh, sh, on_existing="replace"
        )
    verdicts = dd.dedup_cascade_increment(spark, copies, "text", fp, mh, sh)
    assert {r["tier"] for r in verdicts.collect()} == {"exact"}


def test_increment_on_wrong_store_kind_names_both_kinds(spark, request):
    """Every load checks the manifest kind: a SimHash store handed to
    the MinHash increment raises a ValueError naming both kinds (not a
    KeyError on a missing manifest key)."""
    import os
    import shutil

    base = _scratch_path("wrong-kind")
    request.addfinalizer(lambda: shutil.rmtree(base, ignore_errors=True))
    _fp, _mh, sh, texts = _cascade_stores(spark, base)
    shard = spark.createDataFrame([(100, texts[0])], "doc_id long, text string")
    with pytest.raises(ValueError, match="'simhash'.*'minhash'"):
        dd.minhash_dedup_increment(spark, shard, "text", sh)
