"""Deduplication operators (north star; SURVEY.md §2.3 + BASELINE.json).

Four tiers, cheapest first:
1. exact          — md5-fingerprint groupBy (one shuffle on the hash)
2. ngram_jaccard  — exact set-similarity join on n-gram shingles
3. minhash_lsh    — shingle -> minhash signature -> band -> bucket join;
                    the 100 TB path: candidate generation never compares
                    all pairs, cost is O(docs x bands) + per-bucket joins
4. simhash        — 64-bit near-dup fingerprint, hamming-distance buckets

All are built-in-expression implementations (xxhash64 / higher-order
array functions) — no Python in the hot path, fully distributed.
"""

from __future__ import annotations

import itertools

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from . import index_store as store
from .relational import portable_hash32
from .text import fingerprint

# ---------------------------------------------------------------------------
# 1. Exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup on normalized-text fingerprint, keeping the lowest id
    per duplicate group (deterministic). One hash-shuffle; at 100 TB the
    md5 groupBy distributes evenly (hash keys are uniform)."""
    fp = fingerprint(df, text_col, "__fp")
    keep = fp.groupBy("__fp").agg(F.min(F.col(id_col)).alias(id_col))
    return df.join(keep, on=id_col, how="left_semi")


def duplicate_groups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact-duplicate report: fingerprint -> group size + member ids,
    only groups with >1 member."""
    return (
        fingerprint(df, text_col, "fingerprint")
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("group_size"),
            F.sort_array(F.collect_list(F.col(id_col))).alias("member_ids"),
        )
        .filter(F.col("group_size") > 1)
    )


# ---------------------------------------------------------------------------
# 2. N-gram Jaccard (exact near-dup)
# ---------------------------------------------------------------------------


def _token_shingles(text_col, n: int):
    """Word n-gram shingles as an array<string> (distinct)."""
    toks = F.split(F.trim(F.lower(text_col)), r"\s+")
    if n == 1:
        return F.array_distinct(toks)
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.array_join(F.slice(toks, i + 1, n), " "))
    )


def jaccard_prefix_index(
    shingled: DataFrame, threshold: float
) -> DataFrame:
    """Prefix index for the set-similarity join (PPJoin prefix-filtering
    principle, Xiao et al. 2008): order each document's shingles by
    GLOBAL document frequency (rarest first, shingle string as a
    deterministic tie-break) and keep only the first
    |set| - ceil(t*|set|) + 1 per document. Any pair with J >= t has
    overlap >= ceil(t*|set|) on each side, so the two prefixes must
    share at least one shingle — indexing only prefixes loses no true
    pair while a stop-word-like shingle (huge docs-per-shingle bucket)
    falls out of most prefixes, bounding the quadratic per-bucket cost
    that is the one scale risk of the plain inverted index.

    Input: (id, sh: array<string>, sh_size). Output: (id, sh_size,
    shingle) rows — the inverted index to self-join on.
    """
    exploded = shingled.select("id", "sh_size", F.explode("sh").alias("shingle"))
    freq = exploded.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))
    w = Window.partitionBy("id").orderBy("__df", "shingle")
    # ceil with a small epsilon so float noise (0.1*10 -> 1.0000000002)
    # can only LENGTHEN the prefix, never shorten it below the bound.
    prefix_len = F.col("sh_size") - F.ceil(F.lit(threshold) * F.col("sh_size") - F.lit(1e-9)) + 1
    return (
        exploded.join(freq, "shingle")
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= prefix_len)
        .select("id", "sh_size", "shingle")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.8,
    prefix_filter: bool = True,
) -> DataFrame:
    """Exact n-gram Jaccard similarity join: all pairs with
    J(a,b) >= threshold, id_a < id_b.

    Implementation (prefix_filter=True, the 100 TB path): classic
    filter-verify set-similarity join.
      1. Prefix index (``jaccard_prefix_index``): only the globally
         rarest |set| - ceil(t*|set|) + 1 shingles per doc are indexed.
      2. Candidate generation: self-join the prefix index on shingle
         with a length filter (J >= t forces t*|A| <= |B| <= |A|/t).
      3. Verify: join candidates back to the full shingle arrays and
         compute the exact Jaccard via ``array_intersect`` (per-row
         hash intersect, no further shuffle fan-out).
    Output is identical to the naive inverted-index join (oracle
    hash-match holds either way); only the candidate count shrinks.

    With prefix_filter=False: plain inverted-index join — explode
    shingles -> self-join on shingle -> count common shingles ->
    J = common / (|A| + |B| - common). Cost is sum over shingles of
    (docs-per-shingle choose 2); a single stop-word-like shingle makes
    one bucket quadratic, which is exactly what the prefix filter fixes.
    """
    shingled = df.select(
        F.col(id_col).alias("id"), _token_shingles(F.col(text_col), n).alias("sh")
    ).withColumn("sh_size", F.size("sh"))
    if prefix_filter:
        index = jaccard_prefix_index(shingled, threshold)
        a, b = index.alias("a"), index.alias("b")
        # Length filter: J >= t  =>  overlap >= t*max(|A|,|B|) and
        # overlap <= min(|A|,|B|)  =>  each size >= t * the other.
        cands = (
            a.join(
                b,
                (F.col("a.shingle") == F.col("b.shingle"))
                & (F.col("a.id") < F.col("b.id"))
                & (F.col("b.sh_size") >= F.lit(threshold) * F.col("a.sh_size") - F.lit(1e-9))
                & (F.col("a.sh_size") >= F.lit(threshold) * F.col("b.sh_size") - F.lit(1e-9)),
            )
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .distinct()
        )
        fa = shingled.select(
            F.col("id").alias("id_a"), F.col("sh").alias("sh_a"), F.col("sh_size").alias("size_a")
        )
        fb = shingled.select(
            F.col("id").alias("id_b"), F.col("sh").alias("sh_b"), F.col("sh_size").alias("size_b")
        )
        return (
            cands.join(fa, "id_a")
            .join(fb, "id_b")
            .withColumn("common", F.size(F.array_intersect("sh_a", "sh_b")))
            .withColumn(
                "jaccard",
                F.col("common") / (F.col("size_a") + F.col("size_b") - F.col("common")),
            )
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard")
        )
    exploded = shingled.select("id", "sh_size", F.explode("sh").alias("shingle"))
    a, b = exploded.alias("a"), exploded.alias("b")
    common = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                 F.col("a.sh_size").alias("size_a"), F.col("b.sh_size").alias("size_b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    return (
        common.withColumn(
            "jaccard", F.col("common") / (F.col("size_a") + F.col("size_b") - F.col("common"))
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.8,
    prefix_filter: bool = True,
) -> DataFrame:
    """Exact n-gram CONTAINMENT similarity join: all pairs where
    EITHER direction's containment C(A→B) = |G(A) ∩ G(B)| / |G(A)|
    reaches ``threshold`` (id_a < id_b; both directions returned).
    Containment is the asymmetric overlap measure the symmetric tiers
    structurally miss: a short document quoted whole inside a much
    longer one has containment 1.0 but Jaccard |A∩B|/|A∪B| ≈
    |A|/|B| → arbitrarily small, hamming(simhash) large, and cosine
    diluted — yet it is exactly the near-dup an LLM corpus must catch
    (quotation farms, boilerplate-wrapped reposts; the exact-substring
    dedup motivation of Lee et al. 2022, "Deduplicating Training Data
    Makes Language Models Better", here at gram-set granularity).

    Implementation (prefix_filter=True, the 100 TB path): the
    one-sided filter-verify join. For the A→B direction, overlap ≥
    ceil(t·|A|) forces A's PREFIX — its |A| − ceil(t·|A|) + 1 globally
    rarest grams (``jaccard_prefix_index``; the bound is the same
    expression) — to intersect B's FULL gram set, so candidates =
    prefix(probe) ⋈ full(index), with the one admissible length
    filter |B| ≥ t·|A| (overlap ≤ min(|A|,|B|)). Probing each side
    once covers both directions; the union is deduped and verified
    EXACTLY via array_intersect, so output is identical to the naive
    join (the oracle holds either way) — only the candidate count
    shrinks, and a stop-word-like gram falls out of most prefixes,
    bounding the hot-bucket quadratic cost (full-side buckets stay,
    but each pairs only against prefix rows, never full×full).

    With prefix_filter=False: plain inverted-index join (the oracle's
    shape). Returns (id_a, id_b, containment_a, containment_b,
    common) where containment_a = common / |G(a)| rounded to 6dp
    (integer-ratio division — engine-bit-identical)."""
    shingled = _containment_shingled(df, text_col, id_col, n)
    return _containment_pairs_from_shingled(shingled, threshold, prefix_filter)


def _containment_shingled(
    df: DataFrame, text_col: str, id_col: str, n: int
) -> DataFrame:
    """(id, sh: array<string>, sh_size) — the shingle frame every
    containment path (batch, increment, store save) starts from."""
    return df.select(
        F.col(id_col).alias("id"), _token_shingles(F.col(text_col), n).alias("sh")
    ).withColumn("sh_size", F.size("sh"))


def _containment_qualify(verified: DataFrame, threshold: float) -> DataFrame:
    """The INTEGER-exact qualifying rule + display fractions, shared by
    the batch and incremental paths (common >= ceil(t*size - eps) in
    either direction — a float-rounded ratio test would admit
    knife-edge pairs the prefix bound legitimately prunes)."""
    qual_a = F.col("common") >= F.ceil(
        F.lit(threshold) * F.col("size_a") - F.lit(1e-9)
    )
    qual_b = F.col("common") >= F.ceil(
        F.lit(threshold) * F.col("size_b") - F.lit(1e-9)
    )
    return (
        verified.filter(qual_a | qual_b)
        .select(
            "id_a", "id_b",
            F.round(F.col("common") / F.col("size_a"), 6).alias("containment_a"),
            F.round(F.col("common") / F.col("size_b"), 6).alias("containment_b"),
            F.col("common").cast("long").alias("common"),
        )
    )


def _containment_pairs_from_shingled(
    shingled: DataFrame, threshold: float, prefix_filter: bool = True
) -> DataFrame:
    """``ngram_containment_pairs`` body over a prepared (id, sh,
    sh_size) frame — also the shard-self pass of the incremental tier."""
    if prefix_filter:
        probe = jaccard_prefix_index(shingled, threshold)
        full = shingled.select(
            "id", "sh_size", F.explode("sh").alias("shingle")
        )
        # direction probe→full: overlap >= ceil(t*|probe|) needs a
        # prefix-gram hit in the OTHER doc's full set and |other| >=
        # t*|probe| (epsilon: float noise may only widen, never drop)
        cands = (
            probe.alias("a")
            .join(
                full.alias("b"),
                (F.col("a.shingle") == F.col("b.shingle"))
                & (F.col("a.id") != F.col("b.id"))
                & (
                    F.col("b.sh_size")
                    >= F.lit(threshold) * F.col("a.sh_size") - F.lit(1e-9)
                ),
            )
            .select(
                F.least(F.col("a.id"), F.col("b.id")).alias("id_a"),
                F.greatest(F.col("a.id"), F.col("b.id")).alias("id_b"),
            )
            .distinct()
        )
        fa = shingled.select(
            F.col("id").alias("id_a"), F.col("sh").alias("sh_a"),
            F.col("sh_size").alias("size_a"),
        )
        fb = shingled.select(
            F.col("id").alias("id_b"), F.col("sh").alias("sh_b"),
            F.col("sh_size").alias("size_b"),
        )
        verified = (
            cands.join(fa, "id_a")
            .join(fb, "id_b")
            .withColumn("common", F.size(F.array_intersect("sh_a", "sh_b")))
        )
    else:
        exploded = shingled.select("id", "sh_size", F.explode("sh").alias("shingle"))
        verified = (
            exploded.alias("a")
            .join(
                exploded.alias("b"),
                (F.col("a.shingle") == F.col("b.shingle"))
                & (F.col("a.id") < F.col("b.id")),
            )
            .groupBy(
                F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                F.col("a.sh_size").alias("size_a"),
                F.col("b.sh_size").alias("size_b"),
            )
            .agg(F.count(F.lit(1)).alias("common"))
        )
    return _containment_qualify(verified, threshold)


# ---------------------------------------------------------------------------
# Persisted containment index + incremental containment dedup: the
# ASYMMETRIC tier joins the incremental family (exact / MinHash / SimHash
# / semantic / dHash — and now containment), riding the same versioned-
# artifact + atomic-manifest + tombstone protocol. The store persists the
# exploded gram rows — as 8-byte xxhash64 gram HASHES since r10
# (format_version 2), not raw n-gram strings — WITH a per-doc prefix
# flag, so a shard refresh pays the one-sided filter-verify join against
# stored grams instead of re-shingling any archive text. Still the
# HEAVIEST store of the family (rows ∝ corpus grams, ~17 B/gram on disk,
# vs 16-48 bytes/doc for the hash tiers) — the price of exact asymmetric
# overlap; prefer the hash tiers when symmetric similarity suffices.
# ---------------------------------------------------------------------------

_CONTAINMENT = store.StoreKind("containment", 2, (store.Group(
    "cg_dirs", "cgs-", "id {id_type}, sh_size int, gram long, is_prefix boolean"
),))


def _containment_gram_rows(shingled: DataFrame, threshold: float) -> DataFrame:
    """Exploded (id, sh_size, gram, is_prefix) rows, where gram =
    xxhash64(shingle string) — 8 bytes/row instead of the raw n-gram
    text (VERDICT r9 Next-round #3: the family's heaviest store shed
    its dominant constant; a 30-char 3-gram string was ~4x the hashed
    row). All store-side joins compare 64-bit gram hashes; a cross-doc
    hash collision (~2^-64 per gram pair) could only ADD a spurious
    common-gram count, and the DuckDB oracle keeps the exact string
    contract, so any material collision would surface as a hash
    mismatch. is_prefix marks each doc's |G| − ceil(t·|G|) + 1 RAREST
    grams (document frequency within this batch, gram-hash tie-break).
    Prefix completeness is order-free — ANY subset of that size must
    intersect a qualifying partner's full gram set (pigeonhole: a
    partner with overlap ≥ ceil(t·|G|) misses at most |G| − ceil(t·|G|)
    grams) — so a prefix chosen under the save-batch's frequency
    ordering stays VALID when later shards shift global frequencies;
    rarity only tunes candidate volume."""
    exploded = shingled.select(
        "id", "sh_size", F.explode("sh").alias("__s")
    ).select("id", "sh_size", F.xxhash64("__s").alias("gram"))
    freq = exploded.groupBy("gram").agg(F.count(F.lit(1)).alias("__df"))
    w = Window.partitionBy("id").orderBy("__df", "gram")
    prefix_len = (
        F.col("sh_size")
        - F.ceil(F.lit(threshold) * F.col("sh_size") - F.lit(1e-9))
        + 1
    )
    return (
        exploded.join(freq, "gram")
        .withColumn("__rn", F.row_number().over(w))
        .select(
            "id", "sh_size", "gram",
            (F.col("__rn") <= prefix_len).alias("is_prefix"),
        )
    )


def containment_index_save(
    df: DataFrame,
    text_col: str,
    id_col: str,
    path: str,
    n: int = 3,
    threshold: float = 0.8,
) -> None:
    """Persist the containment gram index: exploded (id, sh_size,
    gram=xxhash64(shingle), is_prefix) rows — 8-byte hashed grams, the
    r10 store format (format_version 2) — one version dir + atomic
    manifest. ``n`` and ``threshold`` are STORE parameters (the stored
    prefix length depends on both), recorded in the manifest —
    increments validate them, so a store can never silently mix gram
    sizes."""
    # ONE snapshot feeds the precheck and the write (the ADVICE r8
    # discipline: a nondeterministic source must not hand the precheck
    # and the persisted artifact different rows)
    docs = df.select(
        F.col(id_col).alias("id"), F.col(text_col).alias("__t")
    ).localCheckpoint(eager=True)
    n_docs = _increment_precheck("containment_index_save", docs, "id", None, "__t")
    if n_docs == 0:
        raise ValueError(
            "containment_index_save: empty input — bootstrap an empty "
            "store with containment_index_init and grow it by increments"
        )
    shingled = _containment_shingled(docs, "__t", "id", n)
    store.save(_CONTAINMENT, path, _containment_gram_rows(shingled, threshold), {
        "id_col": id_col, "id_type": dict(df.dtypes)[id_col],
        "n": n, "threshold": threshold,
    })


def containment_index_init(
    spark,
    path: str,
    id_col: str = "doc_id",
    id_type: str = "bigint",
    n: int = 3,
    threshold: float = 0.8,
) -> None:
    """Commit an EMPTY containment index (``cg_dirs: []``) — the
    bootstrap for corpora that start at zero and grow by increments
    (manifest-only empty state; an empty parquet dir is unreadable)."""
    store.init(_CONTAINMENT, path, {
        "id_col": id_col, "id_type": id_type, "n": n, "threshold": threshold,
    })


def containment_index_load(spark, path: str):
    """Lazy ``(rows, manifest)`` where rows is (id, sh_size,
    gram=xxhash64(shingle), is_prefix); tombstoned ids masked per dir
    branch."""
    return store.load(_CONTAINMENT, spark, path, "containment_index_load")


def containment_index_delete(spark, path: str, ids) -> None:
    """Takedown path (uniform GDPR semantics): tombstoned ids vanish
    from masked loads — they stop generating containment pairs
    immediately and count as not-indexed for later increments;
    ``containment_index_compact`` purges the gram rows physically."""
    store.delete(_CONTAINMENT, path, ids, "containment_index_delete")


def containment_index_compact(spark, path: str) -> None:
    """Fold appended gram versions into ONE dir, purging tombstones
    physically; no-op when already compact, all-tombstoned stores keep
    the masked form (the empty-parquet hazard). Prefix flags are
    per-doc facts (order-free validity) so folding preserves them."""
    store.compact(_CONTAINMENT, spark, path, "containment_index_compact")


def _containment_incr_pairs(
    shingled: DataFrame, rows_idx: DataFrame, threshold: float
):
    """Shard-self pass + the cross filter-verify join probed from BOTH
    sides' prefixes, exact candidate-bounded verify — shared by the
    live increment and the version_tag replay path (pair emission is a
    pure function of the two gram sets). Returns (pairs, shard_grams)
    — the append persists shard_grams."""
    shard_grams = _containment_gram_rows(shingled, threshold)
    self_pairs = _containment_pairs_from_shingled(shingled, threshold)

    eps = F.lit(1e-9)
    # cross candidates, probed from each side's prefix (s=shard, x=index)
    c1 = (
        shard_grams.filter("is_prefix").alias("s")
        .join(
            rows_idx.alias("x"),
            (F.col("s.gram") == F.col("x.gram"))
            & (F.col("x.sh_size") >= F.lit(threshold) * F.col("s.sh_size") - eps),
        )
        .select(F.col("s.id").alias("sid"), F.col("x.id").alias("xid"))
    )
    c2 = (
        rows_idx.filter("is_prefix").alias("x")
        .join(
            shard_grams.alias("s"),
            (F.col("x.gram") == F.col("s.gram"))
            & (F.col("s.sh_size") >= F.lit(threshold) * F.col("x.sh_size") - eps),
        )
        .select(F.col("s.id").alias("sid"), F.col("x.id").alias("xid"))
    )
    cands = c1.unionByName(c2).distinct()
    # exact verify, candidate-bounded: pull ONLY candidate archive
    # docs' gram rows, count shared distinct grams per pair
    xg = rows_idx.join(
        cands.select(F.col("xid").alias("id")).distinct(), "id", "left_semi"
    )
    common = (
        shard_grams.alias("s")
        .join(xg.alias("x"), F.col("s.gram") == F.col("x.gram"))
        .groupBy(
            F.col("s.id").alias("sid"), F.col("s.sh_size").alias("s_sz"),
            F.col("x.id").alias("xid"), F.col("x.sh_size").alias("x_sz"),
        )
        .agg(F.count(F.lit(1)).alias("common"))
    )
    flip = F.col("sid") > F.col("xid")
    cross_verified = common.select(
        F.when(flip, F.col("xid")).otherwise(F.col("sid")).alias("id_a"),
        F.when(flip, F.col("sid")).otherwise(F.col("xid")).alias("id_b"),
        F.when(flip, F.col("x_sz")).otherwise(F.col("s_sz")).alias("size_a"),
        F.when(flip, F.col("s_sz")).otherwise(F.col("x_sz")).alias("size_b"),
        "common",
    )
    pairs = self_pairs.unionByName(
        _containment_qualify(cross_verified, threshold)
    )
    return pairs, shard_grams


def containment_dedup_increment(
    spark,
    new_docs: DataFrame,
    text_col: str,
    path: str,
    id_col: str = "doc_id",
    append: bool = True,
    on_existing: str = "error",
    return_stats: bool = False,
    version_tag: str | None = None,
    _fast_n: int | None = None,
    _defer_append=None,
):
    """Containment dedup of a NEW shard against the persisted gram
    index WITHOUT re-shingling any archive text: candidates =
    shard-self (``_containment_pairs_from_shingled``) plus the cross
    filter-verify join probed from BOTH sides' stored prefixes —
    shard prefix ⋈ stored full grams (a new doc contained in an
    archive doc needs only the new doc's prefix to hit) and stored
    prefix ⋈ shard full grams (an archive doc quoted whole inside a
    new long doc needs the ARCHIVE doc's prefix, which is why the
    store persists is_prefix) — NEVER index-vs-index. Verification is
    EXACT (per-pair distinct-gram counts on the exploded rows,
    candidate-bounded), so output equals the batch
    ``ngram_containment_pairs`` over store ∪ shard RESTRICTED to
    pairs touching the shard — the composition identity every
    incremental tier certifies. ``n``/``threshold`` come from the
    store manifest (a mismatched prefix length would silently lose
    pairs, so they are store parameters, not query knobs).

    The shared increment contract: ONE localCheckpointed shard
    snapshot feeds the precheck, the anti-join, and both pair passes;
    already-indexed ids raise by default (``on_existing='skip'`` opts
    in); duplicate/NULL ids and NULL text raise up front;
    ``return_stats=True`` returns ``(pairs, stats)``; ``append=True``
    appends the fresh gram rows as a new artifact version so
    refreshes compose; ``version_tag``: the shared replay-idempotence
    discipline (see minhash_dedup_increment).

    At 100 TB: per-refresh cost is O(shard grams) shingling + a
    gram-bucketed join of the shard's prefix/full rows against the
    stored rows — the store never self-joins, and a stop-word-like
    gram falls out of most prefixes (the PPJoin bound). Returns
    (id_a, id_b, containment_a, containment_b, common)."""
    op = "containment_dedup_increment"
    rows_idx, man = containment_index_load(spark, path)
    replay = store.replayed(man, version_tag, op)
    n, threshold = man["n"], man["threshold"]
    shard_docs = new_docs.select(
        F.col(id_col).alias("id"), F.col(text_col).alias("__t")
    )
    # ``_fast_n``: the r13 cascade fast path (see
    # minhash_dedup_increment) — input already checkpointed +
    # contract-validated, count known.
    if _fast_n is None:
        shard_docs = shard_docs.localCheckpoint(eager=True)
        n_shard = _increment_precheck(op, shard_docs, "id", on_existing, "__t")
    else:
        n_shard = _fast_n
    if replay:
        # REPLAY (the shared version_tag discipline): re-shingle the
        # full shard and pair it against the index MINUS the shard's
        # own gram rows — gram determinism re-emits the original
        # pairs; partners tombstoned inside the crash window are
        # already masked.
        shingled = _containment_shingled(
            shard_docs, "__t", "id", n
        ).localCheckpoint(eager=True)
        idx_replay = rows_idx.join(
            shard_docs.select("id"), "id", "left_anti"
        )
        pairs, _ = _containment_incr_pairs(shingled, idx_replay, threshold)
        return _pairs_result(pairs, return_stats, n_shard, replayed=True)

    fresh_docs = shard_docs.join(
        rows_idx.select("id").distinct(), "id", "left_anti"
    )
    # ONE checkpointed shingle snapshot feeds the fresh count, the
    # shard-self pass, the cross probes, and the append (the ADVICE r8
    # snapshot-consistency discipline).
    shingled = _containment_shingled(
        fresh_docs, "__t", "id", n
    ).localCheckpoint(eager=True)
    n_fresh = shingled.count()  # free: just checkpointed
    skipped = n_shard - n_fresh
    if skipped and on_existing == "error":
        _raise_already_indexed(op, skipped, n_shard)

    pairs, shard_grams = _containment_incr_pairs(shingled, rows_idx, threshold)
    appended = append and n_fresh > 0
    if appended:
        # r13: overlappable append — shard_grams derives only from the
        # CHECKPOINTED shingle snapshot (concurrent actions on the same
        # immutable frame are thread-safe); see minhash_dedup_increment
        store.append(_CONTAINMENT, path, man, shard_grams, version_tag,
                     _defer_append)
    return _pairs_result(pairs, return_stats, n_shard, skipped, n_fresh, appended)


# ---------------------------------------------------------------------------
# Cascade increment (VERDICT r9 Next-round #7): one operator running the
# exact -> MinHash -> SimHash -> containment increments against all four
# persisted stores for one arriving shard, with SURVIVORS FLOWING DOWN —
# each tier sees only what every earlier (cheaper / higher-precision)
# tier missed, which is the marginal-yield structure the tier-yield
# report quantifies. The shard text is scanned ONCE into a checkpointed
# snapshot that feeds every tier; each tier re-derives its own features
# from that in-memory snapshot (true gram sharing across tiers is not
# even well-defined when the stores' shingle params differ, e.g.
# MinHash shingle_n=3 vs containment n=2 — the scan, not the
# featurization, is the shared cost that matters at 100 TB).
# ---------------------------------------------------------------------------


def _cascade_caught_ids(pairs: DataFrame, shard_ids: DataFrame) -> DataFrame:
    """Shard ids CAUGHT by a near-dup tier's pair set: a shard doc is a
    duplicate iff it pairs with a PRIOR doc — a store member (exactly
    one side of a cross pair is in the shard; the stores never
    self-join) or a smaller-id shard doc (id_a < id_b on shard-shard
    pairs). This is the streaming-refresh verdict convention; canonical
    keeper chains are the split/CC family's job, not the cascade's."""
    s = shard_ids.select(F.col("id").alias("__sid"))
    flagged = (
        pairs.select("id_a", "id_b")
        .join(s.withColumnRenamed("__sid", "id_a").withColumn(
            "__a_in", F.lit(True)), "id_a", "left")
        .join(s.withColumnRenamed("__sid", "id_b").withColumn(
            "__b_in", F.lit(True)), "id_b", "left")
    )
    a_in = F.coalesce(F.col("__a_in"), F.lit(False))
    b_in = F.coalesce(F.col("__b_in"), F.lit(False))
    later_b = flagged.filter(b_in).select(F.col("id_b").alias("id"))
    store_a = flagged.filter(a_in & ~b_in).select(F.col("id_a").alias("id"))
    return later_b.unionByName(store_a).distinct()


def dedup_cascade_increment(
    spark,
    new_docs: DataFrame,
    text_col: str,
    fp_path: str,
    mh_path: str,
    sh_path: str,
    ct_path: str | None = None,
    id_col: str = "doc_id",
    mh_threshold: float = 0.7,
    sh_max_hamming: int = 3,
    on_existing: str = "error",
    return_stats: bool = False,
    version_tag: str | None = None,
):
    """Run the full dedup CASCADE for one arriving shard against the
    persisted stores: exact fingerprint -> MinHash Jaccard -> SimHash
    hamming -> (optional) n-gram containment, each tier's increment
    probing only the docs every earlier tier kept. Returns a per-doc
    verdict frame (id, tier, kept) where tier ∈ {'exact', 'jaccard',
    'simhash', 'containment', 'kept'} names the FIRST tier that caught
    the doc — the corpus-refresh decision table a pipeline owner acts
    on (drop vs admit), with the tier label carrying the why.

    Store-indexing policy (the standard cascade recall profile): the
    fingerprint store indexes EVERY fresh distinct text (exact identity
    must always catch, even future copies of a dropped near-dup); each
    near-dup store indexes its tier's INPUT — the docs every EARLIER
    tier kept (each tier's increment indexes its own shard, the
    single-tier contract). A future doc similar only to a doc an
    earlier tier dropped (and not to its kept partner) can thus be
    missed by the later tiers — the same profile as keep-first
    streaming dedup, certified per tier by the *_incremental queries.

    The shared increment contract, composed: ONE localCheckpointed
    (id, text) snapshot feeds every tier (the shard source is scanned
    once); duplicate/NULL ids and NULL text raise up front via the
    exact tier's precheck; ``on_existing`` forwards to the near tiers
    — NOTE (ADVICE r10): under ``on_existing='skip'`` a shard id
    ALREADY in a near-dup store is anti-joined out of that tier's
    probe, generates no pairs, and falls through to a ``'kept'``
    verdict even when its text is a duplicate; the verdict table
    inherits the single-tier skip semantics (the skipped id's payload
    is never compared), so replayed/overlapping shards should be
    filtered out upstream when per-doc verdicts matter;
    ``return_stats=True`` returns ``(verdicts, stats)`` with per-tier
    caught counts and each tier's own stats dict. ``version_tag``
    forwards to every tier — each store's tags ledger makes its append
    replay-idempotent independently, so a crash ANYWHERE inside the
    cascade replays cleanly: already-committed tiers re-emit their
    original pairs, uncommitted tiers run fresh (pair emission is a
    pure function of the snapshot and the store states).

    At 100 TB: cost is the sum of the tiers' O(shard)-probe costs —
    which is the point: the cascade shares the one expensive shard
    scan and lets each doc exit at the cheapest tier that can reject
    it, so the heavy containment join sees only the residue. Tier
    composition parity is pinned by
    tests/test_dedup.py::test_cascade_increment_equals_composed_tiers."""
    # keep the caller's id column NAME: each tier's increment resolves
    # its id column from its own store manifest, so the cascade's
    # stores must all have been saved over this same id column
    from concurrent.futures import ThreadPoolExecutor

    # checked here once: a shard the exact tier catches in full never
    # reaches the near tiers' own checks
    _check_on_existing("dedup_cascade_increment", on_existing)
    shard = new_docs.select(
        F.col(id_col), F.col(text_col).alias("__t")
    ).localCheckpoint(eager=True)

    def ids_of(df: DataFrame) -> DataFrame:
        return df.select(F.col(id_col).alias("id"))

    def empty_ids() -> DataFrame:
        return ids_of(shard).limit(0)

    # r13 (guide §2.6): each tier's store APPEND (parquet write +
    # manifest commit) only reads that tier's checkpointed feature
    # frame and touches a store no other tier reads, so it can overlap
    # the downstream tiers' compute. Every deferred append finishes
    # before this function returns or raises — the pool shutdown in the
    # ``finally`` waits for all of them, so a failed append or tier
    # never abandons a sibling mid-write (run_jobs failure semantics;
    # a retry after a partial commit is made replay-idempotent per
    # store by version_tag).
    pool = ThreadPoolExecutor(max_workers=2)
    append_futures: list = []

    def defer(thunk) -> None:
        append_futures.append(pool.submit(thunk))

    try:
        # tier 1: exact — survivors keep all original (renamed)
        # columns; its fused precheck aggregate validates the shard
        # contract for every later tier (survivor frames are subsets)
        surv1, fp_st = exact_dedup_increment(
            spark, shard, "__t", fp_path, version_tag=version_tag,
            return_stats=True, _defer_append=defer,
        )
        surv1 = surv1.localCheckpoint(eager=True)
        n1 = fp_st["survivors"]

        def near_tier(run_increment, surv, n_in):
            """One near-dup tier: probe, caught ids, next survivors —
            with the r13 count-threading shortcuts. Returns
            (caught_ids_checkpointed, n_caught, surv_next, n_next,
            tier_stats). A zero-row input skips the tier's probe
            outright (no pairs can exist; equivalent by construction)
            except under version_tag, where the tier's own replay
            accounting must still run."""
            if n_in == 0 and version_tag is None:
                st = {"shard_rows": 0, "skipped_existing": 0,
                      "indexed": 0, "appended": False, "replayed": False}
                return empty_ids(), 0, surv, 0, st
            pairs, st = run_increment(surv, n_in)
            caught = _cascade_caught_ids(
                pairs, ids_of(surv)
            ).localCheckpoint(eager=True)
            n_caught = caught.count()
            if n_caught == 0:
                # anti-join against an empty caught set is the
                # identity: reuse the existing checkpoint
                return caught, 0, surv, n_in, st
            surv_next = surv.join(
                caught.withColumnRenamed("id", id_col), id_col, "left_anti"
            ).localCheckpoint(eager=True)
            return caught, n_caught, surv_next, n_in - n_caught, st

        # tier 2: MinHash
        caught_mh, n_c_mh, surv2, n2, mh_st = near_tier(
            lambda surv, n_in: minhash_dedup_increment(
                spark, surv, "__t", mh_path, threshold=mh_threshold,
                on_existing=on_existing, return_stats=True,
                version_tag=version_tag, _fast_n=n_in, _defer_append=defer,
            ),
            surv1, n1,
        )

        # tier 3: SimHash
        caught_sh, n_c_sh, surv3, n3, sh_st = near_tier(
            lambda surv, n_in: simhash_dedup_increment(
                spark, surv, "__t", sh_path, max_hamming=sh_max_hamming,
                on_existing=on_existing, return_stats=True,
                version_tag=version_tag, _fast_n=n_in, _defer_append=defer,
            ),
            surv2, n2,
        )

        # tier 4: containment (optional — the heaviest store)
        caught_ct = None
        n_c_ct = 0
        ct_st = None
        if ct_path is not None:
            caught_ct, n_c_ct, _surv4, _n4, ct_st = near_tier(
                lambda surv, n_in: containment_dedup_increment(
                    spark, surv, "__t", ct_path, id_col=id_col,
                    on_existing=on_existing, return_stats=True,
                    version_tag=version_tag, _fast_n=n_in,
                    _defer_append=defer,
                ),
                surv3, n3,
            )
        for f in append_futures:
            f.result()  # surface the first failed append
    finally:
        pool.shutdown(wait=True)

    # Verdicts as a DISJOINT UNION of the per-tier caught sets plus the
    # kept remainder (r13, guide §2.4: the former 4-way left-join +
    # CASE chain re-joined the shard against four tiny flag frames —
    # two anti-joins and a union produce the same partition of the
    # shard's ids with half the exchanges). The branches partition the
    # shard ids by FIRST catching tier by construction: caught_mh ⊆
    # surv1, caught_sh ⊆ surv2 = surv1 − caught_mh, caught_ct ⊆ surv3.
    def labeled(ids: DataFrame, t: str) -> DataFrame:
        return ids.select(
            F.col("id").alias(id_col),
            F.lit(t).alias("tier"),
            F.lit(t == "kept").alias("kept"),
        )

    n_exact = fp_st["shard_rows"] - fp_st["survivors"]
    exact_caught = (
        ids_of(shard).join(ids_of(surv1), "id", "left_anti")
        if n_exact else empty_ids()
    )
    last_surv, last_caught, n_last_caught = (
        (surv3, caught_ct, n_c_ct) if ct_path is not None
        else (surv3, None, 0)
    )
    kept = (
        ids_of(last_surv).join(last_caught, "id", "left_anti")
        if n_last_caught else ids_of(last_surv)
    )
    parts = [
        labeled(exact_caught, "exact"),
        labeled(caught_mh, "jaccard"),
        labeled(caught_sh, "simhash"),
    ]
    if ct_path is not None:
        parts.append(labeled(caught_ct, "containment"))
    parts.append(labeled(kept, "kept"))
    verdicts = parts[0]
    for p in parts[1:]:
        verdicts = verdicts.unionByName(p)
    if not return_stats:
        return verdicts
    stats = {
        "shard_rows": fp_st["shard_rows"],
        "caught_exact": n_exact,
        "caught_jaccard": n_c_mh,
        "caught_simhash": n_c_sh,
        "caught_containment": n_c_ct,
        "exact": fp_st,
        "minhash": mh_st,
        "simhash": sh_st,
        "containment": ct_st,
    }
    stats["kept"] = stats["shard_rows"] - (
        stats["caught_exact"] + stats["caught_jaccard"]
        + stats["caught_simhash"] + stats["caught_containment"]
    )
    return verdicts, stats


# ---------------------------------------------------------------------------
# 3. MinHash + LSH
# ---------------------------------------------------------------------------


def minhash_signature(df: DataFrame, text_col: str, id_col: str, num_hashes: int = 64, shingle_n: int = 3) -> DataFrame:
    """Per-document MinHash signature: sig[i] = min over shingles of
    xxhash64(shingle, seed=i).

    Plan shape: explode shingles -> ONE vectorized hash-aggregate with
    ``num_hashes`` min() columns (whole-stage codegen + map-side
    combine), then repack to an array. This beats the per-row
    higher-order-function formulation ~10x: lambda expressions are
    interpreted per element, while min() aggregates are codegen'd.
    """
    sh = _token_shingles(F.col(text_col), shingle_n)
    exploded = df.select(F.col(id_col).alias("id"), F.explode(sh).alias("s"))
    # Hash the shingle STRING once, then derive the hash family by
    # seeded xorshift permutations of the 64-bit value: x = h ^ c_i;
    # x ^= x << a_i; x ^= x >>> b_i. With the LOGICAL right shift
    # (shiftrightunsigned) each step is an invertible linear map, so
    # h_i is a bijection of the hash space — the permutation model
    # MinHash assumes — at ~5 long ops per member instead of re-hashing
    # the string per member (~1.5x faster end-to-end). (An arithmetic
    # shift would sign-extend and make the xor-shift 2-to-1.)
    import random

    rng = random.Random(0x5EED)
    h = F.xxhash64(F.col("s"))

    def member(i: int):
        c = rng.getrandbits(63)
        a = rng.randrange(1, 32)
        b = rng.randrange(1, 32)
        x = h.bitwiseXOR(F.lit(c))
        x = x.bitwiseXOR(F.shiftleft(x, a))
        return x.bitwiseXOR(F.shiftrightunsigned(x, b))

    aggs = [F.min(member(i)).alias(f"h{i}") for i in range(num_hashes)]
    sigs = exploded.groupBy("id").agg(*aggs)
    return sigs.select("id", F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("signature"))


def minhash_bands(
    signatures: DataFrame, num_bands: int = 16, rows_per_band: int = 4
) -> DataFrame:
    """Banded LSH keys from a (id, signature) relation: one row per
    (id, band_idx) with band_hash = xxhash64 of that signature slice.
    The shared banding expression for the in-memory candidate join
    AND the persisted signature index (``minhash_index_save``) — one
    definition, so stored and freshly-computed band keys can never
    drift."""
    return signatures.select(
        "id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(num_bands - 1)),
                lambda b: F.xxhash64(
                    F.slice(F.col("signature"), b * rows_per_band + 1, rows_per_band).cast("string")
                ),
            )
        ).alias("band_idx", "band_hash"),
    )


def minhash_lsh_candidates(
    signatures: DataFrame, num_bands: int = 16, rows_per_band: int = 4
) -> DataFrame:
    """LSH banding: split each signature into ``num_bands`` bands of
    ``rows_per_band`` values; documents sharing any full band become a
    candidate pair. The scale path: a groupBy on (band_idx, band_hash) —
    uniform hash keys, no all-pairs comparison."""
    banded = minhash_bands(signatures, num_bands, rows_per_band)
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def minhash_dedup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 64,
    num_bands: int = 16,
    shingle_n: int = 3,
    threshold: float = 0.7,
) -> DataFrame:
    """Full MinHash near-dup pipeline: signatures -> LSH candidates ->
    verify candidates with estimated Jaccard (signature agreement rate).
    Returns (id_a, id_b, est_jaccard >= threshold)."""
    rows_per_band = num_hashes // num_bands
    # The plan references signatures four times (both sides of the LSH
    # self-join + both verification joins); without materialization,
    # the shingle-explode + 64-way min-aggregate would run 4x.
    # Signatures are num_docs x 64 longs — tiny next to the text — so
    # this is the right materialization point at any scale.
    # localCheckpoint, NOT persist: the returned frame references the
    # blocks, so this function could never unpersist them — checkpoint
    # blocks are released by the ContextCleaner once the caller drops
    # the result (ADVICE r6: a looping driver accumulated a cached
    # signature table per call).
    sigs = minhash_signature(
        df, text_col, id_col, num_hashes, shingle_n
    ).localCheckpoint(eager=True)
    cands = minhash_lsh_candidates(sigs, num_bands, rows_per_band)
    sa = sigs.select(F.col("id").alias("id_a"), F.col("signature").alias("sig_a"))
    sb = sigs.select(F.col("id").alias("id_b"), F.col("signature").alias("sig_b"))
    agree = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return (
        cands.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("est_jaccard", agree / F.lit(num_hashes))
        .filter(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
    )


# ---------------------------------------------------------------------------
# 3b. Persisted MinHash signature index — incremental corpus refresh
# (VERDICT r6 #2: the 100 TB corpus GROWS; recomputing signatures for
# the whole corpus per refresh is the one cost that scales with the
# archive instead of the delta. Lifecycle mirrors the IVFPQ serving
# index: uuid-versioned artifacts + atomic _INDEX.json repoint with
# one-generation retention, via operators.index_store.)
# ---------------------------------------------------------------------------

_MINHASH = store.StoreKind("minhash", 1, (
    store.Group("sig_dirs", "sigs-", "id bigint, signature array<bigint>"),
    # bands derive from the signatures via the SAME ``minhash_bands``
    # expression the in-memory join uses, stored partitioned by
    # band_idx (band-parallel scans; each band's keys are uniform
    # xxhash64 values, so partitions are balanced by construction)
    store.Group(
        "band_dirs", "bands-", "id bigint, band_idx int, band_hash bigint",
        partition_by=("band_idx",),
        derive=lambda sigs, man: minhash_bands(
            sigs, man["num_bands"], man["rows_per_band"]
        ),
    ),
))


def minhash_index_save(
    df: DataFrame,
    text_col: str,
    id_col: str,
    path: str,
    num_hashes: int = 64,
    num_bands: int = 16,
    shingle_n: int = 3,
) -> None:
    """Build and persist the MinHash signature index for a corpus: one
    corpus scan computes (id, signature); signatures and their banded
    LSH keys land as versioned parquet, then the manifest repoints
    atomically. The hash family is a FIXED seeded xorshift permutation
    set (see ``minhash_signature``), so signatures computed by any
    later session are directly comparable to the stored ones — the
    property the whole incremental path rests on. Parameters are
    recorded in the manifest; ``minhash_dedup_increment`` reads them
    from there (a caller cannot accidentally mix 64-hash stored
    signatures with 128-hash fresh ones)."""
    if num_hashes % num_bands:
        raise ValueError(
            f"minhash_index_save: num_hashes ({num_hashes}) must be a "
            f"multiple of num_bands ({num_bands})"
        )
    store.save(
        _MINHASH, path,
        minhash_signature(df, text_col, id_col, num_hashes, shingle_n),
        {
            "num_hashes": num_hashes,
            "num_bands": num_bands,
            "rows_per_band": num_hashes // num_bands,
            "shingle_n": shingle_n,
            "id_col": id_col,
        },
    )


def minhash_index_load(spark, path: str):
    """Load the persisted signature index lazily: returns
    ``(sigs, bands, manifest)`` where sigs is (id, signature) and
    bands is (id, band_idx, band_hash) — no text scan, no hashing.
    Tombstoned ids (``minhash_index_delete``) are masked per dir branch
    scoped to the dirs that existed when the delete committed — a
    later shard append may legitimately RE-ADD a deleted id."""
    return store.load(_MINHASH, spark, path, "minhash_index_load")


def _increment_precheck(
    op: str,
    new_docs: DataFrame,
    id_col: str,
    on_existing: str | None,
    text_col: str | None = None,
    extra_aggs=None,
):
    """The shard contract shared by EVERY incremental tier (minhash /
    simhash / exact / semantic), validated in ONE aggregate; returns
    the shard row count. Single-sourced on purpose (review r8: four
    hand-rolled copies had already drifted into three different
    'skipped' semantics):

    - ids must be unique and non-null (count_distinct ignores NULLs,
      so a null id also trips the guard) — two payloads under one id
      would silently corrupt whichever signature/fingerprint wins;
    - text (when the tier hashes text) must be non-null — a null text
      has no well-defined fingerprint, and each hasher would otherwise
      decide silently and DIFFERENTLY (simhash drops the row — which
      miscounted as 'already indexed' before this guard — minhash
      signs a [null] shingle that pairs all null docs together, and
      md5 collapses every null into one bogus duplicate group).
      Rejecting up front also makes 'skipped = shard - fresh'
      subtraction exact: the skip-existing anti-join is then the only
      thing that drops rows. Quality-filter the shard first (the
      corpus-refresh pipelines already do).
    - ``on_existing`` (when the tier takes it) must be 'error'/'skip'.

    ``extra_aggs`` (r13 optimization, guide §1.2: don't run two driver
    actions where one aggregate answers both) lets a caller fold its
    own aggregate expressions into the SAME job; the full Row is then
    returned instead of the bare count (contract checks and raise
    order are identical either way).
    """
    if on_existing is not None:
        _check_on_existing(op, on_existing)
    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.count_distinct(F.col(id_col)).alias("n_ids"),
    ]
    if text_col is not None:
        aggs.append(
            F.coalesce(
                F.sum(F.col(text_col).isNull().cast("int")), F.lit(0)
            ).alias("n_null_text")
        )
    pre = new_docs.agg(*aggs, *(extra_aggs or ())).head()
    if pre["n_ids"] != pre["n"]:
        raise ValueError(
            f"{op}: shard has {pre['n'] - pre['n_ids']} duplicate or NULL "
            f"{id_col} value(s); dedup the shard ids first"
        )
    if text_col is not None and pre["n_null_text"]:
        raise ValueError(
            f"{op}: {pre['n_null_text']} shard row(s) have NULL {text_col} "
            "— no fingerprint can be derived from it; filter the shard "
            "first"
        )
    return pre if extra_aggs is not None else pre["n"]


def _check_on_existing(op: str, on_existing: str) -> None:
    if on_existing not in ("error", "skip"):
        raise ValueError(
            f"{op}: on_existing must be 'error' or 'skip', got {on_existing!r}"
        )


def _pairs_result(pairs, return_stats: bool, n_shard: int, skipped: int = 0,
                  indexed: int = 0, appended: bool = False,
                  replayed: bool = False):
    """The near-dup increments' return shape: pairs, or (pairs, stats)."""
    if not return_stats:
        return pairs
    return pairs, {
        "shard_rows": n_shard,
        "skipped_existing": skipped,
        "indexed": indexed,
        "appended": appended,
        "replayed": replayed,
    }


def _raise_already_indexed(op: str, skipped: int, n: int) -> None:
    raise ValueError(
        f"{op}: {skipped} of {n} shard ids are already indexed; their "
        "payload would be silently ignored (an id can only be indexed "
        "once). Pass on_existing='skip' if this is an intentional "
        "replay/overlap."
    )


def _minhash_incr_pairs(
    new_sigs: DataFrame,
    new_bands: DataFrame,
    sigs_idx: DataFrame,
    bands_idx: DataFrame,
    nh: int,
    threshold: float,
) -> DataFrame:
    """Shard-self + shard-vs-index band candidates, signature-verified
    — shared by the live increment and the version_tag replay path
    (pair emission is a pure function of the two signature sets)."""
    nn = (
        new_bands.alias("a")
        .join(
            new_bands.alias("b"),
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
    )
    # new-vs-index: ids are disjoint after the anti-join, canonicalize
    # to id_a < id_b so output conventions match the batch operator
    ni = (
        new_bands.alias("a")
        .join(
            bands_idx.alias("b"),
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash")),
        )
        .select(
            F.least(F.col("a.id"), F.col("b.id")).alias("id_a"),
            F.greatest(F.col("a.id"), F.col("b.id")).alias("id_b"),
        )
    )
    cands = nn.unionByName(ni).distinct()

    all_sigs = sigs_idx.unionByName(new_sigs)
    sa = all_sigs.select(F.col("id").alias("id_a"), F.col("signature").alias("sig_a"))
    sb = all_sigs.select(F.col("id").alias("id_b"), F.col("signature").alias("sig_b"))
    agree = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return (
        cands.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("est_jaccard", agree / F.lit(nh))
        .filter(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
    )


def minhash_dedup_increment(
    spark,
    new_docs: DataFrame,
    text_col: str,
    path: str,
    threshold: float = 0.7,
    append: bool = True,
    on_existing: str = "error",
    return_stats: bool = False,
    version_tag: str | None = None,
    _fast_n: int | None = None,
    _defer_append=None,
):
    """Dedup a NEW shard against a persisted corpus index without
    re-signing the corpus: signatures are computed for the shard only,
    candidates come from new-vs-new (shard band self-join) plus
    new-vs-index (shard bands ⋈ stored bands) — NEVER index-vs-index,
    so per-refresh cost is O(shard) + one scan of the stored band/sig
    tables, not O(corpus text). Returns (id_a, id_b, est_jaccard):
    exactly the pairs of a full batch ``minhash_dedup_pairs`` run on
    corpus ∪ shard RESTRICTED to pairs touching the shard (signature
    determinism makes this an identity, not an approximation — pinned
    by the oracle certificate and the two-appends-equal-one-batch
    test). Column/id conventions match the batch operator (id_a <
    id_b, est_jaccard = signature agreement rate).

    Shard ids already present in the index can only be SKIPPED (the
    ivfpq_append discipline: an id is indexed once; the colliding
    shard row's TEXT is never compared) — and because a silent skip
    would hide a pipeline bug that replays an old shard with
    unshifted ids (VERDICT r7 "What's wrong" #2), overlap is LOUD by
    default: ``on_existing='error'`` (default) raises when any shard
    id is already indexed; pass ``on_existing='skip'`` to opt in to
    dropping them (an orchestrator retry of a committed shard then
    becomes a no-op). ``return_stats=True`` returns ``(pairs, stats)``
    with the exact shard/skip/index counts either way. Shard ids must
    be unique and non-null — two texts under one id would merge into
    one corrupt signature, so duplicates always raise. With
    ``append=True`` (default) the fresh shard's signatures and band
    keys are appended as a new artifact version and the manifest
    repointed, so successive increments compose: refresh N sees
    shards 1..N-1 as part of the corpus. ``version_tag`` makes the
    append replay-idempotent for exactly-once streaming callers (the
    shared ``batch-{bid}`` discipline): a replayed tag skips the
    append and re-emits the original pairs against the reconstructed
    pre-append index state, detected via the manifest's
    compaction-surviving ``tags`` ledger.

    At 100 TB: the shard band table is small — AQE demotes the
    new-vs-index join to broadcast; the stored band scan is
    band-partitioned and never shuffles the corpus side on anything
    but the (band_idx, band_hash) bucket key."""
    # ONE manifest read: params and artifact dirs must come from the
    # SAME manifest generation (a compaction committing between two
    # reads could pair one generation's params with another's dirs).
    # Params come from the manifest, never from caller args: stored
    # and fresh signatures must use the same family or the agreement
    # rate is meaningless.
    op = "minhash_dedup_increment"
    sigs_idx, bands_idx, man = minhash_index_load(spark, path)
    replay = store.replayed(man, version_tag, op)
    nh, nb, rpb = man["num_hashes"], man["num_bands"], man["rows_per_band"]
    id_col = man["id_col"]

    # ONE shard snapshot feeds the precheck aggregate AND the
    # skip-existing anti-join (ADVICE r8: prechecking the raw frame
    # while counting fresh rows off a later checkpoint lets a
    # nondeterministic source — a limit() without ordering, a
    # sample() — show each aggregate DIFFERENT rows, making
    # skipped = n_shard - n_fresh wrong: a spurious overlap raise or
    # wrong stats). The exact tier already prechecks its checkpointed
    # fp_new; this is the same discipline for the signature tiers.
    # r13 cascade fast path (guide §1.2): ``_fast_n`` asserts the input
    # is ALREADY an eager-checkpointed snapshot with validated contract
    # (unique non-null ids, non-null text — the cascade's first tier
    # prechecked the superset) and carries its exact row count, so the
    # re-checkpoint job and the precheck aggregate are pure overhead.
    shard = new_docs.select(id_col, text_col)
    if _fast_n is None:
        shard = shard.localCheckpoint(eager=True)
        n_shard = _increment_precheck(op, shard, id_col, on_existing, text_col)
    else:
        n_shard = _fast_n

    if replay:
        # REPLAY (the fp/dhash/ivfpq version_tag discipline): a prior
        # attempt of this exact shard already committed its tagged
        # signature version, then crashed before the caller's sink
        # publish. Re-sign the full shard and pair it against the
        # index MINUS the shard's own ids (valid under the
        # exactly-once source contract) — signature determinism makes
        # the replay re-emit the original pairs; stored partners a
        # takedown tombstoned inside the crash window are already
        # masked (takedown-wins, uniform).
        shard_ids = shard.select(F.col(id_col).alias("id"))
        new_sigs = minhash_signature(
            shard, text_col, id_col, nh, man["shingle_n"]
        ).localCheckpoint(eager=True)
        pairs = _minhash_incr_pairs(
            new_sigs,
            minhash_bands(new_sigs, nb, rpb),
            sigs_idx.join(shard_ids, "id", "left_anti"),
            bands_idx.join(shard_ids, "id", "left_anti"),
            nh,
            threshold,
        )
        return _pairs_result(pairs, return_stats, n_shard, replayed=True)

    # Skip already-indexed ids BEFORE signing: the anti-join is on ids
    # only, so a re-submitted/overlapping shard never pays the
    # shingle-explode + 64-way min-aggregate for docs that will be
    # thrown away anyway. Shard signatures: localCheckpoint —
    # referenced by the candidate join, the verify join AND the append
    # write; blocks release when the caller drops the result (the CC
    # discipline).
    fresh_docs = shard.join(
        sigs_idx.select(F.col("id").alias(id_col)), id_col, "left_anti"
    )
    new_sigs = minhash_signature(
        fresh_docs, text_col, id_col, nh, man["shingle_n"]
    ).localCheckpoint(eager=True)
    n_fresh = new_sigs.count()  # free: just checkpointed
    # exact: with null text rejected up front, the id anti-join is the
    # only row-dropper between new_docs and new_sigs
    skipped = n_shard - n_fresh
    if skipped and on_existing == "error":
        _raise_already_indexed(op, skipped, n_shard)
    pairs = _minhash_incr_pairs(
        new_sigs, minhash_bands(new_sigs, nb, rpb),
        sigs_idx, bands_idx, nh, threshold,
    )
    appended = append and n_fresh > 0
    if appended:
        # r13 (guide §2.6): the append writes only the CHECKPOINTED
        # shard signatures and this store is touched by no other tier,
        # so a cascade may overlap the write/commit with downstream
        # tiers' compute; it awaits every deferred append before
        # returning (and on failure — run_jobs failure semantics).
        store.append(_MINHASH, path, man, new_sigs, version_tag, _defer_append)
    return _pairs_result(pairs, return_stats, n_shard, skipped, n_fresh, appended)


_SIMHASH = store.StoreKind("simhash", 1, (
    store.Group("sh_dirs", "shs-", "id bigint, simhash bigint"),
))


def simhash_index_save(df: DataFrame, text_col: str, id_col: str, path: str) -> None:
    """Persist the SimHash tier's refresh state: one (id, simhash) row
    per document — 16 bytes/doc, the cheapest near-dup artifact. The
    Manku combo keys are NOT stored: they derive from the 64-bit hash
    by pure codegen at probe time, so ``max_hamming`` stays a
    query-time knob instead of a baked index parameter (unlike MinHash
    banding, whose keys depend on save-time num_bands). Same
    versioned-artifact + atomic manifest discipline as the other
    stores (operators.index_store)."""
    store.save(_SIMHASH, path, simhash(df, text_col, id_col), {"id_col": id_col})


def simhash_index_load(spark, path: str):
    """Load the persisted (id, simhash) store lazily: ``(hashed,
    manifest)``. Multi-version stores union per-dir scans; tombstoned
    ids (``simhash_index_delete``) are masked per dir branch with the
    shared scope semantics (a later append may re-add the id)."""
    return store.load(_SIMHASH, spark, path, "simhash_index_load")


def simhash_index_delete(spark, path: str, ids) -> None:
    """Takedown path for the SimHash store: scoped tombstones mask the
    deleted ids at load (no artifact rewrite), a later shard append may
    re-add the id, ``simhash_index_compact`` purges physically. Same
    semantics as minhash_index_delete / ivfpq_delete."""
    store.delete(_SIMHASH, path, ids, "simhash_index_delete")


def simhash_index_compact(spark, path: str) -> None:
    """Fold appended (id, simhash) versions into ONE dir, purging
    tombstoned rows physically and dropping the tombstone file — the
    load-time anti-join disappears. Atomic via the shared index_store
    commit; already-compact stores with no tombstones are a no-op."""
    store.compact(_SIMHASH, spark, path, "simhash_index_compact")


def _simhash_incr_pairs(
    new_hashed: DataFrame, hashed_idx: DataFrame, max_hamming: int
) -> DataFrame:
    """Shard-self + shard-vs-index combo-key candidates, exact-hamming
    verified — shared by the live increment and the version_tag replay
    path (pair emission is a pure function of the two hash sets)."""
    nn = simhash_candidate_pairs(new_hashed, max_hamming)
    ni = simhash_pairs_between(new_hashed, hashed_idx, max_hamming)
    cands = nn.select("id_a", "id_b", "h_a", "h_b").unionByName(
        ni.select("id_a", "id_b", "h_a", "h_b")
    )
    if max_hamming <= 0:
        return cands.select("id_a", "id_b", F.lit(0).alias("hamming"))
    return (
        cands.withColumn(
            "hamming", F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def simhash_dedup_increment(
    spark,
    new_docs: DataFrame,
    text_col: str,
    path: str,
    max_hamming: int = 3,
    append: bool = True,
    on_existing: str = "error",
    return_stats: bool = False,
    version_tag: str | None = None,
    _fast_n: int | None = None,
    _defer_append=None,
):
    """SimHash-dedup a NEW shard against the persisted fingerprint
    store without re-hashing the corpus text: the shard is simhashed
    alone (skip-existing ids first — the anti-join is on ids only),
    candidates come from the shard self-join plus the cross
    shard-vs-index combo-key join (``simhash_pairs_between``) — NEVER
    index-vs-index — and survive the exact hamming filter. Returns
    (id_a, id_b, hamming): exactly the pairs of a batch
    ``simhash_near_pairs`` run on corpus ∪ shard RESTRICTED to pairs
    touching the shard (pair emission depends only on the two hashes,
    so incremental is an identity — pinned by the oracle certificate
    and the composition test). With ``append=True`` the shard's hashes
    append as a new artifact version.

    Overlap policy (VERDICT r7 #2, same contract as
    :func:`minhash_dedup_increment`): a shard id the index already
    holds can only be skipped — its text is never compared — so
    ``on_existing='error'`` (default) raises on any overlap and
    ``'skip'`` opts in to dropping those rows; ``return_stats=True``
    returns ``(pairs, stats)`` with the exact counts. Duplicate or
    NULL shard ids always raise (two texts under one id would merge
    into one corrupt fingerprint). ``version_tag``: the shared
    replay-idempotence discipline (see minhash_dedup_increment)."""

    op = "simhash_dedup_increment"
    hashed_idx, man = simhash_index_load(spark, path)
    replay = store.replayed(man, version_tag, op)
    id_col = man["id_col"]
    # ONE shard snapshot for precheck + anti-join (ADVICE r8: see
    # minhash_dedup_increment — a nondeterministic source would
    # otherwise show the two aggregates different rows and corrupt the
    # skipped = n_shard - n_fresh subtraction). ``_fast_n``: the r13
    # cascade fast path (see minhash_dedup_increment) — input already
    # checkpointed + contract-validated, count known.
    shard = new_docs.select(id_col, text_col)
    if _fast_n is None:
        shard = shard.localCheckpoint(eager=True)
        n_shard = _increment_precheck(op, shard, id_col, on_existing, text_col)
    else:
        n_shard = _fast_n

    if replay:
        # REPLAY (the shared version_tag discipline): re-hash the full
        # shard and pair it against the index MINUS the shard's own
        # ids — hash determinism re-emits the original pairs; partners
        # tombstoned inside the crash window are already masked.
        new_hashed = simhash(shard, text_col, id_col).localCheckpoint(
            eager=True
        )
        pairs = _simhash_incr_pairs(
            new_hashed,
            hashed_idx.join(
                shard.select(F.col(id_col).alias("id")), "id", "left_anti"
            ),
            max_hamming,
        )
        return _pairs_result(pairs, return_stats, n_shard, replayed=True)

    fresh_docs = shard.join(
        hashed_idx.select(F.col("id").alias(id_col)), id_col, "left_anti"
    )
    new_hashed = simhash(fresh_docs, text_col, id_col).localCheckpoint(eager=True)
    n_fresh = new_hashed.count()  # free: just checkpointed
    # exact: null text (the one row class simhash's explode would drop,
    # falsely counting it as 'already indexed' — review r8) is rejected
    # up front, so the id anti-join is the only row-dropper here
    skipped = n_shard - n_fresh
    if skipped and on_existing == "error":
        _raise_already_indexed(op, skipped, n_shard)
    pairs = _simhash_incr_pairs(new_hashed, hashed_idx, max_hamming)
    appended = append and n_fresh > 0
    if appended:
        # r13: overlappable append — see minhash_dedup_increment
        store.append(_SIMHASH, path, man, new_hashed, version_tag, _defer_append)
    return _pairs_result(pairs, return_stats, n_shard, skipped, n_fresh, appended)


# the fingerprint store tombstones KEEPER ids
_FINGERPRINT = store.StoreKind("fingerprint", 1, (
    store.Group("fp_dirs", "fps-", "fp string, keeper_id {id_type}"),
), id_field="keeper_id")


def fingerprint_index_save(
    df: DataFrame, text_col: str, id_col: str, path: str
) -> None:
    """Persist the EXACT-dedup state of a corpus: one (fp, keeper_id)
    row per distinct normalized-text md5 fingerprint, keeper = the
    lowest id bearing it (what ``exact_dedup`` keeps). The cheapest
    tier of the incremental-refresh family (MinHash/SimHash/exact —
    VERDICT r6 #2): the whole artifact is ~48 bytes per DISTINCT text,
    and a shard refresh needs one fingerprint join instead of
    re-hashing the archive. Same versioned-artifact + atomic manifest
    discipline as the MinHash/IVFPQ stores (operators.index_store)."""
    fps = (
        fingerprint(df, text_col, "__fp")
        .groupBy("__fp")
        .agg(F.min(id_col).alias("keeper_id"))
        .select(F.col("__fp").alias("fp"), "keeper_id")
    )
    store.save(_FINGERPRINT, path, fps, {
        "id_col": id_col, "id_type": dict(df.dtypes)[id_col],
    })


def fingerprint_index_init(
    spark, path: str, id_col: str = "doc_id", id_type: str = "bigint"
) -> None:
    """Commit an EMPTY fingerprint index (``fp_dirs: []``) — the
    bootstrap for pipelines whose corpus starts at zero and grows by
    increments (the streaming corpus refresh: batch 0's
    ``exact_dedup_increment`` needs a committed manifest to load).
    Writing an empty parquet dir instead would publish a schema-less,
    unreadable artifact (the ivfpq_compact empty-merge hazard), so the
    empty state lives purely in the manifest and
    :func:`fingerprint_index_load` materializes it from the recorded
    ``id_type``. Idempotent only in the sense that re-running it resets
    the index to empty — do not call it on a populated store."""
    store.init(_FINGERPRINT, path, {"id_col": id_col, "id_type": id_type})


def fingerprint_index_load(spark, path: str):
    """Load the persisted fingerprint index lazily: ``(fps, manifest)``
    where fps is (fp, keeper_id). Across appended versions an fp
    appears at most once by construction (increments only append fps
    NOT already indexed), so the union needs no re-aggregation."""
    return store.load(_FINGERPRINT, spark, path, "fingerprint_index_load")


def fingerprint_index_delete(spark, path: str, ids) -> None:
    """Takedown path for the exact-dedup store: tombstone the KEEPER
    ids (the store holds one (fp, keeper_id) row per distinct text —
    non-keeper duplicates were never indexed), so the text's
    fingerprint row disappears from masked loads and IDENTICAL text
    becomes re-ingestable by a later increment (which re-indexes it
    under the new shard's id). Deleting a non-keeper id is a harmless
    no-op row. Scoped like the other stores; ``fingerprint_index_compact``
    purges physically."""
    store.delete(_FINGERPRINT, path, ids, "fingerprint_index_delete")


def fingerprint_index_compact(spark, path: str) -> None:
    """Fold appended (fp, keeper_id) versions into ONE dir, purging
    tombstoned keepers physically and dropping the tombstone file.
    Atomic via the shared index_store commit; no-op when already
    compact and tombstone-free. The manifest's ``tags`` replay ledger
    is PRESERVED (ADVICE r8): a compaction landing between a crashed
    tagged increment and its replay must not blind the replay
    detection — the replay then re-derives survivors from the
    compacted index instead of the folded-away tagged dir."""
    store.compact(_FINGERPRINT, spark, path, "fingerprint_index_compact")


def exact_dedup_increment(
    spark,
    new_docs: DataFrame,
    text_col: str,
    path: str,
    append: bool = True,
    version_tag: str | None = None,
    return_stats: bool = False,
    _defer_append=None,
):
    """Exact-dedup a NEW shard against the persisted fingerprint index
    without re-hashing the corpus: shard rows are fingerprinted (one
    shard scan), duplicates of ALREADY-INDEXED texts drop (fp inner
    match — first-indexed wins, the streaming keep-first convention,
    which equals batch keep-lowest-id whenever shards arrive in id
    order), and within-shard duplicate groups keep their lowest id.
    Returns the SURVIVING shard rows with all original columns — the
    rows a corpus refresh appends to the archive. With ``append=True``
    the survivors' fingerprints append to the index as a new artifact
    version, so successive increments compose. Shard ids must be
    unique and non-null (ADVICE r7: two rows sharing one id would both
    pass the keeper semi-join while only ONE fingerprint enters the
    index, silently breaking the every-archived-text-is-indexed
    invariant) — duplicates raise up front. ``return_stats=True``
    returns ``(survivors, stats)`` with the exact drop accounting
    (within-shard vs already-indexed), so a replayed shard that loses
    every row is visible instead of silent (VERDICT r7 #2).

    ``version_tag`` makes the append REPLAY-IDEMPOTENT for exactly-once
    pipelines (foreachBatch with batch_id): the appended version is
    named ``fps-tag-<tag>`` instead of a random uuid, the tag is
    recorded in the manifest's ``tags`` ledger (which
    ``fingerprint_index_compact`` PRESERVES — ADVICE r8: detection via
    the dir name alone went blind the moment a compaction folded the
    tagged dir away, and the replay then anti-joined the shard against
    its own fingerprints and silently returned zero survivors), and a
    call that finds its tag already committed — the crashed-between-
    fp-append-and-sink-publish interleaving — re-derives the ORIGINAL
    survivors instead: shard rows whose (fp, id) is a tagged keeper,
    read from the tagged dir with the TOMBSTONE MASK applied (VERDICT
    r8: a takedown racing the crash-recovery window must not be
    re-admitted), or from the full masked index when compaction has
    absorbed the tagged dir (sound because an id enters the store
    through exactly one increment — the exactly-once source contract —
    so a (fp, id) keeper match can only come from THIS shard's first
    attempt). Requires the replayed shard to be byte-identical to the
    first attempt (Spark's replayable-source contract).

    At 100 TB: the index is one row per distinct text (fp + keeper
    id); the shard-vs-index join shuffles on the fp hash — uniform
    keys — and AQE broadcasts whichever side is small. The archive
    text is never re-read."""
    fps_idx, man = fingerprint_index_load(spark, path)
    replay = store.replayed(man, version_tag, "exact_dedup_increment")
    id_col = man["id_col"]
    # Checkpoint the fingerprinted SHARD, not just the winners: the
    # survivors join and the winners aggregate must see the SAME rows
    # even when new_docs is nondeterministic across jobs (a limit()
    # without ordering, a sample()) — re-scanning the source for the
    # semi-join could admit a survivor whose fp was never aggregated
    # into the appended index, silently breaking the
    # every-archived-text-is-indexed invariant.
    fp_new = fingerprint(new_docs, text_col, "__fp").localCheckpoint(eager=True)
    # The shared shard contract (unique non-null ids, non-null text —
    # review r8: with NULL texts admitted, count_distinct('__fp')
    # ignored the NULL fp group that groupBy kept, driving
    # dropped_already_indexed negative and silently merging distinct
    # null-text docs as 'duplicates'), plus the distinct-fp count for
    # the drop accounting — ONE aggregate on the checkpointed frame
    # (r13: the precheck and the fp-count aggregates were two separate
    # driver actions over the same rows; extra_aggs folds them).
    pre = _increment_precheck(
        "exact_dedup_increment", fp_new, id_col, None, text_col,
        extra_aggs=[F.count_distinct("__fp").alias("n_fps")],
    )

    def _result(survivors, n_surv, appended, replayed=False):
        if not return_stats:
            return survivors
        return survivors, {
            "shard_rows": pre["n"],
            "survivors": n_surv,
            "dropped_within_shard": pre["n"] - pre["n_fps"],
            "dropped_already_indexed": pre["n_fps"] - n_surv,
            "appended": appended,
            "replayed": replayed,
        }

    if replay:
        # REPLAY: a prior attempt of this exact shard already committed
        # its fp version (then crashed before the caller's sink publish).
        # The anti-join below would now see the shard's own fingerprints
        # in the index and return zero survivors — so re-derive the
        # original survivors instead: a shard row survives iff its
        # (fp, id) is a keeper of the MASKED tagged version (VERDICT r8:
        # a takedown that deleted one of the tagged keepers between the
        # crash and the replay must not see its row re-admitted and
        # published). Not of an earlier version: a doc an earlier shard
        # archived under the same id was dropped on the first attempt
        # but matches its own older keeper. Once compaction has folded
        # the tagged dir away, the whole masked index stands in.
        tag_dir = f"fps-tag-{version_tag}"
        if tag_dir in man["fp_dirs"]:
            fps_idx = store.load_version(_FINGERPRINT, spark, path, man, tag_dir)
        keepers = fps_idx.select(
            F.col("fp").alias("__fp"), F.col("keeper_id").alias(id_col)
        )
        survivors = fp_new.join(keepers, ["__fp", id_col], "left_semi").drop(
            "__fp"
        )
        n_surv = survivors.count() if return_stats else 0
        return _result(survivors, n_surv, appended=False, replayed=True)

    # winners: per new-fp lowest id, minus fps the index already holds
    winners = (
        fp_new.groupBy("__fp")
        .agg(F.min(id_col).alias(id_col))
        .join(
            fps_idx.select(F.col("fp").alias("__fp")), "__fp", "left_anti"
        )
        .localCheckpoint(eager=True)
    )
    n_winners = winners.count()  # free: just checkpointed
    survivors = fp_new.join(
        winners.select(id_col), id_col, "left_semi"
    ).drop("__fp")
    appended = append and n_winners > 0
    if appended:
        # r13: overlappable append — winners is checkpointed; see
        # minhash_dedup_increment for the deferral contract
        store.append(_FINGERPRINT, path, man, winners.select(
            F.col("__fp").alias("fp"), F.col(id_col).alias("keeper_id")
        ), version_tag, _defer_append)
    return _result(survivors, n_winners, appended)


def minhash_index_delete(spark, path: str, ids) -> None:
    """Remove documents from the PERSISTED signature index without
    rewriting any artifact — the takedown path (a deleted doc must stop
    generating near-dup pairs immediately): deleted ids land in a tiny
    ``tombstones-<ver>.parquet`` (id, scope) file, the manifest
    repoints atomically, and ``minhash_index_load`` masks them per
    artifact-dir branch with a broadcast anti-join. Same scope
    semantics as ``ivfpq_delete``: scope = number of sig dirs at
    delete time, so a LATER shard append may re-add the id (its dir
    sits past every earlier scope; the increment's skip-existing
    anti-join runs against the MASKED load, so a deleted id counts as
    not-indexed). ``minhash_index_compact`` purges tombstoned rows
    physically and drops the file. ``ids``: a Python sequence or a
    1-column DataFrame; empty = no-op, no version bump."""
    store.delete(_MINHASH, path, ids, "minhash_index_delete")


def minhash_index_compact(spark, path: str) -> None:
    """Fold an appended signature index's base + shard directories back
    into ONE (sigs, bands) version — the LSM compaction half, same as
    ``ivfpq_compact``: after N nightly shard appends every increment
    pays N source listings and N union branches per side; compaction
    restores the single-scan plan without re-reading any TEXT:
    signature rows are copied as-is (tombstoned rows purged), band keys
    re-derived from them (deterministic xxhash over the stored arrays —
    identical values, no corpus scan). Atomic: merged dirs land under a
    fresh version, the manifest repoints in one rename, a torn
    compaction leaves the old manifest fully servable, and the
    superseded generation survives one more commit (index_store
    retention grace)."""
    store.compact(_MINHASH, spark, path, "minhash_index_compact")


# ---------------------------------------------------------------------------
# 4. SimHash
# ---------------------------------------------------------------------------


def connected_components(
    pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iter: int = 20,
    local_threshold: int = 0,
) -> DataFrame:
    """Resolve near-dup PAIRS into duplicate GROUPS: connected
    components by alternating large-star / small-star edge rewrites
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — rounds are O(log n), INDEPENDENT of graph diameter.
    (One-hop min-label propagation, this operator's first form, needs
    O(diameter) rounds: fine for shallow near-dup clusters but wrong
    for chain-shaped graphs — an entity-resolution name graph at sf0.1
    carries diameter-50 components, past any fixed round budget.
    Non-convergence within ``max_iter`` raises rather than returning
    under-merged groups.)

    Each round is two keyed aggregate+join rewrites of the edge list;
    the converged edge set is a forest of depth-1 stars. Returns
    (id, component) where component is the smallest id in the group —
    pick it as the canonical document and drop the rest. No driver-side
    graph state.

    ``local_threshold`` > 0 enables the small-graph tier (the same
    hybrid discipline as DBSCAN/Ward's exact small-data paths): when a
    cheap bounded probe shows at most that many edges, collect them and
    run exact union-find with min-label canonicalization on the driver
    — identical output, none of the per-round job overhead that
    dominates a shallow small graph (each distributed round is a
    join + aggregate + checkpoint + convergence action). The
    distributed path stays the default and the only path above the
    threshold."""
    # Mixed endpoint types (e.g. int id_a vs long id_b) are routed to
    # the distributed path, whose union coerces to the common wider
    # type; mirroring Spark's coercion in the local tier is not worth
    # the divergence risk.
    we_persisted = False
    if local_threshold > 0 and pairs.schema[a_col].dataType == pairs.schema[b_col].dataType:
        # Persist FIRST: if the probe proves the graph too big, the
        # distributed rounds below reuse the materialization instead of
        # recomputing an expensive upstream pair generator from scratch.
        # (Unless the CALLER already cached it — then both the cache
        # entry and the unpersist responsibility stay theirs.)
        if not pairs.is_cached:
            pairs = pairs.persist()
            we_persisted = True
        # One bounded evaluation doubles as probe AND data fetch: pull
        # at most threshold+1 edges; the extra row (if present) proves
        # the graph is too big and routes to the distributed path.
        rows = pairs.select(a_col, b_col).limit(local_threshold + 1).collect()
        if len(rows) <= local_threshold:
            # The probe fully materialized what we need — release the
            # cached partitions before returning (a long-lived driver
            # looping refresh cycles must not accumulate them). A
            # caller-owned cache is left alone.
            if we_persisted:
                pairs.unpersist()
            from pyspark.sql.types import StructField, StructType

            parent: dict = {}
            has_null = False

            def find(x):
                while parent[x] != x:
                    parent[x] = parent[parent[x]]
                    x = parent[x]
                return x

            for r in rows:
                a, b = r[0], r[1]
                if a is None or b is None:
                    # Distributed parity: a null join key never matches,
                    # so a null endpoint propagates no label — the
                    # non-null end stays its own node and the null node
                    # surfaces once as (null, null), exactly what the
                    # edges.distinct() + label join produce.
                    has_null = True
                    for x in (a, b):
                        if x is not None:
                            parent.setdefault(x, x)
                    continue
                parent.setdefault(a, a)
                parent.setdefault(b, b)
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[rb] = ra
            comp: dict = {}
            for node in parent:
                root = find(node)
                comp[root] = min(comp.get(root, node), node)
            out = [(node, comp[find(node)]) for node in parent]
            if has_null:
                out.append((None, None))
            # Explicit schema: createDataFrame cannot infer from an
            # empty (or all-null) row list, and the id type must match
            # the distributed path's (the input's own a_col type).
            id_type = pairs.schema[a_col].dataType
            schema = StructType(
                [
                    StructField("id", id_type, True),
                    StructField("component", id_type, True),
                ]
            )
            return pairs.sparkSession.createDataFrame(out, schema)
    # The node set and the edge normalization reference `pairs`
    # multiple times; persist so an expensive upstream pair generator
    # (e.g. a similarity join) runs once, not per branch. (Already
    # persisted when the local-tier probe routed here — don't
    # re-persist.)
    if not pairs.is_cached:
        pairs = pairs.persist()
        we_persisted = True
    # Alternating large-star / small-star rounds (Kiveris et al.,
    # "Connected Components in MapReduce and Beyond", SoCC'14):
    # converges in O(log n) rounds in practice (O(log^2 n) proven),
    # INDEPENDENT of graph diameter. The previous one-hop min-label
    # propagation needed O(diameter) rounds and silently returned
    # under-merged labels when max_iter ran out — a 15k-name
    # entity-resolution graph at sf0.1 has 190-node chains of diameter
    # ~50, past the default budget. Star rounds contract those chains
    # exponentially, and non-convergence now raises instead of
    # returning wrong groups.
    #
    # Null endpoints never joined in the old label-propagation plan —
    # a null surfaced once as (null, null) and the non-null end stayed
    # its own node. Reproduce that exactly by keeping nulls (and
    # self-pairs) in the node set but out of the star rounds.
    # (nodes is consumed exactly once — the final labels join — so it
    # is NOT persisted; it re-reads the persisted `pairs`.)
    nodes = (
        pairs.select(F.col(a_col).alias("id"))
        .unionByName(pairs.select(F.col(b_col).alias("id")))
        .distinct()
    )
    e = (
        pairs.filter(
            F.col(a_col).isNotNull()
            & F.col(b_col).isNotNull()
            & (F.col(a_col) != F.col(b_col))
        )
        .select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
        .distinct()
        # localCheckpoint (eager) TRUNCATES LINEAGE each round. A mere
        # persist() is not enough: any short-circuiting action (limit)
        # caches only some partitions, the next round re-derives
        # through the whole history, and plan depth grows exponentially
        # with iterations (observed: OOM by round ~8 on a 256-node
        # graph).
        .localCheckpoint()
    )
    converged = False
    # Carried across rounds: |e| equals the previous round's |small|,
    # so each round runs ONE count job, not two.
    e_count = None
    for _ in range(max_iter):
        # Large-star: every node u links its LARGER neighbors to the
        # minimum of its closed neighborhood — long chains fold onto
        # local minima.
        sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mv"))
            .select("u", F.least(F.col("u"), F.col("mv")).alias("m"))
        )
        e1 = (
            sym.filter(F.col("v") > F.col("u"))
            .join(mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # Small-star: orient every edge (larger, smaller); every node
        # links its smaller neighbors (and itself) to the smallest —
        # stars flatten to depth 1.
        oriented = e1.select(
            F.greatest(F.col("u"), F.col("v")).alias("u"),
            F.least(F.col("u"), F.col("v")).alias("v"),
        )
        mins2 = oriented.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            oriented.join(mins2, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(mins2.select("u", F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint()
        )
        # Fixed point of the composite map == the star state (the
        # potential argument in the paper): both distinct, so equal
        # size + empty anti-join means set equality.
        small_count = small.count()
        if e_count is None:
            e_count = e.count()
        same = (
            small_count == e_count
            and small.join(e, ["u", "v"], "left_anti").limit(1).count() == 0
        )
        # The superseded checkpoint's blocks are released by the
        # ContextCleaner once the rebind drops the last reference
        # (DataFrame.unpersist() is a no-op for localCheckpoint
        # storage — it only consults the CacheManager).
        e = small
        e_count = small_count
        if same:
            converged = True
            break
    if not converged:
        if we_persisted:
            pairs.unpersist()
        raise RuntimeError(
            f"connected_components did not converge within max_iter="
            f"{max_iter} star rounds; raise max_iter"
        )
    # The converged edge set is a forest of depth-1 stars (child, root)
    # with root < child: one row per non-root node. Roots and isolated
    # nodes label themselves.
    labels = (
        nodes.join(e.withColumnRenamed("u", "id"), "id", "left")
        .select("id", F.coalesce(F.col("v"), F.col("id")).alias("component"))
        .localCheckpoint()
    )
    # The final star checkpoint, like the per-round ones, is freed by
    # the ContextCleaner when `e` goes out of scope.
    # Release OUR persist of pairs (ADVICE r5: the local-tier probe
    # persisted it even when routing here, and a long-lived driver
    # looping refresh cycles must not accumulate cached partitions).
    # Safe: labels is localCheckpoint'd, so its lineage no longer
    # reaches pairs. A caller-cached input is left alone.
    if we_persisted:
        pairs.unpersist()
    return labels


def keep_best_in_group(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    score_col: str,
    a_col: str = "id_a",
    b_col: str = "id_b",
    local_threshold: int = 0,
) -> DataFrame:
    """The dedup ACTION a corpus pipeline actually takes: resolve
    near-dup pairs into duplicate groups (connected components) and keep
    exactly ONE representative per group — the highest-``score_col`` doc
    (C4/CCNet keep-longest policy when the score is a length; any
    quality score works), deterministic ``id_col`` tiebreak. Documents
    in no pair form their own singleton group and survive. Output: the
    kept rows plus ``component`` (the group's min id) and
    ``group_size``.

    Scale shape: components converge in O(log n) alternating-star
    rounds regardless of graph diameter (connected_components raises
    RuntimeError past max_iter instead of returning under-merged
    groups — that propagates to this caller); the representative
    selection is one ranking window partitioned by component —
    hash-partitioned on the group key, never global."""
    # Guard the internal temp names too (ADVICE r5): an input column
    # named __rn or __cc_id would be silently overwritten and dropped
    # from the output — fail loudly like the output names do.
    collisions = [
        c for c in ("component", "group_size", "__rn", "__cc_id") if c in df.columns
    ]
    if collisions:
        raise ValueError(
            f"keep_best_in_group output/internal column(s) {collisions} "
            "already exist in the input; rename them first"
        )
    comps = connected_components(
        pairs, a_col=a_col, b_col=b_col, local_threshold=local_threshold
    )
    # Rename the component table's id before joining: drop("id") after a
    # join would remove BOTH columns when the caller's id_col is itself
    # named "id" (this module's own convention elsewhere).
    comps = comps.withColumnRenamed("id", "__cc_id")
    labeled = (
        df.join(comps, df[id_col] == comps["__cc_id"], "left")
        .drop("__cc_id")
        .withColumn("component", F.coalesce("component", F.col(id_col)))
    )
    w = Window.partitionBy("component").orderBy(
        F.desc(score_col), F.asc(id_col)
    )
    return (
        labeled.withColumn("__rn", F.row_number().over(w))
        .withColumn(
            "group_size", F.count(F.lit(1)).over(Window.partitionBy("component"))
        )
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def simhash(df: DataFrame, text_col: str, id_col: str, bits: int = 64) -> DataFrame:
    """64-bit SimHash fingerprint: per token, xxhash64 contributes ±1 to
    each bit position; the sign of each bit-sum forms the fingerprint.
    Near-dups have small hamming distance. Pure expressions via
    higher-order functions over a bits sequence."""
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    # Plan shape: explode tokens -> hash once per token -> ONE vectorized
    # aggregate with `bits` conditional sums (codegen + map-side combine)
    # -> repack sign bits into a long. Bit positions are compile-time
    # constants (shiftright needs literal shift amounts).
    exploded = df.select(F.col(id_col).alias("id"), F.explode(toks).alias("t")).select(
        "id", F.xxhash64(F.col("t")).alias("h")
    )
    # Vote arithmetic: sign(sum of ±1 votes for bit b) == (2 * ones_b >
    # n). Summing the raw bit ((h >> b) & 1) is ~2x faster than a
    # CASE-WHEN ±1 per bit — branch-free inside codegen. The 64 bit
    # counters are PACKED two-per-long (bit b in the low 32-bit lane,
    # bit b+32 in the high lane): 32 aggregate buffers instead of 64.
    # Lanes cannot interfere below 2^31 tokens per document; measured
    # 0.62s -> 0.31s warm (and 4.8s -> 0.7s first-run — half the
    # codegen to compile) on the sf0.1 vote aggregate.
    if bits % 2:
        raise ValueError("simhash: bits must be even (two packed vote lanes)")
    half = bits // 2
    packed_sums = [
        F.sum(
            F.shiftright(F.col("h"), b)
            .bitwiseAND(F.lit(1))
            .bitwiseOR(
                F.shiftleft(
                    F.shiftright(F.col("h"), b + half).bitwiseAND(F.lit(1)), 32
                )
            )
        ).alias(f"p{b}")
        for b in range(half)
    ]
    per_doc = exploded.groupBy("id").agg(
        F.count(F.lit(1)).alias("__n"), *packed_sums
    )
    packed = F.lit(0).cast("long")
    for b in range(bits):
        if b < half:
            cnt = F.col(f"p{b}").bitwiseAND(F.lit(0xFFFFFFFF))
        else:
            cnt = F.shiftright(F.col(f"p{b - half}"), 32)
        bit = (2 * cnt > F.col("__n")).cast("long")
        packed = packed.bitwiseOR(F.shiftleft(bit, b))
    return per_doc.select("id", packed.alias("simhash"))


def _simhash_block_widths(n_blocks: int, bits: int = 64) -> list[int]:
    """Split ``bits`` into ``n_blocks`` near-equal contiguous widths."""
    base, extra = divmod(bits, n_blocks)
    return [base + (1 if i < extra else 0) for i in range(n_blocks)]


def simhash_near_pairs(df: DataFrame, text_col: str, id_col: str, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance <= max_hamming.

    Candidate generation (Manku et al., WWW'07 "Detecting Near-Duplicates
    for Web Crawling"): split the 64-bit hash into ``max_hamming + 3``
    contiguous blocks; by pigeonhole, any pair within hamming distance
    ``max_hamming`` agrees exactly on at least 3 whole blocks, so a pair
    is guaranteed to collide in at least one of the C(n_blocks, 3)
    3-block-combination tables. Each table key concatenates 3 block
    values (packed into one long; join key also carries the combo index).

    Bucket-cardinality math — why 3-block keys and not single blocks: a
    single 16-bit block has only 2^16 distinct bucket values, so at
    N ≈ 10^8 docs the expected bucket holds N/65536 ≈ 1.5k docs and the
    block self-join emits ~4·N²/2^16 candidate pairs — quadratic growth
    no cluster absorbs. A 3-block key carries ≥ 32 key bits (e.g.
    max_hamming=3 → 6 blocks of 10-11 bits → 31-33-bit keys; 20 tables),
    putting expected bucket size at N/2^32 — sub-1 even at 10^9 docs, so
    candidate volume stays ~linear in N (uniform-hash model). The cost is
    C(n,3)-way fan-out of the 16-byte fingerprint rows instead of n-way —
    a constant factor on a tiny relation, traded for de-quadratified
    buckets. MinHash LSH (the primary near-dup tier) never had this
    ceiling; this closes it on the secondary tier.
    """
    # Fingerprints feed both sides of the combo self-join — materialize
    # the (id, simhash) reduction (16 bytes/doc) so the token explode +
    # 64-vote aggregate runs once, not twice. localCheckpoint, not
    # persist: the returned frame references the blocks (release-on-GC
    # via ContextCleaner — the CC discipline; ADVICE r6).
    hashed = simhash(df, text_col, id_col).localCheckpoint(eager=True)
    cands = simhash_candidate_pairs(hashed, max_hamming)
    if max_hamming <= 0:
        return cands.select("id_a", "id_b", F.lit(0).alias("hamming"))
    return (
        cands.withColumn("hamming", F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def simhash_candidate_pairs(hashed: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Candidate (id_a, id_b, h_a, h_b) pairs from a (id, simhash)
    relation via the Manku 3-of-n block tables described in
    :func:`simhash_near_pairs`. Exposed separately so the candidate
    volume (the scale-critical quantity) is directly measurable.

    Precondition: ONE row per id (what :func:`simhash`'s groupBy
    emits). Exactly-once pair emission relies on it — a duplicated id
    row would emit its pairs once per duplicate; dropDuplicates("id")
    first if the input can't guarantee uniqueness (not done here: it
    would bill every caller a shuffle the normal path never needs)."""
    if max_hamming <= 0:
        a, b = hashed.alias("a"), hashed.alias("b")
        return (
            a.join(
                b,
                (F.col("a.simhash") == F.col("b.simhash"))
                & (F.col("a.id") < F.col("b.id")),
            )
            .select(
                F.col("a.id").alias("id_a"),
                F.col("b.id").alias("id_b"),
                F.col("a.simhash").alias("h_a"),
                F.col("b.simhash").alias("h_b"),
            )
        )
    widths, offsets, combos = _simhash_combo_meta(max_hamming)
    tables = _simhash_combo_tables(hashed, widths, offsets, combos)
    a, b = tables.alias("a"), tables.alias("b")
    joined = a.join(
        b,
        (F.col("a.combo_idx") == F.col("b.combo_idx"))
        & (F.col("a.combo_key") == F.col("b.combo_key"))
        & (F.col("a.id") < F.col("b.id")),
    ).select(
        F.col("a.id").alias("id_a"),
        F.col("b.id").alias("id_b"),
        F.col("a.simhash").alias("h_a"),
        F.col("b.simhash").alias("h_b"),
        F.col("a.combo_idx").alias("combo_idx"),
    )
    return _simhash_first_match_only(joined, widths, offsets, combos)


def _simhash_combo_meta(max_hamming: int):
    """(widths, offsets, 3-of-n combos) for the Manku block tables at
    a given hamming radius — shared by the self-join candidate pass
    and the cross-relation (shard vs index) pass so both derive
    IDENTICAL keys from a 64-bit simhash."""
    n_blocks = max_hamming + 3
    widths = _simhash_block_widths(n_blocks)
    offsets = [sum(widths[:i]) for i in range(n_blocks)]
    combos = list(itertools.combinations(range(n_blocks), 3))
    return widths, offsets, combos


def _simhash_combo_tables(hashed: DataFrame, widths, offsets, combos) -> DataFrame:
    """(id, simhash, combo_idx, combo_key) — one row per doc per
    3-block combination, keys packed into one long (widths sum to
    <= 3*ceil(64/4) = 48 bits for every supported max_hamming >= 1)."""

    def block(i: int) -> Column:
        mask = (1 << widths[i]) - 1
        return F.shiftright(F.col("simhash"), offsets[i]).bitwiseAND(F.lit(mask))

    keys = []
    for (i, j, k) in combos:
        key = (
            F.shiftleft(block(i), widths[j] + widths[k])
            .bitwiseOR(F.shiftleft(block(j), widths[k]))
            .bitwiseOR(block(k))
        )
        keys.append(key)
    return hashed.select(
        "id", "simhash", F.posexplode(F.array(*keys)).alias("combo_idx", "combo_key")
    )


def _simhash_first_match_only(joined: DataFrame, widths, offsets, combos) -> DataFrame:
    """Dedup WITHOUT a distinct() shuffle: a near-identical pair
    collides in up to C(n,3) combo tables, but both full hashes are in
    hand post-join, so each combo can re-derive from the XOR which
    blocks agree and keep the pair only in its FIRST fully-matching
    combo — pure codegen comparisons, exactly-once emission. Removes
    the distinct exchange entirely; at 100 TB that exchange would
    carry up-to-20x-duplicated candidate pairs."""
    xor = F.col("h_a").bitwiseXOR(F.col("h_b"))

    def block_matches(i: int) -> Column:
        mask = (1 << widths[i]) - 1
        return F.shiftright(xor, offsets[i]).bitwiseAND(F.lit(mask)) == 0

    first_match = F.lit(-1)
    for idx in range(len(combos) - 1, -1, -1):
        i, j, k = combos[idx]
        all3 = block_matches(i) & block_matches(j) & block_matches(k)
        first_match = F.when(all3, F.lit(idx)).otherwise(first_match)
    return joined.filter(F.col("combo_idx") == first_match).drop("combo_idx")


def simhash_pairs_between(
    left_hashed: DataFrame, right_hashed: DataFrame, max_hamming: int = 3
) -> DataFrame:
    """Candidate (id_a, id_b, h_a, h_b) pairs with one side in EACH
    relation — the cross half of an incremental refresh (shard bands
    never meet shard bands here, index never meets index). Same Manku
    combo keys and first-match exactly-once dedup as the self-join
    pass. Preconditions: one row per id per side, DISJOINT id sets
    (the increment's skip-existing anti-join guarantees it); output is
    canonicalized to id_a < id_b."""
    if max_hamming <= 0:
        joined = left_hashed.alias("a").join(
            right_hashed.alias("b"),
            F.col("a.simhash") == F.col("b.simhash"),
        ).select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.simhash").alias("h_a"),
            F.col("b.simhash").alias("h_b"),
        )
    else:
        widths, offsets, combos = _simhash_combo_meta(max_hamming)
        ta = _simhash_combo_tables(left_hashed, widths, offsets, combos)
        tb = _simhash_combo_tables(right_hashed, widths, offsets, combos)
        joined = _simhash_first_match_only(
            ta.alias("a")
            .join(
                tb.alias("b"),
                (F.col("a.combo_idx") == F.col("b.combo_idx"))
                & (F.col("a.combo_key") == F.col("b.combo_key")),
            )
            .select(
                F.col("a.id").alias("id_a"),
                F.col("b.id").alias("id_b"),
                F.col("a.simhash").alias("h_a"),
                F.col("b.simhash").alias("h_b"),
                F.col("a.combo_idx").alias("combo_idx"),
            ),
            widths,
            offsets,
            combos,
        )
    flip = F.col("id_a") > F.col("id_b")
    return joined.select(
        F.when(flip, F.col("id_b")).otherwise(F.col("id_a")).alias("id_a"),
        F.when(flip, F.col("id_a")).otherwise(F.col("id_b")).alias("id_b"),
        F.when(flip, F.col("h_b")).otherwise(F.col("h_a")).alias("h_a"),
        F.when(flip, F.col("h_a")).otherwise(F.col("h_b")).alias("h_b"),
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination (LLM-pipeline north star)
# ---------------------------------------------------------------------------


def contamination_pairs(
    train: DataFrame,
    benchmark: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 5,
) -> DataFrame:
    """Benchmark decontamination scan: (train doc, benchmark doc) pairs
    sharing at least one word ``n``-gram, with the count of DISTINCT
    shared n-grams — the standard eval-leakage check an LLM data
    pipeline runs before training (n=13 in GPT-3/PaLM practice; smaller
    default here for the short synthetic docs).

    Plan: both sides explode DISTINCT n-grams -> inner equi-join on the
    gram (an inverted index — cost is per-gram bucket products, never
    |train| x |benchmark|) -> groupBy pair. The benchmark side is tiny
    in practice, so Spark broadcast-joins it; at 100 TB the gram join
    shuffles only gram-matched rows and a stop-gram cap could reuse
    jaccard_prefix_index's frequency ordering if ever needed.
    """
    t = gram_index(train, text_col, id_col, n).withColumnRenamed("id", "train_id")
    b = gram_index(benchmark, text_col, id_col, n).withColumnRenamed("id", "bench_id")
    return contamination_pairs_from_index(t, b)


def gram_index(df: DataFrame, text_col: str, id_col: str, n: int = 5) -> DataFrame:
    """Inverted n-gram index: one (id, gram) row per DISTINCT word
    n-gram per document. Build it ONCE (persist / write it) when several
    consumers — decontamination, Jaccard candidates, novelty scans —
    need the same shingles; the tokenize + explode is the expensive part
    and this is its single-scan form."""
    return df.select(
        F.col(id_col).alias("id"), _token_shingles(F.col(text_col), n).alias("g")
    ).select("id", F.explode("g").alias("gram"))


def novelty_scores(
    df: DataFrame, text_col: str, id_col: str, n: int = 3
) -> DataFrame:
    """Cross-document novelty: per document, the fraction of its DISTINCT
    word ``n``-grams that also occur in at least one OTHER document
    (``dup_gram_frac``; 0 = fully novel, 1 = everything appears
    elsewhere). The corpus-quality metric a dedup pass is judged by —
    run it before/after dedup and the delta is the pipeline's effect.

    Plan: one gram index scan -> gram document-frequency aggregate ->
    join back on the gram -> per-doc average. Both the aggregate and the
    join shuffle on the gram key (bounded by vocabulary, map-side
    combined); nothing is quadratic in documents.
    """
    grams = gram_index(df, text_col, id_col, n)
    freq = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("__df"))
    return (
        grams.join(freq, "gram")
        .groupBy(F.col("id").alias(id_col))
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.round(F.avg((F.col("__df") > 1).cast("double")), 6).alias(
                "dup_gram_frac"
            ),
        )
    )


def contamination_pairs_from_index(
    train_grams: DataFrame, bench_grams: DataFrame
) -> DataFrame:
    """``contamination_pairs`` over pre-built ``gram_index`` frames
    (columns ``train_id``/``bench_id`` + ``gram``) — lets both sides
    come from ONE persisted index scan when train and benchmark live in
    the same table."""
    return (
        train_grams.join(bench_grams, "gram")
        .groupBy("train_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


def decontaminate(
    train: DataFrame,
    benchmark: DataFrame | None,
    text_col: str,
    id_col: str,
    n: int = 5,
    min_shared: int = 1,
    benchmark_grams: DataFrame | None = None,
) -> DataFrame:
    """Drop training docs contaminated by the benchmark set: anti-join
    against the ids flagged by ``contamination_pairs`` (>= min_shared
    distinct shared n-grams with ANY benchmark doc).

    ``benchmark_grams`` accepts a PREBUILT ``gram_index(benchmark, ...)``
    frame (columns (id, gram)) in place of ``benchmark``: when many
    shards / micro-batches are decontaminated against the SAME
    benchmark (the streaming corpus-refresh shape), build the gram
    index once, localCheckpoint it, and pass it here — otherwise every
    call re-pays the benchmark tokenize + shingle explode."""
    if benchmark_grams is None:
        if benchmark is None:
            raise ValueError(
                "decontaminate: pass benchmark or benchmark_grams"
            )
        benchmark_grams = gram_index(benchmark, text_col, id_col, n)
    t = gram_index(train, text_col, id_col, n).withColumnRenamed(
        "id", "train_id"
    )
    b = benchmark_grams.withColumnRenamed("id", "bench_id")
    flagged = (
        contamination_pairs_from_index(t, b)
        .filter(F.col("n_shared") >= min_shared)
        .select(F.col("train_id").alias(id_col))
        .distinct()
    )
    return train.join(flagged, on=id_col, how="left_anti")


def contamination_overlap_scores(
    train: DataFrame | None,
    benchmark: DataFrame | None,
    text_col: str,
    id_col: str,
    n: int = 5,
    benchmark_grams: DataFrame | None = None,
    train_grams: DataFrame | None = None,
) -> DataFrame:
    """FRACTIONAL contamination report: per training doc, the share of
    its DISTINCT word ``n``-grams that occur anywhere in the benchmark
    set — the graded companion to ``contamination_pairs``' binary
    any-overlap signal. Real decontamination policies are thresholded
    on exactly this fraction (GPT-3's 13-gram report distinguishes
    'dirty' from partially-overlapping docs), so the pipeline can drop
    high-overlap docs, route borderline ones to review, and KEEP clean
    ones — a binary flag can only drop. Returns one row per training
    doc: (id_col, n_grams, n_hit, overlap_frac); clean docs appear with
    overlap_frac 0.0 (a report that omits clean docs can't certify
    them).

    ``benchmark_grams`` / ``train_grams`` accept prebuilt ``gram_index``
    frames (the ``decontaminate`` / ``contamination_pairs_from_index``
    reuse convention): when train and benchmark slice the SAME table,
    build ONE gram index and pass both slices — the tokenize + shingle
    explode is the expensive part and must not run twice.

    Input contract (ADVICE r8): when ``train`` is passed as a frame,
    NULL-text rows are REJECTED up front (the shared increment
    precheck — ``gram_index``'s explode would silently omit them,
    contradicting the certify-clean-docs contract above). When the
    caller passes a prebuilt ``train_grams`` index instead, the text
    is no longer in hand — a gram index structurally cannot carry a
    NULL-text doc (the explode dropped it at build time), so the
    caller owns pre-filtering; the report covers exactly the docs the
    index holds.

    At 100 TB: train gram index LEFT-joins the benchmark's DISTINCT
    gram VOCABULARY (deduped to one row per gram, so the join never
    fans out per benchmark doc; broadcast when the benchmark is small),
    then ONE per-doc aggregate. Gram-matched rows are the only shuffle
    traffic beyond the doc-keyed aggregate."""
    if benchmark_grams is None:
        if benchmark is None:
            raise ValueError(
                "contamination_overlap_scores: pass benchmark or "
                "benchmark_grams"
            )
        benchmark_grams = gram_index(benchmark, text_col, id_col, n)
    bench_vocab = benchmark_grams.select("gram").distinct().withColumn(
        "__hit", F.lit(1)
    )
    if train_grams is None:
        if train is None:
            raise ValueError(
                "contamination_overlap_scores: pass train or train_grams"
            )
        # loud NULL-text rejection (and unique non-null ids) — the
        # explode below would otherwise omit those docs from the report
        _increment_precheck(
            "contamination_overlap_scores", train, id_col, None, text_col
        )
        train_grams = gram_index(train, text_col, id_col, n)
    t = train_grams
    return (
        t.join(bench_vocab, "gram", "left")
        .groupBy(F.col("id").alias(id_col))
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.coalesce(F.sum("__hit"), F.lit(0)).cast("long").alias("n_hit"),
            F.round(
                F.coalesce(F.sum("__hit"), F.lit(0)) / F.count(F.lit(1)), 6
            ).alias("overlap_frac"),
        )
    )


def leakage_safe_split(
    df: DataFrame,
    text_col: str,
    id_col: str,
    test_fraction: float = 0.1,
    seed: str = "split-v1",
    pairs: DataFrame | None = None,
    buckets: int = 1_000_000,
    _keep_fp: bool = False,
) -> DataFrame:
    """Train/test split that CANNOT leak duplicates across the
    boundary: rows are assigned by duplicate-GROUP key, never
    individually, so a document and all its (near-)duplicates land on
    the same side. A random row split — the reference's
    ``train_test_split`` call (乳腺癌预测.py:83) is exactly this
    baseline — violates the property silently: on any corpus that
    still carries duplicates, test answers sit in the training set and
    eval scores inflate; splitting by group is the
    evaluation-integrity step a training-data pipeline runs INSTEAD of
    (or after) dedup.

    Grouping tiers: by default the EXACT tier (normalized-text md5
    fingerprint; group key = lowest id bearing the text — one
    deterministic shuffle, engine-portable, exactly ``exact_dedup``'s
    keeper convention). Pass ``pairs`` (id_a, id_b) from ANY near-dup
    tier (MinHash/SimHash/semantic) to ALSO group near-duplicates: the
    exact-tier keeper edges are unioned into the pair set before the
    connected-components resolve, so exact duplicates stay together
    even where the pairs frame's candidate generation missed them (a
    pre-filtered pair store, a dropped band) — the invariant never
    degrades by adding a tier. Singletons keep their own id as the
    group key.

    Input contract (the shared increment precheck): ids unique and
    non-null, text non-null — a NULL text has no fingerprint, and an
    inner keeper join would otherwise DROP the row from both sides
    silently (review r8), the one outcome a split must never produce.
    Quality-filter the corpus first.

    The side decision is ``hash_sample``'s engine-portable bucket on
    the GROUP key: portable_hash32(seed, group_key) % buckets <
    test_fraction * buckets — deterministic, reproducible in SQL, and
    stable under repartitioning, so train/test membership survives
    engine migration byte-for-byte. Returns every input row plus
    (group_key, split ∈ {'train','test'}).

    At 100 TB: exact tier = one fingerprint groupBy + one keeper join
    (the exact_dedup shuffle budget); the pairs tier adds the keeper
    edge build and the CC rounds. The split expression itself is pure
    codegen."""
    _increment_precheck("leakage_safe_split", df, id_col, None, text_col)
    fp = fingerprint(df, text_col, "__fp")
    keepers = fp.groupBy("__fp").agg(F.min(id_col).alias("group_key"))
    if pairs is not None:
        keeper_edges = (
            keepers.join(fp.select("__fp", F.col(id_col).alias("id_b")), "__fp")
            .filter(F.col("group_key") != F.col("id_b"))
            .select(F.col("group_key").alias("id_a"), "id_b")
        )
        comp = connected_components(
            pairs.select("id_a", "id_b").unionByName(keeper_edges)
        )
        grouped = fp.join(
            comp.withColumnRenamed("id", id_col), id_col, "left"
        ).withColumn(
            "group_key", F.coalesce(F.col("component"), F.col(id_col))
        ).drop("component")
    else:
        grouped = fp.join(keepers, "__fp")
    if not _keep_fp:
        grouped = grouped.drop("__fp")
    bucket = portable_hash32(["group_key"], seed) % buckets
    return grouped.withColumn(
        "split",
        F.when(
            bucket < _split_threshold(test_fraction, buckets), F.lit("test")
        ).otherwise(F.lit("train")),
    )


def _split_threshold(test_fraction: float, buckets: int) -> int:
    """The integer cutoff equal to the documented exact SQL rule
    'bucket < test_fraction * buckets' for every integer bucket: an
    integer b satisfies b < x iff b < ceil(x) (x non-integer) or
    b < x (x integer) — i.e. threshold = ceil(x) computed on the EXACT
    product. int() truncates binary-float noise (0.3 * 1e6 ->
    299999.99999999994 -> 299999; ADVICE r8) and round() banker-rounds
    exact half-buckets the wrong way (0.25 * 10 = 2.5: the rule puts
    bucket 2 in test, round gives 2 — review r9), so: ceil with a 1e-9
    downward nudge, exact whenever the float product sits within 1e-9
    of the true product (every practical fraction/buckets pair; a
    fraction needing finer resolution than 1e-9 of a bucket is outside
    the contract)."""
    import math

    return math.ceil(test_fraction * buckets - 1e-9)


_SPLIT = store.StoreKind("leakage_split", 1, (
    store.Group("split_dirs", "split-",
                "id {id_type}, fp string, group_key {id_type}, split string"),
))


def split_index_save(
    df: DataFrame,
    text_col: str,
    id_col: str,
    path: str,
    test_fraction: float = 0.1,
    seed: str = "split-v1",
    buckets: int = 1_000_000,
) -> None:
    """Persist the leakage-safe split ASSIGNMENT of a corpus so the
    split stays STABLE as the corpus grows (VERDICT r8 "What's
    missing" #2: re-running the batch operator after an append lets a
    new document bridge two existing groups, silently moving
    previously-train docs into test — the cross-run version of exactly
    the leakage the operator exists to prevent). One row per document:
    (id, fp, group_key, split) — the fp keyed lookup lets a later
    shard INHERIT the side of any text it duplicates, and the per-id
    rows let near-dup pairs referencing arbitrary indexed ids resolve
    to their group (``leakage_split_increment``'s bridge detection).
    Split params (fraction / seed / buckets) live in the manifest,
    never in increment args — two calls with different fractions
    against one store would assign incompatible sides. Same versioned
    artifact + atomic manifest protocol as the other dedup stores
    (operators.index_store). ~70 bytes per doc; at 100 TB / 10^10
    docs that is a sub-TB side table read via one fp-bucketed join."""
    # _keep_fp: the split already fingerprints every row — reusing its
    # __fp column halves the full-corpus text-normalization work
    # (review r9) vs re-deriving it here
    assigned = leakage_safe_split(
        df, text_col, id_col, test_fraction=test_fraction, seed=seed,
        buckets=buckets, _keep_fp=True,
    )
    rows = assigned.select(
        F.col(id_col).alias("id"),
        F.col("__fp").alias("fp"),
        "group_key",
        "split",
    )
    store.save(_SPLIT, path, rows, {
        "id_col": id_col,
        "id_type": dict(df.dtypes)[id_col],
        "test_fraction": test_fraction,
        "seed": seed,
        "buckets": buckets,
    })


def split_index_load(spark, path: str):
    """Load the persisted split assignment lazily: ``(rows, manifest)``
    where rows is (id, fp, group_key, split) — one row per document
    ever split through this store. Tombstoned ids
    (``split_index_delete``) are masked per artifact-dir branch, the
    shared store discipline."""
    return store.load(_SPLIT, spark, path, "split_index_load")


def split_index_delete(spark, path: str, ids) -> None:
    """Takedown path for the split store (the GDPR semantics every
    other store already has): tombstone the given doc ids so they
    vanish from masked loads — a deleted id no longer counts as
    assigned (``on_existing`` sees it as new) and no longer anchors
    fp inheritance. Group-side memory survives as long as ANY other
    row bears the same fp; when the LAST bearer of a text is deleted,
    a re-ingested identical text assigns FRESH (possibly the other
    side) — correct, because the text fully left the corpus and its
    historical side carries no eval-integrity obligation. The
    ``group_key`` values remaining rows carry are opaque labels; a
    deleted keeper id keeps labeling its group. Scoped like the other
    stores; ``split_index_compact`` purges physically."""
    store.delete(_SPLIT, path, ids, "split_index_delete")


def split_index_compact(spark, path: str) -> None:
    """Fold appended split versions into ONE dir, purging tombstoned
    rows physically and dropping the tombstone file — the LSM
    compaction half shared by every store. No-op when already compact
    and tombstone-free; all-tombstoned stores keep the masked form
    (the empty-parquet hazard)."""
    store.compact(_SPLIT, spark, path, "split_index_compact")


def leakage_split_increment(
    spark,
    new_docs: DataFrame,
    text_col: str,
    path: str,
    pairs: DataFrame | None = None,
    on_bridge: str = "error",
    on_existing: str = "error",
    append: bool = True,
    return_stats: bool = False,
):
    """Assign a NEW shard of documents to the persisted leakage-safe
    split WITHOUT moving any already-assigned document — the property
    the batch operator cannot give across refreshes (VERDICT r8): a
    re-run from scratch lets a new doc transitively bridge two
    existing groups, and the merged component must pick one side,
    silently flipping previously-assigned rows. Here stored rows are
    NEVER rewritten (the store is append-only), so side flips are
    structurally impossible; what a bridge changes is only how LOUDLY
    it is handled:

    - a shard text that duplicates an indexed text INHERITS that
      group's (group_key, split) via one fp join;
    - fresh texts group within the shard (exact tier: fp keeper = min
      shard id) and, with ``pairs``, through near-dup components;
    - a component touching exactly ONE existing group's side joins it
      (group_key = that group's key);
    - a component touching ≥2 existing groups with DIFFERENT sides is
      a BRIDGE CONFLICT — the new doc proves two opposite-side groups
      are near-duplicates, i.e. the historical split already leaks
      between them. ``on_bridge='error'`` (default) raises;
      ``'resolve'`` assigns the conflicted component the side of the
      smallest touched group_key (deterministic) and reports the
      conflict count in stats — the eval-set owner decides whether to
      quarantine those groups;
    - components touching no existing group assign fresh: group_key =
      min shard id in the component, side = the manifest's portable
      md5 bucket on the group key (identical to the batch rule).

    ``pairs`` is (id_a, id_b) from any near-dup tier; endpoints may be
    shard ids or ALREADY-INDEXED ids (the shard-vs-index pairs an
    incremental MinHash/SimHash/semantic run emits). Unknown endpoint
    ids raise. Shard ids already in the store follow the shared
    overlap contract: ``on_existing='error'`` raises (default);
    ``'skip'`` returns the STORED assignment for those rows — a
    replayed shard is then a no-op that still returns every row's
    side (a split must never lose rows).

    Returns the shard rows + (group_key, split, inherited); with
    ``append=True`` the newly assigned rows append to the store, so
    successive increments compose. ``return_stats=True`` adds exact
    accounting including ``bridge_conflicts``.

    At 100 TB: O(shard) fingerprinting + one fp-bucketed join against
    the store + CC rounds over the PAIRS graph only (never the corpus)
    — the exact_dedup_increment shuffle budget plus the edges."""
    rows_idx, man = split_index_load(spark, path)
    id_col = man["id_col"]
    seed, buckets = man["seed"], man["buckets"]
    test_threshold = _split_threshold(man["test_fraction"], buckets)
    if on_bridge not in ("error", "resolve"):
        raise ValueError(
            f"leakage_split_increment: on_bridge must be 'error' or "
            f"'resolve', got {on_bridge!r}"
        )

    # ONE shard snapshot feeds every aggregate and join (the ADVICE r8
    # snapshot discipline); fingerprints computed once on it.
    shard = fingerprint(new_docs, text_col, "__fp").localCheckpoint(eager=True)
    n_shard = _increment_precheck(
        "leakage_split_increment", shard, id_col, on_existing, text_col
    )

    # shard ids already assigned: loud by default; 'skip' returns the
    # stored assignment (id join — the text may have changed, the id's
    # assignment has not: an id is split once)
    stored_by_id = rows_idx.select(
        F.col("id").alias(id_col),
        F.col("group_key").alias("__gk_id"),
        F.col("split").alias("__sp_id"),
    )
    with_id = shard.join(stored_by_id, id_col, "left")
    n_existing = with_id.filter(F.col("__gk_id").isNotNull()).count()
    if n_existing and on_existing == "error":
        _raise_already_indexed("leakage_split_increment", n_existing, n_shard)

    # fp inheritance for the rest: one row per stored fp (functional:
    # every id bearing an fp shares one group)
    fp_map = (
        rows_idx.groupBy("fp")
        .agg(
            F.min("group_key").alias("__gk_fp"),
            F.min("split").alias("__sp_fp"),
        )
        .withColumnRenamed("fp", "__fp")
    )
    resolved = with_id.join(fp_map, "__fp", "left")
    fresh = resolved.filter(
        F.col("__gk_id").isNull() & F.col("__gk_fp").isNull()
    )
    # exact tier within the shard: candidate key = min fresh id per fp
    cand = fresh.groupBy("__fp").agg(F.min(id_col).alias("__cand"))
    fresh_nodes = fresh.join(cand, "__fp")

    bridge_conflicts = 0
    if pairs is not None:
        # node resolution: fresh shard id -> its fp candidate key;
        # inherited shard id -> stored group key; indexed id -> stored
        # group key. Unknown ids raise (a near-dup pair must reference
        # known documents). Node ids live in TWO namespaces — shard
        # candidate keys and stored group-key LABELS — and a label can
        # numerically collide with a live shard id (split_index_delete
        # documents that a deleted keeper both keeps labeling its
        # group and frees its id for reuse; review r9 reproduced
        # unrelated docs glued into the dead keeper's group). Encode
        # disjointly: anchors at 2*gk, fresh candidates at 2*cand + 1;
        # fresh-only component labels decode with one shift (min is
        # monotone under 2c+1). Pair-graph ids must stay below 2^62.
        # eager: endpoint is referenced from BOTH id_node branches and
        # the pairs frame is typically an expensive lazy near-dup
        # generator — multi-referenced subtrees get no ReusedExchange
        # (review r9; repo lesson 9)
        endpoint = (
            pairs.select(F.col("id_a").alias("__pid"))
            .unionByName(pairs.select(F.col("id_b").alias("__pid")))
            .distinct()
            .localCheckpoint(eager=True)
        )
        # every frame below is ENDPOINT-RESTRICTED first, so the node
        # aggregates are pair-graph-sized, never store-sized (the
        # 'CC rounds over the PAIRS graph only' contract)
        id_node = (
            fresh_nodes.select(
                F.col(id_col).alias("__pid"),
                (F.col("__cand").cast("long") * 2 + 1).alias("__node"),
            )
            .unionByName(
                resolved.filter(
                    F.col("__gk_id").isNotNull() | F.col("__gk_fp").isNotNull()
                ).select(
                    F.col(id_col).alias("__pid"),
                    (F.coalesce("__gk_id", "__gk_fp").cast("long") * 2
                     ).alias("__node"),
                )
            )
            .unionByName(
                rows_idx.join(endpoint, rows_idx["id"] == endpoint["__pid"],
                              "left_semi")
                .select(F.col("id").alias("__pid"),
                        (F.col("group_key").cast("long") * 2).alias("__node"))
            )
            .join(endpoint, "__pid", "left_semi")
            .groupBy("__pid")
            .agg(F.min("__node").alias("__node"))
        )
        e = (
            pairs.select(F.col("id_a").alias("__pa"), F.col("id_b").alias("__pb"))
            .join(id_node.select(F.col("__pid").alias("__pa"),
                                 F.col("__node").alias("__na")), "__pa", "left")
            .join(id_node.select(F.col("__pid").alias("__pb"),
                                 F.col("__node").alias("__nb")), "__pb", "left")
        ).localCheckpoint(eager=True)
        n_unknown = e.filter(
            F.col("__na").isNull() | F.col("__nb").isNull()
        ).count()
        if n_unknown:
            raise ValueError(
                f"leakage_split_increment: {n_unknown} pair(s) reference "
                "ids that are neither in the shard nor in the store"
            )
        edges = e.select(
            F.col("__na").alias("id_a"), F.col("__nb").alias("id_b")
        ).filter(F.col("id_a") != F.col("id_b"))
        comp = connected_components(edges).select(
            F.col("id").alias("__node"), "component"
        )
        # anchor = an existing group key whose encoded node is IN the
        # pair graph (anchors outside it cannot share a component with
        # anything — restricting keeps comp_info graph-sized)
        anchors = (
            rows_idx.select(F.col("group_key").alias("__gk"), "split")
            .distinct()
            .withColumn("__node", F.col("__gk").cast("long") * 2)
            .join(comp, "__node")
        )
        comp_info = anchors.groupBy("component").agg(
            F.count_distinct("split").alias("__n_sides"),
            F.min(F.struct(F.col("__gk").alias("k"),
                           F.col("split").alias("s"))).alias("__m"),
        ).localCheckpoint(eager=True)
        bridge_conflicts = comp_info.filter(F.col("__n_sides") >= 2).count()
        if bridge_conflicts and on_bridge == "error":
            raise ValueError(
                f"leakage_split_increment: {bridge_conflicts} near-dup "
                "component(s) bridge existing groups on OPPOSITE sides — "
                "the historical split already leaks between them. Pass "
                "on_bridge='resolve' to assign deterministically and "
                "review the bridged groups."
            )
        node_comp = (
            fresh_nodes.select(
                (F.col("__cand").cast("long") * 2 + 1).alias("__node")
            ).distinct()
            .join(comp, "__node", "left")
            .withColumn("component", F.coalesce("component", "__node"))
            .join(comp_info, "component", "left")
        )
        # fresh-only components carry all-odd (2c+1) nodes, so their
        # min-node label decodes to the min candidate key with a shift
        node_assign = node_comp.select(
            "__node",
            F.coalesce(
                F.col("__m.k"), F.shiftright(F.col("component"), 1)
            ).alias("__agk"),
            F.col("__m.s").alias("__asp"),
        )
        fresh_assigned = fresh_nodes.join(
            node_assign,
            (fresh_nodes["__cand"].cast("long") * 2 + 1)
            == node_assign["__node"],
        ).drop("__node")
        gk_fresh = F.col("__agk")
        sp_fresh = F.coalesce(
            F.col("__asp"),
            F.when(
                portable_hash32(["__agk"], seed) % buckets < test_threshold,
                F.lit("test"),
            ).otherwise(F.lit("train")),
        )
    else:
        fresh_assigned = fresh_nodes
        gk_fresh = F.col("__cand")
        sp_fresh = F.when(
            portable_hash32(["__cand"], seed) % buckets < test_threshold,
            F.lit("test"),
        ).otherwise(F.lit("train"))

    out_cols = [c for c in new_docs.columns]
    fresh_out = fresh_assigned.select(
        *out_cols, "__fp",
        gk_fresh.alias("group_key"), sp_fresh.alias("split"),
        F.lit(False).alias("inherited"),
    )
    known_out = resolved.filter(
        F.col("__gk_id").isNotNull() | F.col("__gk_fp").isNotNull()
    ).select(
        *out_cols, "__fp",
        F.coalesce("__gk_id", "__gk_fp").alias("group_key"),
        F.coalesce("__sp_id", "__sp_fp").alias("split"),
        F.lit(True).alias("inherited"),
    )
    # ONE materialization: the returned frame, the append and the
    # stats all read this snapshot (the semantic-increment checkpoint
    # discipline — an appended lazy plan could diverge from the rows
    # the caller received).
    out = fresh_out.unionByName(known_out).localCheckpoint(eager=True)
    n_out = out.count()
    n_inherited = out.filter(F.col("inherited")).count()

    appended = False
    if append:
        # append every row the store has not seen BY ID (skip-existing
        # replays append nothing for their stored rows)
        to_add = out.join(
            rows_idx.select(F.col("id").alias(id_col)), id_col, "left_anti"
        ).select(
            F.col(id_col).alias("id"), F.col("__fp").alias("fp"),
            "group_key", "split",
        )
        appended = to_add.count() > 0
        if appended:
            store.append(_SPLIT, path, man, to_add)
    result = out.drop("__fp")
    if return_stats:
        return result, {
            "shard_rows": n_shard,
            "returned": n_out,
            "skipped_existing": n_existing,
            "inherited": n_inherited,
            "fresh": n_out - n_inherited,
            "bridge_conflicts": bridge_conflicts,
            "appended": appended,
        }
    return result


def dedup_spans_global(
    df: DataFrame,
    text_col: str,
    id_col: str,
    span_tokens: int = 8,
) -> DataFrame:
    """C4-style GLOBAL span dedup (the 'remove any three-sentence span
    occurring twice' rule, token-chunk variant): split every document
    into fixed ``span_tokens``-word chunks, keep only the corpus-wide
    FIRST occurrence of each exact chunk (ordered by (doc, position)),
    and reassemble the surviving chunks in document order.

    Plan — two bounded shuffles, no self-join:
      1. posexplode chunks, shuffle on the CHUNK text for the
         first-occurrence ranking window (row_number over
         (chunk | doc, pos)); hot chunks concentrate but each group
         only ranks its own occurrences — linear, not quadratic.
      2. shuffle kept chunks back on the doc id; reassembly sorts each
         doc's few chunks with array_sort over collected (pos, chunk)
         structs — in-memory per doc, no per-group sort pass.
    Documents whose every chunk is claimed elsewhere drop out (matches
    the SQL oracle's semantics)."""
    w = F.split(F.col(text_col), " ")
    n_chunks = F.ceil(F.size(w) / F.lit(span_tokens)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.array_join(F.slice(w, i * span_tokens + 1, span_tokens), " "),
    )
    exploded = df.select(
        F.col(id_col).alias("__id"), F.posexplode(chunks).alias("__pos", "__chunk")
    )
    first = Window.partitionBy("__chunk").orderBy("__id", "__pos")
    kept = (
        exploded.withColumn("__rn", F.row_number().over(first))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    return (
        kept.groupBy("__id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("__pos", "__chunk"))),
                    lambda s: s["__chunk"],
                ),
                " ",
            ).alias("text_dedup")
        )
        .withColumnRenamed("__id", id_col)
    )


# ---------------------------------------------------------------------------
# 6. Edit-distance similarity join (symmetric-delete filter-verify)
# ---------------------------------------------------------------------------


def edit_distance_pairs(
    df: DataFrame,
    str_col: str,
    id_col: str,
    k: int = 1,
    block_by: "list[str] | None" = None,
) -> DataFrame:
    """Exact edit-distance similarity join: all pairs with
    levenshtein(a, b) <= k, id_a < id_b — the entity-resolution staple
    (near-identical names/titles/SKUs) that a naive implementation
    writes as a cross join with a per-pair distance call.

    Filter-verify via symmetric-delete blocking (the FastSS / SymSpell
    family — public, exact): if ed(a, b) <= k then deleting at most k
    characters from each side can make them EQUAL, so every true pair
    shares at least one entry in the union of its <=k-deletion variant
    sets. Candidates are generated by self-joining the variant index on
    the variant string, then verified with the built-in JVM
    ``levenshtein`` (sharing a variant proves distance <= 2k, not <= k).

    Why this blocking and not q-gram prefixes (Ed-Join): gram-based
    filters degrade to all-pairs exactly on the corpora this join is
    for — near-identical strings (IDs, padded names) where only a
    couple of gram positions vary and every prefix slot falls back to a
    ubiquitous gram. A shared deletion variant instead forces the two
    strings to AGREE on every non-deleted position, so bucket sizes
    track the true-match density: on 'Customer#00000NNNN' names the
    candidate set is within a small factor of the true pair set (pinned
    by a test), never n^2.

    Cost/scale: the index holds O(L^k) variants per string (L+1 for
    k=1) — generated by k explode rounds, all codegen expressions; the
    candidate join shuffles on the variant hash (uniform); verification
    is one JVM levenshtein per DISTINCT candidate pair. Intended for
    small k (1-2), which is the practical typo/OCR regime; for looser
    similarity use the Jaccard/MinHash tiers instead.

    ``block_by``: optional extra equality attributes (the classic
    record-linkage composite blocking rule — "same nation AND name
    within distance k"). They join INTO the variant-index key, so
    candidates from other blocks are never generated, instead of being
    filtered after the expensive pair join — on the sf0.1 customer
    table nation-blocking cuts candidates ~25x before any levenshtein
    runs. Semantically identical to post-filtering the unblocked pairs
    on attribute equality (NULL attributes match nothing, like any
    equi-join key)."""
    block = list(block_by or [])
    base = df.select(
        F.col(id_col).alias("id"), F.col(str_col).alias("s"), *block
    )
    delete_one = lambda v: F.explode(  # noqa: E731 — local expression helper
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.length(v), F.lit(1))),
                lambda i: F.concat(
                    v.substr(F.lit(1), i - F.lit(1)),
                    v.substr(i + F.lit(1), F.length(v)),
                ),
            )
        )
    )
    variants = base.select("id", "s", *block, F.col("s").alias("v"))
    frontier = variants
    for _ in range(k):
        frontier = frontier.select(
            "id", "s", *block, delete_one(F.col("v")).alias("v")
        )
        variants = variants.unionByName(frontier)
    index = variants.dropDuplicates(["id", "v"])
    a, b = index.alias("a"), index.alias("b")
    block_eq = [F.col(f"a.{c}") == F.col(f"b.{c}") for c in block]
    cond = (
        (F.col("a.v") == F.col("b.v"))
        & (F.col("a.id") < F.col("b.id"))
        & (F.abs(F.length(F.col("a.s")) - F.length(F.col("b.s"))) <= k)
    )
    for eq in block_eq:
        cond = cond & eq
    cands = (
        a.join(b, cond)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.s").alias("s_a"),
            F.col("b.s").alias("s_b"),
        )
        .distinct()
    )
    return cands.filter(F.levenshtein("s_a", "s_b") <= k).select(
        "id_a", "id_b", F.levenshtein("s_a", "s_b").alias("dist")
    )


# ---------------------------------------------------------------------------
# 7. Bloom-filter decontamination (the broadcast-filter scale path)
# ---------------------------------------------------------------------------


def _bloom_positions(key_col, num_bits: int, num_hashes: int):
    """k bit positions per key as array<long> — all JVM-side xxhash64
    with literal seeds, so the BUILD and PROBE sides share the exact
    hash family (no Python reimplementation to drift)."""
    return F.array(
        *[
            F.pmod(F.xxhash64(key_col, F.lit(i)), F.lit(num_bits))
            for i in range(num_hashes)
        ]
    )


def bloom_contains(words, pos_matrix):
    """Vectorized bloom membership test: ``pos_matrix`` is an (n, k)
    int64 matrix of bit positions (k = num_hashes); returns bool[n],
    true where ALL k bits are set in the ``words`` uint64 array. The
    single bit-test shared by every probe path (gram hit counting,
    join pre-filtering) so the bit arithmetic cannot drift between
    them."""
    import numpy as np

    w = words[pos_matrix >> 6]
    m = np.uint64(1) << (pos_matrix.astype(np.uint64) & np.uint64(63))
    return ((w & m) != 0).all(axis=1)


def bloom_build(
    df: DataFrame, key_col: str, num_bits: int = 1 << 22, num_hashes: int = 5
):
    """Distributed Bloom-filter build over a key column: each key sets
    ``num_hashes`` bits; bits pack 64-per-word via a map-side-combined
    ``bit_or`` aggregate on the word index, and only the m/64-word
    table (512 KiB at the 4M-bit default) ever reaches the driver.
    Returns a numpy uint64 word array for broadcasting.

    This is the anti-join shape Spark's own runtime row-level filters
    use: when the 'dirty set' (benchmark grams, bad URLs, opted-out
    ids) is millions of keys — too big to broadcast exactly, too small
    to justify shuffling 100 TB of corpus — a fixed-size bloom of it
    broadcasts to every executor and the corpus is filtered map-side
    with zero shuffle, at a quantified false-positive cost
    ((1-e^{-kn/m})^k; defaults give <1% at 500k keys).

    ``num_bits`` must be a multiple of 64: every probe path
    (bloom_gram_hits, bloom_filtered_join) re-derives the bit space as
    len(words)*64, which rounds UP to the word boundary — a
    non-aligned build would set bits mod num_bits while probes test
    mod the rounded size, producing FALSE NEGATIVES. Enforced here at
    the single build point rather than re-checked at every probe."""
    import numpy as np

    if num_bits % 64:
        raise ValueError(
            f"bloom_build: num_bits={num_bits} must be a multiple of 64 "
            "(probe paths derive the bit space as len(words)*64)"
        )

    pos = df.select(F.explode(_bloom_positions(F.col(key_col), num_bits, num_hashes)).alias("p"))
    words = (
        pos.select(
            F.shiftrightunsigned(F.col("p"), 6).alias("w"),
            # F.shiftleft requires a literal count; SQL form takes a column
            F.expr("shiftleft(1L, CAST(p % 64 AS INT))").alias("m"),
        )
        .groupBy("w")
        .agg(F.bit_or("m").alias("bits"))
        .collect()
    )
    arr = np.zeros((num_bits + 63) // 64, dtype=np.uint64)
    for r in words:
        arr[r["w"]] = np.uint64(r["bits"] & 0xFFFFFFFFFFFFFFFF)
    return arr


def bloom_gram_hits(
    df: DataFrame,
    text_col: str,
    id_col: str,
    bloom_words,
    n: int = 5,
    num_hashes: int = 5,
) -> DataFrame:
    """Per document: how many of its DISTINCT word n-grams MIGHT be in
    the bloomed key set (0 false negatives; false positives at the
    filter's rate). Gram positions are computed JVM-side (same exprs as
    the build); the broadcast word array is probed by an Arrow pandas
    UDF with vectorized numpy bit tests — no shuffle, no join: the
    whole decontamination scan is map-side. ``num_hashes`` must match
    the build; the bit-space size is derived from the word array so it
    cannot drift."""
    import numpy as np

    num_bits = len(bloom_words) * 64
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(bloom_words)
    k = num_hashes

    @F.pandas_udf("int")
    def hits(pos_lists: pd.Series) -> pd.Series:
        words = bc.value

        def count(flat):
            if flat is None or len(flat) == 0:
                return 0
            p = np.asarray(flat, dtype=np.int64).reshape(-1, k)
            return int(bloom_contains(words, p).sum())

        return pos_lists.map(count)

    # The probe IS deterministic, but Catalyst treats deterministic
    # UDFs as free to duplicate: a downstream filter on the hit count
    # gets pushed below an upstream repartition Exchange WITH the whole
    # shingle+hash+UDF pipeline cloned into it — which then runs on the
    # pre-repartition partitioning (a small-file scan: ONE task).
    # Measured 4.4s -> 0.7s at sf0.1 by declaring it nondeterministic,
    # which only disables that rewrite.
    hits = hits.asNondeterministic()

    grams = df.select(
        F.col(id_col),
        _token_shingles(F.col(text_col), n).alias("__g"),
    )
    pos = grams.select(
        id_col,
        F.size("__g").alias("n_grams"),
        F.flatten(
            F.transform(
                "__g", lambda g: _bloom_positions(g, num_bits, num_hashes)
            )
        ).alias("__pos"),
    )
    return pos.select(
        id_col, "n_grams", hits(F.col("__pos")).alias("bloom_hits")
    )


def countmin_build(
    df: DataFrame, key_col: str, width: int = 1 << 16, depth: int = 4
):
    """Distributed count-min sketch build over a key column: ``depth``
    independent xxhash64 rows of ``width`` counters. One explode(depth)
    + map-side-combined groupBy; only the depth x width counter table
    (1 MiB at defaults) reaches the driver, regardless of input size.
    Returns a numpy (depth, width) int64 array.

    Completes the fixed-size-sketch family next to the Bloom filter
    (membership) and HLL/approx-percentile (profile): approximate
    COUNTS for astronomically-keyed columns where an exact groupBy's
    shuffle or result size is the bottleneck. Estimates overcount by
    at most eN with probability 1-delta at width=e/eps, depth=ln(1/d);
    never undercount."""
    import numpy as np

    rows = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("d"),
                        F.pmod(F.xxhash64(F.col(key_col), F.lit(1000 + i)), F.lit(width)).alias("b"),
                    )
                    for i in range(depth)
                ]
            )
        ).alias("p")
    )
    counts = (
        rows.groupBy(F.col("p.d").alias("d"), F.col("p.b").alias("b"))
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    )
    arr = np.zeros((depth, width), dtype=np.int64)
    for r in counts:
        arr[r["d"], r["b"]] = r["c"]
    return arr


def countmin_estimate(
    df: DataFrame, key_col: str, sketch, width: int | None = None
) -> DataFrame:
    """Estimated occurrence count per input row's key: min over the
    sketch's depth rows — broadcast numpy probe in an Arrow UDF, keys
    hashed JVM-side with the build's seeds (same family by
    construction). Map-side only; join nothing."""
    import numpy as np

    depth, w = sketch.shape
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(sketch)

    @F.pandas_udf("long")
    def est(pos_lists: pd.Series) -> pd.Series:
        sk = bc.value

        def one(flat):
            p = np.asarray(flat, dtype=np.int64)
            return int(sk[np.arange(len(p)), p].min())

        return pos_lists.map(one)

    pos = F.array(
        *[
            F.pmod(F.xxhash64(F.col(key_col), F.lit(1000 + i)), F.lit(w))
            for i in range(depth)
        ]
    )
    return df.withColumn("est_count", est(pos))


def heavy_hitters(df: DataFrame, key_col: str, capacity: int = 256) -> DataFrame:
    """Misra-Gries heavy hitters with mergeable summaries (Agarwal et
    al., "Mergeable Summaries", PODS'12): ONE pass, bounded state, no
    full groupBy — the top-k path for astronomically-keyed columns
    (tokens of a 100 TB corpus) where even the map-side-combined exact
    count shuffle is the bottleneck. Each partition folds its rows into
    a <= ``capacity``-entry counter summary (Arrow-batched value_counts,
    then the PODS'12 MERGE trim: subtract the (capacity+1)-th largest
    count, keep positives); the per-partition summaries are then
    SUM-merged by one tiny groupBy over <= capacity x partitions rows.

    Guarantee (the certificate the oracle pins): for every key,
    est <= true_count and true_count - est <= n / (capacity + 1), with
    est = 0 for absent keys — so every key with true frequency above
    n/(capacity+1) is present in the output. Returns (item, est); the
    caller thresholds (est alone orders candidates; re-count the
    shortlist exactly if exact ranks matter — it is tiny).

    Scale shape: state is O(capacity) per task regardless of input
    size; the only shuffle moves <= capacity rows per task. The
    estimates (not the guarantee) depend on partition boundaries, so
    ``est`` is not a cross-run-stable value — downstream comparisons
    must use the bounds, never the raw estimate.
    """
    import numpy as np
    from pyspark.sql.types import LongType, StructField, StructType

    cap = int(capacity)
    if cap < 1:
        raise ValueError("heavy_hitters: capacity must be >= 1")
    item_type = df.schema[key_col].dataType
    out_schema = StructType(
        [StructField("item", item_type), StructField("est", LongType())]
    )

    def summarize(batches):
        counts: dict = {}

        def trim() -> None:
            if len(counts) <= cap:
                return
            vals = np.fromiter(counts.values(), dtype=np.int64, count=len(counts))
            # (cap+1)-th largest = index len-cap-1 in ascending order.
            kth = int(np.partition(vals, len(vals) - cap - 1)[len(vals) - cap - 1])
            for k in list(counts):
                c = counts[k] - kth
                if c > 0:
                    counts[k] = c
                else:
                    del counts[k]

        for pdf in batches:
            vc = pdf[key_col].value_counts(dropna=True)
            for item, c in vc.items():
                counts[item] = counts.get(item, 0) + int(c)
            trim()
        if counts:
            yield pd.DataFrame(
                {"item": list(counts.keys()), "est": list(counts.values())}
            )

    summaries = df.select(key_col).mapInPandas(summarize, out_schema)
    return summaries.groupBy("item").agg(
        F.sum("est").cast("long").alias("est")
    )
