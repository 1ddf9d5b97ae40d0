"""The one versioned-artifact store behind every persisted serving index.

Nine stores keep the incremental state of the dedup and ANN operators,
and all of them run the lifecycle in this module. A store kind is pure
data (:class:`StoreKind`): its manifest ``kind``, its artifact groups
and any single-file artifact. The families (``dedup``, ``similarity``,
``multimodal``, ``video``) decide which rows enter a store and how
pairs are found; init, save, masked load, tombstone delete, compaction
and the tagged append live here once.

==============  ======================  ==========  ==========================
kind            list keys               prefixes    row columns
==============  ======================  ==========  ==========================
fingerprint     fp_dirs                 fps-        fp, keeper_id
minhash         sig_dirs, band_dirs     sigs-,      id, signature;
                                        bands-      id, band_idx, band_hash
simhash         sh_dirs                 shs-        id, simhash
containment     cg_dirs                 cgs-        id, sh_size, gram,
                                                    is_prefix
leakage_split   split_dirs              split-      id, fp, group_key, split
ivfpq           encoded_dirs (+         encoded-,   id_col, cell, pq_code,
                codebooks_file)         codebooks-  metadata columns
dhash           dh_dirs                 dhs-        id, dhash
audiofp         afp_dirs                afp-        id, afp
videofp         vfp_dirs                vfp-        id, vfp
==============  ======================  ==========  ==========================

Every store also owns ``tombstones-*.parquet`` files. Band dirs are
partitioned by ``band_idx`` and encoded dirs by ``cell``.

Commit protocol: every mutation writes NEW artifact files/dirs, then
atomically repoints a single ``_INDEX.json`` manifest (tmp-write +
``os.replace``). Readers that find no manifest see no index — a torn
save never publishes. Artifacts superseded by a commit are retained for
ONE more commit (grace for lazy DataFrames loaded just before the
re-save — ADVICE r6: immediate deletion broke a pre-compaction frame
executed post-compaction, even single-process) and best-effort deleted
on the commit after next; correctness never depends on the cleanup,
because unreferenced artifacts are invisible to the loader.

Version i of a store is entry i of every group list. Deletes write
(id, scope) tombstones, scope = the number of versions at delete time,
so a later append may re-add a deleted id. Loads read the tombstones
once on the Spark driver and mask each version branch with a broadcast
anti-join. An append with a tag names its artifacts ``<prefix>tag-<tag>``
and records the tag in the manifest's ``tags`` ledger, which compaction
keeps: a replay of the same tag is detected from the ledger alone.

This is the same commit protocol as the exactly-once manifest sink in
``sources.py`` (atomic rename as the only visibility point), applied
to index lifecycle instead of query output.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import uuid
from dataclasses import dataclass
from functools import reduce
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Group:
    """One artifact group: a manifest list of versioned parquet dirs.
    ``schema`` names the row columns and types (``{id_type}`` resolves
    from the manifest; None keeps every stored column). ``derive``
    rebuilds a group from the first group's rows and the manifest
    instead of storing caller rows."""

    key: str
    prefix: str
    schema: str | None
    partition_by: tuple = ()
    derive: Callable | None = None

    @property
    def fields(self) -> list[tuple[str, str]]:
        """(name, type) per row column of ``schema``."""
        return [tuple(part.split(None, 1)) for part in self.schema.split(", ")]


@dataclass(frozen=True)
class StoreKind:
    """A store kind as data. ``id_field`` is the column tombstones
    mask (None: the manifest's ``id_col``); ``file`` is the
    (manifest key, prefix) of a single-file artifact."""

    kind: str
    format_version: int
    groups: tuple
    id_field: str | None = "id"
    file: tuple | None = None


def _artifacts(spec: StoreKind, man: dict) -> set:
    """The artifact names a manifest references directly — NOT its
    grace-retained set, which belongs to the previous version."""
    arts = {d for g in spec.groups for d in man.get(g.key, [])}
    for key in ("tombstones_file", spec.file and spec.file[0]):
        if key and man.get(key):
            arts.add(man[key])
    return arts


def commit_manifest(spec: StoreKind, path: str, manifest: dict) -> None:
    """Atomically publish ``manifest`` as ``path/_INDEX.json`` with
    one-generation retention, stamped with the kind and its format.
    Only artifacts with this kind's prefixes are ever touched. The
    superseded manifest's artifacts are recorded under ``retained``
    and kept until the next commit.

    Concurrency contract (ADVICE r7): ONE committer per index path at
    a time. The read-modify-write of the previous manifest takes no
    lock, so two simultaneous commits to the same path can lose one
    append's dirs from the final manifest, and each commit's
    post-publish cleanup deletes artifacts absent from ITS keep set —
    including the other writer's freshly written generation. Torn
    single-writer saves stay safe (the uuid tmp name below means even
    an abandoned tmp from a killed process can never be half-renamed
    by a later commit); concurrent writers must be serialized
    externally — which is why every query/bench call site uses a
    pid-scoped path."""
    mpath = os.path.join(path, "_INDEX.json")
    prev_live: set = set()
    if os.path.exists(mpath):
        try:
            with open(mpath, encoding="utf-8") as fh:
                prev_live = _artifacts(spec, json.load(fh))
        except (OSError, ValueError, KeyError):
            pass  # unreadable predecessor: no grace set
    live = _artifacts(spec, manifest)
    manifest = {
        **manifest,
        "format_version": spec.format_version,
        "kind": spec.kind,
        "retained": sorted(prev_live - live),
    }
    tmp = os.path.join(path, f"._INDEX.json.{uuid.uuid4().hex[:12]}.tmp")
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump(manifest, fh)
    os.replace(tmp, mpath)  # commit point
    keep = live | prev_live
    # uuid-named tmp files from a killed writer are dead the moment a
    # commit lands (ours was just renamed away) — sweep them with the
    # superseded artifacts
    pref = (*(g.prefix for g in spec.groups), "tombstones-", "._INDEX.json.")
    if spec.file:
        pref = (*pref, spec.file[1])
    for entry in os.listdir(path):
        if entry.startswith(pref) and entry not in keep:
            target = os.path.join(path, entry)
            try:
                shutil.rmtree(target) if os.path.isdir(target) else os.remove(target)
            except OSError:
                pass


def read_manifest(spec: StoreKind, path: str, op: str) -> dict:
    """Read a committed manifest: FileNotFoundError when no commit
    ever landed (torn save or wrong path), ValueError when the store
    is another kind or another format. ``op`` names the caller."""
    mpath = os.path.join(path, "_INDEX.json")
    if not os.path.exists(mpath):
        raise FileNotFoundError(
            f"{op}: no _INDEX.json under {path} — not a committed index "
            "(torn save, or wrong path)"
        )
    with open(mpath, encoding="utf-8") as fh:
        man = json.load(fh)
    if man.get("kind") != spec.kind:
        raise ValueError(
            f"{op}: {path} is a {man.get('kind')!r} store, expected kind "
            f"{spec.kind!r}"
        )
    if man.get("format_version") != spec.format_version and man.get(spec.groups[0].key):
        raise ValueError(
            f"{op}: {path} is a format_version {man.get('format_version')} "
            f"{spec.kind} store; this build reads format_version "
            f"{spec.format_version} — rebuild it"
        )
    return man


def _write_version(spec: StoreKind, path: str, rows: DataFrame, man: dict,
                   token: str) -> dict:
    """Write one version (every group) named ``<prefix><token>``;
    returns {list key: dir name}."""
    from big_data_analysis_spark.io import write_parquet

    out = {}
    for g in spec.groups:
        frame = g.derive(rows, man) if g.derive else rows
        if g.schema:
            frame = frame.select(*(c for c, _t in g.fields))
        d = f"{g.prefix}{token}"
        write_parquet(frame, os.path.join(path, d),
                      partition_by=list(g.partition_by) or None)
        out[g.key] = d
    return out


def init(spec: StoreKind, path: str, meta: dict) -> None:
    """Commit an EMPTY store: the empty state lives purely in the
    manifest (an empty parquet dir would be schema-less and
    unreadable), and ``load`` materializes it from ``schema``."""
    os.makedirs(path, exist_ok=True)
    commit_manifest(spec, path, {**meta, **{g.key: [] for g in spec.groups}})


def save(spec: StoreKind, path: str, rows: DataFrame, meta: dict) -> None:
    """Write ``rows`` as the store's first version and commit a fresh
    manifest carrying ``meta``."""
    os.makedirs(path, exist_ok=True)
    dirs = _write_version(spec, path, rows, meta, uuid.uuid4().hex[:12])
    commit_manifest(spec, path, {**meta, **{k: [d] for k, d in dirs.items()}})


def _masker(spec: StoreKind, spark, path: str, man: dict):
    """mask(frame, i): broadcast-anti-join away the ids whose tombstone
    scope covers version i. The tombstones are read once, here."""
    tombs = None
    if man.get("tombstones_file"):
        import pyarrow.parquet as pq_

        tombs = pq_.read_table(os.path.join(path, man["tombstones_file"])).to_pandas()
    id_field = spec.id_field or man["id_col"]

    def mask(frame: DataFrame, i: int) -> DataFrame:
        dead = [] if tombs is None else tombs.loc[tombs["scope"] > i, "id"].tolist()
        if not dead:
            return frame
        tomb = spark.createDataFrame(
            [(v,) for v in dead], frame.select(id_field).schema
        )
        return frame.join(F.broadcast(tomb), id_field, "left_anti")

    return mask


def load(spec: StoreKind, spark, path: str, op: str):
    """Lazy ``(*frames, manifest)``, one frame per group. Multi-version
    stores union per-dir scans (Spark refuses multi-root reads of
    separately-partitioned dirs); a predicate on a partition column
    prunes each branch's listing independently. Tombstoned ids are
    masked per branch, scoped to the versions that existed when the
    delete committed."""
    man = read_manifest(spec, path, op)
    mask = _masker(spec, spark, path, man)
    frames = []
    for g in spec.groups:
        if not man[g.key]:
            frames.append(spark.createDataFrame([], g.schema.format(
                id_type=man.get("id_type", "bigint"))))
            continue
        frame = reduce(DataFrame.unionByName, [
            mask(spark.read.parquet(os.path.join(path, d)), i)
            for i, d in enumerate(man[g.key])
        ])
        if g.schema:
            frame = frame.select(*(
                F.col(c).cast(t) if c in g.partition_by else c
                for c, t in g.fields
            ))
        frames.append(frame)
    return (*frames, man)


def load_version(spec: StoreKind, spark, path: str, man: dict,
                 name: str) -> DataFrame:
    """The masked rows of ONE version of the first group: the artifact
    dir ``name`` listed in ``man``."""
    i = man[spec.groups[0].key].index(name)
    return _masker(spec, spark, path, man)(
        spark.read.parquet(os.path.join(path, name)), i)


def delete(spec: StoreKind, path: str, ids, op: str) -> None:
    """Tombstone ``ids`` (a sequence or a 1-column DataFrame) without
    rewriting any artifact. Tombstones consolidate to the max scope per
    id (a re-deleted id must mask every version that exists NOW); an
    empty id set is a no-op with no version bump."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq_

    man = read_manifest(spec, path, op)
    if isinstance(ids, DataFrame):
        if len(ids.columns) != 1:
            raise ValueError(
                f"{op}: ids DataFrame must have exactly one column, "
                f"got {ids.columns}"
            )
        id_values = [r[0] for r in ids.distinct().collect()]
    else:
        id_values = list(dict.fromkeys(ids))
    id_values = [v for v in id_values if v is not None]
    if not id_values:
        return  # manifest untouched
    new = pd.DataFrame({"id": id_values, "scope": len(man[spec.groups[0].key])})
    if man.get("tombstones_file"):
        old = pq_.read_table(os.path.join(path, man["tombstones_file"])).to_pandas()
        new = (
            pd.concat([old, new], ignore_index=True)
            .groupby("id", as_index=False)["scope"]
            .max()
        )
    tf = f"tombstones-{uuid.uuid4().hex[:12]}.parquet"
    pq_.write_table(
        pa.Table.from_pandas(new, preserve_index=False), os.path.join(path, tf)
    )
    commit_manifest(spec, path, {**man, "tombstones_file": tf})


def compact(spec: StoreKind, spark, path: str, op: str) -> None:
    """Fold every version into ONE, purging tombstoned rows physically
    and dropping the tombstone file; derived groups are rebuilt from
    the folded rows. No-op when already compact. A store whose every
    row is tombstoned keeps its masked form: writing the empty frame
    would publish a schema-less dir and brick every later load. The
    ``tags`` ledger survives, so a replay landing after compaction is
    still detected."""
    man = read_manifest(spec, path, op)
    if len(man[spec.groups[0].key]) <= 1 and not man.get("tombstones_file"):
        return
    rows = load(spec, spark, path, op)[0]
    if rows.head() is None:
        return
    dirs = _write_version(spec, path, rows, man, uuid.uuid4().hex[:12])
    new_man = {k: v for k, v in man.items() if k != "tombstones_file"}
    commit_manifest(spec, path, {**new_man, **{k: [d] for k, d in dirs.items()}})


def replayed(man: dict, tag: str | None, op: str) -> bool:
    """Whether ``tag`` already committed to this store (the tags
    ledger). A tag becomes part of artifact names, so it must match
    ``[A-Za-z0-9_.-]+``."""
    if tag is None:
        return False
    if not re.fullmatch(r"[A-Za-z0-9_.-]+", str(tag)):
        raise ValueError(
            f"{op}: version_tag {tag!r} must match [A-Za-z0-9_.-]+ "
            "(it becomes an artifact dir name)"
        )
    return str(tag) in man.get("tags", ())


def append(spec: StoreKind, path: str, man: dict, rows: DataFrame,
           tag: str | None = None, defer=None) -> None:
    """Append ``rows`` as a new version on top of ``man`` (the manifest
    the caller loaded, so params and dirs come from one generation).
    A tagged append names its artifacts ``<prefix>tag-<tag>`` and
    records the tag in the ``tags`` ledger in the same commit.
    ``defer`` takes the write+commit as a thunk instead of running it
    (the dedup cascade overlaps appends with downstream tiers)."""

    def commit() -> None:
        token = uuid.uuid4().hex[:12] if tag is None else f"tag-{tag}"
        dirs = _write_version(spec, path, rows, man, token)
        new_man = {**man, **{k: man[k] + [d] for k, d in dirs.items()}}
        if tag is not None:
            new_man["tags"] = [*man.get("tags", []), str(tag)]
        commit_manifest(spec, path, new_man)

    if defer is not None:
        defer(commit)
    else:
        commit()
