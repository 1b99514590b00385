"""The on-disk layout of an index snapshot and its one commit point.

An index directory holds ``manifest.json``, the writer lock and the
artifact paths the manifest names. A path is never written twice:

  <art>/shard=<S>/v<N>/*.parquet  shard S of a shard artifact (docs,
                                  doc_stats, dict_parts, postings) as
                                  snapshot N wrote it
  <art>/v<N>/*.parquet            a stats artifact (dictionary,
                                  dictionary_rev, dictionary_ngrams,
                                  corpus_stats) as snapshot N wrote it

A commit stages its output under ``.staging/``, moves each staged
directory to a new ``v<N>`` path (``install``), then replaces
``manifest.json`` (``replace_json``): that replace is the only commit
point. The manifest records the live path of every artifact and
shard, the per-shard ledger entries, and ``retained``: the previous
snapshot's paths the new one no longer uses. Those stay on disk for
one more commit, so a reader opened on the previous snapshot can
finish; the next commit deletes them (``drop``). Readers load the
manifest once (``Snapshot.load``) and resolve every path through it,
so a reader stays on the snapshot it opened.
"""

from __future__ import annotations

import json
import os
import re
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from gxdindexer_spark.session import empty_frame

MANIFEST = "manifest.json"
STAGING = ".staging"
LOCK = "_writer.lock"


def require_local(index_dir: str) -> None:
    """Refuse an ``index_dir`` with a URL scheme (``file://``,
    ``hdfs://``, ``s3a://``, ...) before anything touches it. The
    manifest is read with ``open``, the writer lock is an ``flock`` and
    a commit installs by ``os.rename``, so an index directory is a
    local or mounted POSIX path; given a URL, those would act on a
    relative path under the working directory while Spark wrote to the
    URL."""
    if re.match(r"[A-Za-z][A-Za-z0-9+.-]*:/", str(index_dir)):
        raise ValueError(
            f"index directory {index_dir!r} is a URL; pass it as a local "
            "or mounted POSIX path"
        )


def replace_json(path: str, obj, tmp: str | None = None) -> None:
    """Write ``obj`` as JSON to ``path`` by an atomic replace, through
    ``tmp`` (default ``<path>.tmp``, on the same filesystem)."""
    tmp = tmp or f"{path}.tmp"
    with open(tmp, "w") as fh:
        json.dump(obj, fh, indent=2)
    os.replace(tmp, path)


def install(root: str, staged: str, rel: str) -> None:
    """Move the staged directory ``staged`` to the new path
    ``root/rel``."""
    os.makedirs(os.path.dirname(f"{root}/{rel}"), exist_ok=True)
    os.rename(staged, f"{root}/{rel}")


def drop(root: str, before, after) -> None:
    """Delete each path of ``before`` that ``after`` does not hold (both
    relative to ``root``), and the directories that leaves empty."""
    for rel in sorted(set(before) - set(after)):
        shutil.rmtree(f"{root}/{rel}", ignore_errors=True)
        parent = os.path.dirname(rel)
        while parent and os.path.isdir(f"{root}/{parent}"):
            if os.listdir(f"{root}/{parent}"):
                break
            os.rmdir(f"{root}/{parent}")
            parent = os.path.dirname(parent)


def sweep(root: str, tops, keep) -> None:
    """Delete everything under the entries ``tops`` of ``root`` that is
    neither a path of ``keep`` nor a directory above one: the cleanup
    after a commit that crashed, or of a layout no manifest names."""
    keep = set(keep)
    above = {rel[:i] for rel in keep for i, c in enumerate(rel) if c == "/"}

    def walk(rel: str) -> None:
        path = f"{root}/{rel}"
        if rel in keep:
            return
        if rel in above:
            for name in os.listdir(path):
                walk(f"{rel}/{name}")
        elif os.path.isdir(path):
            shutil.rmtree(path)
        else:
            os.remove(path)

    for top in tops:
        if os.path.lexists(f"{root}/{top}"):
            walk(top)


class Snapshot:
    """One committed index snapshot: its manifest, ledger and paths,
    loaded once. ``paths`` maps each slot (``<art>/shard=<S>`` of a
    shard artifact, or a stats artifact's name) to its live path, both
    relative to ``index_dir``."""

    def __init__(self, index_dir: str, manifest: dict):
        self.index_dir = index_dir
        self.manifest = manifest
        self.paths: dict = manifest.get("paths", {})
        self.ledger = {
            int(s): e for s, e in manifest.get("ledger", {}).items()
        }
        self.retained: list[str] = manifest.get("retained", [])
        self.snapshot_id = int(manifest.get("snapshot_id", 0))

    @classmethod
    def load(cls, index_dir: str, legacy_ok: bool = False) -> "Snapshot":
        """The committed snapshot of ``index_dir`` (empty when it has
        no manifest). An index whose manifest predates this layout is
        refused, or read as empty with ``legacy_ok``."""
        path = f"{index_dir}/{MANIFEST}"
        if not os.path.isfile(path):
            return cls(index_dir, {})
        with open(path) as fh:
            manifest = json.load(fh)
        if "paths" not in manifest:
            if legacy_ok:
                return cls(index_dir, {})
            raise ValueError(
                f"{index_dir}: written by an older builder, whose layout "
                "this version does not read; rebuild it with "
                "build(docs, index_dir, resume=False)"
            )
        return cls(index_dir, manifest)

    def live(self) -> set[str]:
        """Every path the snapshot reads, relative to ``index_dir``."""
        return set(self.paths.values())

    def shards(self, art: str) -> dict[int, str]:
        """{shard: absolute path} of the shard artifact ``art``."""
        head = f"{art}/shard="
        return {
            int(slot[len(head):]): f"{self.index_dir}/{p}"
            for slot, p in self.paths.items()
            if slot.startswith(head)
        }

    def path(self, art: str) -> str | None:
        """Absolute path of the stats artifact ``art``, if it has one."""
        p = self.paths.get(art)
        return None if p is None else f"{self.index_dir}/{p}"

    def read(self, spark, art: str, shards=None, schema=None):
        """Spark relation over ``art``: a stats artifact, or the
        partitions of ``shards`` (default every one) of a shard
        artifact with their ``shard`` column. With no partition to
        read, an empty frame of ``schema``."""
        if art in self.paths:
            return spark.read.parquet(self.path(art))
        paths = self.shards(art)
        if shards is not None:
            want = set(shards)
            paths = {s: p for s, p in paths.items() if s in want}
        if not paths and schema is not None:
            return empty_frame(spark, schema)
        reader = spark.read.option("basePath", f"{self.index_dir}/{art}")
        if schema is not None:
            reader = reader.schema(schema)
        return reader.parquet(*[paths[s] for s in sorted(paths)])

    def table(self, art: str, shards) -> pa.Table:
        """The partitions of ``shards`` of a shard artifact as one
        Arrow table with its shard column, read with pyarrow."""
        paths = self.shards(art)
        parts = []
        for s in shards:
            t = pq.read_table(paths[s])
            parts.append(
                t.append_column(
                    "shard", pa.array(np.full(t.num_rows, s, np.int32))
                )
            )
        return pa.concat_tables(parts, promote_options="permissive")
