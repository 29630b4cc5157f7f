"""Store: a dict-like catalog of ordered datasets under a basepath.

Same collection contract as the reference's ``Store``
(reference: ``oups/store/store/store.py:67-301``): keys are indexer
dataclass instances, discovered by scanning the basepath for dataset
manifests at the indexer's depth; ``store[key]`` hands out an
:class:`OrderedDataset`. On a cluster this directory layout maps
directly onto an object-store prefix per key.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

from pyspark.sql import SparkSession

from oups_spark.store.dataset import OrderedDataset
from oups_spark.store.indexer import is_toplevel
from oups_spark.store.manifest import DEFAULT_BACKEND


class Store:
    def __init__(
        self, spark: SparkSession, basepath: str, indexer: type,
        *, backend=None,
    ):
        """``backend``: optional manifest encoding handed to every
        dataset this store opens — e.g.
        ``DeltaLogManifest(PosixTransport())`` for lakehouse file
        counts, or an encoding over an :class:`ObjectStoreTransport`
        subclass on S3/GCS. None keeps the default
        ``JsonManifest(PosixTransport())`` per dataset. Discovery,
        membership and deletion go through its transport."""
        if not is_toplevel(indexer):
            raise TypeError(f"{indexer!r} is not an @toplevel indexer class")
        self.spark = spark
        self.basepath = os.path.abspath(basepath)
        self.indexer = indexer
        self.backend = backend
        os.makedirs(self.basepath, exist_ok=True)

    # --------------------------------------------------------- discovery
    @property
    def _transport(self):
        return (self.backend or DEFAULT_BACKEND).transport

    def _manifest_dirs(self) -> list[str]:
        """Paths (relative to basepath) of every manifest head: a
        bucket LIST on object stores, an ``os.walk`` on posix."""
        return [
            os.path.relpath(d, self.basepath)
            for d in self._transport.heads(self.basepath)
        ]

    def keys(self) -> list:
        """Scan for dataset manifests at the indexer's depth
        (reference: ``store.py:22-64``)."""
        depth = self.indexer.depth()
        found = []
        for rel in self._manifest_dirs():
            if rel == "." or len(rel.split(os.sep)) != depth:
                continue
            try:
                found.append(self.indexer.from_path(rel.replace(os.sep, "/")))
            except (ValueError, TypeError):
                continue
        return sorted(found)

    # --------------------------------------------------------- dict API
    def _path_of(self, key) -> str:
        if not isinstance(key, self.indexer):
            raise TypeError(f"key {key!r} is not a {self.indexer.__name__}")
        return os.path.join(self.basepath, key.to_path)

    def __getitem__(self, key) -> OrderedDataset:
        return OrderedDataset(
            self.spark, self._path_of(key), backend=self.backend
        )

    def get(self, key) -> OrderedDataset:
        return self[key]

    def __contains__(self, key) -> bool:
        return self._transport.has_head(self._path_of(key))

    def __iter__(self) -> Iterator:
        return iter(self.keys())

    def __len__(self) -> int:
        return len(self.keys())

    def __delitem__(self, key) -> None:
        """Drop dataset files and prune now-empty parent dirs
        (reference: ``store.py:230-257``)."""
        path = self._path_of(key)
        OrderedDataset(self.spark, path, backend=self.backend).delete()
        parent = os.path.dirname(path)
        while parent != self.basepath and os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
            parent = os.path.dirname(parent)

    def __repr__(self) -> str:
        return "\n".join(str(k) for k in self.keys()) or "<empty store>"

    # ---------------------------------------------------- intersections
    def iter_intersections(
        self, keys, start=None, end_excl=None, *, batch_rows: int = 1_000_000
    ):
        from oups_spark.store.intersections import iter_intersections

        return iter_intersections(
            self, keys, start=start, end_excl=end_excl, batch_rows=batch_rows
        )
