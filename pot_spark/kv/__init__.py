"""pot-faithful KV/document layer (SURVEY.md §2-B-1).

Reproduces the reference's surface — upsert/get/remove/list/archive with
lease-based optimistic concurrency — as versioned parquet snapshots plus
an atomic put-if-absent commit manifest, replacing GCS object generations
(reference /root/reference/server.go:272-548, 617-702).
"""

import importlib

from pot_spark.kv.errors import CommitConflict, NoRewriteViolated

# PEP 562 lazy re-exports: store.py imports pyspark and pyarrow, so an
# eager import here would make every pot_spark.kv submodule pay for the
# engine — the GCS emulator and HTTP client processes included, which
# never open a store.
_LAZY = {
    "PotStore": "pot_spark.kv.store",
    "CreateResponse": "pot_spark.kv.store",
    "PotClient": "pot_spark.kv.client",
}

__all__ = [
    "PotStore",
    "PotClient",
    "CreateResponse",
    "NoRewriteViolated",
    "CommitConflict",
]


def __getattr__(name: str):
    if name in _LAZY:
        return getattr(importlib.import_module(_LAZY[name]), name)
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
