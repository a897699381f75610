"""Document-key derivation shared by the store, the HTTP shim and the
client. Imports nothing beyond the standard library, so an HTTP client
process never loads the engine (pyspark, pyarrow) just to key a doc."""

from __future__ import annotations

from typing import Any


def derive_key(doc: dict[str, Any]) -> str:
    """`name` first, `id` overrides (server.go:347-354); zero-value key
    when neither is present; non-string raises (reference panics)."""
    key = ""
    if "name" in doc:
        if not isinstance(doc["name"], str):
            raise TypeError(f"pot key must be a string, got {type(doc['name']).__name__}")
        key = doc["name"]
    if "id" in doc:
        if not isinstance(doc["id"], str):
            raise TypeError(f"pot key must be a string, got {type(doc['id']).__name__}")
        key = doc["id"]
    return key
