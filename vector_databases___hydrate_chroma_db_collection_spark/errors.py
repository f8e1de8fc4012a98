"""Typed engine errors.

The reference implements fail-fast validation via SAS macro error
flags and log messages (reference sas:219-224, 324-334, 353-374,
392-417, gates at sas:444-502). We surface the same checks as typed
Python exceptions raised before any job is submitted.
"""

from __future__ import annotations


class EngineError(Exception):
    """Base class for all engine errors."""


class TableNotFoundError(EngineError):
    """Input table/path does not exist (reference: caslib resolution
    failure, sas:324-334, 452-466)."""


class PatternMatchError(EngineError):
    """Embedding column pattern matched no columns (reference:
    `filter(like=pattern)` yielding empty frame, sas:156-161)."""


class InvalidPathError(EngineError):
    """Collection persistent path is invalid (reference: path scheme
    parse + sasserver: enforcement, sas:392-417, 473-498)."""


class DuplicateIdError(EngineError):
    """Document ids are not unique (reference assumes uniqueness,
    README.md:73; Chroma rejects duplicate ids at add time)."""


class EmbeddingDimensionError(EngineError):
    """Vector column has inconsistent or null-containing dimensions
    under the strict policy (reference quirk Q1: per-row dropna would
    silently shorten vectors, sas:162)."""


class CollectionNotFoundError(EngineError):
    """Collection manifest missing where one is required."""


class DisabledError(EngineError):
    """Pipeline node disabled via run-time trigger (reference:
    `_hcdc_run_trigger`, sas:244-255, 527-538)."""


class StaleIndexError(EngineError):
    """A persisted ANN index sidecar recorded a source-collection
    etag that no longer matches the collection's current state (an
    update/delete/upsert swapped the ``_current`` data dir, or an
    append added files): serving the index could return deleted ids
    or miss updated vectors — or its sidecar predates
    ``store.FORMAT_VERSION``. Rebuild the index from the current
    collection (or, for a stale etag only, read with
    ``verify_source=False`` to accept the staleness explicitly)."""


class NearDuplicateError(EngineError):
    """Hydration input contains near-duplicates of already-ingested
    corpus content and the collection was hydrated with
    ``near_dup_policy='error'`` (the content-level sibling of
    ``DuplicateIdError``: same id semantics Chroma enforces, applied
    to document TEXT via the persisted MinHash band index)."""


class SemanticDuplicateError(EngineError):
    """Hydration input contains EMBEDDING-level near-duplicates of
    already-ingested vectors and the collection was hydrated with
    ``semantic_dup_policy='error'`` — the vector-side sibling of
    ``NearDuplicateError``: a paraphrase or re-encode whose text
    differs but whose embedding cosine against a stored vector
    reaches the threshold (gated via the persisted IVF index)."""


class TombstonedIdError(EngineError):
    """An ``ivf_append``/``ivf_pq_append`` batch contains ids the
    index has TOMBSTONED (``ivf_delete`` masked them at serve time
    but their rows are still physically present in the cells
    dataset): re-appending would create a second physical row under
    the same id, and the id-granular tombstone mask would hide the
    NEW row along with the old one. Run ``ivf_compact`` first — it
    physically purges tombstoned rows and clears the mask — then
    retry the append."""
