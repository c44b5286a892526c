"""Error taxonomy for the claim-check engine.

Mirrors the reference's exception hierarchy
(reference: core/src/main/java/.../storage/errors/ClaimCheckStorageException.java:6,
ClaimCheckStoreException.java:4, ClaimCheckRetrieveException.java:4) re-expressed as
Python exceptions. Inside Spark these surface through pandas-UDF task failure; Spark's
task retry (`spark.task.maxFailures`) is the outer retry layer.
"""

from __future__ import annotations


class ClaimCheckError(Exception):
    """Base class for all engine errors (≙ ClaimCheckStorageException)."""


class ExpiredVersionError(ClaimCheckError):
    """A version-slot manifest no longer exists — expired by
    ``expire_versions`` (or never committed). Callers that can recover
    (e.g. a change-feed consumer rebuilding from a snapshot) catch this
    TYPE, never match on message text."""


class ClaimCheckConfigError(ClaimCheckError, ValueError):
    """Invalid engine configuration — raised driver-side before data flows
    (≙ org.apache.kafka.common.config.ConfigException usage in
    ClaimCheckStorageFactory.java:33-44 and config/*Config.java)."""


class ClaimCheckStoreError(ClaimCheckError, IOError):
    """A blob store/put failed after exhausting retries
    (≙ ClaimCheckStoreException)."""


class ClaimCheckRetrieveError(ClaimCheckError, IOError):
    """A blob retrieve failed after exhausting retries, or the reference URL is
    invalid / outside the configured store (≙ ClaimCheckRetrieveException;
    traversal guard per FileSystemStorage.java:127-132)."""


class DataIntegrityError(ClaimCheckError):
    """Retrieved payload does not match the claim-check metadata.

    The reference checks retrieved length == original_size_bytes
    (ClaimCheckSinkTransform.java:95-106); this engine strengthens the check to
    sha256 equality and keeps the size check.
    """

