"""Typed boundary errors, mirroring memlog's error surface.

Reference: ``memlog.ErrOutOfRange`` / ``ErrFutureOffset`` mapped to
HTTP 400 at /root/reference/cmd/server/server.go:285-288 and the
stream-start check at server.go:200-203.
"""

from __future__ import annotations


class LogError(Exception):
    """Base class for event-log boundary errors."""


class OutOfRangeError(LogError):
    """Offset below the retained range (purged) — reference 'invalid offset'."""


class FutureOffsetError(LogError):
    """Offset beyond the latest written record — reference 'future offset'."""


class InvalidOffsetError(LogError):
    """Unparseable offset (non-numeric id → HTTP 400, server.go:272-276)."""


class RecordTooLargeError(LogError):
    """A record exceeds the log's max record size — memlog's
    ErrRecordDataSizeExceeded surface (the reference configures it via
    LOG_MAX_RECORD_SIZE_BYTES, server.go:46, and a write error aborts
    the collector loop, main.go:140-143)."""


class BatchTooLargeError(LogError):
    """An ingest micro-batch holds more records than the sink appends
    at once (``streaming.ingest.DRIVER_BATCH_ROWS``). The reference's
    collector appends one ≤50-event page per poll (main.go:127-143)."""
