"""EventLogService — the reference HTTP API surface over a DataFrame log.

Maps the four endpoints of /root/reference/cmd/server/server.go:61-64
onto the relational log model. The service layer is the only place that
collects — and only ever ≤ page_size rows or a 1-row aggregate, exactly
like the reference's HTTP handlers. The data path stays distributed.

Behavioral quirks reproduced on purpose (SURVEY §6.3-6.4):

- purged offsets *inside* a page are silently skipped, but a replay
  *started* at a purged offset raises ``OutOfRangeError``
  (server.go:235-237 vs :200-203);
- point lookup returns the stored value verbatim (server.go:294-295).
  The reference's page path re-marshals decoded events while point
  lookups return raw bytes — field order can differ between the two.
  Per the documented quirk decision (README §Reference-quirk 4) the
  engine stores ONE canonical ``to_json`` serialization at the sink
  and every read path returns those stored bytes verbatim, so both
  endpoints agree byte-for-byte.
- ``last_page`` assumes the reference's contiguity invariant: memlog
  offsets are dense in [earliest, latest] and purges only drop a
  prefix (enforced by the sink; asserted by
  test_last_page_matches_get_start). A mid-log hole — impossible
  through this engine's write path — would backfill the page with
  older offsets where the reference would return a shorter page.
"""

from __future__ import annotations

import re
from typing import Any

from pyspark.sql import DataFrame

from ..errors import FutureOffsetError, InvalidOffsetError, OutOfRangeError
from .model import (
    PAGE_SIZE,
    get_start,
    last_page,
    log_range,
    point_lookup,
    replay_from,
    watch_start,
)


class EventLogService:
    """Query service over a log DataFrame (offset + value columns)."""

    def __init__(
        self,
        log_df: DataFrame,
        offset_col: str = "offset",
        value_col: str = "value",
        page_size: int = PAGE_SIZE,
    ) -> None:
        self.df = log_df
        self.offset_col = offset_col
        self.value_col = value_col
        self.page_size = page_size

    # -- GET /api/v1/range (server.go:305-327) -------------------------
    def range(self) -> dict[str, int] | None:
        row = log_range(self.df, self.offset_col).first()
        if row is None or row["earliest"] is None:
            return None  # reference: HTTP 204 on empty log
        return {"earliest": int(row["earliest"]), "latest": int(row["latest"])}

    @staticmethod
    def _parse_offset(offset: int | str) -> int:
        """strconv.Atoi-strict offset parse (server.go:272-276).

        Python's int() accepts underscores, surrounding whitespace and
        unicode digits that Go's Atoi rejects with a 400 — only ASCII
        [-]digits pass here.
        """
        if isinstance(offset, bool) or not (
            isinstance(offset, int)
            or (isinstance(offset, str) and re.fullmatch(r"-?[0-9]+", offset))
        ):
            raise InvalidOffsetError(f"invalid offset: {offset!r}")
        return int(offset)

    # -- GET /api/v1/events/:id (server.go:269-302) --------------------
    def get_event(self, offset: int | str) -> Any:
        off = self._parse_offset(offset)
        # negative offsets are below any log start (memlog offsets are
        # non-negative) → ErrOutOfRange even on an empty log, matching
        # memlog's classification; both map to HTTP 400 upstream. The
        # parsed value decides it, so no range() job runs first.
        if off < 0:
            raise OutOfRangeError(f"invalid offset: {off}")
        rng = self.range()
        if rng is None or off > rng["latest"]:
            raise FutureOffsetError(f"future offset: {off}")
        if off < rng["earliest"]:
            raise OutOfRangeError(f"invalid offset: {off}")
        row = point_lookup(self.df, off, self.offset_col).first()
        if row is None:  # purged between range check and read
            raise OutOfRangeError(f"invalid offset: {off}")
        return row[self.value_col]  # stored bytes verbatim (server.go:294-295)

    # -- GET /api/v1/events (page path, server.go:211-267) -------------
    def get_events(self) -> list[Any]:
        page = last_page(self.df, self.page_size, self.offset_col)
        return [r[self.value_col] for r in page.collect()]

    def page_start(self) -> int:
        rng = self.range()
        if rng is None:
            return -1
        return get_start(rng["earliest"], rng["latest"], self.page_size)

    # -- GET /api/v1/events?watch=true (server.go:130-209) ------------
    def watch_start(self, start: int | str | None = None) -> int:
        """Atoi-strict parse + one ``range()`` + the model's start rule
        (``model.watch_start``): the cursor a watch opens at."""
        if start is not None:
            start = self._parse_offset(start)
        rng = self.range() or {"earliest": None, "latest": None}
        return watch_start(rng["earliest"], rng["latest"], start)

    def replay(self, start: int | str | None = None) -> DataFrame:
        """Ordered replay DataFrame from ``watch_start(start)``: empty
        until new data arrives by default (the reference's 'now'), and
        ``OutOfRangeError`` for a purged start (server.go:200-203)."""
        return replay_from(self.df, self.watch_start(start), self.offset_col)
