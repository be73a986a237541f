"""Declarative entity selectors that compile to DataFrame predicates.

Parity target: reference impuls/selector.py:15-78 (``selector.Routes``
compiles agency/type/id filters into a WHERE clause).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Routes:
    """Select routes by agency, type(s), and/or explicit ids. An empty
    selector matches everything (reference semantics)."""

    agency_id: str | None = None
    type: int | None = None
    types: tuple[int, ...] = ()
    ids: tuple[str, ...] = ()

    def predicate(self) -> Column:
        p = F.lit(True)
        if self.agency_id is not None:
            p = p & (F.col("agency_id") == self.agency_id)
        if self.type is not None:
            p = p & (F.col("type") == self.type)
        if self.types:
            p = p & F.col("type").isin(*self.types)
        if self.ids:
            p = p & F.col("route_id").isin(*self.ids)
        return p

    def apply(self, routes: DataFrame) -> DataFrame:
        return routes.filter(self.predicate())
