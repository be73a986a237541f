"""Error model — collect-don't-fail-fast validation.

Parity target: reference impuls/errors.py:9-123. ``DataError`` is a
recoverable per-record problem; ``MultipleDataErrors.catch_all`` drains
a generator, collecting every DataError and raising one combined error
at the end, so a curation run reports ALL bad records in one pass.
``InputNotModified`` short-circuits a pipeline whose inputs are
unchanged (the incremental-run signal).
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator
from typing import TypeVar

T = TypeVar("T")


class ImpulsError(Exception):
    pass


class InputNotModified(ImpulsError):
    """All pipeline inputs unchanged -> nothing to do (reference
    impuls/errors.py:9-13; raised by Pipeline.prepare_resources)."""


class DataError(ImpulsError):
    """Recoverable issue with a specific record."""


class MultipleDataErrors(ImpulsError):
    """Aggregate of every DataError collected during one operation."""

    def __init__(self, context: str, errors: list[DataError]):
        self.context = context
        self.errors = errors
        msg = "\n\t".join([f"{context}: {len(errors)} errors:"] + [str(e) for e in errors])
        super().__init__(msg)

    @staticmethod
    def catch_all(context: str, gen: Iterable[T]) -> list[T]:
        """Drain ``gen`` collecting DataErrors; raise one combined error
        at the end if any occurred (reference errors.py catch_all)."""
        out: list[T] = []
        errors: list[DataError] = []
        it: Iterator[T] = iter(gen)
        while True:
            try:
                out.append(next(it))
            except StopIteration:
                break
            except DataError as e:
                errors.append(e)
        if errors:
            raise MultipleDataErrors(context, errors)
        return out
