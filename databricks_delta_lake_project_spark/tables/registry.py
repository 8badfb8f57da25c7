"""Shared OCC persist loop for the durable governance registries.

The grants registry (`governance/access_control._persist_grants`) and
the catalog registry (`governance/catalog_registry._persist`) follow
one discipline: RE-READ the on-disk rows with the version that read
saw, merge this session's journal onto them (never a blind overwrite
from session memory — a rival session's delete that landed meanwhile
must stay deleted), and commit with the OCC check PINNED to that
version, so a rival commit landing anywhere between the merge-read
and the write loses us the race (bounded retry) instead of being
silently overwritten. A rival that CREATES the registry inside the
window is a lost race too. This module holds the one copy of that
skeleton; the registries supply their row shapes via callbacks.
"""

from __future__ import annotations

from typing import Callable, TypeVar

from pyspark.sql import DataFrame, SparkSession

T = TypeVar("T")


def persist_versioned(
    spark: SparkSession,
    path: str,
    read_versioned: Callable[[], tuple[T, int | None]],
    merge: Callable[[T], DataFrame],
    attempts: int = 5,
) -> T:
    """Run the read→merge→pinned-overwrite loop until a commit wins or
    ``attempts`` straight OCC losses surface the last error. Returns
    the final merge-read's disk state (the rows the successful commit
    was built on) so callers can adopt it / diff against it."""
    from . import LakeTable
    from .delta_log import ConcurrentModificationError

    last_err: Exception | None = None
    for _ in range(attempts):
        disk, ver = read_versioned()
        df = merge(disk)
        try:
            if ver is not None:
                # pin OCC to the version the merge-read saw: a rival
                # commit between that read and this write must lose us
                # the race (→ retry), never be silently overwritten
                LakeTable.for_path(spark, path).overwrite(
                    df, expected_version=ver
                )
            elif LakeTable.is_table(path):
                # a rival CREATED the registry since our read — that
                # is a lost race too: re-read and merge onto its rows
                last_err = ConcurrentModificationError(
                    f"registry created at {path} since merge-read"
                )
                continue
            else:
                LakeTable.create(spark, path, df=df)
        except ConcurrentModificationError as e:
            last_err = e
            continue
        return disk
    raise last_err  # type: ignore[misc]  # attempts >= 1 always sets it
