"""Names kept from the engine's former native commit log.

Every table's commit log is the Delta ``_delta_log``
(``delta_log.DeltaLogBackend``).
"""

from .delta_log import ConcurrentModificationError, DeltaLogBackend  # noqa: F401

# perfbench/tracing.py patches ``log.commit`` by name; the engine never
# calls it, so each commit is counted once, through DeltaLogBackend.
commit = DeltaLogBackend.commit
