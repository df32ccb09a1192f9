"""Schema-keyed memo for the Spark Column expressions a tick rebuilds.

Building a Column from Python is driver work: every
``pyspark.sql.functions`` call is two py4j reflection lookups plus the
call itself, and a name passed as a string costs the same lookup.  The
CDM casts, the merge guard and the change-feed projections depend only on
the schema they are built for, so :func:`schema_memo` builds them once per
schema and every later tick or read reuses them.

Reuse is safe: a Column is an unresolved expression, and Spark resolves
it anew, with fresh expression ids, in every DataFrame that uses it — one
Column may appear twice in one plan (both sides of a join, two branches of
a union) and each use resolves on its own.

The memo contract:

* keyed by the builder's positional arguments (schemas, column names and
  flags — all hashable), so the key is the whole input of the build;
* bounded: at most ``MEMO_SIZE`` entries per builder, least recently used
  out — a fixed constant, not a setting;
* pickles empty: ``sources.stream.register`` pickles the source modules
  by value, and a by-value function carries the memo its code reaches.
  A Column holds a JVM handle that means nothing in another process, so
  the memo drops its entries when pickled.  Its class lives here, and
  ``register`` marks this module for by-value pickling too: the unpickling
  process needs no import of this package.
"""

from __future__ import annotations

import functools
import threading

from pyspark.sql import functions as F

# entries per builder: one per distinct schema (plus flags) the process
# plans for; a multi-entity runner holds a few per entity
MEMO_SIZE = 128


class _Memo(dict):
    """Built values by key, least recently used first."""

    def __init__(self) -> None:
        super().__init__()
        self.lock = threading.Lock()

    def __reduce__(self):
        return type(self), ()


def schema_memo(build):
    """Memoize ``build(*args)`` on its positional arguments (see the
    module docstring for the contract).  The memo is ``fn.memo``."""
    memo = _Memo()

    @functools.wraps(build)
    def memoized(*args):
        with memo.lock:
            if args in memo:
                value = memo[args] = memo.pop(args)  # now most recently used
                return value
        # built outside the lock: a build is py4j round trips, and two
        # threads racing on one key build equal values
        value = build(*args)
        with memo.lock:
            memo[args] = value
            while len(memo) > MEMO_SIZE:
                del memo[next(iter(memo))]
        return value

    memoized.memo = memo
    return memoized


@schema_memo
def columns(names: tuple[str, ...]):
    """``F.col`` of each name: a ``select`` by string names pays a py4j
    lookup per name."""
    return tuple(F.col(n) for n in names)
