"""CHECK-constraint support for VersionedTable — Delta
``ALTER TABLE ADD CONSTRAINT`` parity.

Predicates live
in an atomic ``_constraints.json`` sidecar under the table root, adding
one scans the CURRENT snapshot first (Delta's rule — you cannot
constrain a table whose data already violates it), and every write
funnels through the host's single ``_commit`` choke point where
``_enforce_constraints`` counts violators of every predicate in ONE
aggregate pass. SQL CHECK semantics: only a FALSE predicate violates —
NULL passes (write ``col IS NOT NULL AND …`` to also reject NULLs).
A failed write raises before anything is committed, so the table stays
at its previous version (Delta's InvariantViolation behavior).

On a bucketed table the enforced frame is the rewritten buckets —
incoming rows plus the touched buckets' carried-forward rows — which is
exactly the set Delta validates when a merge rewrites files.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["CheckConstraints"]


class CheckConstraints:
    """Mixin; hosts provide ``spark``, ``root``, ``exists()``,
    ``read()`` and call ``_enforce_constraints(df)`` in ``_commit``."""

    @property
    def _constraints_path(self) -> str:
        return os.path.join(self.root, "_constraints.json")

    def constraints(self) -> dict[str, str]:
        """name -> SQL predicate, empty when none are defined."""
        if not os.path.exists(self._constraints_path):
            return {}
        with open(self._constraints_path) as f:
            return json.load(f)

    def _write_constraints(self, cons: dict[str, str]) -> None:
        os.makedirs(self.root, exist_ok=True)
        tmp = self._constraints_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(cons, f, indent=1, sort_keys=True)
        os.replace(tmp, self._constraints_path)

    def add_constraint(self, name: str, predicate: str) -> None:
        """Add a named CHECK predicate. Scans the current snapshot
        first and fails if existing data violates; on an empty table
        the expression is parsed eagerly (Column construction is lazy;
        the SQL parser is invoked directly) so a typo fails here, not
        on the first write."""
        cons = self.constraints()
        if name in cons:
            raise ValueError(f"constraint {name!r} already exists: {cons[name]}")
        if self.exists():
            bad = (
                self.read()
                .where(~F.coalesce(F.expr(predicate), F.lit(True)))
                .count()
            )
            if bad:
                raise ValueError(
                    f"cannot add constraint {name!r}: {bad} existing rows "
                    f"violate ({predicate})"
                )
        else:
            try:
                self.spark._jsparkSession.sessionState().sqlParser().parseExpression(
                    predicate
                )
            except Exception as e:  # Py4J wraps the ParseException
                raise ValueError(
                    f"constraint {name!r} does not parse: ({predicate})"
                ) from e
        cons[name] = predicate
        self._write_constraints(cons)

    def drop_constraint(self, name: str) -> None:
        cons = self.constraints()
        if name not in cons:
            raise ValueError(f"no constraint named {name!r}")
        del cons[name]
        self._write_constraints(cons)

    def _enforce_constraints(self, df: DataFrame) -> None:
        """One aggregate pass counting violators of EVERY constraint —
        raises before anything is written when any count is nonzero."""
        cons = self.constraints()
        if not cons:
            return
        aggs = [
            F.count_if(~F.coalesce(F.expr(pred), F.lit(True))).alias(name)
            for name, pred in cons.items()
        ]
        row = df.agg(*aggs).collect()[0]
        for name, pred in cons.items():
            if row[name]:
                raise ValueError(
                    f"CHECK constraint {name!r} violated by {row[name]} "
                    f"incoming rows: ({pred}); nothing was committed"
                )
