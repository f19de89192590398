"""tsad-spark: a from-scratch PySpark-native schema + constraint validation engine.

Capabilities re-expressed (Spark-first, NOT a port) from the reference repo
``expigo/ts_anomaly_detection`` (see SURVEY.md for the operator-by-operator
mapping): windowed residual scoring, threshold-fit-on-baseline / apply-on-test
anomaly verdicts, labeled-interval validation, parallel fan-out evaluation,
resumable stateful iteration, artifact/checkpoint registry — generalized into a
declarative constraint-validation engine over audio-clip/transcript tables.

Design stance (SURVEY.md §7): a declarative ``ConstraintSuite`` compiles, in
one place (``checks.run_suite``), to a minimal number of Spark jobs — one
fused stats+row-checks scan of the fact table, one co-grouped key pass per
key tuple (uniqueness, referential integrity and transcript equality
together; an anti-join only for a reference no uniqueness check covers), one
Arrow-UDF payload pass — never an eager per-step loop. The batch, checkpoint
and streaming drivers share that compiler, its verdict roll-up and
engine/stats.py's one stats roll-up.
"""

from engine.suite import (
    Constraint,
    Domain,
    NotNull,
    Range,
    RefIntegrity,
    RowInvariant,
    Unique,
    ConstraintSuite,
)
from engine.runner import validate

__all__ = [
    "Constraint",
    "Domain",
    "NotNull",
    "Range",
    "RefIntegrity",
    "RowInvariant",
    "Unique",
    "ConstraintSuite",
    "validate",
]
