"""Declarative constraint suite.

The reference validates implicitly — threshold predicates over scores
(``models/simple_rnn/anomaly_detection.py:462-463``), labeled-interval
membership (``:463-465``), enum dispatch on dataset kind (``:26-31``). We make
those semantics explicit: a constraint is a named, declarative check that
compiles (engine/checks.py) into Spark expressions/jobs producing

  * a verdict row   ``(constraint, passed, violation_count, rows_scanned)``
  * a violations DataFrame (the offending rows, keyed)

mirroring the reference's "count + exact positions" verdict contract
(SURVEY.md §3.1 invariants a-d).

Row-local constraints (NotNull / Range / Domain / RowInvariant) expose
``violation_expr`` — a boolean Column where True marks a violating row — so the
whole set fuses into ONE conditional-aggregation pass over the fact table.
Cross-row constraints (Unique, RefIntegrity) on one key tuple compile to one
co-grouped shuffle agg on pruned columns; a RefIntegrity on a key no Unique
covers compiles to an anti-join. Payload constraints (PayloadCheck) compile to
one Arrow-UDF decode pass over the binary column (engine/audio.py).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Constraint:
    """Base class. ``name`` must be unique within a suite."""

    name: str

    @property
    def row_local(self) -> bool:
        return False


@dataclass(frozen=True)
class NotNull(Constraint):
    """Null-rate check: fails if null fraction of ``column`` exceeds
    ``max_null_rate`` (0.0 = no nulls allowed). Violation rows = null rows."""

    column: str = ""
    max_null_rate: float = 0.0

    @property
    def row_local(self) -> bool:
        return True

    def violation_expr(self) -> Column:
        return F.col(self.column).isNull()


@dataclass(frozen=True)
class Range(Constraint):
    """Inclusive bounds check (reference analog: threshold predicate
    ``losses >= THRESHOLD``, anomaly_detection.py:462, and labeled-interval
    membership ``between``, :463-465). Nulls do not violate Range."""

    column: str = ""
    lo: float | int | None = None
    hi: float | int | None = None

    @property
    def row_local(self) -> bool:
        return True

    def violation_expr(self) -> Column:
        c = F.col(self.column)
        cond = F.lit(False)
        if self.lo is not None:
            cond = cond | (c < F.lit(self.lo))
        if self.hi is not None:
            cond = cond | (c > F.lit(self.hi))
        return c.isNotNull() & cond


@dataclass(frozen=True)
class Domain(Constraint):
    """Value-set membership (reference analog: Dataset enum dispatch,
    anomaly_detection.py:26-31). Nulls do not violate Domain (use NotNull)."""

    column: str = ""
    allowed: tuple = ()

    @property
    def row_local(self) -> bool:
        return True

    def violation_expr(self) -> Column:
        c = F.col(self.column)
        return c.isNotNull() & ~c.isin(list(self.allowed))


@dataclass(frozen=True)
class RowInvariant(Constraint):
    """Arbitrary per-row invariant. ``make_violation`` maps the DataFrame to a
    boolean Column (True = violation). The column may be produced by a
    vectorized pandas UDF — e.g. the decoded-PCM SNR>=30dB + transcript
    equality invariant (engine/audio.py), the Spark analog of the reference's
    reconstruct-and-compare (anomaly_detection.py:326-343)."""

    make_violation: Callable[[DataFrame], Column] = None  # type: ignore[assignment]

    @property
    def row_local(self) -> bool:
        return True

    def violation_expr_for(self, df: DataFrame) -> Column:
        return self.make_violation(df)


@dataclass(frozen=True)
class Unique(Constraint):
    """Key uniqueness. Compiles to the co-grouped key pass over its columns
    (``checks.key_groups``: a pruned-column groupBy count whose map-side
    partial aggregation is the built-in salting for hot keys; see
    engine/skew.py for the explicit two-phase variant used when a single key
    dominates). Null keys are ignored (flag them with NotNull)."""

    columns: tuple = ()

    def __post_init__(self):
        if not self.columns:
            raise ValueError(f"{self.name}: Unique needs at least one column")


@dataclass(frozen=True)
class RefIntegrity(Constraint):
    """Referential integrity: every non-null ``columns`` tuple in the fact
    table must exist in ``ref_columns`` of the ``ref`` table (supplied at run
    time). Null fact keys are ignored; null ref keys satisfy nothing. When
    ``columns`` equal a Unique's columns (and cover the run's key columns)
    the check rides that Unique's co-grouped key pass; otherwise it compiles
    to a LEFT ANTI JOIN against the broadcast distinct ref keys."""

    columns: tuple = ()
    ref_name: str = ""
    ref_columns: tuple = ()

    def __post_init__(self):
        if not self.columns:
            raise ValueError(f"{self.name}: RefIntegrity needs at least one column")
        if len(self.columns) != len(self.ref_columns):
            raise ValueError(
                f"{self.name}: {len(self.columns)} columns but "
                f"{len(self.ref_columns)} ref_columns"
            )


#: the per-clip boolean columns ``audio.audio_invariants`` emits
PAYLOAD_FLAGS = ("pcm_ok", "transcript_ok", "meta_sr_ok")


@dataclass(frozen=True)
class PayloadCheck(Constraint):
    """Per-clip payload invariant: a row violates it when ``flag`` — one of
    the boolean columns of the audio decode pass (``PAYLOAD_FLAGS``) — is
    False. ``ref_name`` names the run-time refs table holding the gold
    transcripts. Every PayloadCheck of a suite compiles into the same single
    decode pass, which also absorbs the suite's NotNull checks on
    ``bytes``."""

    flag: str = ""
    ref_name: str = ""

    def __post_init__(self):
        if self.flag not in PAYLOAD_FLAGS:
            raise ValueError(f"unknown payload flag: {self.flag!r}")


@dataclass
class ConstraintSuite:
    """An ordered, named collection of constraints over one fact table."""

    constraints: list[Constraint] = field(default_factory=list)

    def add(self, c: Constraint) -> "ConstraintSuite":
        if any(x.name == c.name for x in self.constraints):
            raise ValueError(f"duplicate constraint name: {c.name}")
        self.constraints.append(c)
        return self

    def row_local(self) -> list[Constraint]:
        return [c for c in self.constraints if c.row_local]

    def of_type(self, t) -> list[Constraint]:
        return [c for c in self.constraints if isinstance(c, t)]

    def names(self) -> list[str]:
        return [c.name for c in self.constraints]


def audio_clip_suite(
    sr_domain: Sequence[int] = (8000, 16000, 22050, 44100),
    codec_domain: Sequence[str] = ("pcm_s16le", "flac", "opus", "mp3"),
    dur_lo: int = 1,
    dur_hi: int = 30_000,
) -> ConstraintSuite:
    """The default suite for the BASELINE.json:input_hint clips table
    (clip_id, bytes, sr_hz, dur_ms, codec, transcript)."""
    s = ConstraintSuite()
    s.add(NotNull("clip_id_not_null", column="clip_id"))
    s.add(NotNull("bytes_not_null", column="bytes"))
    s.add(Range("dur_ms_range", column="dur_ms", lo=dur_lo, hi=dur_hi))
    s.add(Domain("sr_hz_domain", column="sr_hz", allowed=tuple(sr_domain)))
    s.add(Domain("codec_domain", column="codec", allowed=tuple(codec_domain)))
    s.add(Unique("clip_id_unique", columns=("clip_id",)))
    s.add(
        RefIntegrity(
            "transcript_ref_integrity",
            columns=("clip_id",),
            ref_name="transcripts",
            ref_columns=("clip_id",),
        )
    )
    return s


def payload_checks() -> list[PayloadCheck]:
    """The three audio/transcript invariants of the decode pass: decoded PCM
    SNR, transcript equality against the ``transcripts`` ref table, and the
    container-declared sample rate against ``sr_hz``."""
    return [
        PayloadCheck("pcm_snr_invariant", flag="pcm_ok", ref_name="transcripts"),
        PayloadCheck("transcript_equality", flag="transcript_ok", ref_name="transcripts"),
        PayloadCheck("container_sr_consistency", flag="meta_sr_ok", ref_name="transcripts"),
    ]


def with_payload_checks(suite: ConstraintSuite) -> ConstraintSuite:
    """A copy of ``suite`` plus the payload checks it does not already hold."""
    have = set(suite.names())
    return ConstraintSuite(
        list(suite.constraints) + [c for c in payload_checks() if c.name not in have]
    )


def speech_rate_invariant(
    max_words_per_sec: float = 6.0,
    transcript_col: str = "transcript",
    dur_col: str = "dur_ms",
) -> RowInvariant:
    """Cross-modal plausibility constraint: a transcript whose word rate
    exceeds ``max_words_per_sec`` against the clip's duration cannot be a
    faithful transcription (conversational speech tops out ~4-5 words/s).
    Expression-only (fuses into the one-scan conditional aggregation like
    NotNull/Range/Domain); NULL transcript or non-positive duration is NOT
    a violation here — those are the NotNull/Range constraints' findings."""
    from pyspark.sql import functions as F

    def viol(df):
        words = F.size(F.split(F.col(transcript_col), " "))
        rate = words / (F.col(dur_col) / 1000.0)
        return (
            F.col(transcript_col).isNotNull()
            & (F.col(dur_col) > 0)
            & (rate > max_words_per_sec)
        )

    return RowInvariant(f"speech_rate_le_{max_words_per_sec}", make_violation=viol)
