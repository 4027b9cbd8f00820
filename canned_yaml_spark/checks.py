"""Check model: the compiled form of a spec.

The reference compiles each schema keyword into inline C++ that
appends a located note to a severity-ranked ``swoc::Errata`` and
returns false (/root/reference/canner/src/canner.cc:363-366,1008).
Our compiled form is a ``Check``: a named, severity-ranked, *vectorized*
violation predicate (a pyspark Column) evaluated over every row at
once. The verdict rule is the reference's (canner.cc:1101):
a row/partition passes iff its max violation severity < ERROR.
"""

from __future__ import annotations

import enum
from dataclasses import dataclass, field
from typing import TYPE_CHECKING, Iterator

if TYPE_CHECKING:
    from pyspark.sql import Column


class Severity(enum.IntEnum):
    """Severity ladder, mirroring swoc::Errata severities used by the
    reference (DIAG/INFO/WARN/ERROR; verdict threshold is ERROR,
    canner.cc:1098-1101)."""

    INFO = 0
    WARN = 1
    ERROR = 2


@dataclass(frozen=True)
class Check:
    """One compiled row-level constraint.

    ``violation`` is a boolean Column that is True exactly where the
    row violates the constraint (NULL-safe: absent values only violate
    ``required``-style checks). ``order`` preserves the reference's
    keyword evaluation order ($ref → type → object → array → anyOf →
    oneOf → enum; canner.cc:764-829) so violation listings sort the
    same way the reference's fail-fast walk would have reported them.
    """

    rule_id: str
    severity: Severity
    violation: "Column"
    message: "Column"
    order: int
    column: str = ""            # subject column, "" for whole-row rules
    static_ok: bool = False     # proven satisfied by the table schema


class TableCheck:
    """A check with its own distributed plan over the table (one
    CheckSuite family). rule_ids are the rule ids its violations
    builder can emit: the declared inventory (runner.suite_rule_ids)."""

    rule_id: str

    def rule_ids(self) -> tuple[str, ...]:
        return (self.rule_id,)


@dataclass(frozen=True)
class UniqueCheck(TableCheck):
    """x-unique: values of ``column`` must be globally unique (#18).
    ``column`` may be one name or a tuple of names (composite key —
    the root `x-unique-together` spec keyword)."""

    rule_id: str
    column: str | tuple[str, ...]
    severity: Severity = Severity.ERROR

    @property
    def columns(self) -> tuple[str, ...]:
        return ((self.column,) if isinstance(self.column, str)
                else tuple(self.column))


@dataclass(frozen=True)
class RefCheck(TableCheck):
    """x-ref: values of ``column`` must exist in dimension ``table``.``key``
    (the $ref-at-scale analog, SURVEY.md §2.2 #17). ``column``/``key``
    may be tuples of equal length (composite FK — the root
    `x-ref-together` spec keyword)."""

    rule_id: str
    column: str | tuple[str, ...]
    table: str
    key: str | tuple[str, ...]
    severity: Severity = Severity.ERROR

    @property
    def columns(self) -> tuple[str, ...]:
        return ((self.column,) if isinstance(self.column, str)
                else tuple(self.column))

    @property
    def keys(self) -> tuple[str, ...]:
        return ((self.key,) if isinstance(self.key, str)
                else tuple(self.key))


@dataclass(frozen=True)
class DriftCheck(TableCheck):
    """x-drift: per-partition histogram of ``column`` must not drift
    from a reference distribution (PSI + KS, SURVEY.md §2.2 #21)."""

    rule_id: str
    column: str
    buckets: int = 20
    lo: float = 0.0
    hi: float = 12000.0
    psi_max: float = 0.25
    ks_alpha: float = 0.01
    #: Wasserstein-1 (earth mover's) ceiling in the column's own units
    #: (e.g. ms for dur_ms); None disables the W1 bound. Complements
    #: PSI (relative per-bucket shifts) and KS (worst single CDF gap)
    #: with a metric linear in how far the mass moved.
    w1_max: float | None = None
    severity: Severity = Severity.WARN

    def rule_ids(self) -> tuple[str, ...]:
        # drift.psi_violations / w1_violations / ks_violations
        w1 = ("w1",) if self.w1_max is not None else ()
        return tuple(f"{self.rule_id}.{k}" for k in ("psi", *w1, "ks"))


@dataclass(frozen=True)
class PayloadCheck(TableCheck):
    """x-payload: decode audio ``column`` and assert SNR ≥ snr_db_min vs
    the per-clip reference PCM + transcript equality (input_hint)."""

    rule_id: str
    column: str
    snr_db_min: float = 30.0
    ref_table: str = "clips_ref"
    severity: Severity = Severity.ERROR
    #: spec knob ``digest_fast_path`` — False forces the eager
    #: byte-exact plan even when the ref table carries ingest digests
    #: (the certified fast path accepts an xxhash64+length match,
    #: false-pass ≤ 2⁻⁶⁴ per pair on non-adversarial data; forbid it
    #: when inputs are adversarial and no cryptographic digest was
    #: ingested)
    allow_digest: bool = True


@dataclass(frozen=True)
class TranscriptCheck(TableCheck):
    """x-transcript: ASR-tolerance bounds on ``column`` vs the
    reference table's transcript — the generalization of x-payload's
    exact-equality transcript branch. max_dist bounds the char-level
    edit distance (pure-JVM levenshtein plan); max_wer bounds the
    word error rate (Arrow DP plan, payload.wer). A bound left None is
    not checked; at least one must be set (compile-time SpecError).
    NULL on either side passes — absence is `required`'s violation."""

    rule_id: str
    column: str
    ref_table: str = "clips_ref"
    ref_col: str = "transcript_ref"
    max_dist: int | None = None
    max_wer: float | None = None
    # apply ASR-style normalization (lowercase, punctuation → space,
    # collapse) to BOTH sides before measuring — "Don't stop." and
    # "don't stop" are the same utterance to an ASR metric
    normalize: bool = False
    severity: Severity = Severity.ERROR


@dataclass(frozen=True)
class MediaCheck(TableCheck):
    """x-media: decodability + dimension floors on a binary media
    ``column``, optionally scoped to container kinds (image/video/
    audio). require_decodable flags payloads the registry cannot parse
    (corrupt containers, truncations); min_width/min_height gate the
    decoded geometry and min_frames the decoded frame count (e.g.
    "animated payloads must really be multi-frame" — meaningful now
    that real multi-frame containers exist: Y4M, animated GIF). A
    bound left None is not checked."""

    rule_id: str
    column: str
    kinds: tuple[str, ...] | None = None
    require_decodable: bool = True
    min_width: int | None = None
    min_height: int | None = None
    min_frames: int | None = None
    severity: Severity = Severity.WARN


@dataclass(frozen=True)
class AudioStatsCheck(TableCheck):
    """x-audio-stats: decode audio ``column`` and gate per-clip quality
    metrics — clipping fraction, silence fraction, RMS dBFS floor.
    No reference table: these are absolute quality gates (the audio
    analogue of textops.quality_score), one Arrow pass, no join.
    A threshold left as None is not checked."""

    rule_id: str
    column: str
    clip_thresh: int = 32000       # |sample| ≥ this counts as clipped
    silence_thresh: int = 16       # |sample| ≤ this counts as silence
    max_clip_frac: float | None = None
    max_silence_frac: float | None = None
    min_rms_db: float | None = None
    severity: Severity = Severity.WARN


@dataclass(frozen=True)
class LoudnessCheck(TableCheck):
    """x-loudness: decode audio ``column`` and bound its ITU-R
    BS.1770-4 gated integrated loudness (LUFS) — the unit corpora are
    loudness-normalized in, so the validator gates in the same unit.
    Unlike x-audio-stats' RMS floor, LUFS gates out silence and
    frequency-weights what remains (dead air can't drag a clip under
    the floor, hum can't lift it over). Needs the table's sample-rate
    column (``sr_col``) for the K-weighting filter design. One Arrow
    pass, no reference table, no join. A bound left as None is not
    checked."""

    rule_id: str
    column: str
    sr_col: str = "sr_hz"
    min_lufs: float | None = None
    max_lufs: float | None = None
    # BS.1770 Annex-2 true-peak ceiling (4x oversampled; catches
    # inter-sample overs a sample-peak check misses)
    max_true_peak_dbtp: float | None = None
    # EBU Tech 3342 loudness-range ceiling (p95-p10 of gated
    # short-term loudness; bounds level SWINGS within a clip)
    max_lra_lu: float | None = None
    severity: Severity = Severity.WARN


@dataclass(frozen=True)
class SpectralCheck(TableCheck):
    """x-spectral: decode audio ``column``, FFT it, and gate spectral
    quality — a 95%-rolloff floor (catches band-limited audio passed
    off at a higher sample rate, e.g. upsampled telephony) and a
    flatness cap (catches tonal hum / test signals where speech or
    music is expected). Needs the table's sample-rate column
    (``sr_col``) to express thresholds in Hz. One Arrow pass, no
    reference table, no join. A threshold left as None is not
    checked."""

    rule_id: str
    column: str
    sr_col: str = "sr_hz"
    min_rolloff95_hz: float | None = None
    max_flatness: float | None = None
    severity: Severity = Severity.WARN


@dataclass(frozen=True)
class QuantileCheck(TableCheck):
    """x-quantile: the EXACT interpolated q-quantile of ``column`` per
    partition must stay within [minimum, maximum] — the SLA-bound
    check (e.g. "p99 duration per partition ≤ 11 s"). percentile_cont
    semantics; computed skew-proof off the redistribute-by-value
    histogram (dataset.grouped_exact_quantiles), so a hot partition
    never funnels raw rows through one reducer. A bound left as None
    is not checked."""

    rule_id: str
    column: str
    q: float
    minimum: float | None = None
    maximum: float | None = None
    severity: Severity = Severity.WARN
    #: exact mode (buckets=None) redistributes by DISTINCT VALUE —
    #: right for measure columns of bounded cardinality (ints, codes).
    #: For unbounded/float columns set buckets: values are quantized to
    #: bucket midpoints over [lo, hi] first (clamped), so the shuffle
    #: carries ≤ parts × buckets rows at ANY scale and the quantile is
    #: exact-over-quantized (error ≤ half a bucket width + clamping).
    buckets: int | None = None
    lo: float = 0.0
    hi: float = 12000.0


@dataclass(frozen=True)
class AnomalyCheck(TableCheck):
    """x-anomaly: flag partitions whose mean of ``column`` is a robust
    outlier AGAINST THE OTHER PARTITIONS — reference-free drift (PSI/KS
    need an expected distribution; this rule needs nothing but the
    table itself). Modified z-score per Iglewicz-Hoaglin:
    z = 0.6745·(x − median)/MAD over the per-partition means, breach at
    |z| > z_max (their recommended 3.5). Partition means are exact
    integer-sum ratios (bit-deterministic), the median/MAD stages run
    over ONE ROW PER PARTITION — table-scale work is a single algebraic
    aggregate. Degenerate MAD = 0 (all partitions identical): any
    deviating partition breaches."""

    rule_id: str
    column: str
    z_max: float = 3.5
    severity: Severity = Severity.WARN


@dataclass(frozen=True)
class CatDriftCheck(TableCheck):
    """x-chi2: Pearson chi-squared goodness-of-fit of each partition's
    CATEGORICAL distribution of ``column`` against an expected
    distribution stated inline in the spec — the categorical
    complement of x-drift's PSI/KS (which bucket numeric columns).

    chi2 = Σ_c (O_c − n·e_c)² / (n·e_c) over the union of expected and
    observed categories; a category observed but absent from
    ``expected`` enters with the floor fraction EPS (maximal-drift
    signal — an unexpected codec IS drift, not noise). Breach at
    chi2 > chi2_max: the spec carries the critical value for its
    chosen alpha and dof (e.g. χ²₀.₀₁ with 3 dof = 11.34) — computing
    p-values engine-side would put an incomplete-gamma in the hot
    path for no decision the threshold doesn't already make.

    ``expected`` is a tuple of (category, fraction) pairs in spec
    order (frozen dataclass; categorical distributions are small by
    nature, so inline-in-spec is the natural home — no runtime
    reference table to thread through)."""

    rule_id: str
    column: str
    expected: tuple[tuple[str, float], ...]
    chi2_max: float = 11.34
    severity: Severity = Severity.WARN


@dataclass(frozen=True)
class CompletenessCheck(TableCheck):
    """x-completeness: the NULL fraction of ``column`` per partition
    must not exceed ``max_null_frac`` (a Deequ-style completeness
    gate; the reference's `required` keyword is the row-level special
    case max_null_frac=0 at ERROR). All completeness checks of a
    suite fold into ONE hash aggregate — the shuffle carries exactly
    one row per partition regardless of table size."""

    rule_id: str
    column: str
    max_null_frac: float = 0.0
    severity: Severity = Severity.WARN


@dataclass(frozen=True)
class FrequencyCheck(TableCheck):
    """x-frequency: per-partition frequency-shape gates on a
    categorical ``column`` — a dominant-value share cap
    (``max_share``: no single value may account for more than this
    fraction of the partition's non-null rows; catches a collapsed
    upstream that started writing one constant) and a distinctness
    floor (``min_distinct``). NULLs are excluded from both (null rate
    is x-completeness's job). The shuffle carries one row per
    (partition, distinct value) after map-side partial aggregation —
    bounded by parts × cardinality at any table size, which is why
    this rule targets enum-like columns. A threshold left as None is
    not checked."""

    rule_id: str
    column: str
    max_share: float | None = None
    min_distinct: int | None = None
    severity: Severity = Severity.WARN


@dataclass(frozen=True)
class MonotonicCheck(TableCheck):
    """x-monotonic: within each ``partition_by`` group, ordered by
    ``order_by``, ``column`` must be non-decreasing (``strict=True``:
    strictly increasing) — the ingest-order invariant ("event time
    never goes backwards in write order", "version counters only go
    up"). NULL values of ``column`` are absent-not-validated (dropped
    before the window, so they neither violate nor serve as the
    previous value). Ordering is made fully deterministic by
    tie-breaking on (column, id) so both engines flag identical
    rows."""

    rule_id: str
    column: str
    partition_by: str
    order_by: str
    strict: bool = False
    severity: Severity = Severity.ERROR


#: The table-check families: CheckSuite fields, in the order their
#: violations follow the row suite's in job.all_violations.
TABLE_FAMILIES = (
    "unique_checks", "ref_checks", "absent_checks", "drift_checks",
    "payload_checks", "transcript_checks", "media_checks", "audio_checks",
    "loudness_checks", "spectral_checks", "quantile_checks",
    "completeness_checks", "frequency_checks", "anomaly_checks",
    "cat_drift_checks", "monotonic_checks",
)


@dataclass
class CheckSuite:
    """Everything compiled from one spec.

    row_checks evaluate in a single scan (no shuffle); the
    TABLE_FAMILIES each have their own distributed plan (hash agg /
    broadcast join / histogram agg / Arrow UDF).
    """

    row_checks: list[Check] = field(default_factory=list)
    unique_checks: list[UniqueCheck] = field(default_factory=list)
    ref_checks: list[RefCheck] = field(default_factory=list)
    drift_checks: list[DriftCheck] = field(default_factory=list)
    cat_drift_checks: list[CatDriftCheck] = field(default_factory=list)
    payload_checks: list[PayloadCheck] = field(default_factory=list)
    transcript_checks: list["TranscriptCheck"] = field(default_factory=list)
    media_checks: list["MediaCheck"] = field(default_factory=list)
    audio_checks: list[AudioStatsCheck] = field(default_factory=list)
    loudness_checks: list[LoudnessCheck] = field(default_factory=list)
    spectral_checks: list[SpectralCheck] = field(default_factory=list)
    quantile_checks: list[QuantileCheck] = field(default_factory=list)
    completeness_checks: list[CompletenessCheck] = field(default_factory=list)
    frequency_checks: list[FrequencyCheck] = field(default_factory=list)
    anomaly_checks: list[AnomalyCheck] = field(default_factory=list)
    monotonic_checks: list[MonotonicCheck] = field(default_factory=list)
    absent_checks: list[RefCheck] = field(default_factory=list)
    warnings: list[str] = field(default_factory=list)

    def table_checks(self) -> Iterator[tuple[str, TableCheck]]:
        """(family, check) for every table check, family by family in
        TABLE_FAMILIES order."""
        for family in TABLE_FAMILIES:
            for check in getattr(self, family):
                yield family, check
